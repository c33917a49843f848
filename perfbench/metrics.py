"""Turns the harness's raw result into the benchmark's metrics.

End-to-end metrics (--trace 0) are the same six on every workload; each
workload maps its own ops onto them (see README.md). The workload-specific
figures of the benchmark's design (`compact_s_p50`, `cdc_point_ms_tail`,
...) are printed by name above the result line. Per-layer metrics
(--trace 1) come from the spans and Spark events of the traced replay."""

import stats

MB = 1e6

END_TO_END = {
    "setup_s": "s",
    "cycle_s": "s",
    "ops_per_s": "1/s",
    "input_mb_per_s": "MB/s",
    "out_bytes_per_row": "B/row",
    "heap_retained_mb": "MB",
}

PER_LAYER = {
    "txn.load_ms": "ms",
    "txn.metadata_bytes": "bytes",
    "txn.snapshot_files": "count",
    "txn.commit_ms": "ms",
    "txn.commit_attempts": "count",
    "txn.commit_failed": "count",
    "sources.plan_ms": "ms",
    "sources.scan_tasks": "count",
    "sources.files_pruned_frac": "ratio",
    "sources.rows_scanned": "count",
    "sources.bytes_read": "bytes",
    "sources.delete_loads": "count",
    "plans.live_rows_ms": "ms",
    "plans.live_frac": "ratio",
    "plans.shuffle_bytes": "bytes",
    "sinks.write_ms": "ms",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.file_fill_frac": "ratio",
    "validate.ms": "ms",
    "sql.plan_ms": "ms",
    "pipeline.dedup_ms": "ms",
    "pipeline.dedup_losers": "count",
    "pipeline.decontam_ms": "ms",
    "pipeline.pack_ms": "ms",
    "pipeline.export_ms": "ms",
    "pipeline.ann_train_ms": "ms",
    "pipeline.ann_search_ms": "ms",
    "pipeline.ann_recall_at_10": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_busy_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.driver_only_s": "s",
    "spark.sched_wait_s": "s",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.codegen_compiles": "count",
    "spark.codegen_compile_ms": "ms",
    "unattributed_ms": "ms",
    "trace.op_ms": "ms",
    "trace.overhead_frac": "ratio",
    "trace.coverage_min": "ratio",
}

# Ops of each workload's cycle: op type -> ops of that type per cycle.
CYCLES = {
    "table": {"compact": 1, "point": 4, "scan": 1, "reader": 1, "upsert": 2, "delete": 1,
              "append": 1},
    "curate": {k: 1 for k in ("dedup", "decontam", "pack", "export", "ann_train", "ann_search")},
}
READ_SPANS = ("sources.scan", "plans.live_rows")


def setup_s(raw):
    s = raw["setup"]
    return s["session_s"] + stats.median(s["generate_s"]) + s["warm_up_s"]


def cycle_s(raw, average=stats.median):
    """One cycle's time composed from its op types' typical latencies, so a
    window that ends mid-cycle still weighs every op type as the cycle does."""
    return sum(n * average(raw["samples"][k]) for k, n in CYCLES[raw["workload"]].items())


def mean(xs):
    return sum(xs) / len(xs)


def end_to_end(raw):
    samples, facts, w = raw["samples"], raw["facts"], raw["workload"]
    ops = [x for k in CYCLES[w] for x in samples[k]]
    if w == "table":
        full_reads = samples["compact"] + samples["scan"] + samples["reader"]
        mb_per_s = (facts["compact_in_bytes"] + facts["read_bytes"]) / MB / sum(full_reads)
        out = facts["out_data_bytes"] / facts["live_rows"]
    else:
        mb_per_s = facts["input_bytes"] / MB / cycle_s(raw, mean)
        out = facts["export_bytes"] / facts["export_rows"]
    return {
        "setup_s": setup_s(raw),
        "cycle_s": cycle_s(raw),
        "ops_per_s": len(ops) / sum(ops),
        "input_mb_per_s": mb_per_s,
        "out_bytes_per_row": out,
        "heap_retained_mb": raw["heap_retained_mb"],
    }


def named_figures(raw):
    """The design's workload-specific figures: (name, value, unit, note)."""
    s, facts = raw["samples"], raw["facts"]
    e = end_to_end(raw)
    out = [("setup_s", e["setup_s"], "s", "")]
    if raw["workload"] == "table":
        def p50(name, k, scale, unit):
            return (name, stats.median(s[k]) * scale, unit, f"n={len(s[k])}")

        def tail(name, xs):
            t = stats.tail(xs)
            if t is None:
                return (name, None, "ms", f"n={len(xs)}: fewer than 20 samples, no tail")
            p, v, n = t
            return (name, v * 1000, "ms", f"p{p:g} of n={n}")

        cdc_ops = [k for k in CYCLES["table"] if k != "compact"]
        n_cdc = sum(len(s[k]) for k in cdc_ops)
        cdc_s = sum(sum(s[k]) for k in cdc_ops)
        out += [p50("compact_s_p50", "compact", 1, "s"),
                ("compact_mb_per_s", facts["compact_in_bytes"] / MB / sum(s["compact"]), "MB/s", ""),
                ("compact_out_bytes_per_row", e["out_bytes_per_row"], "B/row", ""),
                p50("cdc_point_ms_p50", "point", 1000, "ms"), tail("cdc_point_ms_tail", s["point"]),
                p50("cdc_scan_s_p50", "scan", 1, "s"), p50("cdc_reader_s_p50", "reader", 1, "s"),
                p50("cdc_upsert_ms_p50", "upsert", 1000, "ms"),
                p50("cdc_delete_ms_p50", "delete", 1000, "ms"),
                p50("cdc_append_ms_p50", "append", 1000, "ms"),
                tail("cdc_write_ms_tail", s["upsert"] + s["delete"] + s["append"]),
                ("cdc_ops_per_s", n_cdc / cdc_s, "ops/s", f"{n_cdc} ops"),
                ("cdc_write_bytes_per_row", facts["write_bytes"] / facts["write_rows"], "B/row", "")]
    else:
        out += [("curate_s_p50", e["cycle_s"], "s", "sum of the stage medians"),
                ("curate_recall_at_10", facts["recall_at_10"], "ratio", ""),
                ("curate_dedup_losers", facts["dedup_losers"], "count", "")]
        out += [(f"curate_{k}_s_p50", stats.median(s[k]), "s", f"n={len(s[k])}")
                for k in CYCLES["curate"]]
    out += [("failed_frac", raw["failed"] / max(1, raw["attempted"]), "ratio",
             f"{raw['failed']} of {raw['attempted']}"),
            ("heap_retained_mb", raw["heap_retained_mb"], "MB", "")]
    return out


class Trace:
    """Spans and Spark events of the traced replay, joined: each job to the
    span it was submitted under (or, without the property, the innermost
    span open when it started), each task to its stage's job."""

    def __init__(self, t):
        self.spans = {s["id"]: s for s in t["spans"]}
        self.ops = [s for s in t["spans"] if s["parent"] < 0]
        self.jobs = []
        for j in t["jobs"]:
            span = j["span"] if j["span"] in self.spans else self.innermost(j["start_ms"] * 1000)
            if span is not None and j["end_ms"] >= j["start_ms"]:
                self.jobs.append(dict(j, span=span))
        stage_job = {}
        for j in self.jobs:
            for st in j["stages"]:
                stage_job.setdefault(st, j)
        self.stages = [s for s in t["stages"] if s["stage"] in stage_job]
        submit = {s["stage"]: s["submit_ms"] for s in self.stages}
        self.tasks = []
        for x in t["tasks"]:
            j = stage_job.get(x["stage"])
            if j is not None:
                wait = x["launch_ms"] - submit.get(x["stage"], x["launch_ms"])
                self.tasks.append(dict(x, span=j["span"], wait_ms=wait))

    def innermost(self, at_us):
        inside = [s for s in self.spans.values() if s["start_us"] <= at_us <= s["end_us"]]
        return max(inside, key=lambda s: s["start_us"])["id"] if inside else None

    @staticmethod
    def interval(s):
        return (s["start_us"] / 1000.0, s["end_us"] / 1000.0)

    def dur_ms(self, s):
        lo, hi = self.interval(s)
        return hi - lo

    def named(self, name):
        return [s for s in self.spans.values() if s["name"] == name]

    def within(self, span):
        """Ids of `span` and its descendants."""
        ids = {span["id"]}
        grew = True
        while grew:
            more = {s["id"] for s in self.spans.values() if s["parent"] in ids} - ids
            ids |= more
            grew = bool(more)
        return ids

    def jobs_in(self, span):
        ids = self.within(span)
        return [(j["start_ms"], j["end_ms"]) for j in self.jobs if j["span"] in ids]

    def tasks_in(self, spans):
        ids = set().union(*(self.within(s) for s in spans)) if spans else set()
        return [x for x in self.tasks if x["span"] in ids]

    def total_ms(self, name):
        return sum(self.dur_ms(s) for s in self.named(name))

    def children(self, span):
        return [s for s in self.spans.values() if s["parent"] == span["id"]]


def per_layer(raw):
    """Every per-layer metric; 0 where a layer does not run on the workload."""
    tr = Trace(raw["trace"])
    facts = raw["trace_facts"]
    m = dict.fromkeys(PER_LAYER, 0.0)
    writes = tr.named("write.upsert") + tr.named("write.delete") + tr.named("write.append")

    m["txn.load_ms"] = tr.total_ms("txn.load")
    m["txn.metadata_bytes"] = facts.get("metadata_bytes", 0)
    m["txn.snapshot_files"] = facts.get("snapshot_files", 0)
    commit = tr.total_ms("txn.commit")
    for s in writes:
        jobs = tr.jobs_in(s)
        lo, hi = tr.interval(s)
        commit += hi - max([lo] + [e for _, e in jobs])
    m["txn.commit_ms"] = commit
    m["txn.commit_attempts"] = facts.get("commit_attempts", 0)
    m["txn.commit_failed"] = facts.get("commit_failed", 0)

    reads = [s for n in READ_SPANS for s in tr.named(n)]
    scan_tasks = [x for x in tr.tasks_in(reads) if x["records_read"] > 0]
    m["sources.plan_ms"] = tr.total_ms("sources.plan")
    m["sources.scan_tasks"] = len(scan_tasks)
    m["sources.rows_scanned"] = sum(x["records_read"] for x in scan_tasks)
    m["sources.bytes_read"] = sum(x["bytes_read"] for x in scan_tasks)
    m["sources.delete_loads"] = sum(s["delete_loads"] for s in tr.ops)
    points = [s for s in tr.ops if s["name"] == "point"]
    if points and facts.get("data_files"):
        lookup_scans = [c for p in points for c in tr.children(p) if c["name"] == "sources.scan"]
        tasks = [x for x in tr.tasks_in(lookup_scans) if x["records_read"] > 0]
        m["sources.files_pruned_frac"] = 1 - len(tasks) / len(points) / facts["data_files"]

    m["plans.live_rows_ms"] = tr.total_ms("plans.live_rows")
    if facts.get("live_rows_in"):
        m["plans.live_frac"] = facts["live_rows_out"] / facts["live_rows_in"]
    m["plans.shuffle_bytes"] = sum(x["shuffle_write_bytes"]
                                   for x in tr.tasks_in(tr.named("plans.live_rows")))

    # compact: the rolling write recomputes the live rows its own span
    # measured before; cdc: the Spark-job time of upserts and appends
    compact_live = sum(tr.dur_ms(s) for s in tr.named("plans.live_rows")
                       if tr.spans[s["op"]]["name"] == "compact")
    m["sinks.write_ms"] = (tr.total_ms("sinks.write") - compact_live +
                           sum(stats.union_length(tr.jobs_in(s))
                               for s in tr.named("write.upsert") + tr.named("write.append")))
    for k in ("bytes_written", "files_written", "file_fill_frac"):
        m[f"sinks.{k}"] = facts.get(k, 0)
    m["validate.ms"] = tr.total_ms("validate")

    sql = tr.total_ms("sql.plan")
    for s in tr.named("write.delete"):
        jobs = tr.jobs_in(s)
        lo, hi = tr.interval(s)
        sql += (min(b for b, _ in jobs) if jobs else hi) - lo
    m["sql.plan_ms"] = sql

    for k in ("dedup", "decontam", "pack", "export", "ann_train", "ann_search"):
        m[f"pipeline.{k}_ms"] = tr.total_ms(f"pipeline.{k}")
    m["pipeline.dedup_losers"] = facts.get("dedup_losers", 0)
    m["pipeline.ann_recall_at_10"] = facts.get("recall_at_10", 0)

    tasks = tr.tasks
    m["spark.jobs"] = len(tr.jobs)
    m["spark.stages"] = len(tr.stages)
    m["spark.tasks"] = len(tasks)
    m["spark.task_busy_s"] = sum(x["finish_ms"] - x["launch_ms"] for x in tasks) / 1000
    m["spark.task_cpu_s"] = sum(x["cpu_ns"] for x in tasks) / 1e9
    m["spark.gc_s"] = sum(x["gc_ms"] for x in tasks) / 1000
    m["spark.spill_bytes"] = sum(x["spill_bytes"] for x in tasks)
    m["spark.sched_wait_s"] = sum(x["wait_ms"] for x in tasks) / 1000
    m["spark.shuffle_fetch_wait_s"] = sum(x["fetch_wait_ms"] for x in tasks) / 1000
    m["spark.driver_only_s"] = sum(stats.driver_only(tr.interval(op), tr.jobs_in(op))
                                   for op in tr.ops) / 1000
    m["spark.codegen_compiles"] = sum(s["codegen_compiles"] for s in tr.ops)
    m["spark.codegen_compile_ms"] = sum(s["codegen_ms"] for s in tr.ops)

    unattributed, coverage = 0.0, []
    for op in tr.ops:
        self_ms = stats.self_time(tr.interval(op), [tr.interval(c) for c in tr.children(op)])
        unattributed += self_ms
        coverage.append(1 - self_ms / tr.dur_ms(op))
    m["unattributed_ms"] = unattributed
    m["trace.coverage_min"] = min(coverage)
    m["trace.op_ms"] = sum(tr.dur_ms(op) for op in tr.ops)
    m["trace.overhead_frac"] = m["trace.op_ms"] / (cycle_s(raw) * 1000) - 1
    return m


def summarize(raw, trace):
    values = per_layer(raw) if trace else end_to_end(raw)
    units = PER_LAYER if trace else END_TO_END
    return {
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def report_lines(raw, result):
    lines = [f"# workload {raw['workload']} seed {raw['seed']}: "
             f"{raw['ops']} ops in a {raw['window_s']:.1f} s window; session "
             + ", ".join(f"{k}={v}" for k, v in sorted(raw["settings"].items()))]
    for name, value, unit, note in named_figures(raw):
        shown = "n/a" if value is None else f"{value:.6g}"
        lines.append(f"# {name} = {shown} {unit}" + (f"  ({note})" if note else ""))
    for e in raw["errors"]:
        lines.append(f"# FAILED: {e}")
    return lines
