#!/usr/bin/env python3
"""graft benchmark: builds graft and the harness from source, runs one
workload, checks its outputs and prints its metrics.

    python3 perfbench/run.py --workload table|curate --seed N \
        --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones of a
traced replay. See perfbench/README.md."""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402

WORKLOADS = ("table", "curate")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# java.base packages Spark needs opened on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jars of the Spark distribution in $SPARK_HOME, or else of the
    one whose spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark distribution found; set SPARK_HOME")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no graft sources under src/main/scala; run from the repository root")
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"),
                                            recursive=True) if os.path.isfile(p))
    return main + bench, resources


def build(root, out, jars):
    """Compiles graft's main sources and the harness with the Scala
    compiler that ships in the Spark distribution; skipped when the
    sources are unchanged since the last build in `out`."""
    srcs, resources = sources(root)
    os.makedirs(out, exist_ok=True)
    digest = hashlib.sha256()
    for p in srcs + resources:
        digest.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    jar = os.path.join(out, "perfbench.jar")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(jar):
        return jar
    tmp = os.path.join(out, f"classes-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, f"sources-{os.getpid()}.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", tmp, "@" + argfile]
    started = time.time()
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         timeout=BUILD_TIMEOUT_S)
    os.remove(argfile)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
        fail("compilation failed")
    # one jar, so the JVM's class-data sharing archive can cover it
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(tmp):
            for name in files:
                p = os.path.join(d, name)
                z.write(p, os.path.relpath(p, tmp))
        for p in resources:
            z.write(p, os.path.relpath(p, os.path.join(root, "src/main/resources")))
    shutil.rmtree(tmp)
    os.replace(jar + ".tmp", jar)
    for stale in glob.glob(os.path.join(out, "*.jsa")):
        os.remove(stale)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - started:.1f} s", file=sys.stderr)
    return jar


def run_harness(args, jar, jars, work):
    """Runs the Scala harness in its own process group and returns its raw
    result, or exits non-zero without a result."""
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    log_path = os.path.join(work, "harness.log")
    # class-data sharing: the first run after a build dumps the classes it
    # loaded, later runs map them instead of loading them one by one
    archive = os.path.join(os.path.dirname(jar), "classes.jsa")
    cds = "SharedArchiveFile" if os.path.exists(archive) else "ArchiveClassesAtExit"
    cmd = ["java", f"-Xmx{HEAP}", f"-XX:{cds}={archive}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", jar + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", raw_path]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(raw_path):
        with open(log_path, errors="replace") as f:
            lines = [l for l in f if " INFO " not in l]
        sys.stderr.write("".join(lines[-40:]))
        fail(f"harness failed ({code})", 1)
    with open(raw_path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")

    root = os.getcwd()
    jars = spark_jars()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    jar = build(root, out, jars)
    work = os.path.join(out, f"work-{os.getpid()}")
    try:
        raw = run_harness(args, jar, jars, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = metrics.summarize(raw, trace=bool(args.trace))
    for line in metrics.report_lines(raw, result):
        print(line)
    print(json.dumps(result, separators=(", ", ": ")))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
