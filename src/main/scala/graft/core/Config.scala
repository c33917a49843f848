package graft.core

/** What a compaction rewrites — the reference ships Full only
  * (`CompactionType::Full`, core/src/compaction/mod.rs:45-47);
  * Incremental is this engine's deliberate extension: the shape real
  * `rewrite_data_files` maintenance jobs run daily, rewriting only the
  * small-file backlog while leaving already-right-sized files (and the
  * delete files that still apply to them) untouched. */
sealed trait CompactionType
object CompactionType {
  case object Full extends CompactionType
  /** Rewrite only data files smaller than
    * `targetFileSizeBytes * smallFileFactor`. Delete files are RETAINED
    * (they still apply to untouched data files) unless every data file
    * was selected; re-application to the rewritten output is idempotent
    * because the output keeps the selected files' max sequence number. */
  final case class Incremental(smallFileFactor: Double = 0.75) extends CompactionType {
    require(smallFileFactor > 0 && smallFileFactor <= 1.0,
      "smallFileFactor must be in (0, 1]")
  }
}

/** Engine configuration.
  *
  * Defaults mirror the reference's `CompactionConfig`
  * (reference: core/src/config/mod.rs:21-55): target_partitions=4,
  * data_file_prefix, target_file_size=1GiB,
  * enable_validate_compaction=false, SNAPPY parquet compression
  * (core/src/config/mod.rs:28-34). The reference's batch_parallelism
  * and max_record_batch_rows have no Spark counterpart: scan
  * parallelism and reader batch size belong to Spark's own planner.
  *
  * Spark mapping: `targetPartitions` governs the output repartition
  * (reference X2, datafusion_processor.rs:144-155) = `df.repartition(n)`.
  */
final case class CompactionConfig(
    targetPartitions: Int = 4,
    dataFilePrefix: String = "graft-compaction",
    targetFileSizeBytes: Long = 1024L * 1024 * 1024,
    enableValidateCompaction: Boolean = false,
    parquetCompression: String = "snappy",
    /** Keep output data files at the *starting* snapshot's sequence number
      * so deletes committed concurrently still apply
      * (reference: core/src/compaction/mod.rs:268-281,546-566). */
    useStartingSequenceNumber: Boolean = true,
    /** Partition spec for fanout writes (reference S8): output data files
      * are routed to per-partition-value directories, with values computed
      * by [[PartitionTransform]]s (identity / bucket / truncate / day). */
    partitionSpec: Seq[PartitionTransform] = Nil,
    /** Upgrade validation from row counts to full multiset equality
      * (exceptAll both ways) — a stronger oracle at 2x+ cost. */
    strictValidation: Boolean = false,
    /** Target byte size of one scan task: a data file larger than this
      * splits into multiple byte-range tasks (reference FileScanTask
      * {start, length}, iceberg_file_task_scan.rs:446-462; Iceberg's
      * read.split.target-size default 128 MiB). */
    splitTargetBytes: Long = 128L * 1024 * 1024,
    /** OPTIMIZE-ZORDER-style rewrite: exactly TWO non-negative integral
      * columns whose Morton-interleaved value range-partitions and sorts
      * the output, so every written file carries tight min/max ranges on
      * BOTH columns (scan pruning on either predicate). Empty = keep the
      * reference's plain round-robin layout. */
    zOrderBy: Seq[String] = Nil,
    /** Linear sort layout for the rewrite output (range-partition +
      * in-partition sort), defaulted from the table's declared
      * `graft.write-order` by [[graft.compaction.Compaction]] — so
      * compaction PRESERVES a sorted table's tight file bounds instead
      * of shuffling them away. Mutually exclusive with [[zOrderBy]]. */
    sortBy: Seq[SortField] = Nil,
    /** Full rewrites everything (reference behavior); Incremental
      * selects only the small-file backlog (see [[CompactionType]]). */
    compactionType: CompactionType = CompactionType.Full,
    /** Parquet bloom filters to emit on output data files
      * ([[BloomColumns]]); defaulted from the table's
      * `graft.bloom.columns` property by [[graft.compaction.Compaction]]
      * so rewrites preserve the configured point-lookup blooms. */
    bloomColumns: Seq[BloomColumns.Spec] = Nil,
    /** Stamp write-time NDV sketches ([[NdvSketch]]) onto the rewrite's
      * output files via a second column-pruned read. None = AUTO: run
      * the pass only when the table's surviving files keep full sketch
      * coverage (so compaction PRESERVES — or, by folding away delete
      * files, RESTORES — the append-surviving NDV statistic) and skip
      * the cost entirely for tables that never had sketches.
      * Some(true)/Some(false) force either way. */
    sketchOutputs: Option[Boolean] = None,
    /** PARTIAL PROGRESS (Iceberg's `partial-progress.enabled` model):
      * split the rewrite set into up to this many byte-balanced groups,
      * each executed and committed INDEPENDENTLY — a failure (or a lost
      * commit race) mid-run keeps every already-committed group's work
      * durable instead of discarding hours of rewrite. 1 = the classic
      * single atomic commit. Delete files are removed only by the LAST
      * group's commit once every data file has been rewritten (until
      * then they must keep applying to the not-yet-rewritten files;
      * re-application to rewritten outputs is idempotent because
      * outputs keep the starting sequence number). */
    partialProgressMaxCommits: Int = 1,
    /** FILTER-SCOPED rewrite (Iceberg's `RewriteDataFiles.filter`): a
      * SQL predicate restricting the rewrite to data files that MAY
      * contain matching rows. Stamped files decide from snapshot
      * metadata alone; PRE-FEATURE files without stamped bounds fall
      * back to a footer read per file (same fallback every pruned scan
      * takes). Conservative by construction: a file without
      * trustworthy stats is in scope (rewriting more than asked is
      * safe; skipping a matching file is not). Files scoped OUT are
      * kept verbatim, so delete files stay until a full unfiltered
      * rewrite folds them. A predicate that fails to parse or names
      * unknown columns fails the call — never a silent full rewrite. */
    filter: Option[String] = None
) {
  require(partialProgressMaxCommits > 0,
    "partialProgressMaxCommits must be > 0")
  require(targetPartitions > 0, "targetPartitions must be > 0")
  require(targetFileSizeBytes > 0, "targetFileSizeBytes must be > 0")
  require(splitTargetBytes > 0, "splitTargetBytes must be > 0")
  require(zOrderBy.isEmpty || zOrderBy.size == 2,
    "zOrderBy takes exactly two columns (Morton interleave is 2-D here)")
  require(zOrderBy.isEmpty || sortBy.isEmpty,
    "zOrderBy and sortBy are mutually exclusive layouts")
}

/** Commit retry policy. Reference: 3 retries, 1s -> 10s exponential backoff,
  * retrying only retryable error kinds
  * (core/src/compaction/mod.rs:446-462,595-613). */
final case class RetryConfig(
    maxRetries: Int = 3,
    minDelayMs: Long = 1000L,
    maxDelayMs: Long = 10000L
)
