package graft.txn

import graft.core._
import graft.io.FileIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Write-side table operations: append data, position-delete, and
  * equality-delete files through the catalog — the producer half of the
  * merge-on-read contract the compactor consumes (the reference only
  * CONSUMES delete files written by other engines; a complete engine
  * needs both sides). Every append commits at a fresh sequence number
  * via [[CommitManager.appendFiles]], so:
  *
  *  - an equality delete appended AFTER a row's data file removes that
  *    row (`data.seq < delete.seq`), and
  *  - rows (re-)inserted after the delete survive it — exactly the
  *    semantics `MergeOnRead.liveRows` implements on the read side.
  */
object TableWrites {

  /** Exact row count from a parquet file's footer — no Spark job. */
  def parquetRowCount(path: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), FileIO.hadoopConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Write + list + footer-count in one pass (counts come from the
    * written files' metadata, so they are exact even for
    * non-deterministic inputs — a pre-write `df.count()` would run the
    * whole plan twice AND could disagree with what actually landed). */
  private[graft] def writeParquet(df: DataFrame, outDir: String,
      compression: String,
      bloomColumns: Seq[graft.core.BloomColumns.Spec] = Nil): Seq[(String, Long, Long)] = {
    graft.core.BloomColumns.applyOptions(
      df.write.mode("overwrite").option("compression", compression),
      bloomColumns, df.schema.fieldNames.toSeq)
      .parquet(outDir)
    FileIO.listFilesRecursive(outDir).filter(_._1.endsWith(".parquet"))
      .map { case (p, len) => (p, len, parquetRowCount(p)) }
  }

  /** The table's configured point-lookup blooms ([[BloomColumns]]),
    * unless the caller's config already chose — data-file writes here
    * and in [[graft.streaming.StreamingIngest]] honor the property just
    * like the DSv2 and compaction writers do. */
  private def bloomColumnsFor(config: CompactionConfig,
      cur: TableSnapshot): Seq[BloomColumns.Spec] =
    if (config.bloomColumns.nonEmpty) config.bloomColumns
    else BloomColumns.of(Some(cur))

  /** Equality-delete key columns must be primitive (the Iceberg spec's
    * own restriction on equality field ids): the readers' key probe
    * ([[graft.sources.EqKeyProbe]]) compares binary keys, so an array/
    * struct/map key could compare differently between the set probe and
    * the plan-level anti-join — refuse rather than risk divergence. */
  private def requirePrimitiveKeys(df: DataFrame, cols: Seq[String]): Unit =
    cols.foreach { c =>
      df.schema.fields.find(_.name == c).foreach { f =>
        f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType |
               _: org.apache.spark.sql.types.StructType =>
            throw CompactionError.Config(
              s"equality-delete key column '$c' has nested type " +
                s"${f.dataType.simpleString}; keys must be primitive")
          case _ => ()
        }
      }
    }

  /** On a table with a schema history, an append whose columns don't
    * match the CURRENT schema would commit a file the reconciled read
    * cannot resolve — refuse it at write time. */
  private def requireConforming(cur: TableSnapshot, rows: DataFrame): Unit =
    cur.currentSchema.foreach { s =>
      val want = s.fields.map(_.name).toSet
      val got = rows.columns.toSet
      if (want != got) throw CompactionError.Config(
        s"append does not match the current schema: table has " +
          s"(${want.toSeq.sorted.mkString(", ")}), rows have " +
          s"(${got.toSeq.sorted.mkString(", ")})")
    }

  /** Append `rows` as data files. */
  def appendData(
      tableDir: String,
      rows: DataFrame,
      config: CompactionConfig = CompactionConfig(),
      retry: RetryConfig = RetryConfig(),
      catalog: TableCatalog = FileTableCatalog,
      /** When set, commit to this BRANCH ([[Branch]]) instead of main:
        * schema conformance and the sequence number come from the branch
        * head, and main readers never see the rows until fast-forward. */
      branch: Option[String] = None
  ): TableSnapshot = {
    val cur = catalog.loadOrThrow(tableDir)
    val base = branch.fold(cur)(b =>
      Branch.headFrom(catalog, tableDir, cur, b, catalog.versions(tableDir)))
    requireConforming(base, rows)
    val outDir = s"$tableDir/data/append-${java.util.UUID.randomUUID().toString.take(8)}"
    val files = writeParquet(
      graft.core.Constraints.enforce(rows, base.properties),
      outDir, config.parquetCompression,
      bloomColumnsFor(config, base))
    val entries = files.map { case (p, len, rc) =>
      graft.sources.ParquetStats.stampBounds(FileEntry(p, "data", len, rc, -1L)) }
    val cm = new CommitManager(tableDir, retry, catalog = catalog)
    branch match {
      case Some(b) => cm.branchAppend(b, entries, expectedSchemaId = base.schemaId)
      case None => cm.appendFiles(entries, expectedSchemaId = base.schemaId)
    }
  }

  /** Append an EQUALITY delete: every live row whose `equalityIds`
    * columns match a row of `keys` (and whose data file is older than
    * this commit) is deleted on the next merge-on-read scan/compaction. */
  def appendEqualityDeletes(
      tableDir: String,
      keys: DataFrame,
      equalityIds: Seq[String],
      config: CompactionConfig = CompactionConfig(),
      retry: RetryConfig = RetryConfig(),
      catalog: TableCatalog = FileTableCatalog,
      /** When set, the delete lands on this BRANCH's lineage: it applies
        * to branch rows with lower sequence numbers and publishes with
        * the branch on fast-forward. */
      branch: Option[String] = None
  ): TableSnapshot = {
    require(equalityIds.nonEmpty, "equalityIds must name at least one column")
    requirePrimitiveKeys(keys, equalityIds)
    val cur = catalog.loadOrThrow(tableDir)
    val base = branch.fold(cur)(b =>
      Branch.headFrom(catalog, tableDir, cur, b, catalog.versions(tableDir)))
    val outDir = s"$tableDir/data/eqdel-${java.util.UUID.randomUUID().toString.take(8)}"
    val files = writeParquet(
      keys.select(equalityIds.map(col): _*).distinct(),
      outDir, config.parquetCompression)
    val entries = files.map { case (p, len, rc) =>
      // stamped key bounds let the scan SKIP this delete for tasks
      // whose data range provably misses it (ScanPruning
      // .eqDeleteMayApply)
      graft.sources.ParquetStats.stampBounds(
        FileEntry(p, "equality-deletes", len, rc, -1L,
          equalityIds = equalityIds))
    }
    val cm = new CommitManager(tableDir, retry, catalog = catalog)
    branch match {
      case Some(b) => cm.branchAppend(b, entries, expectedSchemaId = base.schemaId)
      case None => cm.appendFiles(entries, expectedSchemaId = base.schemaId)
    }
  }

  /** UPSERT (the Flink-CDC / Iceberg v2 write shape): atomically commit
    * an equality-delete file on `keyCols` AND the new data files in ONE
    * snapshot at ONE sequence number `s`. The delete applies to rows
    * with sequence < s — i.e. every pre-existing row matching a key —
    * while the batch's own rows (sequence == s) survive it. Keys present
    * in the table are replaced; absent keys are plain inserts; no
    * read-modify-write cycle and no table scan, which is what makes this
    * the 100 TB CDC ingest pattern: cost is proportional to the batch,
    * and the merge happens lazily at read/compaction time.
    *
    * `rows` must be key-unique within the batch (two rows with the same
    * key both survive — same contract as Iceberg upsert writers).
    */
  def upsert(
      tableDir: String,
      rows: DataFrame,
      keyCols: Seq[String],
      config: CompactionConfig = CompactionConfig(),
      retry: RetryConfig = RetryConfig(),
      catalog: TableCatalog = FileTableCatalog,
      /** Additional keys to DELETE in the same commit (CDC delete rows,
        * key columns only) — disjoint from the upsert keys in a sane
        * change batch; a key in both simply resolves to the upsert. */
      deleteKeys: Option[DataFrame] = None,
      /** Properties committed ATOMICALLY with the batch (e.g. the
        * streaming replay marker). */
      setProperties: Map[String, String] = Map.empty,
      /** Per-attempt commit guard ([[CommitManager.appendFiles]]). */
      validate: TableSnapshot => Unit = _ => ()
  ): TableSnapshot = {
    require(keyCols.nonEmpty, "keyCols must name at least one column")
    requirePrimitiveKeys(rows, keyCols)
    val cur = catalog.loadOrThrow(tableDir)
    requireConforming(cur, rows)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val dataFiles = writeParquet(
      graft.core.Constraints.enforce(rows, cur.properties),
      s"$tableDir/data/upsert-$tag", config.parquetCompression,
      bloomColumnsFor(config, cur))
    // derive the delete keys from the data files just WRITTEN, not by
    // re-evaluating `rows`: a nondeterministic input (rand(), shuffle-
    // order-dependent source) evaluated twice could commit delete keys
    // that disagree with the committed data rows — reading the landed
    // bytes back (key columns only, column-pruned scan of this batch)
    // makes the pair consistent by construction
    val landed =
      if (dataFiles.isEmpty) rows.limit(0) // delete-only batch
      else rows.sparkSession.read.parquet(dataFiles.map(_._1): _*)
    val delKeySets = deleteKeys.toSeq.map(_.select(keyCols.map(col): _*)) :+
      landed.select(keyCols.map(col): _*)
    val keyFiles = writeParquet(
      delKeySets.reduce(_ unionByName _).distinct(),
      s"$tableDir/data/upsert-del-$tag", config.parquetCompression)
    // zero-record files (empty batch, empty part files) never commit:
    // an rc==0 delete file has no bounds, so planning could never skip
    // it and every task would pay a footer read for a no-op
    new CommitManager(tableDir, retry, catalog = catalog).appendFiles(
      keyFiles.filter(_._3 > 0).map { case (p, len, rc) =>
        graft.sources.ParquetStats.stampBounds(
          FileEntry(p, "equality-deletes", len, rc, -1L, equalityIds = keyCols))
      } ++ dataFiles.filter(_._3 > 0).map { case (p, len, rc) =>
        graft.sources.ParquetStats.stampBounds(FileEntry(p, "data", len, rc, -1L))
      },
      expectedSchemaId = cur.schemaId,
      setProperties = setProperties,
      validate = validate)
  }

  /** Append a POSITION delete: `positions` must carry
    * (file_path STRING, pos BIGINT) naming physical rows of CURRENT data
    * files (the Iceberg position-delete file schema). */
  def appendPositionDeletes(
      tableDir: String,
      positions: DataFrame,
      config: CompactionConfig = CompactionConfig(),
      retry: RetryConfig = RetryConfig(),
      catalog: TableCatalog = FileTableCatalog,
      /** Data files the positions reference — passed through to
        * [[CommitManager.appendFiles]]'s staleness guard so a delete
        * racing a compaction ABORTS instead of committing references to
        * rewritten (gone) files, which would silently resurrect the
        * rows. Callers that compute positions from a snapshot should
        * pass that snapshot's data paths. */
      requiredDataPaths: Set[String] = Set.empty
  ): TableSnapshot = {
    val cur = catalog.loadOrThrow(tableDir)
    val outDir = s"$tableDir/data/posdel-${java.util.UUID.randomUUID().toString.take(8)}"
    val files = writeParquet(
      positions.select(col("file_path"), col("pos")),
      outDir, config.parquetCompression)
    // a no-op delete (zero matching positions) commits nothing — the
    // written-row counts are already exact from the files' footers, so
    // this does not re-evaluate the input plan
    if (files.map(_._3).sum == 0L) {
      FileIO.deleteRecursive(outDir)
      return cur
    }
    new CommitManager(tableDir, retry, catalog = catalog).appendFiles(
      files.map { case (p, len, rc) =>
        FileEntry(p, "position-deletes", len, rc, -1L)
      },
      expectedSchemaId = cur.schemaId,
      requiredPaths = requiredDataPaths)
  }
}
