package graft.sinks

import graft.core.{CompactionConfig, CompactionError, RetryConfig}
import graft.io.FileIO
import graft.operators.RollingPolicy
import graft.txn.{CommitManager, FileEntry, FileTableCatalog, TableCatalog}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.{streaming => sstreaming}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** DSv2 BATCH append — `df.write.format("graft").mode("append")
  * .save(tableDir)` commits data files through the same CAS line every
  * other write takes ([[CommitManager.appendFiles]]: fresh sequence
  * number, schema-drift guard, conflict retry).
  *
  * The executor half is a [[DataWriter]] that streams InternalRows
  * straight into a rolling parquet writer — rows stay in Spark's unsafe
  * format until each field is consumed (no `df.rdd` deserialization),
  * and files roll on the reference's W2 byte policy
  * ([[RollingPolicy.needBuildNewFile]]); rows encode to parquet
  * through Spark's own `ParquetWriteSupport`, the encoder every other
  * graft write (compaction, `TableWrites`, streaming ingest) goes
  * through, under an encoding pinned in [[GraftDataWriter]].
  *
  * Commit safety: every task ATTEMPT writes
  * under its own `_attempt-<taskId>/` directory and reports its file
  * list in its commit message; Spark's commit coordinator guarantees one
  * winning attempt per partition, the driver renames only the winners
  * into the batch directory, and `abort` deletes the whole batch dir —
  * a failed or speculative attempt can never leak files into the
  * committed snapshot.
  *
  * Schema contract: the incoming columns must match the table's current
  * schema by NAME (the table declares ACCEPT_ANY_SCHEMA so this check —
  * not positional resolution — is the contract, same as
  * [[graft.txn.TableWrites.appendData]]); the first append to an empty
  * table defines the schema. Types follow the engine's flat-primitive
  * table model.
  */
object GraftBatchWrite {

  /** Type support of the engine's table model, checked up front by the
    * DSv2 write ([[validateSchema]]) and the catalog's CREATE/CTAS
    * ([[graft.sql.GraftCatalog]]): the primitive lattice plus
    * ARRAY/STRUCT/MAP compositions of it. Reads decode every one of
    * these through Spark's parquet reader ([[graft.sources
    * .SparkFileReader]]), columnar wherever Spark's batch gate allows. */
  private[graft] def supportedType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | StringType |
         BooleanType | TimestampType | TimestampNTZType | DateType |
         BinaryType => true
    case _: DecimalType => true
    case ArrayType(et, _) => supportedType(et)
    case MapType(kt, vt, _) => supportedType(kt) && supportedType(vt)
    case StructType(fields) => fields.forall(f => supportedType(f.dataType))
    case _ => false
  }

  /** Hadoop conf entries shipped to write tasks, extended with the
    * table's bloom-column config ([[graft.core.BloomColumns]]) so every
    * row-level writer emits the configured parquet bloom filters
    * without threading one more constructor parameter through the
    * writer tree. Takes the ALREADY-LOADED snapshot: every write-build
    * site holds one, and a second catalog round-trip per build would be
    * a network RPC on a REST/object-store catalog. */
  def writeConfEntries(snap: Option[graft.txn.TableSnapshot]): Array[(String, String)] = {
    val base = FileIO.hadoopConfEntries()
    snap.flatMap(_.properties.get(graft.core.BloomColumns.Property)) match {
      case Some(raw) => base :+ (graft.core.BloomColumns.Property -> raw)
      case None      => base
    }
  }

  /** Enable the configured bloom filters on a parquet writer builder —
    * columns absent from the write schema skip (a rename/drop degrades
    * the optimization, never the write). Columns without an explicit
    * ndv use parquet's adaptive bloom writer. */
  def applyBloom[T, B <: ParquetWriter.Builder[T, B]](b: B,
      specs: Seq[graft.core.BloomColumns.Spec],
      schemaCols: Set[String]): B = {
    // case-insensitive resolution to the schema's own casing — parquet
    // column paths are case-sensitive even though Spark identifiers
    // are not
    val live = graft.core.BloomColumns.resolve(specs, schemaCols.toSeq)
    var out = b
    live.foreach { s =>
      out = out.withBloomFilterEnabled(s.column, true)
      s.ndv.foreach(n => out = out.withBloomFilterNDV(s.column, n))
    }
    if (live.exists(_.ndv.isEmpty)) out = out.withAdaptiveBloomFilterEnabled(true)
    out
  }

  /** Parse the bloom config a factory shipped in the task conf
    * ([[writeConfEntries]]); malformed values degrade to none. */
  def bloomSpecsFrom(taskConf: Configuration): Seq[graft.core.BloomColumns.Spec] =
    Option(taskConf.get(graft.core.BloomColumns.Property)) match {
      case None => Nil
      case Some(raw) =>
        try graft.core.BloomColumns.parse(raw)
        catch { case _: Exception => Nil }
    }

  /** The session's in-flight WAP id ([[graft.txn.Wap.SessionConf]]),
    * read driver-side at commit time (commits run on the driver, like
    * Iceberg's `spark.wap.id` lookup). Blank unsets. */
  def activeWapId(): Option[String] =
    org.apache.spark.sql.SparkSession.active.conf
      .getOption(graft.txn.Wap.SessionConf).map(_.trim).filter(_.nonEmpty)

  /** The session's write-target branch ([[graft.txn.Branch.SessionConf]],
    * the analog of Iceberg's `spark.wap.branch`), read driver-side at
    * commit time like the wap id. Blank unsets. */
  def activeBranch(): Option[String] =
    org.apache.spark.sql.SparkSession.active.conf
      .getOption(graft.txn.Branch.SessionConf).map(_.trim).filter(_.nonEmpty)

  /** Validate `querySchema` against the table's current state; throws
    * [[CompactionError.Config]] on any mismatch. Returns the snapshot's
    * schemaId AS OF validation — commits pass it as `expectedSchemaId`
    * so a concurrent ALTER TABLE between planning and commit aborts
    * instead of stamping the files with the wrong (newer) schema id. */
  def validateSchema(tableDir: String, querySchema: StructType,
      catalog: TableCatalog = FileTableCatalog): Long = {
    querySchema.fields.foreach { f =>
      if (!supportedType(f.dataType))
        throw CompactionError.Config(
          s"graft writes primitive and array/struct/map columns; " +
            s"${f.name}: ${f.dataType} is not supported")
    }
    val snap = catalog.loadOrThrow(tableDir)
    val tableCols: Option[Set[String]] =
      snap.currentSchema.map(_.fields.map(_.name).toSet).orElse(
        graft.txn.SchemaEvolution.newestDataFile(snap).map(f =>
          graft.txn.SchemaEvolution.footerSchema(f.path).fieldNames.toSet))
    tableCols.foreach { want =>
      val got = querySchema.fieldNames.toSet
      if (want != got) throw CompactionError.Config(
        s"append does not match the table schema: table has " +
          s"(${want.toSeq.sorted.mkString(", ")}), rows have " +
          s"(${got.toSeq.sorted.mkString(", ")})")
    }
    snap.schemaId
  }

  /** Declarative write layout shared by the live append builder
    * ([[GraftWriteBuilder]]) and the staged CTAS/RTAS builder
    * ([[graft.sql.GraftStagedTable]]). With a declared write order:
    * range-distribute AND sort on (partition sources ++ sort fields) —
    * partition values still co-locate (equal keys fall in one range),
    * and each task writes files whose sort-key bounds are tight and
    * mostly disjoint, which is what makes the stamped-bounds file
    * pruning bite at scale. Without one: cluster incoming rows by the
    * partition SOURCE columns (same value ⇒ same partition value), so
    * each write task sees few partition values and the fanout map stays
    * small — without needing Spark to evaluate the engine's transforms. */
  private[graft] def orderingExprs(
      partitionSpec: Seq[graft.core.PartitionTransform],
      writeOrder: Seq[graft.core.SortField])
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val partLeads = partitionSpec.map(_.source)
      .filterNot(writeOrder.map(_.column).contains)
      .map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
    (partLeads ++ writeOrder.map(f => Expressions.sort(
      Expressions.column(f.column),
      if (f.descending) SortDirection.DESCENDING else SortDirection.ASCENDING)))
      .toArray
  }

  private[graft] def requiredDistribution(
      partitionSpec: Seq[graft.core.PartitionTransform],
      writeOrder: Seq[graft.core.SortField])
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (writeOrder.nonEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.ordered(
        orderingExprs(partitionSpec, writeOrder))
    else if (partitionSpec.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else org.apache.spark.sql.connector.distributions.Distributions.clustered(
      partitionSpec.map(t => org.apache.spark.sql.connector.expressions
        .Expressions.column(t.source):
        org.apache.spark.sql.connector.expressions.Expression).toArray)

  /** Rename the winning attempts' files into `writeDir` (optionally
    * under a name prefix) and sweep attempt directories matching
    * `attemptSweepPrefix` — the shared publish step of the batch,
    * streaming, and copy-on-write commits. Returns the committed-file
    * entries (sequence number assigned by the commit). */
  private[graft] def publishWinners(
      files: Seq[(String, Long)],
      writeDir: String,
      namePrefix: String = "",
      attemptSweepPrefix: String = "_attempt-",
      sketches: Map[String, Map[String, String]] = Map.empty): Seq[FileEntry] = {
    val entries = files.sortBy(_._1).map { case (attemptPath, rowCount) =>
      val name = attemptPath.substring(attemptPath.lastIndexOf('/') + 1)
      val target = s"$writeDir/$namePrefix$name"
      if (!FileIO.rename(attemptPath, target))
        throw CompactionError.Io(s"failed to publish $attemptPath -> $target")
      graft.sources.ParquetStats.stampBounds(
        FileEntry(target, "data", FileIO.fileLength(target), rowCount, -1L,
          ndvSketch = sketches.getOrElse(attemptPath, Map.empty)))
    }
    FileIO.listDirectories(writeDir)
      .filter(p => p.substring(p.lastIndexOf('/') + 1).startsWith(attemptSweepPrefix))
      .foreach(FileIO.deleteRecursive)
    entries
  }
}

final class GraftWriteBuilder(
    tableDir: String,
    info: LogicalWriteInfo,
    catalog: TableCatalog = FileTableCatalog
) extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  private def targetBytes = Option(info.options().get("targetFileSizeBytes"))
    .map(_.toLong).getOrElse(CompactionConfig().targetFileSizeBytes)
  private def compression = Option(info.options().get("compression")).getOrElse("snappy")

  /** SQL `INSERT OVERWRITE TABLE` (and `df.writeTo(...).replace`-style
    * whole-table overwrites): the commit atomically swaps the table's
    * entire file set for the new rows. */
  private var overwriteAll = false
  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  /** `INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic`: replace only
    * the partitions present in the incoming rows. On an unpartitioned
    * table every row is "the one partition", i.e. a full overwrite —
    * Spark's own semantics for dynamic mode without partitions. */
  private var overwriteDynamic = false
  override def overwriteDynamicPartitions(): WriteBuilder = {
    if (partitionSpec.isEmpty) overwriteAll = true
    else overwriteDynamic = true
    this
  }

  /** ONE snapshot load for all planning-time property reads — both so
    * planning pays the metadata parse once and so the partition spec and
    * write order can never reflect different table states across a
    * concurrent commit. */
  private lazy val planningSnap: Option[graft.txn.TableSnapshot] =
    catalog.load(tableDir)

  /** Partition spec of the target table (snapshot property) — fanout
    * writers route rows per partition value. */
  private lazy val partitionSpec: Seq[graft.core.PartitionTransform] =
    graft.core.PartitionSpecCodec.of(planningSnap)

  /** Declared write order (snapshot property, validated against the
    * incoming write schema so a stale order fails at planning). */
  private lazy val writeOrder: Seq[graft.core.SortField] = {
    val order = graft.core.WriteOrderCodec.of(planningSnap)
    graft.core.WriteOrderCodec.validate(order,
      info.schema().fieldNames.toSet)
    order
  }

  override def build(): Write = new Write
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

    // layout shared with the staged CTAS/RTAS builder — see
    // [[GraftBatchWrite.orderingExprs]] for the rationale
    override def requiredDistribution():
        org.apache.spark.sql.connector.distributions.Distribution =
      GraftBatchWrite.requiredDistribution(partitionSpec, writeOrder)
    override def requiredOrdering():
        Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      if (writeOrder.isEmpty) Array.empty
      else GraftBatchWrite.orderingExprs(partitionSpec, writeOrder)

    override def toBatch: BatchWrite = {
      val schemaId = GraftBatchWrite.validateSchema(tableDir, info.schema(), catalog)
      // the required distribution+ordering above guarantee every task's
      // rows arrive sorted, so each written file (a contiguous slice of
      // that stream, fanout included) is physically sorted — stamp it
      val sortedBy =
        if (writeOrder.isEmpty) ""
        else graft.core.WriteOrderCodec.encode(
          graft.core.WriteOrderCodec.physical(partitionSpec, writeOrder))
      new GraftDsv2BatchWrite(tableDir, info.schema(), targetBytes, compression,
        catalog, schemaId, overwriteAll, partitionSpec, overwriteDynamic,
        sortedBy)
    }
    override def toStreaming: sstreaming.StreamingWrite = {
      if (overwriteAll) throw CompactionError.Config(
        "graft streaming writes are append-only; Complete output mode " +
          "(per-epoch truncate) is not supported")
      val schemaId = GraftBatchWrite.validateSchema(tableDir, info.schema(), catalog)
      new GraftStreamingWrite(tableDir, info.schema(), targetBytes, compression,
        catalog, info.queryId(), schemaId, partitionSpec)
    }
  }
}

final case class GraftCommitMessage(
    files: Seq[(String, Long)],
    /** attempt path -> column -> serialized [[graft.core.NdvSketch]]
      * stamped while the rows streamed through the writer. */
    sketches: Map[String, Map[String, String]] = Map.empty)
    extends WriterCommitMessage

final class GraftDsv2BatchWrite(
    tableDir: String,
    schema: StructType,
    targetFileSizeBytes: Long,
    compression: String,
    catalog: TableCatalog,
    validatedSchemaId: Long,
    overwriteAll: Boolean = false,
    partitionSpec: Seq[graft.core.PartitionTransform] = Nil,
    overwriteDynamic: Boolean = false,
    /** Physical per-file sort order to stamp on committed entries
      * ([[graft.txn.FileEntry.sortedBy]]); "" = unsorted write. */
    sortedBy: String = ""
) extends BatchWrite {

  private val writeDir =
    s"$tableDir/data/dsv2-${java.util.UUID.randomUUID().toString.take(8)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    FileIO.mkdirs(writeDir)
    // one snapshot load serves both the shipped conf and the
    // constraint bind — a second catalog round-trip per write build is
    // a network RPC on a REST/object-store catalog
    val snap = catalog.load(tableDir)
    // ship the driver's hadoop conf to tasks (object-store
    // credentials/endpoints; FileIO.hadoopConfEntries explains why a
    // bare executor Configuration breaks non-local dirs)
    new GraftDataWriterFactory(writeDir, schema, targetFileSizeBytes,
      compression, GraftBatchWrite.writeConfEntries(snap), partitionSpec,
      constraints = graft.core.Constraints.bindAll(
        org.apache.spark.sql.SparkSession.active,
        snap.map(_.properties).getOrElse(Map.empty), schema))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.toSeq.map(_.asInstanceOf[GraftCommitMessage])
    val entries0 = GraftBatchWrite.publishWinners(
      msgs.flatMap(_.files), writeDir,
      sketches = msgs.flatMap(_.sketches).toMap)
    val entries =
      if (sortedBy.isEmpty) entries0
      else entries0.map(_.copy(sortedBy = sortedBy))
    // an overwrite of zero rows still truncates; a plain append of
    // zero rows commits nothing
    if (entries.isEmpty && !overwriteAll) { FileIO.deleteRecursive(writeDir); return }
    // schemaId captured at build/validate time, NOT reloaded here — a
    // concurrent ALTER TABLE mid-write must abort the commit, not
    // stamp the files with the new schema id
    val cm = new CommitManager(tableDir, RetryConfig(), catalog = catalog)
    // an active session wap id stages APPENDS ([[graft.txn.Wap]]);
    // overwrites encode removals relative to the current snapshot and
    // cannot cherry-pick safely at publish time, so they refuse rather
    // than silently running unstaged under a wap session
    val wapId = GraftBatchWrite.activeWapId()
    if (wapId.isDefined && (overwriteAll || overwriteDynamic))
      throw graft.core.CompactionError.Config(
        s"session ${graft.txn.Wap.SessionConf} is set: only appends can be " +
          "WAP-staged; run the overwrite without a wap id")
    // a session branch target routes APPENDS onto the branch lineage;
    // overwrites encode removals relative to MAIN and would reparent
    // under fast-forward — refuse rather than run them unbranced. WAP
    // staging and branch targeting are distinct audit protocols that
    // do not compose in one commit.
    val branchTarget = GraftBatchWrite.activeBranch()
    if (branchTarget.isDefined && wapId.isDefined)
      throw graft.core.CompactionError.Config(
        s"both ${graft.txn.Wap.SessionConf} and " +
          s"${graft.txn.Branch.SessionConf} are set: a commit is either " +
          "WAP-staged or branch-targeted, not both")
    if (branchTarget.isDefined && (overwriteAll || overwriteDynamic))
      throw graft.core.CompactionError.Config(
        s"session ${graft.txn.Branch.SessionConf} is set: only appends " +
          "can target a branch; run the overwrite without a branch")
    if (overwriteAll) cm.overwriteAll(entries, expectedSchemaId = validatedSchemaId)
    else if (overwriteDynamic) {
      // partition key of a fanout-written file, canonicalized in spec
      // field order; None = no parseable key (pre-partitioning file)
      val fieldNames = partitionSpec.map(_.fieldName)
      def keyOf(path: String): Option[String] = {
        val fs = graft.core.PartitionKey.parse(path)
        if (fieldNames.forall(fs.contains))
          Some(fieldNames.map(n => s"$n=${fs(n)}").mkString(","))
        else None
      }
      val newKeys = entries.flatMap(e => keyOf(e.path)).toSet
      require(newKeys.nonEmpty && entries.forall(e => keyOf(e.path).isDefined),
        "fanout-written files must carry their partition key")
      // partition identity is compared on SANITIZED rendered values, and
      // the sanitizer is lossy only through '_' (every replaced char
      // becomes '_'): two distinct raw values can collide only if the
      // sanitized form contains '_'. Removal is destructive, so refuse
      // when any incoming value could be ambiguous — a collision here
      // would delete a DIFFERENT partition's files.
      val ambiguous = entries.flatMap { e =>
        val fs = graft.core.PartitionKey.parse(e.path)
        fieldNames.flatMap(fs.get).filter(_.contains('_'))
      }.distinct
      if (ambiguous.nonEmpty) throw graft.core.CompactionError.Config(
        s"dynamic partition overwrite cannot prove partition identity for " +
          s"value(s) ${ambiguous.take(3).mkString(", ")} ('_' in a sanitized " +
          "partition value may collide with a different raw value); use a " +
          "static INSERT OVERWRITE or partition values without special " +
          "characters or underscores")
      cm.overwritePartitions(entries, newKeys, keyOf,
        expectedSchemaId = validatedSchemaId)
    }
    else branchTarget match {
      case Some(b) =>
        cm.branchAppend(b, entries, expectedSchemaId = validatedSchemaId)
      case None =>
        cm.appendFiles(entries, expectedSchemaId = validatedSchemaId,
          stageWapId = wapId)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    FileIO.deleteRecursive(writeDir)
}

final class GraftDataWriterFactory(
    writeDir: String,
    schema: StructType,
    targetFileSizeBytes: Long,
    compression: String,
    confEntries: Array[(String, String)],
    partitionSpec: Seq[graft.core.PartitionTransform] = Nil,
    /** Bound CHECK constraints ([[graft.core.Constraints.bindAll]]) —
      * every row is validated BEFORE it reaches a parquet buffer. */
    constraints: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil
) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val inner: DataWriter[InternalRow] =
      if (partitionSpec.isEmpty)
        new GraftDataWriter(s"$writeDir/_attempt-$taskId", partitionId, schema,
          targetFileSizeBytes, compression, confEntries)
      else
        new GraftFanoutDataWriter(s"$writeDir/_attempt-$taskId", partitionId, schema,
          partitionSpec, targetFileSizeBytes, compression, confEntries)
    CheckedDataWriter.wrap(inner, constraints)
  }
}

/** Decorator enforcing write-time CHECK constraints per row before
  * delegating ([[graft.core.Constraints]]): the check is a compiled
  * predicate over the incoming InternalRow — no extra pass, no extra
  * job, a violating batch fails before any byte is published. */
object CheckedDataWriter {
  def wrap(inner: DataWriter[InternalRow],
      constraints: Seq[(String, String,
        org.apache.spark.sql.catalyst.expressions.Expression)])
      : DataWriter[InternalRow] =
    if (constraints.isEmpty) inner
    else new CheckedDataWriter(inner,
      new graft.core.Constraints.RowChecker(constraints))
}

final class CheckedDataWriter(
    inner: DataWriter[InternalRow],
    checker: graft.core.Constraints.RowChecker
) extends DataWriter[InternalRow] {
  override def write(row: InternalRow): Unit = {
    checker.check(row); inner.write(row)
  }
  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

/** Fanout writer for PARTITIONED tables (reference S8, realized on the
  * DSv2 path): each row's partition values route it to a per-value
  * rolling [[GraftDataWriter]], so every output file holds exactly one
  * partition value and carries footer stats the scan-side pruning can
  * use. The write plans a CLUSTERED distribution on the source columns
  * ([[GraftWriteBuilder]]), so one task usually sees few values and the
  * open-writer map stays small — the Iceberg fanout-writer shape. File
  * names carry the sanitized partition key (`region=EU.part-0-0…`);
  * the snapshot, not the directory tree, is the source of truth. */
object GraftFanoutDataWriter {
  /** Open-writer bound per task (Iceberg's fanout writers draw the same
    * line): beyond it the oldest writer finalizes early. */
  val MaxOpenWriters = 64
}

final class GraftFanoutDataWriter(
    attemptDir: String,
    partitionId: Int,
    schema: StructType,
    partitionSpec: Seq[graft.core.PartitionTransform],
    targetFileSizeBytes: Long,
    compression: String,
    confEntries: Array[(String, String)]
) extends DataWriter[InternalRow] {

  private val slots: Seq[(graft.core.PartitionTransform, Int, DataType)] =
    partitionSpec.map { t =>
      val idx = schema.fieldIndex(t.source)
      (t, idx, schema(idx).dataType)
    }
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[String, GraftDataWriter]

  private def boxed(row: InternalRow, idx: Int, dt: DataType): Any =
    if (row.isNullAt(idx)) null
    else dt match {
      case StringType                         => row.getUTF8String(idx).toString
      case LongType                           => row.getLong(idx)
      case IntegerType | DateType             => row.getInt(idx)
      case TimestampType | TimestampNTZType   => row.getLong(idx)
      case DoubleType                         => row.getDouble(idx)
      case FloatType                          => row.getFloat(idx)
      case BooleanType                        => row.getBoolean(idx)
      case other => throw CompactionError.Config(
        s"partition source type $other is not supported")
    }

  // files of writers already evicted and finalized (see MaxOpenWriters)
  private val closedFiles = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
  private val closedSketches =
    scala.collection.mutable.Map.empty[String, Map[String, String]]
  private var generation = 0

  override def write(row: InternalRow): Unit = {
    val key = graft.core.PartitionKey.key(slots.map { case (t, i, dt) =>
      graft.core.PartitionKey.field(t, t.eval(boxed(row, i, dt), dt))
    })
    val w = writers.getOrElse(key, {
      // bound the open parquet writers (each holds column buffers): a
      // high-cardinality partition under a skewed/unclustered input
      // evicts FIFO — the closed value just starts a fresh file if it
      // reappears, so the cost is extra files, never wrong data. The
      // generation marker keeps recreated writers' file names unique.
      if (writers.size >= GraftFanoutDataWriter.MaxOpenWriters) {
        val (oldKey, oldW) = writers.head
        val m = oldW.commit().asInstanceOf[GraftCommitMessage]
        closedFiles ++= m.files
        closedSketches ++= m.sketches
        writers.remove(oldKey)
      }
      generation += 1
      val nw = new GraftDataWriter(attemptDir, partitionId, schema,
        targetFileSizeBytes, compression, confEntries,
        namePrefix = s"g$generation-$key.")
      writers(key) = nw
      nw
    })
    w.write(row)
  }

  override def commit(): WriterCommitMessage = {
    val ms = writers.values.toSeq.map(_.commit().asInstanceOf[GraftCommitMessage])
    GraftCommitMessage(
      closedFiles.toSeq ++ ms.flatMap(_.files),
      closedSketches.toMap ++ ms.flatMap(_.sketches))
  }

  override def abort(): Unit = {
    writers.values.foreach(w => try w.abort() catch { case _: Throwable => () })
    FileIO.deleteRecursive(attemptDir)
  }

  override def close(): Unit = ()
}

/** Structured Streaming sink — `df.writeStream.format("graft")`: each
  * micro-batch (epoch) publishes its winning attempts and commits ONE
  * snapshot through [[CommitManager.appendFiles]], stamping the epoch
  * id into a per-query snapshot property. A restarted query that
  * REPLAYS an epoch (checkpoint recovery) finds the marker and skips
  * the commit — exactly-once table contents on at-least-once batch
  * delivery, the same idempotence contract as
  * [[graft.streaming.StreamingIngest]]. Epochs of one query run
  * sequentially, so the marker check-then-commit needs no CAS of its
  * own (the snapshot commit itself is still CAS'd against concurrent
  * writers/compactions). */
final class GraftStreamingWrite(
    tableDir: String,
    schema: StructType,
    targetFileSizeBytes: Long,
    compression: String,
    catalog: TableCatalog,
    queryId: String,
    validatedSchemaId: Long,
    partitionSpec: Seq[graft.core.PartitionTransform] = Nil
) extends sstreaming.StreamingWrite {

  private val writeDir =
    s"$tableDir/data/stream-${java.util.UUID.randomUUID().toString.take(8)}"
  private def marker = s"graft.stream.$queryId.epoch"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    FileIO.mkdirs(writeDir)
    val snap = catalog.load(tableDir)
    new GraftStreamingDataWriterFactory(writeDir, schema, targetFileSizeBytes,
      compression, GraftBatchWrite.writeConfEntries(snap), partitionSpec,
      constraints = graft.core.Constraints.bindAll(
        org.apache.spark.sql.SparkSession.active,
        snap.map(_.properties).getOrElse(Map.empty), schema))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // streaming epochs replay by marker, staged snapshots publish by
    // cherry-pick — the two idempotence protocols don't compose, so a
    // wap session refuses streaming commits outright
    GraftBatchWrite.activeWapId().foreach { id =>
      throw graft.core.CompactionError.Config(
        s"session ${graft.txn.Wap.SessionConf}='$id' is set: streaming " +
          "epochs cannot be WAP-staged; unset the wap id for this query")
    }
    // the epoch replay marker rides MAIN snapshot properties; a branch
    // commit would fork the marker and replay epochs after fast-forward
    GraftBatchWrite.activeBranch().foreach { b =>
      throw graft.core.CompactionError.Config(
        s"session ${graft.txn.Branch.SessionConf}='$b' is set: streaming " +
          "epochs cannot target a branch; unset the branch for this query")
    }
    val cur = catalog.loadOrThrow(tableDir)
    val replayed = cur.properties.get(marker).flatMap(_.toLongOption)
      .exists(_ >= epochId)
    val msgs = messages.toSeq.map(_.asInstanceOf[GraftCommitMessage])
    val files = msgs.flatMap(_.files)
    if (replayed || files.isEmpty) {
      dropEpochAttempts(epochId)
      return
    }
    // epoch prefix keeps names unique across the query's lifetime
    val entries = GraftBatchWrite.publishWinners(files, writeDir,
      namePrefix = s"e$epochId-", attemptSweepPrefix = s"_attempt-e$epochId-",
      sketches = msgs.flatMap(_.sketches).toMap)
    // schemaId from build/validate time (see GraftDsv2BatchWrite.commit):
    // the query writes the schema it was planned with for its whole
    // lifetime, so an ALTER TABLE mid-query aborts the next epoch
    new CommitManager(tableDir, RetryConfig(), catalog = catalog)
      .appendFiles(entries, expectedSchemaId = validatedSchemaId,
        setProperties = Map(marker -> epochId.toString))
  }

  /** Abort of a FAILED epoch: drop its attempt dirs AND any of its
    * published-but-uncommitted `e<epoch>-*` files (a commit that threw
    * after publishing would otherwise strand them under the table
    * forever — prior epochs' committed files share this directory, so
    * the whole-dir delete the batch path uses is not available).
    * Snapshot-referenced files are never touched. */
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    dropEpochAttempts(epochId)
    // NORMALIZED comparison on both sides: snapshot entries may carry a
    // scheme prefix while the listing returns plain paths — a raw
    // compare would fail open and delete committed files
    val referenced = catalog.load(tableDir)
      .map(_.files.map(f => graft.sources.ScanPlanner.normalizePath(f.path)).toSet)
      .getOrElse(Set.empty)
    FileIO.listFiles(writeDir)
      .map(_._1)
      .filter { p =>
        p.substring(p.lastIndexOf('/') + 1).startsWith(s"e$epochId-") &&
          !referenced.contains(graft.sources.ScanPlanner.normalizePath(p))
      }
      .foreach(FileIO.delete)
  }

  private def dropEpochAttempts(epochId: Long): Unit =
    FileIO.listDirectories(writeDir)
      .filter(p => p.substring(p.lastIndexOf('/') + 1).startsWith(s"_attempt-e$epochId-"))
      .foreach(FileIO.deleteRecursive)
}

final class GraftStreamingDataWriterFactory(
    writeDir: String,
    schema: StructType,
    targetFileSizeBytes: Long,
    compression: String,
    confEntries: Array[(String, String)],
    partitionSpec: Seq[graft.core.PartitionTransform] = Nil,
    constraints: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil
) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val inner: DataWriter[InternalRow] =
      if (partitionSpec.isEmpty)
        new GraftDataWriter(s"$writeDir/_attempt-e$epochId-$taskId", partitionId,
          schema, targetFileSizeBytes, compression, confEntries)
      else
        new GraftFanoutDataWriter(s"$writeDir/_attempt-e$epochId-$taskId",
          partitionId, schema, partitionSpec, targetFileSizeBytes, compression,
          confEntries)
    CheckedDataWriter.wrap(inner, constraints)
  }
}

/** Per-task rolling writer — the runtime realization of the reference's
  * W2 policy (rolling_iceberg_writer.rs:26-132): before every
  * `batchRows`-row batch, [[RollingPolicy.needBuildNewFile]] sees (current
  * writer bytes, estimated incoming bytes, target) and rolls the file when
  * it fires. The incoming estimate is a running bytes-per-row average of
  * what this writer has already absorbed (seeded at 256 B/row). No
  * buffering: DSv2 hands rows one at a time and the parquet writer
  * consumes each immediately. */
final class GraftDataWriter(
    attemptDir: String,
    partitionId: Int,
    schema: StructType,
    targetFileSizeBytes: Long,
    compression: String,
    confEntries: Array[(String, String)],
    batchRows: Int = 1024,
    /** Distinguishes files of different partition values when several
      * writers share one attempt dir (the fanout path). */
    namePrefix: String = ""
) extends DataWriter[InternalRow] {

  private val taskConf = FileIO.confFrom(confEntries)
  private val writeConf = GraftDataWriter.pinnedWriteConf(taskConf, schema)
  private val codec = CompressionCodecName.valueOf(compression.toUpperCase)

  private val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
  private var fileIdx = 0
  private var curPath: String = _
  private var writer: ParquetWriter[InternalRow] = _
  private var rowsInWriter = 0L
  private var rowsSinceCheck = 0
  private var bytesAtCheck = 0L
  private var bytesPerRow = 256.0

  // per-file NDV sketches over the eligible columns, accumulated as
  // the rows stream through (graft.core.NdvSketch — one unsigned-min
  // set per column, a few ns per value)
  private val sketchSlots: Array[(Int, org.apache.spark.sql.types.DataType)] =
    schema.fields.zipWithIndex.collect {
      case (f, i) if graft.core.NdvSketch.eligible(f.dataType) => (i, f.dataType)
    }
  private var sketchAccs: Array[graft.core.NdvSketch.Acc] = _
  private val sketches =
    scala.collection.mutable.Map.empty[String, Map[String, String]]

  private val bloomSpecs = GraftBatchWrite.bloomSpecsFrom(taskConf)

  private def newWriter(): Unit = {
    curPath = s"$attemptDir/${namePrefix}part-$partitionId-$fileIdx.parquet"
    writer = SQLConf.withExistingConf(GraftDataWriter.PinnedSqlConf) {
      GraftBatchWrite.applyBloom[InternalRow, GraftDataWriter.RowWriterBuilder](
        new GraftDataWriter.RowWriterBuilder(new HPath(curPath))
          .withConf(writeConf)
          .withCompressionCodec(codec)
          .withWriteMode(ParquetFileWriter.Mode.OVERWRITE),
        bloomSpecs, schema.fieldNames.toSet)
        .build()
    }
    rowsInWriter = 0L
    rowsSinceCheck = 0
    bytesAtCheck = 0L
    fileIdx += 1
    sketchAccs = Array.fill(sketchSlots.length)(new graft.core.NdvSketch.Acc)
  }

  private def closeCurrent(): Unit = if (writer != null) {
    writer.close()
    files += ((curPath, rowsInWriter))
    if (sketchSlots.nonEmpty)
      sketches(curPath) = sketchSlots.zip(sketchAccs).map {
        case ((i, _), acc) => schema.fields(i).name -> acc.serialize
      }.toMap
    writer = null
  }

  override def write(row: InternalRow): Unit = {
    if (writer == null) newWriter()
    else if (rowsSinceCheck >= batchRows) {
      // refine the estimate from the completed batch, then consult W2
      val grew = writer.getDataSize - bytesAtCheck
      if (grew > 0) bytesPerRow = 0.5 * bytesPerRow + 0.5 * (grew.toDouble / rowsSinceCheck)
      if (RollingPolicy.needBuildNewFile(
          writer.getDataSize, (bytesPerRow * batchRows).toLong, targetFileSizeBytes)) {
        closeCurrent(); newWriter()
      } else { rowsSinceCheck = 0; bytesAtCheck = writer.getDataSize }
    }
    writer.write(row)
    var s = 0
    while (s < sketchSlots.length) {
      val (i, dt) = sketchSlots(s)
      if (!row.isNullAt(i))
        sketchAccs(s).add(graft.core.NdvSketch.hashAt(dt, row, i))
      s += 1
    }
    rowsInWriter += 1
    rowsSinceCheck += 1
  }

  override def commit(): WriterCommitMessage = {
    closeCurrent()
    GraftCommitMessage(files.toSeq, sketches.toMap)
  }

  override def abort(): Unit = {
    try if (writer != null) writer.close() catch { case _: Throwable => () }
    writer = null
    FileIO.deleteRecursive(attemptDir)
  }

  override def close(): Unit = ()
}

object GraftDataWriter {

  /** The DSv2 writer's Hadoop conf: the task conf plus the row schema
    * and an encoding pinned in code, so no session setting can change
    * the files — standard 3-level LIST/MAP shapes and the INT32/INT64/
    * FLBA decimal ladder (non-legacy format), INT64 `TIMESTAMP(MICROS)`
    * for both timestamp types (graft's readers decode it natively), no
    * field ids and no variant annotation. */
  private def pinnedWriteConf(taskConf: Configuration,
      schema: StructType): Configuration = {
    val conf = new Configuration(taskConf)
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    conf
  }

  /** `ParquetWriteSupport` reads its date/timestamp rebase modes from
    * `SQLConf.get` when it is constructed; writers are built under this
    * conf so the session's `datetimeRebaseModeInWrite` cannot reach the
    * files (CORRECTED: proleptic Gregorian values, written as is). */
  private val PinnedSqlConf: SQLConf = {
    val c = new SQLConf
    c.setConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE,
      org.apache.spark.sql.internal.LegacyBehaviorPolicy.CORRECTED)
    c.setConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE,
      org.apache.spark.sql.internal.LegacyBehaviorPolicy.CORRECTED)
    c
  }

  /** `ParquetWriter` over Spark's row encoder. */
  private final class RowWriterBuilder(path: HPath)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](path) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}
