package graft.txn

import com.fasterxml.jackson.databind.JsonNode
import graft.core.CompactionError
import graft.io.FileIO
import graft.txn.IcebergFormat._
import org.apache.avro.generic.GenericRecord

import java.util.UUID
import scala.jdk.CollectionConverters._

/** [[TableCatalog]] speaking the **Apache Iceberg v2 table format** —
  * snapshots commit as `v<N>.metadata.json` + manifest-list Avro +
  * manifest Avro under `<tableDir>/metadata/`, the same on-disk layout
  * a HadoopCatalog Iceberg table has, so a real Iceberg client pointed
  * at the table directory reads what this engine commits. The reference
  * works against exactly this metadata through iceberg-rust
  * (core/src/compaction/mod.rs:363-392 walks snapshot -> manifest list
  * -> manifest entries; commit via catalog at mod.rs:530-614).
  *
  * Mapping onto the graft snapshot model:
  *  - graft snapshot VERSION == Iceberg snapshot-id == metadata file
  *    number `N` (monotonic, assigned by the committer);
  *  - `lastSequenceNumber` == Iceberg `last-sequence-number`; every
  *    manifest entry carries its file's data sequence number explicitly
  *    (the spec's mechanism for rewrites preserving sequence numbers);
  *  - CAS: create-if-absent on `v<N>.metadata.json` via
  *    [[FileIO.casCreate]] — exactly the HadoopTableOperations commit
  *    primitive; `version-hint.text` is refreshed after the win.
  *
  * The table schema is INFERRED from a data file's parquet footer at
  * first data commit (field ids 1..n in column order) and kept stable
  * across commits; `equality_ids` translate between graft column names
  * and Iceberg field ids through it.
  *
  * Expiry note: [[deleteVersion]] removes one version's metadata file,
  * manifest list, and manifests. Newer metadata files keep the expired
  * snapshot in their `snapshots` history (Iceberg's own expire operation
  * rewrites metadata to drop them); readers of the CURRENT snapshot are
  * unaffected.
  */
object IcebergTableCatalog extends TableCatalog {

  /** Graft's schema HISTORY round-trips through the spec's own
    * multi-schema `schemas` array (every historical schema, by id,
    * current named by `current-schema-id`); per-file schema ids — a
    * concept Iceberg itself replaces with parquet field-id resolution,
    * which id-less Spark-written files cannot use — ride the
    * [[FileSchemaIdsProp]] table property. Both are invisible to a real
    * Iceberg reader (extra schemas and unknown properties are
    * spec-legal), so [[SchemaEvolution.evolve]] works against this
    * catalog like any other. */
  override def persistsSchemaHistory: Boolean = true

  /** Table property carrying `path -> schemaId` for files written under
    * non-current schemas (JSON object; absent = every file current). */
  private[txn] val FileSchemaIdsProp = "graft.file-schema-ids"
  /** Like [[FileSchemaIdsProp]] for PARTITION-SPEC ids: `path -> specId`
    * for files laid out under non-current specs (absent = every file
    * current). The graft spec history itself rides
    * [[graft.core.PartitionSpecCodec.HistoryProperty]] as an ordinary
    * snapshot property; metadata.json's `partition-specs` stays the
    * empty spec-0 because the manifests carry EMPTY partition tuples —
    * declaring fields without tuple values would mislead real readers. */
  private[txn] val FileSpecIdsProp = "graft.file-spec-ids"
  /** `path -> {column -> sketch}` write-time NDV sketches
    * ([[graft.core.NdvSketch]]) — without this round-trip the feature
    * would be silently inert on iceberg-format tables while writers
    * still paid the per-row hashing. */
  private[txn] val FileNdvSketchesProp = "graft.file-ndv-sketches"
  /** Marks a metadata file whose `schemas` array is a REAL graft schema
    * history (vs the single inferred schema a history-less table gets). */
  private[txn] val SchemaHistoryProp = "graft.schema-history"
  /** Spec-shaped `statistics` array JSON ([[graft.txn.TableAnalyze]]
    * writes it with an iceberg-format analyze): serialized verbatim
    * into metadata.json's `statistics` field. Spec-aware readers can
    * inspect the entries (path, sizes, per-blob `ndv` property); note
    * that readers filtering blobs by `apache-datasketches-theta-v1`
    * skip the engine-specific `graft-ndv-v1` blobs — see
    * TableAnalyze.icebergStatisticsProp for the honest limit. */
  private[graft] val StatisticsProp = "graft.stats.puffin"
  private val InternalProps =
    Set(FileSchemaIdsProp, FileSpecIdsProp, FileNdvSketchesProp, SchemaHistoryProp)

  /** Table property: when a commit would reference MORE reused
    * manifests of one content kind than this, reuse is dropped for that
    * kind and every entry consolidates into the commit's fresh manifest
    * — Iceberg's `commit.manifest.min-count-to-merge` behavior, the
    * backstop that keeps manifest counts bounded on long append-only
    * histories without anyone calling `rewrite_manifests`. */
  private[txn] val ManifestMergeProp = "graft.manifest.min-count-to-merge"
  private val DefaultManifestMinCountToMerge = 100

  /** Set while `rewrite_manifests` runs: disables manifest reuse so the
    * commit consolidates every live entry into one data + one deletes
    * manifest. Thread-local because it scopes ONE commit, not the
    * catalog (a singleton shared by every table). */
  private val forceFullManifests = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  def withFullManifests[A](body: => A): A = {
    forceFullManifests.set(true)
    try body finally forceFullManifests.set(false)
  }

  private val MetadataFile = "^v(\\d+)\\.metadata\\.json$".r

  private def metadataDir(t: String) = s"$t/metadata"
  def metadataPath(t: String, v: Long) = s"${metadataDir(t)}/v$v.metadata.json"

  // ------------------------------------------------------------------ load

  override def versions(table: String): Seq[Long] =
    FileIO.listFiles(metadataDir(table))
      .flatMap { case (path, _) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
        MetadataFile.findFirstMatchIn(name).map(_.group(1).toLong)
      }.sorted

  override def load(table: String): Option[TableSnapshot] =
    // current state = newest non-staged version (same contract as
    // TableMetadata.load: WAP-staged snapshots are outside main lineage
    // until published; the marker rides the metadata.json properties)
    versions(table).reverseIterator
      .flatMap(loadVersion(table, _))
      .find(!Branch.isOutOfMain(_))

  override def loadVersion(table: String, version: Long): Option[TableSnapshot] = {
    val p = metadataPath(table, version)
    if (!FileIO.exists(p)) return None
    val doc = parse(FileIO.readString(p))
    val snapId = doc.get("current-snapshot-id").asLong
    val schemaId = doc.get("current-schema-id").asLong
    val props = Option(doc.get("properties")).map { pr =>
      pr.fieldNames().asScala.map(k => k -> pr.get(k).asText).toMap
    }.getOrElse(Map.empty[String, String])

    // graft schema history (only when this writer stamped one)
    val schemas: Seq[graft.core.TableSchema] =
      if (!props.get(SchemaHistoryProp).contains("true")) Nil
      else doc.get("schemas").elements().asScala.toSeq.map { s =>
        graft.core.TableSchema(s.get("schema-id").asLong,
          parseSchemaFields(s).map(f =>
            graft.core.SchemaField(f.id, f.name, icebergToSparkDdl(f.typ),
              initialDefault = f.initialDefault,
              writeDefault = f.writeDefault)))
      }
    val schemaIdByPath: Map[String, Long] =
      props.get(FileSchemaIdsProp).map { json =>
        val n = parse(json)
        n.fieldNames().asScala.map(k => k -> n.get(k).asLong).toMap
      }.getOrElse(Map.empty)
    // equality ids must surface under the names of the FILE's schema
    // (graft's FileEntry contract — SchemaReconcile translates id-wise)
    val idToNameBySchema: Map[Long, Map[Int, String]] =
      schemas.map(s => s.schemaId -> s.fields.map(f => f.id -> f.name).toMap).toMap
    val currentIdToName = currentSchemaFields(doc).map(f => f.id -> f.name).toMap
    def idToNameFor(path: String): Map[Int, String] =
      schemaIdByPath.get(path).flatMap(idToNameBySchema.get)
        .getOrElse(currentIdToName)
    // field types drive the bound-value decode: string bounds are raw
    // bytes, integral bounds the 4/8-byte single-value encoding
    val idToTypeBySchema: Map[Long, Map[Int, String]] =
      schemas.map(s => s.schemaId ->
        s.fields.map(f => f.id -> f.dataType.toLowerCase).toMap).toMap
    val currentIdToType = currentSchemaFields(doc)
      .map(f => f.id -> f.typ.toLowerCase).toMap
    def idToTypeFor(path: String): Map[Int, String] =
      schemaIdByPath.get(path).flatMap(idToTypeBySchema.get)
        .getOrElse(currentIdToType)

    // per-file PARTITION-SPEC ids ride the same property mechanism as
    // schema ids; files absent from the map are current-spec
    val specIdByPath: Map[String, Long] =
      props.get(FileSpecIdsProp).map { json =>
        val n = parse(json)
        n.fieldNames().asScala.map(k => k -> n.get(k).asLong).toMap
      }.getOrElse(Map.empty)
    val sketchesByPath: Map[String, Map[String, String]] =
      props.get(FileNdvSketchesProp).map { json =>
        val n = parse(json)
        n.fieldNames().asScala.map { p =>
          val cols = n.get(p)
          p -> cols.fieldNames().asScala
            .map(c => c -> cols.get(c).asText).toMap
        }.toMap
      }.getOrElse(Map.empty)
    val curSpecId = props.get(graft.core.PartitionSpecCodec.IdProperty)
      .map(_.toLong).getOrElse(0L)
    val files =
      if (snapId < 0) Nil
      else {
        val snap = doc.get("snapshots").elements().asScala
          .find(_.get("snapshot-id").asLong == snapId)
          .getOrElse(throw CompactionError.Config(
            s"current-snapshot-id $snapId not in snapshots list of $p"))
        readManifestList(snap.get("manifest-list").asText, idToNameFor,
            idToTypeFor)
          .map(f => f.copy(
            schemaId = schemaIdByPath.getOrElse(f.path,
              if (schemas.nonEmpty) schemaId else -1L),
            specId = specIdByPath.getOrElse(f.path, curSpecId),
            ndvSketch = sketchesByPath.getOrElse(f.path, Map.empty)))
      }
    val committedAt = (for {
      snaps <- Option(doc.get("snapshots"))
      s <- snaps.elements().asScala.find(_.get("snapshot-id").asLong == snapId)
      ts <- Option(s.get("timestamp-ms"))
    } yield ts.asLong).getOrElse(0L)
    Some(TableSnapshot(
      version = version,
      schemaId = schemaId,
      lastSequenceNumber = doc.get("last-sequence-number").asLong,
      files = files,
      properties = props -- InternalProps,
      schemas = schemas,
      committedAtMs = committedAt))
  }

  private def currentSchemaFields(doc: JsonNode): Seq[Field] = {
    val sid = doc.get("current-schema-id").asLong
    doc.get("schemas").elements().asScala
      .find(_.get("schema-id").asLong == sid)
      .map(parseSchemaFields)
      .getOrElse(Nil)
  }

  private def readManifestList(path: String,
      idToNameFor: String => Map[Int, String],
      idToTypeFor: String => Map[Int, String] = _ => Map.empty): Seq[FileEntry] = {
    val (_, manifests) = readAvro(path)
    manifests.flatMap { m =>
      val (_, entries) = readAvro(m.get("manifest_path").toString)
      entries.collect {
        // status 0=EXISTING, 1=ADDED are live; 2=DELETED entries are not
        case e if e.get("status").asInstanceOf[Int] != 2 =>
          val fp = e.get("data_file").asInstanceOf[GenericRecord]
            .get("file_path").toString
          toFileEntry(e, idToNameFor(fp), idToTypeFor(fp))
      }
    }
  }

  private def toFileEntry(e: GenericRecord, idToName: Map[Int, String],
      idToType: Map[Int, String] = Map.empty): FileEntry = {
    val df = e.get("data_file").asInstanceOf[GenericRecord]
    // a POSITION_DELETES entry is a deletion vector (v3) only when BOTH
    // markers agree: PUFFIN file format AND a referenced data file. The
    // spec lets PARQUET position-delete files stamp referenced_data_file
    // too (single-target files) — those must stay parquet-parsed.
    val refDataFile = Option(df.get("referenced_data_file")).map(_.toString)
    val isPuffin = Option(df.get("file_format")).exists(_.toString == "PUFFIN")
    val content = df.get("content").asInstanceOf[Int] match {
      case 0 => "data"
      case 1 => if (isPuffin && refDataFile.isDefined) "deletion-vectors"
                else "position-deletes"
      case 2 => "equality-deletes"
      case other => throw CompactionError.Config(s"unknown data_file.content $other")
    }
    val eqIds = Option(df.get("equality_ids"))
      .map(_.asInstanceOf[java.util.List[Integer]].asScala.toSeq.map { id =>
        idToName.getOrElse(id.toInt, throw CompactionError.Config(
          s"equality field id $id not in table schema"))
      }).getOrElse(Seq.empty[String])
    // restore the manifest's column bound maps into the entry so a
    // RELOADED table keeps metadata-only pruning (ScanPruning reads
    // FileEntry.bounds before any footer IO). Decode is TYPE-aware:
    // string fields carry raw UTF-8 bytes (the spec's single-value form
    // for strings), everything else the 4/8-byte little-endian integral
    // encoding. Only ids the schema still names are kept; an id with no
    // known type decodes as integral (the pre-string legacy behavior —
    // strings were never written without type info).
    def rawBoundMapOf(field: String): Map[Int, Array[Byte]] =
      Option(df.get(field)).map { raw =>
        raw.asInstanceOf[java.util.List[GenericRecord]].asScala.map { kv =>
          val buf = kv.get("value").asInstanceOf[java.nio.ByteBuffer].duplicate()
          val arr = new Array[Byte](buf.remaining()); buf.get(arr)
          kv.get("key").asInstanceOf[Int] -> arr
        }.toMap
      }.getOrElse(Map.empty)
    // widths other than 4/8 cannot be the integral encoding — a foreign
    // manifest's string/binary bounds reaching this path (no type info)
    // must be SKIPPED, never misparsed into garbage integral bounds
    def longOf(a: Array[Byte]): Option[Long] = {
      val buf = java.nio.ByteBuffer.wrap(a)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      if (buf.remaining() == 4) Some(buf.getInt.toLong)
      else if (buf.remaining() == 8) Some(buf.getLong)
      else None
    }
    val losRaw = rawBoundMapOf("lower_bounds")
    val hisRaw = rawBoundMapOf("upper_bounds")
    val commonIds = losRaw.keySet.intersect(hisRaw.keySet).toSeq
    def isString(id: Int) = idToType.get(id).contains("string")
    // integral decode is WHITELISTED by type: a foreign manifest's
    // decimal/float bounds are also 4/8 bytes wide but in a different
    // encoding — misdecoding them into pruning ranges would silently
    // drop matching files. Unknown-type ids are skipped for the same
    // reason (named fields always resolve a type through the schema
    // doc, so nothing legitimate is lost).
    def isIntegral(id: Int) = idToType.get(id).exists(t =>
      t == "int" || t == "integer" || t == "long" || t == "bigint" ||
        // smallint/tinyint (graft DDL spellings) write the same 4-byte
        // int single-value form — dropping them here would silently
        // lose their pruning bounds on the manifest round-trip
        t == "smallint" || t == "tinyint" || t == "short" || t == "byte" ||
        t == "date" || t == "timestamp" || t == "timestamptz" ||
        t == "timestamp_ntz")
    val bounds: Map[String, Seq[Long]] =
      commonIds.filter(isIntegral).flatMap { id =>
        for {
          n <- idToName.get(id)
          lo <- longOf(losRaw(id))
          hi <- longOf(hisRaw(id))
        } yield n -> Seq(lo, hi)
      }.toMap
    val strBounds: Map[String, Seq[String]] = {
      val b64 = java.util.Base64.getEncoder
      commonIds.filter(isString).flatMap { id =>
        idToName.get(id).map(n => n -> Seq(
          b64.encodeToString(losRaw(id)), b64.encodeToString(hisRaw(id))))
      }.toMap
    }
    // null_value_counts (field-id 110) restore — plain longs, no
    // single-value decoding needed
    val nullCounts: Map[String, Long] =
      Option(df.get("null_value_counts")).map { raw =>
        raw.asInstanceOf[java.util.List[GenericRecord]].asScala.flatMap { kv =>
          idToName.get(kv.get("key").asInstanceOf[Int])
            .map(_ -> kv.get("value").asInstanceOf[Long])
        }.toMap
      }.getOrElse(Map.empty)
    FileEntry(
      path = df.get("file_path").toString,
      content = content,
      sizeBytes = df.get("file_size_in_bytes").asInstanceOf[Long],
      recordCount = df.get("record_count").asInstanceOf[Long],
      sequenceNumber = e.get("sequence_number").asInstanceOf[Long],
      equalityIds = eqIds,
      bounds = bounds,
      stringBounds = strBounds,
      nullCounts = nullCounts,
      referencedDataFile = refDataFile,
      contentOffset = Option(df.get("content_offset"))
        .map(_.asInstanceOf[Long]).getOrElse(0L),
      contentSizeBytes = Option(df.get("content_size_in_bytes"))
        .map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  // ---------------------------------------------------------------- commit

  override def commitCas(table: String, snapshot: TableSnapshot): Unit = {
    val prevDoc: Option[JsonNode] =
      versions(table).lastOption.filter(_ < snapshot.version)
        .map(v => parse(FileIO.readString(metadataPath(table, v))))

    // schema resolution, in order: a graft schema HISTORY (authoritative
    // — evolve commits carry it); else the previous metadata's schema
    // (stable field ids); else infer from a data file footer on the
    // first data commit
    val graftSchemas = snapshot.schemas
    def toFields(s: graft.core.TableSchema): Seq[Field] =
      s.fields.map(f => Field(f.id, f.name, required = false,
        sparkDdlToIcebergTyped(f.dataType, f.id),
        initialDefault = f.initialDefault, writeDefault = f.writeDefault))
    val prevFields = prevDoc.map(currentSchemaFields).getOrElse(Nil)
    val fields =
      if (graftSchemas.nonEmpty)
        toFields(graftSchemas.find(_.schemaId == snapshot.schemaId).getOrElse(
          throw CompactionError.Config(
            s"current schema id ${snapshot.schemaId} not in the history " +
              s"(${graftSchemas.map(_.schemaId).mkString(", ")})")))
      else if (prevFields.nonEmpty) prevFields
      else snapshot.files.find(_.content == "data") match {
        case Some(f) => inferSchema(f.path)
        case None    => Nil
      }
    val nameToId = fields.map(f => f.name -> f.id).toMap
    // equality ids resolve through the FILE's schema when a history
    // exists (an eq-delete keyed under a since-renamed name must keep
    // its field id)
    def nameToIdFor(f: FileEntry): Map[String, Int] =
      if (graftSchemas.isEmpty || f.schemaId < 0 || f.schemaId == snapshot.schemaId)
        nameToId
      else graftSchemas.find(_.schemaId == f.schemaId)
        .map(_.fields.map(fl => fl.name -> fl.id).toMap)
        .getOrElse(nameToId)

    // Previous snapshot's manifest-list records, each with its live
    // entry paths — the diff base for ADDED/EXISTING statuses AND the
    // manifest REUSE pool (paths only; no bound decode needed here).
    val prevManifestRecs: Seq[(GenericRecord, Int, Set[String])] =
      prevDoc.flatMap { d =>
        val sid = d.get("current-snapshot-id").asLong
        if (sid < 0) None
        else d.get("snapshots").elements().asScala
          .find(_.get("snapshot-id").asLong == sid)
          .map { s =>
            val listPath = s.get("manifest-list").asText
            if (!FileIO.exists(listPath)) Seq.empty[(GenericRecord, Int, Set[String])]
            else readAvro(listPath)._2.map { m =>
              val paths = readAvro(m.get("manifest_path").toString)._2.collect {
                case e if e.get("status").asInstanceOf[Int] != 2 =>
                  e.get("data_file").asInstanceOf[GenericRecord]
                    .get("file_path").toString
              }.toSet
              (m, m.get("content").asInstanceOf[Int], paths)
            }
          }
      }.getOrElse(Nil)
    val prevPaths: Set[String] = prevManifestRecs.flatMap(_._3).toSet

    // INCREMENTAL manifest commits (the Iceberg model): a previous
    // manifest is referenced VERBATIM when every live entry in it is
    // still in this snapshot — so an append writes ONE new manifest and
    // reuses the rest, making commit cost O(changed files + manifest
    // count) instead of O(total files). That is the difference between
    // a constant-cost commit and a 100k-entry Avro rewrite per commit
    // on a 100 TB table. A manifest that lost any file (rewrite /
    // delete-fold / overwrite) is dropped from the pool; its survivors
    // fall through to this commit's fresh manifest as EXISTING entries.
    val currentPaths = snapshot.files.map(_.path).toSet
    val reusePool =
      if (forceFullManifests.get) Nil
      else prevManifestRecs.filter { case (_, _, ps) =>
        ps.nonEmpty && ps.subsetOf(currentPaths) }
    // bounded growth: past the merge threshold a kind stops reusing and
    // consolidates (its entries are NOT covered, so they flow into the
    // fresh manifest below)
    val minCountToMerge = snapshot.properties.get(ManifestMergeProp)
      .flatMap(_.toIntOption).filter(_ >= 1)
      .getOrElse(DefaultManifestMinCountToMerge)
    val reused: Seq[(GenericRecord, Int, Set[String])] = reusePool
      .groupBy(_._2).toSeq.sortBy(_._1)
      .flatMap { case (_, ms) => if (ms.size + 1 > minCountToMerge) Nil else ms }
    val coveredPaths: Set[String] = reused.flatMap(_._3).toSet

    // One footer read per NON-COVERED file yields BOTH the exact record
    // count the manifests require and integral column min/max for the
    // data files' lower/upper bound maps — the stats an Iceberg reader
    // prunes scans with, which is what makes the metadata useful at
    // 100 TB, not just readable. Files whose count is known and that
    // need no bounds skip the read entirely; files riding a reused
    // manifest skip this pipeline altogether.
    val boundCols = fields.filter(f => IcebergFormat.BoundTypes(f.typ)).map(_.name)
    val fieldType = fields.map(f => f.name -> f.typ).toMap
    val boundsByPath = scala.collection.mutable.Map[String, Map[String, (Long, Long)]]()
    val counted = snapshot.files
      .filterNot(f => coveredPaths.contains(f.path)).map { f =>
      // equality-delete files keep their key bounds too: the scan's
      // per-task delete skipping (ScanPruning.eqDeleteMayApply) must
      // survive an Iceberg-catalog round-trip like data bounds do
      val wantBounds =
        (f.content == "data" || f.content == "equality-deletes") &&
          boundCols.nonEmpty
      // write-time stamps (FileEntry.bounds) satisfy the manifest bound
      // maps without re-opening the footer at commit time; only
      // unstamped entries (adopted files) still pay the read
      val stamped: Map[String, (Long, Long)] =
        f.bounds.flatMap { case (c, v) =>
          if (boundCols.contains(c)) FileEntry.loHi(v).map(c -> _) else None }
      // a file with ANY write-time stamp (integral OR string-only, e.g.
      // a string-keyed equality delete) skips the footer re-read — else
      // every commit would re-open every prior stringly-stamped delete
      // file, O(batches^2) over a CDC table's life
      if (wantBounds && (stamped.nonEmpty || f.stringBounds.nonEmpty)) {
        if (stamped.nonEmpty) boundsByPath(f.path) = stamped
        if (f.recordCount >= 0) f
        else f.copy(recordCount = graft.txn.TableWrites.parquetRowCount(f.path))
      } else if (f.recordCount >= 0 && !wantBounds) f
      else {
        val (rows, mm) = graft.sources.ParquetStats.fileStats(
          f.path, if (wantBounds) boundCols else Nil)
        if (mm.nonEmpty) boundsByPath(f.path) = mm
        if (f.recordCount >= 0) f else f.copy(recordCount = rows)
      }
    }

    val now =
      if (snapshot.committedAtMs > 0) snapshot.committedAtMs
      else System.currentTimeMillis()
    val snapshotId = snapshot.version
    // deletion vectors are an Iceberg V3 construct (PUFFIN delete
    // format, manifest fields 143-145) — a snapshot carrying one must
    // declare format-version 3 or a spec-compliant reader would reject
    // or misread the delete manifest. STICKY upward: the spec forbids
    // downgrading, and retained older snapshots may still reference DV
    // manifests that v2 replay rules would misread as parquet deletes
    val formatVersion = math.max(
      if (snapshot.files.exists(_.content == "deletion-vectors")) 3 else 2,
      prevDoc.flatMap(d => Option(d.get("format-version")).map(_.asInt))
        .getOrElse(2))
    val commitUuid = UUID.randomUUID().toString
    val schemaDoc = schemaJson(snapshot.schemaId, fields)
    val mdir = metadataDir(table)
    val written = scala.collection.mutable.ArrayBuffer.empty[String]

    def writeManifest(content: String, contentCode: Int,
        entries: Seq[FileEntry], idx: Int): Option[GenericRecord] = {
      if (entries.isEmpty) return None
      val path = s"$mdir/$commitUuid-m$idx.avro"
      val recs = entries.map { f =>
        val fileNameToId = nameToIdFor(f)
        val eqIds: AnyRef =
          if (f.equalityIds.isEmpty) null
          else f.equalityIds.map { n =>
            Int.box(fileNameToId.getOrElse(n, throw CompactionError.Config(
              s"equality column '$n' is not in the file's schema " +
                s"(${fileNameToId.keys.mkString(", ")})")))
          }.asJava
        val dfSchema = ManifestEntrySchema.getField("data_file").schema()
        // column bound maps (Iceberg avro map = array of key/value
        // records): exact integral min/max from the file's own footer,
        // plus the write-time STRING byte bounds (spec single-value
        // form for strings IS the raw bytes) — so string pruning
        // survives the manifest round-trip
        def boundMap(fieldName: String, pick: ((Long, Long)) => Long,
            side: Int): AnyRef = {
          val itemSchema = dfSchema.getField(fieldName).schema()
            .getTypes.get(1).getElementType
          // drop columns absent from the CURRENT schema (an old file's
          // physical names after a rename) — bounds are optional
          val ints = boundsByPath.get(f.path).map(
            _.toSeq.filter(kv => nameToId.contains(kv._1))
              .map { case (n, mm) =>
                nameToId(n) -> (boundBytes(fieldType(n), pick(mm)): AnyRef)
              }).getOrElse(Nil)
          val strs = f.stringBounds.toSeq.collect {
            // malformed entries skipped, never a crashed commit
            case (n, v) if nameToId.contains(n) &&
                fieldType.get(n).contains("string") && v.toSeq.length == 2 =>
              try Some(nameToId(n) -> (java.nio.ByteBuffer.wrap(
                java.util.Base64.getDecoder.decode(v.toSeq(side))): AnyRef))
              catch { case _: IllegalArgumentException => None }
          }.flatten
          val all = (ints ++ strs).sortBy(_._1)
          if (all.isEmpty) null
          else all.map { case (id, bb) =>
            record(itemSchema)("key" -> Int.box(id), "value" -> bb)
          }.asJava
        }
        // null-count map (field-id 110): write-time stamps ∩ current
        // schema, same rename rule as the bound maps
        val nullCountMap: AnyRef =
          if (f.content != "data" || f.nullCounts.isEmpty) null
          else {
            val itemSchema = dfSchema.getField("null_value_counts").schema()
              .getTypes.get(1).getElementType
            f.nullCounts.keys.toSeq.filter(nameToId.contains)
              .sortBy(nameToId).map { n =>
                record(itemSchema)(
                  "key" -> Int.box(nameToId(n)),
                  "value" -> Long.box(FileEntry.longAt(f.nullCounts, n).get))
              }.asJava
          }
        // deletion vectors serialize per the v3 spec: POSITION_DELETES
        // content in PUFFIN format, addressed by referenced_data_file +
        // content_offset/content_size_in_bytes (field-ids 143-145)
        val isDv = f.content == "deletion-vectors"
        val dataFile = record(dfSchema)(
          "content" -> Int.box(f.content match {
            case "data" => 0; case "position-deletes" => 1
            case "deletion-vectors" => 1
            case "equality-deletes" => 2
            case other => throw CompactionError.Config(s"unknown content $other")
          }),
          "file_path" -> f.path,
          "file_format" -> (if (isDv) "PUFFIN" else "PARQUET"),
          "partition" -> record(dfSchema.getField("partition").schema())(),
          "record_count" -> Long.box(f.recordCount),
          "file_size_in_bytes" -> Long.box(f.sizeBytes),
          "null_value_counts" -> nullCountMap,
          "lower_bounds" -> boundMap("lower_bounds", _._1, side = 0),
          "upper_bounds" -> boundMap("upper_bounds", _._2, side = 1),
          "equality_ids" -> eqIds,
          "sort_order_id" -> null,
          "referenced_data_file" ->
            (if (isDv) f.referencedDataFile.orNull else null),
          "content_offset" ->
            (if (isDv) Long.box(f.contentOffset) else null),
          "content_size_in_bytes" ->
            (if (isDv) Long.box(f.contentSizeBytes) else null))
        record(ManifestEntrySchema)(
          "status" -> Int.box(if (prevPaths.contains(f.path)) 0 else 1),
          "snapshot_id" -> Long.box(snapshotId),
          // explicit data sequence number: rewritten files legitimately
          // keep a sequence older than this snapshot's (spec: "explicit
          // sequence numbers" for rewrite commits)
          "sequence_number" -> Long.box(f.sequenceNumber),
          "file_sequence_number" -> Long.box(f.sequenceNumber),
          "data_file" -> dataFile)
      }
      val len = writeAvro(path, ManifestEntrySchema, Map(
        "schema" -> schemaDoc.toString,
        "schema-id" -> snapshot.schemaId.toString,
        "partition-spec" -> "[]",
        "partition-spec-id" -> "0",
        "format-version" -> formatVersion.toString,
        "content" -> content), recs)
      written += path
      val added = entries.filterNot(f => prevPaths.contains(f.path))
      val existing = entries.filter(f => prevPaths.contains(f.path))
      Some(record(ManifestFileSchema)(
        "manifest_path" -> path,
        "manifest_length" -> Long.box(len),
        "partition_spec_id" -> Int.box(0),
        "content" -> Int.box(contentCode),
        "sequence_number" -> Long.box(snapshot.lastSequenceNumber),
        "min_sequence_number" -> Long.box(
          entries.map(_.sequenceNumber).min),
        "added_snapshot_id" -> Long.box(snapshotId),
        "added_files_count" -> Int.box(added.size),
        "existing_files_count" -> Int.box(existing.size),
        "deleted_files_count" -> Int.box(0),
        "added_rows_count" -> Long.box(added.map(_.recordCount).sum),
        "existing_rows_count" -> Long.box(existing.map(_.recordCount).sum),
        "deleted_rows_count" -> Long.box(0L),
        "partitions" -> null))
    }

    // a reused record is REBUILT into this writer's ManifestFileSchema
    // (field-by-field, defaults for absences) so reuse also works over
    // manifests a foreign Iceberg writer produced with a wider schema
    def asListRecord(m: GenericRecord): GenericRecord = {
      def longAt(n: String, d: Long) =
        Option(m.get(n)).map(_.asInstanceOf[Long]).getOrElse(d)
      def intAt(n: String, d: Int) =
        Option(m.get(n)).map(_.asInstanceOf[Int]).getOrElse(d)
      record(ManifestFileSchema)(
        "manifest_path" -> m.get("manifest_path").toString,
        "manifest_length" -> Long.box(longAt("manifest_length", 0L)),
        "partition_spec_id" -> Int.box(intAt("partition_spec_id", 0)),
        "content" -> Int.box(intAt("content", 0)),
        "sequence_number" -> Long.box(longAt("sequence_number", 0L)),
        "min_sequence_number" -> Long.box(longAt("min_sequence_number", 0L)),
        "added_snapshot_id" -> Long.box(longAt("added_snapshot_id", snapshotId)),
        "added_files_count" -> Int.box(intAt("added_files_count", 0)),
        "existing_files_count" -> Int.box(intAt("existing_files_count", 0)),
        "deleted_files_count" -> Int.box(intAt("deleted_files_count", 0)),
        "added_rows_count" -> Long.box(longAt("added_rows_count", 0L)),
        "existing_rows_count" -> Long.box(longAt("existing_rows_count", 0L)),
        "deleted_rows_count" -> Long.box(longAt("deleted_rows_count", 0L)),
        "partitions" -> null)
    }

    try {
      val dataManifest = writeManifest("data", 0,
        counted.filter(_.content == "data"), 0)
      val deletesManifest = writeManifest("deletes", 1,
        counted.filter(_.content != "data"), 1)
      val listPath = s"$mdir/snap-$snapshotId-$commitUuid.avro"
      writeAvro(listPath, ManifestFileSchema, Map(
        "format-version" -> formatVersion.toString,
        "snapshot-id" -> snapshotId.toString,
        "sequence-number" -> snapshot.lastSequenceNumber.toString,
        "parent-snapshot-id" -> prevDoc.map(_.get("current-snapshot-id").asText)
          .getOrElse("null")),
        reused.map(r => asListRecord(r._1)) ++
          dataManifest.toSeq ++ deletesManifest.toSeq)
      written += listPath

      // ---- metadata.json
      val doc = newObject()
      doc.put("format-version", formatVersion)
      doc.put("table-uuid",
        UUID.nameUUIDFromBytes(table.getBytes("UTF-8")).toString)
      doc.put("location", table)
      doc.put("last-sequence-number", snapshot.lastSequenceNumber)
      doc.put("last-updated-ms", now)
      doc.put("last-column-id",
        if (graftSchemas.nonEmpty)
          graftSchemas.map(s => IcebergFormat.maxFieldId(toFields(s))).max
        else IcebergFormat.maxFieldId(fields))
      doc.put("current-schema-id", snapshot.schemaId)
      val schemasArr = doc.putArray("schemas")
      if (graftSchemas.nonEmpty)
        // the FULL history, per the spec's multi-schema model — old
        // schemas stay resolvable by id for readers of older snapshots
        graftSchemas.foreach(s => schemasArr.add(schemaJson(s.schemaId, toFields(s))))
      else schemasArr.add(schemaDoc)
      doc.put("default-spec-id", 0)
      val spec = doc.putArray("partition-specs").addObject()
      spec.put("spec-id", 0); spec.putArray("fields")
      doc.put("last-partition-id", 999)
      // a declared write order serializes as a REAL Iceberg sort order
      // (identity transform per field, Spark's null-ordering defaults),
      // so external readers see the layout contract, not just a foreign
      // property; unresolvable/absent orders fall back to unsorted(0)
      val woNameToId = fields.map(fl => fl.name -> fl.id).toMap
      val wo = try graft.core.WriteOrderCodec.of(Some(snapshot))
        catch { case _: Exception => Nil }
      val woResolvable = wo.nonEmpty && wo.forall(f => woNameToId.contains(f.column))
      doc.put("default-sort-order-id", if (woResolvable) 1 else 0)
      val ordersArr = doc.putArray("sort-orders")
      val o0 = ordersArr.addObject()
      o0.put("order-id", 0); o0.putArray("fields")
      if (woResolvable) {
        val o1 = ordersArr.addObject()
        o1.put("order-id", 1)
        val fa = o1.putArray("fields")
        wo.foreach { f =>
          val e = fa.addObject()
          e.put("transform", "identity")
          e.put("source-id", woNameToId(f.column))
          e.put("direction", if (f.descending) "desc" else "asc")
          e.put("null-order", if (f.descending) "nulls-last" else "nulls-first")
        }
      }
      val props = doc.putObject("properties")
      // Spark-written parquet carries no Iceberg field ids; the spec's
      // name-mapping property tells real readers to resolve columns by
      // NAME for files without ids — without it an Iceberg client reads
      // all-null columns from the committed data files
      if (fields.nonEmpty) {
        val nm = newArray()
        fields.foreach { fl =>
          val e = nm.addObject()
          e.put("field-id", fl.id)
          e.putArray("names").add(fl.name)
        }
        props.put("schema.name-mapping.default", nm.toString)
      }
      snapshot.properties.foreach { case (k, v) => props.put(k, v) }
      // graft round-trip markers (spec-legal unknown properties)
      if (graftSchemas.nonEmpty) {
        props.put(SchemaHistoryProp, "true")
        val ids = newObject()
        snapshot.files
          .filter(f => f.schemaId >= 0 && f.schemaId != snapshot.schemaId)
          .foreach(f => ids.put(f.path, f.schemaId))
        if (ids.size > 0) props.put(FileSchemaIdsProp, ids.toString)
      }
      // per-file partition-spec ids for files under non-current specs
      val curSpecId = graft.core.PartitionSpecCodec.currentId(Some(snapshot))
      val specIds = newObject()
      snapshot.files
        .filter(f => f.specId >= 0 && f.specId != curSpecId)
        .foreach(f => specIds.put(f.path, f.specId))
      if (specIds.size > 0) props.put(FileSpecIdsProp, specIds.toString)
      // per-file write-time NDV sketches
      val sketches = newObject()
      snapshot.files.filter(_.ndvSketch.nonEmpty).foreach { f =>
        val cols = sketches.putObject(f.path)
        f.ndvSketch.toSeq.sortBy(_._1).foreach { case (c, s) => cols.put(c, s) }
      }
      if (sketches.size > 0) props.put(FileNdvSketchesProp, sketches.toString)
      // spec `statistics` field: the property carries the array verbatim
      snapshot.properties.get(StatisticsProp).foreach { raw =>
        try doc.set[com.fasterxml.jackson.databind.JsonNode](
          "statistics", parse(raw))
        catch { case _: Exception => () } // malformed: omit, never block a commit
      }
      doc.put("current-snapshot-id", snapshotId)
      val snaps = doc.putArray("snapshots")
      prevDoc.foreach(_.get("snapshots").elements().asScala.foreach(snaps.add))
      val s = snaps.addObject()
      s.put("snapshot-id", snapshotId)
      prevDoc.foreach(p => s.put("parent-snapshot-id",
        p.get("current-snapshot-id").asLong))
      s.put("sequence-number", snapshot.lastSequenceNumber)
      s.put("timestamp-ms", now)
      s.put("manifest-list", listPath)
      s.putObject("summary").put("operation", "overwrite")
      s.put("schema-id", snapshot.schemaId)
      val slog = doc.putArray("snapshot-log")
      prevDoc.flatMap(p => Option(p.get("snapshot-log")))
        .foreach(_.elements().asScala.foreach(slog.add))
      val sl = slog.addObject()
      sl.put("timestamp-ms", now); sl.put("snapshot-id", snapshotId)
      doc.putArray("metadata-log")

      try FileIO.casCreate(metadataPath(table, snapshot.version), pretty(doc))
      catch {
        case e: FileIO.AlreadyExists =>
          throw CompactionError.CommitConflict(
            s"metadata v${snapshot.version} already exists (concurrent commit): ${e.getMessage}")
      }
      // HadoopCatalog-style pointer for readers that resolve via hint;
      // best-effort (the authoritative current version for THIS engine
      // is the newest non-staged metadata). A WAP-STAGED commit leaves
      // the hint on the main lineage, so a foreign Iceberg client
      // following version-hint.text never reads unaudited rows — the
      // Iceberg-format realization of stage-only commits.
      if (!Branch.isOutOfMain(snapshot))
        FileIO.writeString(s"$mdir/version-hint.text", snapshot.version.toString)
    } catch {
      case e: Throwable =>
        // a losing committer's manifests are unreferenced — remove them
        written.foreach(p => try FileIO.delete(p) catch { case _: Throwable => () })
        throw e
    }
  }

  /** THE manifest-list traversal (metadata.json → current snapshot →
    * list Avro records) — single copy shared by path caching, the
    * `.manifests` inspection table, and deleteVersion. None = the
    * version, its snapshot, or its LIST is unreadable/missing
    * (distinguished from Some(Nil), a genuinely empty snapshot) so
    * callers and the cache never mistake a transient miss for "this
    * version references nothing". */
  /** Throwing twin of [[listRecordsOf]]: returns None ONLY when the
    * version's metadata file, snapshot or manifest list is genuinely
    * ABSENT (a concurrent expiry removed them — "references nothing"
    * is then true); a read/parse failure of an EXISTING file
    * propagates. The distinction matters for [[deleteVersion]]: a
    * transiently unreadable list of a LIVE version must not be
    * mistaken for an empty reference set, or its shared (reused)
    * manifests would be reaped from under retained snapshots. */
  private def listRecordsStrict(table: String, v: Long): Option[Seq[GenericRecord]] = {
    val p = metadataPath(table, v)
    if (!FileIO.exists(p)) return None
    val doc = parse(FileIO.readString(p))
    val snapId = doc.get("current-snapshot-id").asLong
    if (snapId < 0) return Some(Nil)
    doc.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == snapId)
      .flatMap { s =>
        val listPath = s.get("manifest-list").asText
        if (!FileIO.exists(listPath)) None
        else Some(readAvro(listPath)._2)
      }
  }

  private def listRecordsOf(table: String, v: Long): Option[Seq[GenericRecord]] =
    try listRecordsStrict(table, v) catch { case _: Exception => None }

  /** Per-(table, version) manifest-path cache: metadata versions are
    * immutable once CAS-created, so a version's referenced-manifest set
    * never changes — this is what keeps a batch expiry pass O(versions)
    * list reads instead of O(versions²) (deleteVersion recomputes the
    * referenced set per call). Entries drop on deleteVersion and on
    * [[invalidateTable]] (DROP TABLE — a re-created table at the same
    * path restarts its version numbers, and serving the OLD
    * incarnation's paths would let expiry delete the new one's shared
    * manifests). Misses — versions whose metadata or LIST is absent or
    * unreadable — are never cached. */
  private val manifestPathsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Seq[String]]()
  private val ManifestPathsCacheCap = 20000

  /** Drop every cached entry of `table` — call on DROP TABLE (both
    * before AND after the delete: a concurrent reader between the two
    * steps can re-populate from still-existing old metadata). */
  def invalidateTable(table: String): Unit =
    manifestPathsCache.keySet.removeIf(_._1 == table)

  /** Drop every cached entry under a directory PREFIX — namespace
    * cascade deletes. */
  def invalidatePrefix(dirPrefix: String): Unit =
    manifestPathsCache.keySet.removeIf(_._1.startsWith(dirPrefix))

  /** Manifest paths the CURRENT snapshot of metadata version `v`
    * references (empty when the version, its list, or its snapshot are
    * gone — expiry must stay best-effort over concurrent expiry). */
  private[txn] def manifestPathsOf(table: String, v: Long): Seq[String] =
    try manifestPathsStrict(table, v) catch { case _: Exception => Nil }

  /** Like [[manifestPathsOf]] but a read failure of an existing file
    * PROPAGATES instead of reading as "no references". */
  private def manifestPathsStrict(table: String, v: Long): Seq[String] = {
    val key = (table, v)
    val hit = manifestPathsCache.get(key)
    if (hit != null) return hit
    listRecordsStrict(table, v) match {
      case Some(recs) =>
        val paths = recs.map(_.get("manifest_path").toString)
        if (manifestPathsCache.size > ManifestPathsCacheCap)
          manifestPathsCache.clear()
        manifestPathsCache.put(key, paths)
        paths
      case None => Nil
    }
  }

  /** Live manifests of the CURRENT snapshot (inspection/procedures). */
  def manifestCount(table: String): Int =
    load(table).map(s => manifestPathsOf(table, s.version).size).getOrElse(0)

  /** Manifest-list records of the CURRENT snapshot, decoded for the
    * `.manifests` inspection table: (path, content code 0=data
    * 1=deletes, length, added_snapshot_id, added/existing file counts). */
  def manifestRecords(table: String): Seq[(String, Int, Long, Long, Int, Int)] =
    load(table).toSeq.flatMap(cur =>
      listRecordsOf(table, cur.version).getOrElse(Nil).map { m =>
        def longAt(n: String) =
          Option(m.get(n)).map(_.asInstanceOf[Long]).getOrElse(0L)
        def intAt(n: String) =
          Option(m.get(n)).map(_.asInstanceOf[Int]).getOrElse(0)
        (m.get("manifest_path").toString, intAt("content"),
          longAt("manifest_length"), longAt("added_snapshot_id"),
          intAt("added_files_count"), intAt("existing_files_count"))
      })

  override def deleteVersion(table: String, version: Long): Unit = {
    manifestPathsCache.remove((table, version))
    val p = metadataPath(table, version)
    if (!FileIO.exists(p)) return
    val doc = parse(FileIO.readString(p))
    val snapId = doc.get("current-snapshot-id").asLong
    if (snapId >= 0) {
      val keep = doc.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong == snapId)
        .exists { s =>
          val listPath = s.get("manifest-list").asText
          if (FileIO.exists(listPath)) {
            // incremental commits SHARE manifests across snapshots: a
            // manifest is deleted only when no retained metadata version
            // still references it — deleting a shared one would corrupt
            // every newer snapshot that reused it. Manifest LISTS are
            // per-snapshot and deleted with their version.
            // "Version gone" (concurrent expiry) reads as no references;
            // a READ FAILURE of a retained version's list means the
            // reference set is UNKNOWN — this pass must delete NOTHING,
            // including this version's own list and metadata json: the
            // list is the only enumeration of this version's manifests,
            // so removing it while they stay on disk would make them
            // permanently unreapable. Keeping the whole version intact
            // lets the next expiry retry from the same state.
            val mine = readAvro(listPath)._2.map(_.get("manifest_path").toString)
            val referenced: Option[Set[String]] =
              try Some(versions(table)
                .filterNot(_ == version)
                .flatMap(v => manifestPathsStrict(table, v)).toSet)
              catch { case _: Exception => None }
            referenced match {
              case Some(refs) =>
                mine.filterNot(refs.contains).foreach(FileIO.delete)
                FileIO.delete(listPath)
                false
              case None => true // defer: retry the whole version later
            }
          } else false
        }
      if (keep) return
    }
    FileIO.delete(p)
  }
}
