package graft.txn

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.CompactionError
import graft.io.FileIO
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.avro.{Schema => AvroSchema}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation._
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.schema.{PrimitiveType, Type => PType}

import scala.jdk.CollectionConverters._

/** Apache Iceberg **format-version 2** serialization, per the public
  * table spec (https://iceberg.apache.org/spec/): `metadata.json`,
  * manifest-list Avro, and manifest Avro with the spec's field-ids in
  * the Avro schema properties — so a real Iceberg client can read what
  * [[IcebergTableCatalog]] commits. The reference operates on exactly
  * this format through iceberg-rust (manifest-list walk
  * core/src/compaction/mod.rs:363-392; Cargo.toml:17-22); no Iceberg
  * runtime jar exists in this environment, so the format layer is
  * implemented directly against the spec with the avro + parquet libs
  * already on the Spark classpath.
  *
  * Scope (documented simplifications, all spec-legal for readers of the
  * CURRENT snapshot):
  *  - nested columns (list/map/struct) serialize as the spec's JSON
  *    type objects with sub-field ids from a reserved per-column block
  *    (see [[nestedIdCounter]]); member-wise nested evolution is out of
  *    scope — nested columns evolve as a whole;
  *  - unpartitioned partition spec (file layout is the engine's own
  *    fanout; Iceberg hidden partitioning metadata is not emitted);
  *  - every commit writes fresh manifests for the full live file set
  *    with correct ADDED/EXISTING status vs the parent snapshot, and
  *    explicit per-entry `sequence_number` (the spec's mechanism for
  *    rewrites that preserve data sequence numbers).
  */
object IcebergFormat {

  private val mapper = new ObjectMapper()

  // ---------------------------------------------------------------- schema

  /** One Iceberg schema field: id, name, required, type (JSON type string
    * for primitives, e.g. "long", "decimal(10, 2)"). Defaults carry the
    * GRAFT-canonical Spark literal text here; [[schemaJson]] /
    * [[parseSchemaFields]] convert to/from the spec's v3
    * `initial-default` / `write-default` single-value JSON. */
  final case class Field(id: Int, name: String, required: Boolean, typ: String,
      initialDefault: Option[String] = None,
      writeDefault: Option[String] = None)

  /** Map a parquet primitive column to the Iceberg primitive type string
    * (spec "Primitive Types" table). Nanosecond timestamps are labeled
    * at microsecond resolution (`timestamp` is v2's finest unit); values
    * are carried unchanged. */
  private def icebergType(pt: PrimitiveType): String = {
    val ann = pt.getLogicalTypeAnnotation
    def decimal = ann.asInstanceOf[DecimalLogicalTypeAnnotation] match {
      case d => s"decimal(${d.getPrecision}, ${d.getScale})"
    }
    pt.getPrimitiveTypeName match {
      case BOOLEAN => "boolean"
      case FLOAT   => "float"
      case DOUBLE  => "double"
      case INT32 => ann match {
        case null                                 => "int"
        case _: DateLogicalTypeAnnotation         => "date"
        case _: DecimalLogicalTypeAnnotation      => decimal
        case i: IntLogicalTypeAnnotation          => if (i.getBitWidth <= 32) "int" else "long"
        case _                                    => "int"
      }
      case INT64 => ann match {
        case null                            => "long"
        case t: TimestampLogicalTypeAnnotation =>
          if (t.isAdjustedToUTC) "timestamptz" else "timestamp"
        case _: TimeLogicalTypeAnnotation    => "time"
        case _: DecimalLogicalTypeAnnotation => decimal
        case _                               => "long"
      }
      case INT96 => "timestamptz"
      case BINARY => ann match {
        case _: StringLogicalTypeAnnotation  => "string"
        case _: DecimalLogicalTypeAnnotation => decimal
        case _                               => "binary"
      }
      case FIXED_LEN_BYTE_ARRAY => ann match {
        case _: DecimalLogicalTypeAnnotation => decimal
        case _: UUIDLogicalTypeAnnotation    => "uuid"
        case _                               => s"fixed[${pt.getTypeLength}]"
      }
      case other => throw CompactionError.Config(
        s"unsupported parquet primitive for Iceberg schema: $other")
    }
  }

  /** Infer the Iceberg schema (field list) from a parquet data file's
    * footer. Field ids are assigned 1..n in footer order — stable as
    * long as the writing engine keeps column order stable (it does:
    * the compactor preserves the user schema). */
  def inferSchema(dataFilePath: String): Seq[Field] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(dataFilePath), FileIO.hadoopConf))
    val msg = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    msg.getFields.asScala.toSeq.zipWithIndex.map { case (f, i) =>
      val typ =
        if (f.isPrimitive) icebergType(f.asPrimitiveType())
        else mapper.writeValueAsString(
          parquetTypeToIceberg(f, nestedIdCounter(i + 1)))
      Field(i + 1, f.getName, f.getRepetition == PType.Repetition.REQUIRED, typ)
    }
  }

  /** Parquet type → Iceberg type JSON, resolving the standard 3-level
    * LIST / MAP group encodings (the shapes graft's writers emit) and
    * plain groups as
    * structs. */
  private def parquetTypeToIceberg(t: PType, nextId: () => Int): JsonNode =
    if (t.isPrimitive)
      com.fasterxml.jackson.databind.node.TextNode.valueOf(
        icebergType(t.asPrimitiveType()))
    else {
      val g = t.asGroupType()
      g.getLogicalTypeAnnotation match {
        case _: ListLogicalTypeAnnotation =>
          val elem = g.getType(0).asGroupType().getType(0)
          val o = mapper.createObjectNode()
          o.put("type", "list")
          o.put("element-id", nextId())
          o.put("element-required", elem.getRepetition == PType.Repetition.REQUIRED)
          o.set[JsonNode]("element", parquetTypeToIceberg(elem, nextId))
          o
        case _: MapLogicalTypeAnnotation =>
          val kv = g.getType(0).asGroupType()
          val o = mapper.createObjectNode()
          o.put("type", "map")
          o.put("key-id", nextId())
          val vid = nextId()
          o.set[JsonNode]("key", parquetTypeToIceberg(kv.getType(0), nextId))
          o.put("value-id", vid)
          o.put("value-required", kv.getType(1).getRepetition == PType.Repetition.REQUIRED)
          o.set[JsonNode]("value", parquetTypeToIceberg(kv.getType(1), nextId))
          o
        case _ =>
          val o = mapper.createObjectNode()
          o.put("type", "struct")
          val fs = o.putArray("fields")
          val members = g.getFields.asScala.toSeq
          val ids = members.map(_ => nextId())
          members.zip(ids).foreach { case (m, id) =>
            val fo = fs.addObject()
            fo.put("id", id)
            fo.put("name", m.getName)
            fo.put("required", m.getRepetition == PType.Repetition.REQUIRED)
            fo.set[JsonNode]("type", parquetTypeToIceberg(m, nextId))
          }
          o
      }
    }

  def schemaJson(schemaId: Long, fields: Seq[Field]): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("type", "struct")
    o.put("schema-id", schemaId)
    val fs = o.putArray("fields")
    fields.foreach { f =>
      val fo = fs.addObject()
      fo.put("id", f.id); fo.put("name", f.name)
      fo.put("required", f.required)
      // nested types carry the spec's JSON type OBJECT; primitives a string
      if (f.typ.startsWith("{")) fo.set[JsonNode]("type", parse(f.typ))
      else fo.put("type", f.typ)
      f.initialDefault.foreach(t => putSingleValue(fo, "initial-default", t, f.typ))
      f.writeDefault.foreach(t => putSingleValue(fo, "write-default", t, f.typ))
    }
    o
  }

  def parseSchemaFields(schema: JsonNode): Seq[Field] =
    schema.get("fields").elements().asScala.toSeq.map { f =>
      val t = f.get("type")
      val typ = if (t.isTextual) t.asText else mapper.writeValueAsString(t)
      Field(f.get("id").asInt, f.get("name").asText,
        f.get("required").asBoolean, typ,
        initialDefault = Option(f.get("initial-default"))
          .map(singleValueToText(_, typ)),
        writeDefault = Option(f.get("write-default"))
          .map(singleValueToText(_, typ)))
    }

  // ------------------------------------------- v3 default single-values

  /** Write one column default as the spec's v3 "JSON single-value
    * serialization" (int/long/float/double → JSON number, boolean →
    * JSON boolean, string → JSON string, decimal → decimal string,
    * date → ISO date string, timestamptz → ISO offset-datetime string),
    * converting from the graft-canonical Spark literal text. */
  private def putSingleValue(fo: ObjectNode, key: String, text: String,
      icebergTyp: String): Unit = {
    import org.apache.spark.sql.types._
    val ddl = icebergToSparkDdl(icebergTyp)
    val dt = DataType.fromDDL(ddl)
    val v = graft.core.ColumnDefaults.catalystValue(text, dt)
    if (v == null) { fo.putNull(key); return }
    dt match {
      case IntegerType    => fo.put(key, v.asInstanceOf[Int])
      case LongType       => fo.put(key, v.asInstanceOf[Long])
      case FloatType      => fo.put(key, v.asInstanceOf[Float])
      case DoubleType     => fo.put(key, v.asInstanceOf[Double])
      case BooleanType    => fo.put(key, v.asInstanceOf[Boolean])
      case StringType     => fo.put(key, v.toString)
      case _: DecimalType => fo.put(key,
        v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString)
      case DateType       => fo.put(key,
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString)
      case TimestampType  =>
        val micros = v.asInstanceOf[Long]
        fo.put(key, java.time.OffsetDateTime.ofInstant(
          java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS),
          java.time.ZoneOffset.UTC).toString)
      case other => throw CompactionError.Config(
        s"column default of type $other cannot serialize to Iceberg JSON")
    }
  }

  /** Read one v3 single-value default back to graft-canonical Spark
    * literal text (the inverse of [[putSingleValue]]). */
  private def singleValueToText(n: JsonNode, icebergTyp: String): String = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val dt = DataType.fromDDL(icebergToSparkDdl(icebergTyp))
    val v: Any =
      if (n.isNull) null
      else dt match {
        case IntegerType    => n.asInt
        case LongType       => n.asLong
        case FloatType      => n.floatValue()
        case DoubleType     => n.doubleValue()
        case BooleanType    => n.asBoolean
        case StringType     =>
          org.apache.spark.unsafe.types.UTF8String.fromString(n.asText)
        case d: DecimalType =>
          Decimal(new java.math.BigDecimal(n.asText), d.precision, d.scale)
        case DateType       =>
          java.time.LocalDate.parse(n.asText).toEpochDay.toInt
        case TimestampType  =>
          val odt = java.time.OffsetDateTime.parse(n.asText)
          java.time.temporal.ChronoUnit.MICROS.between(
            java.time.Instant.EPOCH, odt.toInstant)
        case other => throw CompactionError.Config(
          s"column default of type $other cannot deserialize from Iceberg JSON")
      }
    Literal(v, dt).sql
  }

  /** Spark DDL type string (graft's [[graft.core.SchemaField.dataType]]
    * representation) → Iceberg primitive type string — the flat
    * primitives of the engine's table model. */
  def sparkDdlToIceberg(ddl: String): String =
    org.apache.spark.sql.types.DataType.fromDDL(ddl) match {
      case org.apache.spark.sql.types.LongType         => "long"
      case org.apache.spark.sql.types.IntegerType      => "int"
      case org.apache.spark.sql.types.ShortType        => "int"
      case org.apache.spark.sql.types.ByteType         => "int"
      case org.apache.spark.sql.types.StringType       => "string"
      case org.apache.spark.sql.types.DoubleType       => "double"
      case org.apache.spark.sql.types.FloatType        => "float"
      case org.apache.spark.sql.types.BooleanType      => "boolean"
      case org.apache.spark.sql.types.TimestampType    => "timestamptz"
      case org.apache.spark.sql.types.TimestampNTZType => "timestamp"
      case org.apache.spark.sql.types.DateType         => "date"
      case org.apache.spark.sql.types.BinaryType       => "binary"
      case d: org.apache.spark.sql.types.DecimalType   =>
        s"decimal(${d.precision}, ${d.scale})"
      case other => throw CompactionError.Config(
        s"no Iceberg primitive mapping for Spark type $other")
    }

  // --------------------------------------------------- nested type mapping

  /** Nested field-id allocation: every non-top-level id (list element,
    * map key/value, struct member) for top-level field `topId` comes
    * from the reserved block `[NestedIdBase + (topId-1)*NestedIdSpan,
    * +NestedIdSpan)`. Ids are therefore unique within a schema, DISJOINT
    * from any realistic top-level id, and — because graft evolves nested
    * columns as a whole (member-wise nested evolution is refused) —
    * STABLE for an unchanged column across every schema version in the
    * history, which is what id-tracking Iceberg readers require. */
  private[txn] val NestedIdBase = 10000
  private[txn] val NestedIdSpan = 200

  private def nestedIdCounter(topId: Int): () => Int = {
    if (topId <= 0 || topId >= NestedIdBase)
      throw CompactionError.Config(
        s"top-level field id $topId outside the nested-id scheme's range " +
          s"(1 until $NestedIdBase)")
    val base = NestedIdBase + (topId - 1) * NestedIdSpan
    var next = base
    () => {
      if (next >= base + NestedIdSpan)
        throw CompactionError.Config(
          s"column with field id $topId nests more than $NestedIdSpan " +
            s"sub-fields; widen NestedIdSpan")
      val v = next; next += 1; v
    }
  }

  /** Spark DDL type → Iceberg type `Field.typ` encoding: the primitive
    * type string, or for ARRAY/STRUCT/MAP the spec's JSON type object
    * (compact), with sub-field ids from [[nestedIdCounter]]. */
  def sparkDdlToIcebergTyped(ddl: String, topId: Int): String = {
    import org.apache.spark.sql.types._
    DataType.fromDDL(ddl) match {
      case _: ArrayType | _: MapType | _: StructType =>
        mapper.writeValueAsString(
          sparkTypeToIceberg(DataType.fromDDL(ddl), nestedIdCounter(topId)))
      case _ => sparkDdlToIceberg(ddl)
    }
  }

  /** Spark type → Iceberg type JSON (spec "Schemas" — list/map/struct
    * objects, primitive strings). Struct member ids are assigned
    * breadth-first within each struct (all siblings before any child),
    * matching Iceberg's own fresh-id visitor order. */
  private def sparkTypeToIceberg(dt: org.apache.spark.sql.types.DataType,
      nextId: () => Int): JsonNode = {
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(et, containsNull) =>
        val o = mapper.createObjectNode()
        o.put("type", "list")
        o.put("element-id", nextId())
        o.put("element-required", !containsNull)
        o.set[JsonNode]("element", sparkTypeToIceberg(et, nextId))
        o
      case MapType(kt, vt, valueContainsNull) =>
        val o = mapper.createObjectNode()
        o.put("type", "map")
        val kid = nextId(); val vid = nextId()
        o.put("key-id", kid)
        o.set[JsonNode]("key", sparkTypeToIceberg(kt, nextId))
        o.put("value-id", vid)
        o.put("value-required", !valueContainsNull)
        o.set[JsonNode]("value", sparkTypeToIceberg(vt, nextId))
        o
      case StructType(fields) =>
        val o = mapper.createObjectNode()
        o.put("type", "struct")
        val fs = o.putArray("fields")
        val ids = fields.map(_ => nextId())
        fields.zip(ids).foreach { case (f, id) =>
          val fo = fs.addObject()
          fo.put("id", id)
          fo.put("name", f.name)
          fo.put("required", !f.nullable)
          fo.set[JsonNode]("type", sparkTypeToIceberg(f.dataType, nextId))
        }
        o
      case p => com.fasterxml.jackson.databind.node.TextNode.valueOf(
        sparkDdlToIceberg(p.sql))
    }
  }

  /** Highest assigned field id across `fields`, INCLUDING sub-field ids
    * inside nested type objects — what the spec's `last-column-id`
    * records. */
  def maxFieldId(fields: Seq[Field]): Int =
    fields.foldLeft(0) { (m, f) =>
      val nested = if (f.typ.startsWith("{")) maxIdIn(parse(f.typ)) else 0
      math.max(m, math.max(f.id, nested))
    }

  private def maxIdIn(n: JsonNode): Int = {
    var m = 0
    if (n.isObject) {
      Seq("id", "element-id", "key-id", "value-id").foreach { k =>
        val v = n.get(k)
        if (v != null && v.isInt) m = math.max(m, v.asInt)
      }
      n.elements().asScala.foreach(c => m = math.max(m, maxIdIn(c)))
    } else if (n.isArray)
      n.elements().asScala.foreach(c => m = math.max(m, maxIdIn(c)))
    m
  }

  /** Iceberg type JSON node → Spark DataType (inverse of
    * [[sparkTypeToIceberg]]). */
  private def icebergNodeToSpark(n: JsonNode): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    if (n.isTextual) DataType.fromDDL(icebergToSparkDdl(n.asText))
    else n.get("type").asText match {
      case "list" =>
        ArrayType(icebergNodeToSpark(n.get("element")),
          containsNull = !Option(n.get("element-required")).exists(_.asBoolean))
      case "map" =>
        MapType(icebergNodeToSpark(n.get("key")),
          icebergNodeToSpark(n.get("value")),
          valueContainsNull = !Option(n.get("value-required")).exists(_.asBoolean))
      case "struct" =>
        StructType(n.get("fields").elements().asScala.toSeq.map { f =>
          StructField(f.get("name").asText, icebergNodeToSpark(f.get("type")),
            nullable = !f.get("required").asBoolean)
        })
      case other => throw CompactionError.Config(
        s"unsupported Iceberg nested type kind: $other")
    }
  }

  /** Inverse of [[sparkDdlToIceberg]]/[[sparkDdlToIcebergTyped]] for
    * loading a graft schema history back out of Iceberg metadata (only
    * types the forward mappings emit). Nested types arrive as the JSON
    * object [[parseSchemaFields]] re-serialized into `Field.typ`. */
  def icebergToSparkDdl(typ: String): String =
    if (typ.startsWith("{")) icebergNodeToSpark(parse(typ)).sql
    else icebergPrimToSparkDdl(typ)

  private def icebergPrimToSparkDdl(typ: String): String = typ match {
    case "long"        => "BIGINT"
    case "int"         => "INT"
    case "string"      => "STRING"
    case "double"      => "DOUBLE"
    case "float"       => "FLOAT"
    case "boolean"     => "BOOLEAN"
    case "timestamptz" => "TIMESTAMP"
    case "timestamp"   => "TIMESTAMP_NTZ"
    case "date"        => "DATE"
    case "binary"      => "BINARY"
    case DecimalRe(p, s) => s"DECIMAL($p,$s)"
    case other => throw CompactionError.Config(
      s"no Spark mapping for Iceberg type $other in a graft schema history")
  }

  private val DecimalRe = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  // ------------------------------------------------------------- avro decl

  /** Spec manifest_entry schema (v2) with Iceberg field-ids as Avro field
    * properties — the subset of optional columns a reader needs; column
    * stats maps are omitted (optional per spec). */
  val ManifestEntrySchema: AvroSchema = new AvroSchema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":"int","field-id":134},
      |  {"name":"file_path","type":"string","field-id":100},
      |  {"name":"file_format","type":"string","field-id":101},
      |  {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
      |  {"name":"record_count","type":"long","field-id":103},
      |  {"name":"file_size_in_bytes","type":"long","field-id":104},
      |  {"name":"null_value_counts","default":null,"field-id":110,
      |   "type":["null",{"type":"array","logicalType":"map",
      |     "items":{"type":"record","name":"k121_v122","fields":[
      |       {"name":"key","type":"int","field-id":121},
      |       {"name":"value","type":"long","field-id":122}]}}]},
      |  {"name":"lower_bounds","default":null,"field-id":125,
      |   "type":["null",{"type":"array","logicalType":"map",
      |     "items":{"type":"record","name":"k126_v127","fields":[
      |       {"name":"key","type":"int","field-id":126},
      |       {"name":"value","type":"bytes","field-id":127}]}}]},
      |  {"name":"upper_bounds","default":null,"field-id":128,
      |   "type":["null",{"type":"array","logicalType":"map",
      |     "items":{"type":"record","name":"k129_v130","fields":[
      |       {"name":"key","type":"int","field-id":129},
      |       {"name":"value","type":"bytes","field-id":130}]}}]},
      |  {"name":"equality_ids","default":null,"field-id":135,
      |   "type":["null",{"type":"array","items":"int","element-id":136}]},
      |  {"name":"sort_order_id","type":["null","int"],"default":null,"field-id":140},
      |  {"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
      |  {"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
      |  {"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}
      |]}}
      |]}""".stripMargin)

  /** Iceberg single-value binary serialization (spec appendix D) for the
    * bound maps: int = 4-byte little-endian, long = 8-byte little-endian. */
  def boundBytes(typ: String, v: Long): java.nio.ByteBuffer = {
    val n = typ match {
      case "int"                                => 4
      case "long" | "timestamp" | "timestamptz" => 8
      case other => throw CompactionError.Config(
        s"no single-value serialization implemented for type $other")
    }
    val b = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (n == 4) b.putInt(v.toInt) else b.putLong(v)
    b.flip(); b
  }

  /** Types whose footer stats we trust for manifest bounds (matches
    * [[graft.sources.ParquetStats]]' integral-only policy). */
  val BoundTypes: Set[String] = Set("int", "long")

  /** Spec manifest_file schema (v2) for the manifest list. */
  val ManifestFileSchema: AvroSchema = new AvroSchema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514},
      |{"name":"partitions","default":null,"field-id":507,
      | "type":["null",{"type":"array","element-id":508,"items":
      |   {"type":"record","name":"r508","fields":[
      |     {"name":"contains_null","type":"boolean","field-id":509},
      |     {"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
      |     {"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
      |     {"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
      |   ]}}]}
      |]}""".stripMargin)

  // ------------------------------------------------------------- avro r/w

  def writeAvro(path: String, schema: AvroSchema,
      meta: Map[String, String], records: Seq[GenericRecord]): Long = {
    val hp = new Path(path)
    val fs = FileIO.fs(hp)
    val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => writer.setMeta(k, v) }
    val out = fs.create(hp, true)
    try {
      writer.create(schema, out)
      records.foreach(writer.append)
    } finally writer.close() // closes the stream
    fs.getFileStatus(hp).getLen
  }

  def readAvro(path: String): (Map[String, String], Seq[GenericRecord]) = {
    val reader = new DataFileReader[GenericRecord](
      new FsInput(new Path(path), FileIO.hadoopConf),
      new GenericDatumReader[GenericRecord]())
    try {
      val meta = reader.getMetaKeys.asScala.map(k => k -> reader.getMetaString(k)).toMap
      (meta, reader.iterator().asScala.toVector)
    } finally reader.close()
  }

  def record(schema: AvroSchema)(fields: (String, Any)*): GenericRecord = {
    val r = new GenericData.Record(schema)
    fields.foreach { case (k, v) => r.put(k, v) }
    r
  }

  // --------------------------------------------------------- metadata.json

  def newObject(): ObjectNode = mapper.createObjectNode()
  def newArray(): ArrayNode = mapper.createArrayNode()
  def parse(json: String): JsonNode = mapper.readTree(json)
  def pretty(n: JsonNode): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n)
}
