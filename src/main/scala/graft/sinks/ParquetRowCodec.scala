package graft.sinks

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Spark InternalRow → parquet codec shared by graft's own parquet
  * writers (the DSv2 [[GraftDataWriter]] and the catalog's schema
  * checks): the supported type lattice, the Spark→parquet schema
  * mapping, and the per-row conversion into parquet example `Group`s.
  */
object ParquetRowCodec {

  /** Type support of the engine's table model (shared with the DSv2
    * batch writer's up-front schema validation): the primitive lattice
    * plus ARRAY/STRUCT/MAP compositions of it (standard parquet 3-level
    * LIST and MAP group encodings). Nested columns ride the row read
    * path — [[graft.sources.GraftColumnarReader.supportedSchema]] gates
    * them off the vectorized fill, and scans with nested output fall
    * back per scan. */
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

  /** Smallest FIXED_LEN_BYTE_ARRAY length that can hold any two's-
    * complement unscaled value of `precision` digits (the parquet spec's
    * sizing rule for FLBA-backed decimals). Precomputed — the lookup
    * sits on the per-row write path. */
  private val MinBytesByPrecision: Array[Int] =
    (0 to 38).map { p =>
      var bytes = 1
      // max unscaled magnitude is 10^p - 1; a signed n-byte field holds
      // magnitudes below 2^(8n-1)
      while (math.pow(2.0, 8.0 * bytes - 1) < math.pow(10.0, p.toDouble))
        bytes += 1
      bytes
    }.toArray

  private[graft] def minBytesForPrecision(precision: Int): Int =
    MinBytesByPrecision(precision)

  private[graft] def toMessageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach(f => b.addField(toParquetType(f.name, f.dataType, f.nullable)))
    b.named("graft_row")
  }

  /** One column's parquet type. Nested compositions use the spec's
    * standard group shapes — 3-level LIST (`group (LIST) { repeated
    * group list { element } }`), MAP (`group (MAP) { repeated group
    * key_value { required key; value } }`), and plain groups for
    * structs — the encodings every modern parquet reader (Spark's own
    * vectorized one included) resolves. */
  private def toParquetType(name: String, dt: DataType, nullable: Boolean): Type = {
    val rep = if (nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
    dt match {
      case LongType => Types.primitive(PrimitiveTypeName.INT64, rep).named(name)
      case IntegerType => Types.primitive(PrimitiveTypeName.INT32, rep).named(name)
      case DoubleType => Types.primitive(PrimitiveTypeName.DOUBLE, rep).named(name)
      case FloatType => Types.primitive(PrimitiveTypeName.FLOAT, rep).named(name)
      case BooleanType => Types.primitive(PrimitiveTypeName.BOOLEAN, rep).named(name)
      case BinaryType => Types.primitive(PrimitiveTypeName.BINARY, rep).named(name)
      case StringType => Types.primitive(PrimitiveTypeName.BINARY, rep)
        .as(LogicalTypeAnnotation.stringType()).named(name)
      case TimestampType => Types.primitive(PrimitiveTypeName.INT64, rep)
        .as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
      case TimestampNTZType => Types.primitive(PrimitiveTypeName.INT64, rep)
        .as(LogicalTypeAnnotation.timestampType(false,
          LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
      case DateType => Types.primitive(PrimitiveTypeName.INT32, rep)
        .as(LogicalTypeAnnotation.dateType()).named(name)
      // parquet's decimal physical ladder: INT32 to 9 digits, INT64 to
      // 18, two's-complement FLBA beyond — what every Iceberg/Spark
      // reader expects for each precision band
      case d: DecimalType if d.precision <= 9 =>
        Types.primitive(PrimitiveTypeName.INT32, rep)
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
          .named(name)
      case d: DecimalType if d.precision <= 18 =>
        Types.primitive(PrimitiveTypeName.INT64, rep)
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
          .named(name)
      case d: DecimalType =>
        Types.primitive(PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY, rep)
          .length(minBytesForPrecision(d.precision))
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
          .named(name)
      case ArrayType(et, containsNull) =>
        Types.buildGroup(rep).as(LogicalTypeAnnotation.listType())
          .addField(Types.repeatedGroup()
            .addField(toParquetType("element", et, containsNull))
            .named("list"))
          .named(name)
      case MapType(kt, vt, valueContainsNull) =>
        Types.buildGroup(rep).as(LogicalTypeAnnotation.mapType())
          .addField(Types.repeatedGroup()
            .addField(toParquetType("key", kt, nullable = false))
            .addField(toParquetType("value", vt, valueContainsNull))
            .named("key_value"))
          .named(name)
      case StructType(fields) =>
        val g = Types.buildGroup(rep)
        fields.foreach(f => g.addField(toParquetType(f.name, f.dataType, f.nullable)))
        g.named(name)
      case other => throw new IllegalArgumentException(s"unsupported: $other")
    }
  }

  /** InternalRow field access: primitives read straight from the unsafe
    * format; timestamps are ALREADY epoch-micros longs internally (both
    * tz and ntz), so the write needs no java.sql/LocalDateTime object
    * round-trip at all. Nested values recurse through
    * [[org.apache.spark.sql.catalyst.expressions.SpecializedGetters]] —
    * the accessor interface InternalRow and ArrayData share — so
    * array/struct/map levels add group nesting without ever surfacing
    * external Row objects. */
  private[graft] def rowToGroup(factory: SimpleGroupFactory, schema: StructType, row: InternalRow): Group = {
    val g = factory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) addField(g, i, schema(i).dataType, row, i)
      i += 1
    }
    g
  }

  import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
  import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}

  /** Append `src(ord)` (non-null) to group field `idx`. Group-typed
    * fields (LIST/MAP/struct) append a child group and recurse; a null
    * nested ELEMENT simply skips its optional leaf (repetition count 0,
    * exactly how parquet encodes a null at any nesting depth).
    *
    * Field access is POSITIONAL: [[toMessageType]] builds every group
    * level in schema declaration order (LIST wraps a single `list`
    * group whose element is field 0; MAP a single `key_value` group
    * with key=0/value=1), so each ordinal is known statically and the
    * name→index string lookup `Group.add(name, ...)` performs stays off
    * the per-value path. Strings append their UTF-8 bytes directly
    * (UTF8String is already UTF-8) — no decode-to-String/re-encode
    * round-trip per value; identical bytes on disk. */
  private def addField(g: Group, idx: Int, dt: DataType,
      src: SpecializedGetters, ord: Int): Unit = dt match {
    case LongType => g.add(idx, src.getLong(ord))
    case IntegerType => g.add(idx, src.getInt(ord))
    case DoubleType => g.add(idx, src.getDouble(ord))
    case FloatType => g.add(idx, src.getFloat(ord))
    case BooleanType => g.add(idx, src.getBoolean(ord))
    case StringType => g.add(idx,
      // fromREUSED, not fromConstant: getBytes returns the SHARED
      // backing array when the UTF8String exactly wraps one, and
      // parquet's dictionary writer retains Binary references until
      // page flush — the reused form copies before caching (Spark's own
      // ParquetWriteSupport does the same for exactly this reason)
      org.apache.parquet.io.api.Binary.fromReusedByteArray(
        src.getUTF8String(ord).getBytes))
    case BinaryType => g.add(idx,
      // same dictionary-retention hazard as StringType above: a generic
      // row can hand back its stored (reusable) array — copy-on-cache
      org.apache.parquet.io.api.Binary.fromReusedByteArray(src.getBinary(ord)))
    case TimestampType | TimestampNTZType => g.add(idx, src.getLong(ord))
    case DateType => g.add(idx, src.getInt(ord))
    case d: DecimalType =>
      val dec = src.getDecimal(ord, d.precision, d.scale)
      if (d.precision <= 9) g.add(idx, dec.toUnscaledLong.toInt)
      else if (d.precision <= 18) g.add(idx, dec.toUnscaledLong)
      else {
        // sign-extend the two's-complement unscaled value to the
        // declared FLBA width
        val width = minBytesForPrecision(d.precision)
        val raw = dec.toJavaBigDecimal.unscaledValue().toByteArray
        val out = new Array[Byte](width)
        val pad: Byte = if (raw(0) < 0) -1 else 0
        java.util.Arrays.fill(out, 0, width - raw.length, pad)
        System.arraycopy(raw, 0, out, width - raw.length, raw.length)
        g.add(idx,
          org.apache.parquet.io.api.Binary.fromConstantByteArray(out))
      }
    case ArrayType(et, _) =>
      val lg = g.addGroup(idx)
      val arr: ArrayData = src.getArray(ord)
      var i = 0
      while (i < arr.numElements()) {
        val entry = lg.addGroup(0) // the single repeated `list` group
        if (!arr.isNullAt(i)) addField(entry, 0, et, arr, i)
        i += 1
      }
    case MapType(kt, vt, _) =>
      val mg = g.addGroup(idx)
      val m: MapData = src.getMap(ord)
      val keys = m.keyArray(); val vals = m.valueArray()
      var i = 0
      while (i < m.numElements()) {
        val kv = mg.addGroup(0) // the single repeated `key_value` group
        addField(kv, 0, kt, keys, i) // map keys are never null in Spark
        if (!vals.isNullAt(i)) addField(kv, 1, vt, vals, i)
        i += 1
      }
    case st: StructType =>
      val sg = g.addGroup(idx)
      val child = src.getStruct(ord, st.length)
      var i = 0
      while (i < st.length) {
        if (!child.isNullAt(i)) addField(sg, i, st(i).dataType, child, i)
        i += 1
      }
    case other => throw new IllegalArgumentException(s"unsupported: $other")
  }
}
