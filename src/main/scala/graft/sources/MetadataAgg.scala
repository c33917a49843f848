package graft.sources

import graft.txn.{FileEntry, TableSnapshot}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.LocalScan
import org.apache.spark.sql.types._

/** Metadata-only aggregate pushdown (SURVEY §2.2 P1/P2 taken to its
  * endpoint): `COUNT(*)` / `MIN` / `MAX` over a graft table collapse to
  * a [[LocalScan]] answered from the SNAPSHOT alone — record counts and
  * the write-time column bounds ([[FileEntry.bounds]]), zero file IO,
  * zero tasks. At 100 TB this is the difference between a cluster-wide
  * scan and a driver-side metadata lookup — the same shortcut Iceberg's
  * `SnapshotScan` stats path takes.
  *
  * GROUP BY pushes down too, when every group column is an IDENTITY
  * partition source of the current spec: identity fanout files are
  * partition-PURE (each file holds exactly one value of the source
  * column, encoded in its layout path), so per-group COUNT/MIN/MAX are
  * sums/extremes over that group's file entries — "rows per day" over a
  * day-partitioned 100 TB table becomes a metadata read with one row
  * per partition.
  *
  * Strictly conservative: any delete file, unstamped entry, schema-drift
  * file, mixed partition specs, unparseable partition key, residual
  * filter, or unsupported type/function refuses the pushdown and the
  * ordinary scan runs. Parquet INT32/INT64 statistics are EXACT values
  * (never truncated envelopes), so stamped bounds are safe to return as
  * query answers, not just pruning hints.
  */
object MetadataAgg {

  /** Answer `agg` from snapshot metadata, or None when any part of it
    * cannot be answered exactly. Returned values are InternalRow-ready
    * (Long/Int/Short/Byte primitives, epoch-day Int for dates,
    * [[Decimal]] for ≤18-digit decimals, UTF8String for strings, null
    * for empty-table MIN/MAX). Grouped results carry the group columns
    * FIRST — Spark maps complete-pushdown output positionally as
    * (group columns ++ aggregate expressions).
    */
  def tryCompute(
      agg: Aggregation,
      snap: TableSnapshot,
      tableSchema: StructType): Option[(StructType, Seq[InternalRow])] = {
    // any delete can change every aggregate below
    if (snap.files.exists(_.content != "data")) return None
    val data = snap.files
    val types: Map[String, DataType] =
      tableSchema.fields.map(f => f.name -> f.dataType).toMap

    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }

    /** Resolve every aggregate expression over `files` (one group, or
      * the whole table); None when any cannot be answered exactly. */
    def aggRow(files: Seq[FileEntry]): Option[Seq[(DataType, Boolean, Any)]] = {
      // empty files carry no stats and contribute nothing to MIN/MAX
      val live = files.filter(_.recordCount != 0L)
      // bounds are keyed by WRITE-TIME column names: only trust them when
      // every contributing file was written under the current schema
      // (same guard as GraftScan.pruneGuarded)
      val schemaCurrent = live.forall(f =>
        snap.schemas.isEmpty || f.schemaId < 0 || f.schemaId == snap.schemaId)

      // MIN -> lo of every file's [lo, hi], MAX -> hi. A single live file
      // missing the stamp (all-null column, pre-feature file, untrusted
      // type) refuses the whole pushdown.
      def extreme(c: String, takeMin: Boolean): Option[(DataType, Any)] = {
        if (!schemaCurrent) return None
        types.get(c).flatMap {
          case t @ (LongType | IntegerType | ShortType | ByteType | DateType) =>
            val bs = live.map(f => f.bounds.get(c).flatMap(FileEntry.loHi))
            if (bs.exists(_.isEmpty)) None
            else {
              val vals = bs.flatten.map(b => if (takeMin) b._1 else b._2)
              val v: Any =
                if (vals.isEmpty) null
                else {
                  val x = if (takeMin) vals.min else vals.max
                  t match {
                    case LongType               => x
                    case IntegerType | DateType => x.toInt
                    case ShortType              => x.toShort
                    case _                      => x.toByte
                  }
                }
              Some((t, v))
            }
          case t: DecimalType if t.precision <= 18 =>
            // stamped in UNSCALED space; order-preserving at fixed scale
            val bs = live.map(f => f.decimalBounds.get(c).flatMap(FileEntry.loHi))
            if (bs.exists(_.isEmpty)) None
            else {
              val vals = bs.flatten.map(b => if (takeMin) b._1 else b._2)
              val v: Any =
                if (vals.isEmpty) null
                else Decimal(
                  java.math.BigDecimal.valueOf(
                    if (takeMin) vals.min else vals.max, t.scale),
                  t.precision, t.scale)
              Some((t, v))
            }
          case _ => None // strings/doubles/timestamps: stats untrusted
        }
      }

      val resolved: Seq[Option[(DataType, Boolean, Any)]] =
        agg.aggregateExpressions.toSeq.map {
          case _: CountStar =>
            if (files.forall(_.recordCount >= 0))
              Some((LongType, false, files.map(_.recordCount).sum: Any))
            else None // a file with unknown row count
          case m: Min =>
            colOf(m.column).flatMap(extreme(_, takeMin = true))
              .map { case (t, v) => (t, true, v) }
          case m: Max =>
            colOf(m.column).flatMap(extreme(_, takeMin = false))
              .map { case (t, v) => (t, true, v) }
          case c: Count if !c.isDistinct =>
            // COUNT(col) = rows − stamped nulls. Top-level atomic columns
            // only: a nested leaf's null count conflates ancestor-null
            // with leaf-null, so those never stamp (ParquetStats).
            colOf(c.column).flatMap { col =>
              types.get(col) match {
                case Some(_: StructType) | Some(_: ArrayType) | Some(_: MapType) |
                    None => None
                case Some(_) =>
                  if (!schemaCurrent || !files.forall(_.recordCount >= 0)) None
                  else {
                    val ns = live.map(f => FileEntry.longAt(f.nullCounts, col))
                    if (ns.exists(_.isEmpty)) None
                    else Some((LongType, false,
                      (files.map(_.recordCount).sum - ns.flatten.sum): Any))
                  }
              }
            }
          case _ => None // SUM/AVG/COUNT(DISTINCT)/... need row data
        }
      if (resolved.exists(_.isEmpty)) None else Some(resolved.flatten)
    }

    // names are positional placeholders — Spark maps readSchema fields
    // to the pushed output by position, never by name
    def aggSchema(rs: Seq[(DataType, Boolean, Any)]): Seq[StructField] =
      rs.zipWithIndex.map { case ((t, nullable, _), i) =>
        StructField(s"agg_$i", t, nullable)
      }

    if (agg.groupByExpressions.isEmpty) {
      aggRow(data).map { rs =>
        (StructType(aggSchema(rs)),
          Seq(new GenericInternalRow(rs.map(_._3).toArray)))
      }
    } else {
      // -------- GROUP BY identity partition columns -------------------
      import graft.core.{IdentityTransform, PartitionKey, PartitionSpecCodec}
      val spec = PartitionSpecCodec.of(Some(snap))
      // spec evolution in flight: an old-spec file's rendered fields can
      // alias the current names — refuse until compaction migrates
      val curSpecId = PartitionSpecCodec.currentId(Some(snap))
      if (snap.properties.contains(PartitionSpecCodec.HistoryProperty) &&
          data.exists(f => math.max(f.specId, 0L) != curSpecId)) return None
      val groupCols: Seq[String] =
        agg.groupByExpressions.toSeq.map(colOf) match {
          case cs if cs.forall(_.isDefined) => cs.flatten
          case _ => return None
        }
      // each group column must be an identity source of a type whose
      // layout rendering ROUND-TRIPS exactly — integral digits and ISO
      // dates survive the path sanitizer verbatim. Strings are refused:
      // the sanitizer is lossy ("a/b" renders "a_b"), which merely
      // co-groups for SPJ but would be a WRONG ANSWER here.
      val fieldNames: Seq[String] = groupCols.map { c =>
        spec.collectFirst {
          case t @ IdentityTransform(src)
              if src == c && (types.get(c) match {
                case Some(LongType | IntegerType | ShortType | DateType) => true
                case _ => false
              }) => t.fieldName
        } match {
          case Some(fn) => fn
          case None => return None
        }
      }
      def typed(c: String, raw: String): Option[Any] =
        if (raw == "null") Some(null)
        else types(c) match {
          case LongType    => raw.toLongOption
          case IntegerType => raw.toIntOption
          case ShortType   => raw.toShortOption
          case DateType =>
            try Some(java.time.LocalDate.parse(raw).toEpochDay.toInt)
            catch { case _: java.time.format.DateTimeParseException => None }
          case _ => None
        }
      // every file must parse a full key (a pre-partitioning append
      // refuses the whole pushdown — its rows belong to unknown groups)
      val keyed: Seq[(Seq[Any], FileEntry)] = data.map { f =>
        val fields = PartitionKey.parse(f.path)
        val key = groupCols.zip(fieldNames).map { case (c, fn) =>
          fields.get(fn).flatMap(typed(c, _)) match {
            case Some(v) => v
            case None    => return None
          }
        }
        (key, f)
      }
      val groups = keyed.groupBy(_._1).toSeq
        // a group whose files are ALL empty holds no rows — no group
        .filter(_._2.exists(_._2.recordCount != 0L))
        // deterministic output order (Spark re-sorts above if needed)
        .sortBy(_._1.map(v => if (v == null) "" else v.toString).mkString("\u0000"))
      val rows = groups.map { case (key, fs) =>
        aggRow(fs.map(_._2)) match {
          case Some(rs) => (key, rs)
          case None     => return None
        }
      }
      if (rows.isEmpty) {
        // zero groups: schema still needs the aggregate types — resolve
        // them against the empty file set (always answerable)
        aggRow(Nil).map { rs =>
          val gf = groupCols.map(c => StructField(c, types(c), nullable = true))
          (StructType(gf ++ aggSchema(rs)), Seq.empty[InternalRow])
        }
      } else {
        val gf = groupCols.map(c => StructField(c, types(c), nullable = true))
        val schema = StructType(gf ++ aggSchema(rows.head._2))
        Some((schema, rows.map { case (key, rs) =>
          new GenericInternalRow((key ++ rs.map(_._3)).toArray)
        }))
      }
    }
  }
}

/** The local scan [[MetadataAgg]] produces — one row per group (one row
  * total for the ungrouped form): Spark plans it as a driver-side
  * `LocalTableScan` — no tasks, no shuffle, no file IO. Row count is
  * bounded by the table's partition count. */
final class GraftAggScan(
    schema: StructType,
    rows0: Seq[InternalRow],
    tableDir: String
) extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = rows0.toArray
  override def description(): String = s"graft metadata-agg $tableDir"
}
