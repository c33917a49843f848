package graft.sources

import graft.txn.FileEntry
import org.apache.spark.sql.graftbridge.NodeBridge
import org.apache.spark.sql.graftbridge.NodeBridge.PredNode
import org.apache.spark.sql.types._

/** File-level min/max pruning for merge-on-read reads — the scan-planning
  * half of what makes a filtered read of a 100 TB table cheap.
  *
  * Row-group pruning (Spark's parquet reader, fed by the pushed filters)
  * only helps AFTER a file is opened; at warehouse scale the win is
  * never LISTING the file into the scan at all. Iceberg readers do this
  * from manifest column bounds; this engine's snapshots don't carry
  * bounds for every catalog, so pruning reads each candidate data file's
  * parquet FOOTER (a few KB, fetched in parallel — the same
  * [[ParquetStats]] pool the z-order domain pass uses) and drops files
  * whose [min, max] cannot intersect the filter's bound constraints.
  *
  * Extraction is deliberately CONSERVATIVE: only integral-column
  * comparisons to literals (`=`, `<`, `<=`, `>`, `>=`) conjoined with
  * `AND` produce constraints; anything else (OR, NOT, arithmetic,
  * strings, unknown expressions) contributes nothing and the file is
  * kept. A kept file is never wrong — the filter still runs on the
  * scan — so pruning can only remove provably-dead IO.
  */
object ScanPruning {

  /** Inclusive [lo, hi] bound per column name, merged by intersection. */
  type Bounds = Map[String, (Long, Long)]

  private def longOf(n: PredNode): Option[Long] = n match {
    case PredNode.Lit(v) => v match {
      case i: Int   => Some(i.toLong)
      case i: Long  => Some(i)
      case i: Short => Some(i.toLong)
      case _        => None
    }
    case _ => None
  }

  private def nameOf(n: PredNode): Option[String] = n match {
    case PredNode.Attr(name) => Some(name)
    case _                   => None
  }

  /** Intersect two bound maps. */
  private def merge(a: Bounds, b: Bounds): Bounds =
    (a.keySet ++ b.keySet).map { k =>
      (a.get(k), b.get(k)) match {
        case (Some((lo1, hi1)), Some((lo2, hi2))) =>
          k -> (math.max(lo1, lo2), math.min(hi1, hi2))
        case (one, two) => k -> one.orElse(two).get
      }
    }.toMap

  /** Bound constraints implied by a SQL predicate string (e.g.
    * `rewrite_data_files(where => ...)`); empty when nothing usable. */
  def constraintsOfSql(sql: String): Bounds = {
    val root = NodeBridge.treeOfSql(sql)
    // comparison with the attribute on the left; [lo/hi]Delta adjust for
    // strictness (x > v means x >= v+1 on an integral column)
    def cmp(a: PredNode, v: PredNode,
        loDelta: Option[Long], hiDelta: Option[Long]): Bounds =
      (nameOf(a), longOf(v)) match {
        case (Some(n), Some(value)) =>
          Map(n -> (loDelta.map(d => saturatingAdd(value, d)).getOrElse(Long.MinValue),
            hiDelta.map(d => saturatingAdd(value, d)).getOrElse(Long.MaxValue)))
        case _ => Map.empty
      }
    def walk(n: PredNode): Bounds = n match {
      case PredNode.Fn(fname, Seq(a, b)) =>
        val aIsAttr = nameOf(a).isDefined
        fname match {
          case "and" => merge(walk(a), walk(b))
          case "=" | "==" =>
            if (aIsAttr) cmp(a, b, Some(0L), Some(0L)) else cmp(b, a, Some(0L), Some(0L))
          case ">" =>
            if (aIsAttr) cmp(a, b, Some(1L), None) else cmp(b, a, None, Some(-1L))
          case ">=" =>
            if (aIsAttr) cmp(a, b, Some(0L), None) else cmp(b, a, None, Some(0L))
          case "<" =>
            if (aIsAttr) cmp(a, b, None, Some(-1L)) else cmp(b, a, Some(1L), None)
          case "<=" =>
            if (aIsAttr) cmp(a, b, None, Some(0L)) else cmp(b, a, Some(0L), None)
          case _ => Map.empty
        }
      case _ => Map.empty
    }
    walk(root)
  }

  // ---------------------------------------------------------------- strings

  /** Constraint on one STRING column in parquet's unsigned-byte order:
    * an inclusive lower bound, an upper bound with inclusivity, and/or
    * an exact candidate set (EqualTo / In). All satisfied together
    * (AND semantics). */
  final case class StringConstraint(
      lo: Option[Array[Byte]] = None,
      hi: Option[(Array[Byte], Boolean)] = None,
      candidates: Option[Seq[Array[Byte]]] = None) {
    def merge(o: StringConstraint): StringConstraint = StringConstraint(
      lo = (lo, o.lo) match {
        case (Some(a), Some(b)) =>
          Some(if (ParquetStats.unsignedLt(a, b)) b else a)
        case (a, b) => a.orElse(b)
      },
      hi = (hi, o.hi) match {
        case (Some((a, ai)), Some((b, bi))) =>
          if (ParquetStats.unsignedLt(a, b)) Some((a, ai))
          else if (ParquetStats.unsignedLt(b, a)) Some((b, bi))
          else Some((a, ai && bi)) // same bound: exclusive wins
        case (a, b) => a.orElse(b)
      },
      candidates = (candidates, o.candidates) match {
        case (Some(a), Some(b)) =>
          Some(a.filter(x => b.exists(java.util.Arrays.equals(x, _))))
        case (a, b) => a.orElse(b)
      })
  }

  /** `startsWith(p)` means `[p, successor(p))` — the shared carry
    * helper lives in [[ParquetStats.incrementPrefix]]. */
  private def successor(p: Array[Byte]): Option[Array[Byte]] =
    ParquetStats.incrementPrefix(p)

  private def utf8(v: Any): Option[Array[Byte]] = v match {
    case s: String => Some(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case u: org.apache.spark.unsafe.types.UTF8String => Some(u.getBytes)
    case _ => None
  }

  /** String-column constraints implied by pushed source filters —
    * EqualTo / In / ranges / StartsWith under AND conjunction, only for
    * columns in `stringCols`. Anything else contributes nothing (the
    * file is kept — pruning only removes provably-dead IO). */
  def stringConstraints(filters: Seq[org.apache.spark.sql.sources.Filter],
      stringCols: Set[String]): Map[String, StringConstraint] = {
    import org.apache.spark.sql.{sources => f}
    def one(flt: f.Filter): Map[String, StringConstraint] = flt match {
      case f.EqualTo(a, v) if stringCols(a) =>
        utf8(v).map(b => Map(a -> StringConstraint(candidates = Some(Seq(b)))))
          .getOrElse(Map.empty)
      case f.In(a, vs) if stringCols(a) =>
        val bs = vs.toSeq.filter(_ != null).map(utf8)
        if (bs.isEmpty || bs.exists(_.isEmpty)) Map.empty
        else Map(a -> StringConstraint(candidates = Some(bs.flatten)))
      case f.GreaterThan(a, v) if stringCols(a) =>
        // x > v  ⟺  x >= v ++ 0x00 (the immediate successor string)
        utf8(v).map(b => Map(a -> StringConstraint(
          lo = Some(b :+ 0.toByte)))).getOrElse(Map.empty)
      case f.GreaterThanOrEqual(a, v) if stringCols(a) =>
        utf8(v).map(b => Map(a -> StringConstraint(lo = Some(b))))
          .getOrElse(Map.empty)
      case f.LessThan(a, v) if stringCols(a) =>
        utf8(v).map(b => Map(a -> StringConstraint(hi = Some((b, false)))))
          .getOrElse(Map.empty)
      case f.LessThanOrEqual(a, v) if stringCols(a) =>
        utf8(v).map(b => Map(a -> StringConstraint(hi = Some((b, true)))))
          .getOrElse(Map.empty)
      case f.StringStartsWith(a, p) if stringCols(a) && p != null =>
        val pb = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        Some(StringConstraint(lo = Some(pb),
          hi = successor(pb).map(s => (s, false))))
          .map(c => Map(a -> c)).getOrElse(Map.empty)
      case f.And(l, r) =>
        val (a, b) = (one(l), one(r))
        (a.keySet ++ b.keySet).map { k =>
          (a.get(k), b.get(k)) match {
            case (Some(x), Some(y)) => k -> x.merge(y)
            case (x, y)             => k -> x.orElse(y).get
          }
        }.toMap
      case _ => Map.empty
    }
    filters.foldLeft(Map.empty[String, StringConstraint]) { (acc, flt) =>
      val m = one(flt)
      (acc.keySet ++ m.keySet).map { k =>
        (acc.get(k), m.get(k)) match {
          case (Some(x), Some(y)) => k -> x.merge(y)
          case (x, y)             => k -> x.orElse(y).get
        }
      }.toMap
    }
  }

  /** Runtime-join candidate values → string constraints (the string
    * half of what [[pruneDataFilesWithInSets]] does for integrals):
    * join-key values handed back by Spark's runtime filtering become
    * per-file membership tests against the stamped byte bounds. */
  def stringCandidateConstraints(cands: Map[String, Seq[Any]],
      stringCols: Set[String]): Map[String, StringConstraint] =
    cands.collect {
      case (a, vs) if stringCols(a) && vs.nonEmpty =>
        val bs = vs.map(utf8)
        if (bs.exists(_.isEmpty)) None
        else Some(a -> StringConstraint(candidates = Some(bs.flatten)))
    }.flatten.toMap

  /** Keep files whose stamped string bounds can satisfy every
    * constraint; unstamped files/columns are kept (pre-feature files,
    * renamed columns — metadata-only, NO footer fallback). All-pruned
    * yields an EMPTY data set — readers resolve the schema from the
    * snapshot, so no anchor file (and its wasted IO) is needed. */
  def pruneDataFilesWithStringBounds(files: Seq[FileEntry],
      cs: Map[String, StringConstraint]): Seq[FileEntry] = {
    if (cs.isEmpty) return files
    val (data, deletes) = files.partition(_.content == "data")
    val dec = java.util.Base64.getDecoder
    def keep(fe: FileEntry): Boolean = cs.forall { case (c, sc) =>
      fe.stringBounds.get(c).map(_.toSeq) match {
        case Some(Seq(loB64, hiB64)) =>
          val fLo = dec.decode(loB64); val fHi = dec.decode(hiB64)
          val rangeOk =
            sc.lo.forall(lo => !ParquetStats.unsignedLt(fHi, lo)) &&
              sc.hi.forall { case (hi, incl) =>
                if (incl) !ParquetStats.unsignedLt(hi, fLo)
                else ParquetStats.unsignedLt(fLo, hi)
              }
          val candOk = sc.candidates.forall(_.exists(cand =>
            !ParquetStats.unsignedLt(cand, fLo) &&
              !ParquetStats.unsignedLt(fHi, cand)))
          rangeOk && candOk
        case _ => true // unstamped -> keep
      }
    }
    data.filter(keep) ++ deletes
  }

  /** Can the keys in equality-delete file `del` possibly match any row
    * of data file `data`? False ONLY when some key column's stamped
    * bounds are provably disjoint in both files (ALL key columns must
    * match for a delete to hit, so one disjoint column suffices) —
    * metadata-only, no footer reads; a missing stamp keeps the delete.
    * The 100 TB case this exists for: a hot CDC/upsert table
    * accumulates an equality-delete file per batch between delete
    * conversions, and without bounds skipping EVERY task loads EVERY
    * newer delete file — O(tasks x delete files) — even when a
    * delete's keys land entirely in one file's range. String bounds
    * stay provable under Iceberg truncation: the stamped lo is a
    * prefix (<= the true min) and the stamped hi is incremented
    * (>= the true max), so lo-beyond-hi comparisons only widen. */
  def eqDeleteMayApply(del: graft.txn.FileEntry,
      data: graft.txn.FileEntry): Boolean = {
    import graft.txn.FileEntry
    def intDisjoint(c: String): Boolean = (for {
      (dl, dh) <- FileEntry.loHi(del.bounds.getOrElse(c, Nil))
      (al, ah) <- FileEntry.loHi(data.bounds.getOrElse(c, Nil))
    } yield dl > ah || dh < al).getOrElse(false)
    def strDisjoint(c: String): Boolean = {
      val dec = java.util.Base64.getDecoder
      (del.stringBounds.get(c).map(_.toSeq),
        data.stringBounds.get(c).map(_.toSeq)) match {
        case (Some(Seq(dl, dh)), Some(Seq(al, ah))) =>
          try {
            ParquetStats.unsignedLt(dec.decode(ah), dec.decode(dl)) ||
              ParquetStats.unsignedLt(dec.decode(dh), dec.decode(al))
          } catch { case _: IllegalArgumentException => false }
        case _ => false
      }
    }
    !del.equalityIds.exists(c => intDisjoint(c) || strDisjoint(c))
  }

  /** v + d clamped at the Long range (a wrap would flip a strict bound
    * at Long.MaxValue into a keep-nothing constraint). */
  private def saturatingAdd(v: Long, d: Long): Long = {
    val r = v + d
    if (d > 0 && r < v) Long.MaxValue
    else if (d < 0 && r > v) Long.MinValue
    else r
  }

  /** A pushed literal in its column's stats domain — unscaled decimals,
    * epoch micros, epoch days. None when the literal does not convert
    * exactly. */
  private def unscaled(d: DecimalType, v: Any): Option[Long] = {
    val bd: Option[java.math.BigDecimal] = v match {
      case b: java.math.BigDecimal  => Some(b)
      case b: scala.math.BigDecimal => Some(b.bigDecimal)
      case dec: Decimal             => Some(dec.toJavaBigDecimal)
      case _ => None
    }
    bd.flatMap { b =>
      try Some(b.setScale(d.scale).unscaledValue().longValueExact())
      catch { case _: ArithmeticException => None }
    }
  }

  private def micros(v: Any): Option[Long] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    v match {
      case t: java.sql.Timestamp      => Some(DateTimeUtils.fromJavaTimestamp(t))
      case i: java.time.Instant       => Some(DateTimeUtils.instantToMicros(i))
      case l: java.time.LocalDateTime => Some(DateTimeUtils.localDateTimeToMicros(l))
      case _ => None
    }
  }

  private def epochDay(v: Any): Option[Int] = v match {
    case d: java.sql.Date       =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d))
    case d: java.time.LocalDate => Some(Math.toIntExact(d.toEpochDay))
    case _ => None
  }

  /** Pushed `sources.Filter`s → integral [lo, hi] bounds: integral
    * comparisons, plus decimals of ≤18 digits compared in UNSCALED space
    * (order-preserving at the column's fixed scale; the footer stats of
    * INT32/INT64-backed decimal columns are unscaled values —
    * [[ParquetStats]]), dates as epoch days and timestamps (with or
    * without time zone) as epoch micros. A literal that doesn't
    * land exactly on the column's scale contributes nothing
    * (conservative: the file is kept). */
  def filterBounds(filters: Seq[org.apache.spark.sql.sources.Filter],
      colTypes: Map[String, DataType]): Bounds = {
    import org.apache.spark.sql.sources
    def lit(a: String, v: Any): Option[Long] = colTypes.get(a) match {
      case Some(d: DecimalType) if d.precision <= 18 => unscaled(d, v)
      case Some(_: DecimalType) => None // FLBA-backed: stats untrusted
      // date stats are INT32 epoch days; timestamp bounds are stamped
      // from MICROS columns only (ParquetStats.fileFacts)
      case Some(DateType) => epochDay(v).map(_.toLong)
      case Some(TimestampType | TimestampNTZType) => micros(v)
      case _ => v match {
        case i: Int => Some(i.toLong); case l: Long => Some(l)
        case s: Short => Some(s.toLong); case _ => None
      }
    }
    filters.foldLeft(Map.empty: Bounds) { (acc, f) =>
      val b: Bounds = f match {
        case sources.EqualTo(a, v)            => lit(a, v).map(x => Map(a -> (x, x))).getOrElse(Map.empty)
        // saturate at the extremes: `> Long.MaxValue` / `< Long.MinValue`
        // are impossible predicates — an empty range (lo > hi) prunes
        // every file rather than wrapping around and keeping all of them
        case sources.GreaterThan(a, v)        => lit(a, v).map(x => Map(a -> (if (x == Long.MaxValue) (1L, 0L) else (x + 1, Long.MaxValue)))).getOrElse(Map.empty)
        case sources.GreaterThanOrEqual(a, v) => lit(a, v).map(x => Map(a -> (x, Long.MaxValue))).getOrElse(Map.empty)
        case sources.LessThan(a, v)           => lit(a, v).map(x => Map(a -> (if (x == Long.MinValue) (1L, 0L) else (Long.MinValue, x - 1)))).getOrElse(Map.empty)
        case sources.LessThanOrEqual(a, v)    => lit(a, v).map(x => Map(a -> (Long.MinValue, x))).getOrElse(Map.empty)
        case sources.And(l, r)                => filterBounds(Seq(l, r), colTypes)
        case _                                => Map.empty
      }
      merge(acc, b)
    }
  }


  /** Runtime-filter pruning: keep a data file iff, for EVERY constrained
    * column, at least one of the join-key values lands inside the file's
    * footer [min, max] (no stats → keep). Sets arrive from Spark's
    * runtime filtering (`SupportsRuntimeFiltering`) after the selective
    * join side has executed. */
  def pruneDataFilesWithInSets(
      files: Seq[FileEntry], sets: Map[String, Array[Long]]): Seq[FileEntry] =
    if (sets.isEmpty) files
    else pruneWith(files, sets.keys.toSeq) { stats =>
      sets.forall { case (c, vs) =>
        stats.get(c) match {
          case None           => true
          // an empty value set (empty join side) matches nothing —
          // every stamped file drops and the scan plans no tasks
          case Some((mn, mx)) => vs.exists(v => v >= mn && v <= mx)
        }
      }
    }

  /** Data files whose stats can intersect bounds `cs`; delete files and
    * files without trustworthy stats pass through. All-pruned is an
    * EMPTY data set. `decimalAsUnscaled` names the columns whose bounds
    * are expressed in UNSCALED decimal space ([[filterBounds]]) — only
    * those may consume decimal footer stats; the typeless
    * [[constraintsOfSql]] path passes none and keeps decimal files
    * conservatively. */
  def pruneDataFilesWithBounds(files: Seq[FileEntry], cs: Bounds,
      decimalAsUnscaled: Set[String] = Set.empty): Seq[FileEntry] =
    if (cs.isEmpty) files
    else if (cs.values.exists { case (lo, hi) => lo > hi }) {
      // contradictory bounds (x > MAX, or merged x > 5 AND x < 3): no
      // row can match — drop every data file without any footer
      // fetches; the scan comes back empty with the snapshot's schema
      files.filter(_.content != "data")
    }
    else pruneWith(files, cs.keys.toSeq, decimalAsUnscaled) { stats =>
      cs.forall { case (c, (lo, hi)) =>
        stats.get(c) match {
          case None           => true // column absent -> keep
          case Some((mn, mx)) => mx >= lo && mn <= hi
        }
      }
    }

  /** LIMIT-pushdown file truncation (`SupportsPushDownLimit`, partial):
    * a bare `LIMIT n` may be served by ANY n live rows, so the scan can
    * plan only a deterministic subset of files whose GUARANTEED live
    * rows reach `limit` — at 100 TB a browse query reads one file
    * instead of the table. A file's guarantee is its full `recordCount`
    * when `clean(f)` proves no delete can touch it, else 0
    * (conservative). Returns None — keep everything — when the
    * guarantee never reaches `limit` or nothing would be dropped.
    * SOUND only when no filter (pushed or residual) and no runtime
    * join filter can remove rows downstream — the caller gates. */
  def truncateForLimit(
      data: Seq[FileEntry], limit: Long,
      clean: FileEntry => Boolean): Option[Seq[FileEntry]] = {
    // fewest files first: largest clean files, path tiebreak
    val candidates = data.filter(f => clean(f) && f.recordCount > 0)
      .sortBy(f => (-f.recordCount, f.path))
    var acc = 0L
    val kept = candidates.takeWhile { f =>
      val more = acc < limit; acc += f.recordCount; more
    }
    if (acc >= limit && kept.size < data.size) Some(kept) else None
  }

  /** TopN-pushdown file truncation (`SupportsPushDownTopN`, partial):
    * for `ORDER BY col [DESC] LIMIT n`, once `limit` live rows are
    * GUARANTEED to rank strictly ahead of every row a file could hold,
    * that file cannot contribute and is never read. Uses the per-file
    * stamped bounds ([[FileEntry.bounds]] / unscaled
    * [[FileEntry.decimalBounds]] — one totally ordered domain per
    * column) and null counts:
    *
    *  - ascending (NULLS FIRST): accumulate clean files by min; all
    *    their rows (nulls included — nulls rank first) rank ≤ M = the
    *    max of the accumulated maxes. Drop files with min > M, but ONLY
    *    when their stamped null count is exactly 0 — a null row would
    *    rank ahead of everything.
    *  - descending (NULLS LAST): accumulate clean files' NON-NULL rows
    *    by max; they rank ≥ M = the min of the accumulated mins. Drop
    *    files with max < M — their null rows rank behind the ≥ limit
    *    guaranteed non-nulls, so they never matter.
    *
    * Ranking by the LEADING sort key alone is sound for any longer
    * ordering: strict inequality on the first key decides the
    * lexicographic order. Every file must be current-schema (stamp
    * names may alias across schema versions) with stamped bounds on the
    * column; otherwise None — keep everything. */
  def truncateForTopN(
      data: Seq[FileEntry], col: String, descending: Boolean, limit: Long,
      clean: FileEntry => Boolean,
      isCurrentSchema: FileEntry => Boolean): Option[Seq[FileEntry]] = {
    def loHiOf(f: FileEntry): Option[(Long, Long)] =
      FileEntry.loHi(f.bounds.getOrElse(col,
        f.decimalBounds.getOrElse(col, Seq.empty)))
    if (data.isEmpty ||
        !data.forall(f => isCurrentSchema(f) && loHiOf(f).isDefined))
      return None
    val withB = data.map(f =>
      (f, loHiOf(f).get, FileEntry.longAt(f.nullCounts, col)))
    var acc = 0L
    val kept: Seq[FileEntry] =
      if (!descending) {
        val sorted = withB.sortBy { case (f, (lo, _), _) => (lo, f.path) }
        var m = Long.MinValue
        var i = 0
        while (i < sorted.length && acc < limit) {
          val (f, (_, hi), _) = sorted(i)
          if (clean(f)) { acc += f.recordCount; m = math.max(m, hi) }
          i += 1
        }
        val bound = m
        // drop iff provably past the guaranteed top AND null-free
        withB.collect { case (f, (lo, _), nulls)
          if lo <= bound || !nulls.contains(0L) => f }
      } else {
        val sorted = withB.sortBy { case (f, (_, hi), _) => (-hi, f.path) }
        var m = Long.MaxValue
        var i = 0
        while (i < sorted.length && acc < limit) {
          val (f, (lo, _), nulls) = sorted(i)
          // non-null rows only — an unstamped null count contributes
          // nothing to the guarantee (the file is still kept below)
          if (clean(f) && nulls.isDefined) {
            acc += math.max(0L, f.recordCount - nulls.get)
            m = math.min(m, lo)
          }
          i += 1
        }
        val bound = m
        withB.collect { case (f, (_, hi), _) if hi >= bound => f }
      }
    if (acc >= limit && kept.size < data.size) Some(kept) else None
  }

  /** Columns constrained by top-level IS NULL / IS NOT NULL predicates
    * (conjunctions included; anything under OR is ignored —
    * conservative). Returns (isNullCols, isNotNullCols). */
  def nullPredicateCols(filters: Seq[org.apache.spark.sql.sources.Filter])
      : (Set[String], Set[String]) = {
    import org.apache.spark.sql.{sources => sf}
    filters.foldLeft((Set.empty[String], Set.empty[String])) {
      case ((nu, nn), f) => f match {
        case sf.IsNull(a)    => (nu + a, nn)
        case sf.IsNotNull(a) => (nu, nn + a)
        case sf.And(l, r) =>
          val (a, b) = nullPredicateCols(Seq(l, r)); (nu ++ a, nn ++ b)
        case _ => (nu, nn)
      }
    }
  }

  /** IS NULL / IS NOT NULL file pruning from write-time null-count
    * stamps ([[graft.txn.FileEntry.nullCounts]]) — metadata only, no
    * footer fallback (an unstamped file or column is kept). `IS NULL`
    * drops files with zero nulls; `IS NOT NULL` drops all-null files.
    * Spark plants IsNotNull beside nearly every comparison filter, so
    * the all-null case prunes everywhere for free. */
  def pruneDataFilesWithNullCounts(
      files: Seq[FileEntry],
      isNullCols: Set[String],
      isNotNullCols: Set[String]): Seq[FileEntry] = {
    if (isNullCols.isEmpty && isNotNullCols.isEmpty) return files
    val (data, deletes) = files.partition(_.content == "data")
    val kept = data.filter { f =>
      val dropNull = isNullCols.exists(c =>
        FileEntry.longAt(f.nullCounts, c).contains(0L))
      val dropNotNull = isNotNullCols.exists(c =>
        f.recordCount > 0 &&
          FileEntry.longAt(f.nullCounts, c).contains(f.recordCount))
      !dropNull && !dropNotNull
    }
    kept ++ deletes
  }

  /** Shared pruning loop: evaluate `keep` over each data file's footer
    * min/max for `cols`; files without trustworthy stats always survive,
    * delete files pass through. All-pruned is an EMPTY data set (the
    * readers resolve the schema from the snapshot, not an anchor file).
    * Footers are fetched in parallel — the same driver-pool rationale as
    * ParquetStats.minMaxLong (object-store round-trips, not CPU). */
  private def pruneWith(files: Seq[FileEntry], cols: Seq[String],
      decimalAsUnscaled: Set[String] = Set.empty)(
      keep: Map[String, (Long, Long)] => Boolean): Seq[FileEntry] = {
    val (data, deletes) = files.partition(_.content == "data")
    // METADATA-ONLY fast path: entries stamped at write time
    // (FileEntry.bounds — the Iceberg-manifest model) decide from the
    // snapshot alone; a column missing from the stamps (untrustworthy,
    // absent, or renamed since the write) keeps the file. Only
    // UNSTAMPED entries — pre-feature files — pay a footer round-trip.
    def stampedStats(f: FileEntry): Option[Map[String, (Long, Long)]] =
      if (f.bounds.isEmpty && f.decimalBounds.isEmpty) None
      else Some(
        f.bounds.flatMap { case (c, v) => FileEntry.loHi(v).map(c -> _) } ++
          f.decimalBounds.collect {
            case (c, v) if decimalAsUnscaled.contains(c) => c -> FileEntry.loHi(v)
          }.collect { case (c, Some(b)) => c -> b })
    val (stamped, unstamped) = data.partition(f => stampedStats(f).isDefined)
    val keptStamped = stamped.filter(f => keep(stampedStats(f).get))
    val keptUnstamped =
      if (unstamped.isEmpty) Nil
      else {
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(math.max(1, math.min(16, unstamped.size)))
        try {
          val futures = unstamped.map { f =>
            pool.submit(new java.util.concurrent.Callable[Boolean] {
              // a column without trustworthy stats is absent -> kept on
              override def call(): Boolean =
                keep(ParquetStats.fileStats(f.path, cols, decimalAsUnscaled)._2)
            })
          }
          unstamped.zip(futures).collect {
            case (f, fut) if fut.get(120, java.util.concurrent.TimeUnit.SECONDS) => f
          }
        } finally pool.shutdownNow()
      }
    val keepPaths = (keptStamped ++ keptUnstamped).map(_.path).toSet
    data.filter(f => keepPaths.contains(f.path)) ++ deletes
  }
}
