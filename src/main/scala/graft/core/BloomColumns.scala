package graft.core

/** Per-table parquet BLOOM FILTER configuration — the point-lookup
  * complement to min/max statistics. Stamped bounds and row-group
  * stats prune RANGES; on a high-cardinality column with no sort
  * order every file and group spans [global min, global max], and a
  * point predicate (`id = x`, dedup probes, id joins) prunes nothing.
  * A parquet bloom filter answers "is x possibly in this row group"
  * from a footer-adjacent bitset — the reader skips the group without
  * touching a page. Spark's own parquet source exposes the same knob
  * as `parquet.bloom.filter.enabled#col`; here it is a TABLE property
  * so every writer (DSv2 append/fanout/streaming/delta inserts, both
  * compaction writers) emits consistent blooms and compaction
  * preserves them.
  *
  * Property: `graft.bloom.columns = "col[:ndv], col2[:ndv]"` — ndv
  * sizes the filter for a target 1% false-positive rate; omitted ndv
  * uses parquet's ADAPTIVE bloom writer (sizes itself from observed
  * distincts). Top-level columns only.
  *
  * The READ side needs no table configuration: parquet-mr's row-group
  * filter consults bloom filters by default whenever Spark's parquet
  * reader pushes an equality predicate ([[graft.sources
  * .SparkFileReader]]).
  */
object BloomColumns {

  val Property = "graft.bloom.columns"

  final case class Spec(column: String, ndv: Option[Long])

  def parse(raw: String): Seq[Spec] =
    raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { part =>
      // limit -1: a trailing ':' must surface as malformed, not be
      // silently dropped by split's default trailing-empty elision
      part.split(":", -1).map(_.trim) match {
        case Array(c) if c.nonEmpty => Spec(c, None)
        case Array(c, n) if c.nonEmpty && n.nonEmpty && n.forall(_.isDigit) =>
          val v =
            try n.toLong
            catch { case _: NumberFormatException =>
              throw CompactionError.Config(
                s"$Property: ndv '$n' for '$c' does not fit a long")
            }
          if (v <= 0) throw CompactionError.Config(
            s"$Property: ndv for '$c' must be positive, got $v")
          Spec(c, Some(v))
        case _ => throw CompactionError.Config(
          s"$Property entry '$part' is not 'column' or 'column:ndv'")
      }
    }

  def of(snap: Option[graft.txn.TableSnapshot]): Seq[Spec] =
    snap.flatMap(_.properties.get(Property)) match {
      case None => Nil
      case Some(raw) =>
        // a malformed committed value must not fail every write — the
        // SQL surface validates at SET time; anything else degrades to
        // "no blooms" (a pure optimization)
        try parse(raw) catch { case _: Exception => Nil }
    }

  def render(specs: Seq[Spec]): String =
    specs.map(s => s.ndv.fold(s.column)(n => s"${s.column}:$n")).mkString(",")

  /** Resolve configured columns against an actual schema's field names,
    * CASE-INSENSITIVELY (Spark's default identifier resolution), and
    * return specs carrying the schema's own casing — writers hand the
    * resolved name to parquet, whose column paths are case-sensitive.
    * Unmatched columns drop (a rename degrades the optimization). */
  def resolve(specs: Seq[Spec], fieldNames: Seq[String]): Seq[Spec] = {
    val byLower = fieldNames.map(n => n.toLowerCase -> n).toMap
    specs.flatMap(s => byLower.get(s.column.toLowerCase)
      .map(actual => s.copy(column = actual)))
  }

  /** Apply the configured blooms to a declarative DataFrame writer as
    * `parquet.bloom.filter.*` options (Spark folds write options into
    * the job's hadoop conf, where the parquet output format reads
    * them). Shared by the compaction sink and the ingest helpers. */
  def applyOptions[T](w: org.apache.spark.sql.DataFrameWriter[T],
      specs: Seq[Spec],
      fieldNames: Seq[String]): org.apache.spark.sql.DataFrameWriter[T] = {
    val live = resolve(specs, fieldNames)
    var out = w
    live.foreach { s =>
      out = out.option(s"parquet.bloom.filter.enabled#${s.column}", "true")
      s.ndv.foreach(n => out = out.option(
        s"parquet.bloom.filter.expected.ndv#${s.column}", n.toString))
    }
    if (live.exists(_.ndv.isEmpty))
      out = out.option("parquet.bloom.filter.adaptive.enabled", "true")
    out
  }

  /** SET-time validation: parse + every column exists (top level),
    * resolved case-insensitively like every Spark identifier. */
  def validate(raw: String, schemaCols: Set[String]): Unit = {
    val lower = schemaCols.map(_.toLowerCase)
    parse(raw).foreach { s =>
      if (!lower.contains(s.column.toLowerCase))
        throw CompactionError.Config(
          s"$Property references '${s.column}', which is not a top-level " +
            s"column of the table (${schemaCols.toSeq.sorted.mkString(", ")})")
    }
  }
}
