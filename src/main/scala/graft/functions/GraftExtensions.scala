package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, StringType}

/** SparkSessionExtensions entry point exposing the engine's native
  * expressions to pure SQL:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions
  *   // or: SparkSession.builder().withExtensions(new GraftExtensions)
  *
  *   SELECT doc_id, minhash_signature(shingles(text, 3), 32) FROM docs
  *   SELECT simhash32(shingles(text, 3)), hashed_set(shingles(text, 3), 'j')
  *   SELECT jaccard_x1000(a, b), sorted_intersect_count(a, b), cosine_sim(u, v)
  * }}}
  *
  * This is the extension mechanism the build plan reserves for semantics
  * Spark's built-ins cannot express (SURVEY §7.1): everything else in the
  * engine is plain DataFrame algebra, and these functions are scalar
  * expressions — no custom LogicalPlan/Strategy is needed.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def lit2Int(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
  private def lit2Str(e: Expression, what: String): String = e match {
    case Literal(s, StringType) if s != null => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }
  private def lit2Long(e: Expression, what: String): Long = e match {
    case Literal(v: Int, IntegerType)                        => v.toLong
    case Literal(v: Long, org.apache.spark.sql.types.LongType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** Friendly arity gate: a mis-called function gets the usage string,
    * not a raw IndexOutOfBoundsException from `args(n)`. */
  private def arity(name: String, usage: String, args: Seq[Expression],
      min: Int, max: Int): Seq[Expression] = {
    if (args.size < min || args.size > max)
      throw graft.core.CompactionError.Config(
        s"$name takes ${if (min == max) min.toString else s"$min to $max"} " +
          s"argument(s), got ${args.size} - usage: $usage")
    args
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("shingles"),
      info("shingles", "shingles(text, n) - distinct n-word shingles"),
      (args: Seq[Expression]) => {
        arity("shingles", "shingles(text, n)", args, 2, 2);
        ShinglesExpr(args.head, lit2Int(args(1), "n")) }))
    ext.injectFunction((FunctionIdentifier("minhash_signature"),
      info("minhash_signature",
        "minhash_signature(features, numHashes[, hashKind]) - 'md5' (oracle) or 'xx' (production)"),
      (args: Seq[Expression]) => {
        arity("minhash_signature", "minhash_signature(features, numHashes[, hashKind])", args, 2, 3);
        MinHashSignatureExpr(args.head, lit2Int(args(1), "numHashes"),
          if (args.size > 2) lit2Str(args(2), "hashKind") else Hash64.KindMd5) }))
    ext.injectFunction((FunctionIdentifier("simhash32"),
      info("simhash32", "simhash32(features[, hashKind]) - 32-bit simhash"),
      (args: Seq[Expression]) => {
        arity("simhash32", "simhash32(features[, hashKind])", args, 1, 2); SimHash32Expr(args.head,
        if (args.size > 1) lit2Str(args(1), "hashKind") else Hash64.KindMd5) }))
    ext.injectFunction((FunctionIdentifier("hashed_set"),
      info("hashed_set",
        "hashed_set(features, seed[, hashKind]) - sorted distinct hash64 set"),
      (args: Seq[Expression]) => {
        arity("hashed_set", "hashed_set(features, seed[, hashKind])", args, 2, 3);
        HashedSetExpr(args.head, lit2Str(args(1), "seed"),
          if (args.size > 2) lit2Str(args(2), "hashKind") else Hash64.KindMd5) }))
    ext.injectFunction((FunctionIdentifier("hyperplane_bucket"),
      info("hyperplane_bucket",
        "hyperplane_bucket(vec, dims, numBits) - random-hyperplane LSH bucket"),
      (args: Seq[Expression]) => {
        arity("hyperplane_bucket", "hyperplane_bucket(vec, dims, numBits)", args, 3, 3);
        HyperplaneBucketExpr(args.head, lit2Int(args(1), "dims"),
          lit2Int(args(2), "numBits")) }))
    ext.injectFunction((FunctionIdentifier("hash_min"),
      info("hash_min", "hash_min(features, seed) - min hash64 (fingerprint)"),
      (args: Seq[Expression]) => {
        arity("hash_min", "hash_min(features, seed)", args, 2, 2);
        HashMinExpr(args.head, lit2Str(args(1), "seed")) }))
    ext.injectFunction((FunctionIdentifier("sorted_intersect_count"),
      info("sorted_intersect_count", "sorted_intersect_count(a, b)"),
      (args: Seq[Expression]) => {
        arity("sorted_intersect_count", "sorted_intersect_count(a, b)", args, 2, 2);
        SortedIntersectCountExpr(args.head, args(1)) }))
    ext.injectFunction((FunctionIdentifier("jaccard_x1000"),
      info("jaccard_x1000", "jaccard_x1000(aSorted, bSorted)"),
      (args: Seq[Expression]) => {
        arity("jaccard_x1000", "jaccard_x1000(aSorted, bSorted)", args, 2, 2); JaccardX1000Expr(args.head, args(1)) }))
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine of float arrays"),
      (args: Seq[Expression]) => {
        arity("cosine_sim", "cosine_sim(a, b)", args, 2, 2); CosineSimExpr(args.head, args(1)) }))

    // table-valued function: full SQL access to merge-on-read tables —
    //   SELECT * FROM graft_table('/path/to/table')
    //   SELECT * FROM graft_table('/path/to/table', 2)   -- time travel
    // The builder runs during analysis on the query's session thread, so
    // SparkSession.active is the right session to resolve the read; the
    // embedded plan is TableReader's pinned DSv2 relation (per-task
    // deletes, pruning and pushdown included).
    // materialized-view substitution: aggregates over a registered
    // view's source table read the view instead when it is fresh
    // (spark.graft.mv.views names the views; graft.mv.MaterializedView)
    ext.injectOptimizerRule(session =>
      new graft.mv.MaterializedViewRewrite(session))
    // persisted-view DDL + substitution for graft ViewCatalogs — HINT
    // stage so the rewrite lands before ResolveSessionCatalog rejects
    // v2-catalog view commands (see GraftViewSubstitution)
    ext.injectHintResolutionRule(session =>
      graft.sql.GraftViewSubstitution(session))

    // per-commit CDC in SQL:
    //   SELECT * FROM graft_changes('/path/to/table', 3, 7)
    // — the batch changelog (TableReader.changelog) as a table function
    ext.injectTableFunction((FunctionIdentifier("graft_changes"),
      info("graft_changes",
        "graft_changes(tableDir, fromVersion, toVersion) - per-commit change rows"),
      (args: Seq[Expression]) => {
        arity("graft_changes", "graft_changes(tableDir, fromVersion, toVersion)", args, 3, 3);
        graft.sources.TableReader.changelog(
          org.apache.spark.sql.SparkSession.active,
          lit2Str(args.head, "tableDir"),
          lit2Long(args(1), "fromVersion"),
          lit2Long(args(2), "toVersion"))
          .queryExecution.logical }))

    // NET changes in SQL — intra-interval churn cancelled per row value:
    //   SELECT * FROM graft_net_changes('/path/to/table', 3, 7)
    ext.injectTableFunction((FunctionIdentifier("graft_net_changes"),
      info("graft_net_changes",
        "graft_net_changes(tableDir, fromVersion, toVersion) - " +
          "netted change rows (endpoint multiset diff at changelog cost)"),
      (args: Seq[Expression]) => {
        arity("graft_net_changes", "graft_net_changes(tableDir, fromVersion, toVersion)", args, 3, 3);
        graft.sources.TableReader.netChangelog(
          org.apache.spark.sql.SparkSession.active,
          lit2Str(args.head, "tableDir"),
          lit2Long(args(1), "fromVersion"),
          lit2Long(args(2), "toVersion"))
          .queryExecution.logical }))

    // UPDATE-paired changes in SQL (Iceberg compute_updates shape):
    //   SELECT * FROM graft_updates('/t', 3, 7, 'id')         -- one key
    //   SELECT * FROM graft_updates('/t', 3, 7, 'id,region')  -- composite
    ext.injectTableFunction((FunctionIdentifier("graft_updates"),
      info("graft_updates",
        "graft_updates(tableDir, fromVersion, toVersion, identifierCols) - " +
          "change rows with delete+insert pairs re-typed update_pre/postimage"),
      (args: Seq[Expression]) => {
        arity("graft_updates", "graft_updates(tableDir, fromVersion, toVersion, identifierCols)", args, 4, 4);
        graft.sources.TableReader.changelogUpdates(
          org.apache.spark.sql.SparkSession.active,
          lit2Str(args.head, "tableDir"),
          lit2Long(args(1), "fromVersion"),
          lit2Long(args(2), "toVersion"),
          lit2Str(args(3), "identifierCols").split(",").map(_.trim).toSeq
            .filter(_.nonEmpty))
          .queryExecution.logical }))

    ext.injectTableFunction((FunctionIdentifier("graft_table"),
      info("graft_table",
        "graft_table(tableDir[, asOfVersion]) - merge-on-read rows of a graft table"),
      (args: Seq[Expression]) => {
        arity("graft_table", "graft_table(tableDir[, asOfVersion])", args, 1, 2)
        val dir = lit2Str(args.head, "tableDir")
        val version =
          if (args.size > 1) Some(lit2Long(args(1), "asOfVersion")) else None
        graft.sources.TableReader
          .read(org.apache.spark.sql.SparkSession.active, dir,
            asOfVersion = version)
          .queryExecution.logical
      }))
  }
}
