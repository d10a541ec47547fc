package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-callable registration of the engine's native Catalyst kernels — the
  * standard `SparkSessionExtensions` install path:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)          // programmatic
  * // or spark.sql.extensions=graft.GraftExtensions  (config / spark-submit)
  * }}}
  *
  * After installation the kernels are plain SQL functions —
  * `SELECT graft_minhash(graft_shingles(split(text, ' '), 5), 64)` — usable
  * from pure-SQL clients, not just the Scala Column API. Parameterized
  * kernels take their parameters as literal arguments (resolved at plan
  * time, so the per-row fast path is unchanged).
  *
  * [[VectorExpressions]]' `createOrReplaceTempFunction` path remains for
  * sessions built without extensions (the Column API calls it lazily).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // SQL UPDATE / MERGE INTO on GraftCatalog tables ([[GraftDmlRule]]).
    // A RESOLUTION rule on purpose: it must replace the resolved
    // UpdateTable/MergeIntoTable inside the fixed point, before Spark's
    // row-level rewrite refuses the non-SupportsRowLevelOperations table.
    ext.injectResolutionRule(_ => new GraftDmlRule)
    // queries over the driver-built metadata tables plan job-free
    ext.injectPlannerStrategy(_ => LocalScanStrategy)
  }
}

object GraftExtensions {

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** (name, info, builder) triples — shared by the extensions hook and
    * [[register]] so both install paths expose the identical surface. */
  private[graft] val functions: Seq[(String, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    ("graft_vec_dot",
      info("graft_vec_dot", "graft_vec_dot(a, b) - dot product of two double arrays"),
      es => VectorExpressions.VecDot(es(0), es(1))),
    ("graft_vec_normalize",
      info("graft_vec_normalize", "graft_vec_normalize(v) - l2-normalized copy"),
      es => VectorExpressions.VecNormalize(es.head)),
    ("graft_shingles",
      info("graft_shingles", "graft_shingles(tokens, n) - distinct word n-gram shingles"),
      es => VectorExpressions.ShinglesExpr(es(0), litInt(es(1), "shingle width n"))),
    ("graft_minhash",
      info("graft_minhash", "graft_minhash(shingles, k) - k-lane MinHash signature"),
      es => VectorExpressions.MinhashSig(es(0), litInt(es(1), "lane count k"))),
    ("graft_simhash",
      info("graft_simhash", "graft_simhash(tokens) - 64-bit SimHash"),
      es => VectorExpressions.SimhashExpr(es.head)),
    ("graft_mix64",
      info("graft_mix64", "graft_mix64(x) - splitmix64 finalizer of a long"),
      es => VectorExpressions.Mix64Expr(es.head)),
    // Spark's own runtime-filter bloom machinery, surfaced as callable
    // functions: the distributed build (partial blooms OR-merged by the
    // aggregate) and the probe. Spark keeps them internal-only; exposing
    // them through the same registry as the graft kernels makes the
    // 100 TB decontamination prefilter expressible in one line of SQL.
    ("graft_bloom_agg",
      info("graft_bloom_agg",
        "graft_bloom_agg(xxhash64(x), est_items, num_bits) - bloom filter bytes"),
      es => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(es(0), es(1), es(2))),
    ("graft_bloom_contains",
      info("graft_bloom_contains",
        "graft_bloom_contains(bloom, xxhash64(x)) - bloom membership probe"),
      es => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(es(0), es(1))),
    ("graft_iceberg_bucket",
      info("graft_iceberg_bucket", "graft_iceberg_bucket(col, n) - Iceberg-spec bucket transform"),
      es => IcebergBucketing.IcebergBucket(es(0), litInt(es(1), "bucket count n"))))

  /** Install the same functions and the [[LocalScanStrategy]] on an
    * already-built session (extensions can only be declared at build time;
    * this is the post-hoc equivalent). */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(LocalScanStrategy))
      spark.experimental.extraStrategies = strategies :+ LocalScanStrategy
  }
}
