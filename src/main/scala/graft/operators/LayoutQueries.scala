package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-backed queries for the [[ZOrder]] / [[ZoneMaps]] layout layer.
  *
  * Dimension encoding shared by both queries (exact integer parity with
  * DuckDB, per the repo's hash-parity conventions):
  *  - time: `unix_micros(ts)` ≡ DuckDB `epoch_us(ts)`;
  *  - money: `CAST(value AS DECIMAL(18,2)) * 100 → BIGINT` cents — never
  *    raw-double math, which has no cross-engine bit guarantee through a
  *    division.
  */
object LayoutQueries {

  private val Bits = 16

  private def withDims(e: DataFrame): DataFrame = e
    .withColumn("x_us", unix_micros(col("ts")))
    .withColumn("y_c", (col("value").cast("decimal(18,2)") * 100).cast("long"))

  /** Per-event z-value over (time, value-cents): checks the whole integer
    * pipeline — normalization `div` and 16+16 bit interleave — against a
    * DuckDB replay. The z-value IS the persisted layout key, so bit parity
    * here is what makes a z-ordered table portable across writers. */
  def zorderCells(spark: SparkSession, sfDir: String): DataFrame = {
    val e = withDims(Tables.events(spark, sfDir))
    val b = ZOrder.boundsOf(e, Seq("x_us", "y_c"))
    e.select(col("event_id"),
        ZOrder.zvalue(Seq(
          ("x_us", b("x_us")._1, b("x_us")._2),
          ("y_c", b("y_c")._1, b("y_c")._2)), Bits).as("zval"))
      .orderBy(col("event_id"))
  }

  val zorderCellsSql: String =
    """WITH e AS (SELECT event_id, epoch_us(ts) AS x,
      |                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |           FROM events),
      |b AS (SELECT min(x) AS mnx, max(x) AS mxx,
      |             min(y) AS mny, max(y) AS mxy FROM e),
      |n AS (SELECT event_id,
      |        ((x - mnx) * 65535) // greatest(mxx - mnx, 1) AS nx,
      |        ((y - mny) * 65535) // greatest(mxy - mny, 1) AS ny
      |      FROM e CROSS JOIN b)
      |SELECT event_id,
      |  CAST(list_sum([((nx >> bb) & 1) * CAST(power(2, 2*bb) AS BIGINT)
      |               + ((ny >> bb) & 1) * CAST(power(2, 2*bb+1) AS BIGINT)
      |               FOR bb IN generate_series(0, 15)]) AS BIGINT) AS zval
      |FROM n ORDER BY event_id""".stripMargin

  /** Per-event Hilbert index over the same (time, value-cents) dims at
    * 8 bits/dim: pins every unrolled xy2d level — rotation, swap, the
    * quadrant offset — against a DuckDB replay of the identical walk.
    * Like the z-value, the Hilbert index is a persisted layout key, so
    * bit parity is the portability contract. */
  def hilbertCells(spark: SparkSession, sfDir: String): DataFrame = {
    val e = withDims(Tables.events(spark, sfDir))
    val b = ZOrder.boundsOf(e, Seq("x_us", "y_c"))
    def norm(name: String): org.apache.spark.sql.Column = {
      val (mn, mx) = b(name)
      val span = math.max(mx - mn, 1L)
      expr(s"((($name) - ${mn}L) * 255L) div ${span}L")
    }
    Hilbert.withHilbert(
        e.select(col("event_id"), norm("x_us").as("nx"), norm("y_c").as("ny")),
        "nx", "ny", bits = 8, outCol = "hval")
      .select(col("event_id"), col("hval"))
      .orderBy(col("event_id"))
  }

  val hilbertCellsSql: String = {
    val levels = (7 to 0 by -1).map { lvl =>
      val s = 1L << lvl
      s"""l$lvl AS (SELECT event_id,
         |  CASE WHEN ((y >> $lvl) & 1) = 0 THEN
         |    (CASE WHEN ((x >> $lvl) & 1) = 1 THEN ${s - 1} - y ELSE y END)
         |  ELSE x END AS x,
         |  CASE WHEN ((y >> $lvl) & 1) = 0 THEN
         |    (CASE WHEN ((x >> $lvl) & 1) = 1 THEN ${s - 1} - x ELSE x END)
         |  ELSE y END AS y,
         |  d + ${s * s} * xor(3 * ((x >> $lvl) & 1), (y >> $lvl) & 1) AS d
         |FROM l${lvl + 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT event_id, epoch_us(ts) AS x,
       |                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
       |           FROM events),
       |b AS (SELECT min(x) AS mnx, max(x) AS mxx,
       |             min(y) AS mny, max(y) AS mxy FROM e),
       |l8 AS (SELECT event_id,
       |         ((x - mnx) * 255) // greatest(mxx - mnx, 1) AS x,
       |         ((y - mny) * 255) // greatest(mxy - mny, 1) AS y,
       |         CAST(0 AS BIGINT) AS d
       |       FROM e CROSS JOIN b),
       |$levels
       |SELECT event_id, d AS hval FROM l0 ORDER BY event_id""".stripMargin
  }

  /** End-to-end layout round-trip: events are z-order-clustered into 48
    * range files, zone maps are computed, and a 2-D rectangle predicate
    * (3 days × value band) is answered from the PRUNED file set only. The
    * aggregate must equal the plain full-scan oracle — if pruning ever
    * skipped a file containing a matching row, the hash would differ — and
    * `pruned` (files_read < files_total) is pinned TRUE, so the oracle also
    * proves skipping actually engaged. */
  def zonemapPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val (sink, zm) = zonemappedEvents(spark, sfDir)
    val lo = lit("2024-01-10 00:00:00").cast("timestamp")
    val hi = lit("2024-01-12 23:59:59.999999").cast("timestamp")
    val pruned = zm.readBetween(spark,
      ("ts", lo, hi), ("value", lit(100.0), lit(200.0)))
    val total = sink.read(spark).inputFiles.length
    val kept = pruned.inputFiles.length
    pruned
      .filter(col("ts").between(lo, hi) &&
        col("value").between(lit(100.0), lit(200.0)))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .withColumn("pruned", lit(kept < total))
  }

  // The two query pairs (prune / in-plan) probe the SAME immutable
  // fixture: built once per (JVM, sfDir) and shared — the fixture is
  // scaffolding, the measured unit is the skipping operator, and
  // rebuilding an identical clustered+analyzed table per query was the
  // bench's single largest attributed fixture term (split:zonemap_prune,
  // BENCH_SCALING round-11). Post-analyze the table is never written
  // again, so sharing cannot couple the queries' results.
  private val zonemapFixture =
    new java.util.concurrent.ConcurrentHashMap[String, (TableSink, ZoneMaps)]()
  private val bloomFixture =
    new java.util.concurrent.ConcurrentHashMap[String, (TableSink, BloomSkip)]()

  private def zonemappedEvents(spark: SparkSession,
      sfDir: String): (TableSink, ZoneMaps) =
    zonemapFixture.computeIfAbsent(sfDir, _ => {
      val e = withDims(Tables.events(spark, sfDir))
      val dest = Fixtures.fresh("graft_wh")
      val sink = new TableSink(SinkConfig("events_z", dest, versioned = true))
      val b = ZOrder.boundsOf(e, Seq("x_us", "y_c"))
      sink.appendClustered(
        ZOrder.cluster(e, Seq(
          ("x_us", b("x_us")._1, b("x_us")._2),
          ("y_c", b("y_c")._1, b("y_c")._2)), nRanges = 48, Bits)
          .drop("x_us", "y_c"))
      val zm = new ZoneMaps(sink)
      zm.analyze(spark, Seq("ts", "value"))
      (sink, zm)
    })

  /** The same rectangle predicate answered through
    * [[ZoneMaps.readBetweenInPlan]] — the driver-free skipping variant:
    * the pruned file set stays a metadata DataFrame anti-joined against
    * `_metadata.file_path` inside the plan, so no file path is ever
    * collected. Must hash-match the identical full-scan oracle as
    * `q_zonemap_prune` (if the anti-join dropped a surviving file's rows
    * — or kept a pruned file's rows past the caller predicate — the
    * aggregate would differ). */
  def zonemapInPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, zm) = zonemappedEvents(spark, sfDir)
    val lo = lit("2024-01-10 00:00:00").cast("timestamp")
    val hi = lit("2024-01-12 23:59:59.999999").cast("timestamp")
    zm.readBetweenInPlan(spark,
        ("ts", lo, hi), ("value", lit(100.0), lit(200.0)))
      .filter(col("ts").between(lo, hi) &&
        col("value").between(lit(100.0), lit(200.0)))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .withColumn("in_plan", lit(true))
  }

  /** Shared harness of the two clustered-rewrite queries: worst-case
    * salted append, the given in-place rewrite, zone analysis, and the
    * pruned 2-D rectangle aggregate — both curves must hash-match ONE
    * oracle (the layout choice can only change file-touch counts, never
    * results), and `flag` pins that pruning actually engaged. */
  private def rewriteHarness(spark: SparkSession, sfDir: String,
      table: String, flag: String)(
      rewrite: TableSink => Unit): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(table, dest, numPartitions = 8))
    sink.append(e) // unclustered: 8 salted writers, zones span everything
    rewrite(sink)
    val zm = new ZoneMaps(sink)
    zm.analyze(spark, Seq("ts", "value"))
    val lo = lit("2024-01-10 00:00:00").cast("timestamp")
    val hi = lit("2024-01-12 23:59:59.999999").cast("timestamp")
    val pruned = zm.readBetween(spark,
      ("ts", lo, hi), ("value", lit(100.0), lit(200.0)))
    val total = sink.read(spark).inputFiles.length
    val kept = pruned.inputFiles.length
    pruned
      .filter(col("ts").between(lo, hi) &&
        col("value").between(lit(100.0), lit(200.0)))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .withColumn(flag, lit(kept < total))
  }

  private def rewriteOracleSql(flag: String): String =
    s"""SELECT COUNT(*) AS n,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       |  min(event_id) AS min_id,
       |  max(event_id) AS max_id,
       |  TRUE AS $flag
       |FROM events
       |WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
       |             AND TIMESTAMP '2024-01-12 23:59:59.999999'
       |  AND value BETWEEN 100.0 AND 200.0""".stripMargin

  /** The clustered-REWRITE path to the same layout `q_zonemap_prune`
    * reaches by clustered APPEND: events land unclustered (plain append,
    * sink-salted files — the worst case for zones), then
    * [[TableSink.clusterBy]] rewrites the table z-ordered in place, zone
    * maps are computed, and the identical 2-D rectangle is answered from
    * the pruned file set. Equality with the full-scan oracle proves the
    * rewrite lost/duplicated nothing AND the layout actually tightened
    * (pruning pinned engaged — unclustered salted files would prune ~0). */
  def clusterRewrite(spark: SparkSession, sfDir: String): DataFrame =
    rewriteHarness(spark, sfDir, "events_cr", "rewrite_pruned")(
      _.clusterBy(spark, Seq("unix_micros(ts)",
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"), nRanges = 48))

  val clusterRewriteSql: String = rewriteOracleSql("rewrite_pruned")

  /** The same in-place clustered-rewrite contract as `q_cluster_rewrite`,
    * through the HILBERT curve ([[TableSink.clusterByHilbert]]): rewrite
    * lost/duplicated nothing and the curve layout prunes the identical
    * 2-D rectangle. Both rewrite paths hash-match one oracle — the layout
    * choice must never change results, only file-touch counts. */
  def hilbertRewrite(spark: SparkSession, sfDir: String): DataFrame =
    rewriteHarness(spark, sfDir, "events_hr", "hilbert_pruned")(
      _.clusterByHilbert(spark, "unix_micros(ts)",
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)", nRanges = 48))

  val hilbertRewriteSql: String = rewriteOracleSql("hilbert_pruned")

  /** Bloom-filter point-lookup skipping — the predicate zone maps are
    * STRUCTURALLY blind to: events are HASH-clustered by `user_id` into 48
    * files (each user's rows land in exactly one file, but every file's
    * min/max user_id spans the whole domain, so no range zone can prune),
    * then a single-user equality probe is answered from the Bloom-admitted
    * file set only. The aggregate must equal the plain full-scan oracle —
    * a skipped file containing the user would change the hash (Bloom
    * one-sidedness: false positives cost I/O, false negatives are
    * impossible) — and `pruned` is pinned TRUE, so the oracle also proves
    * skipping engaged. */
  def bloomPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val (sink, bf) = bloomedEvents(spark, sfDir)
    val probed = bf.readEquals(spark, ("user_id", lit(7L)))
    val total = sink.read(spark).inputFiles.length
    val kept = probed.inputFiles.length
    probed
      .filter(col("user_id") === 7L)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .withColumn("pruned", lit(kept < total))
  }

  private def bloomedEvents(spark: SparkSession,
      sfDir: String): (TableSink, BloomSkip) =
    bloomFixture.computeIfAbsent(sfDir, _ => {
      val e = Tables.events(spark, sfDir)
      val dest = Fixtures.fresh("graft_wh")
      val sink = new TableSink(SinkConfig("events_bloom", dest,
        versioned = true))
      sink.appendClustered(e.repartition(48, col("user_id")))
      val bf = new BloomSkip(sink)
      bf.analyze(spark, Seq("user_id"))
      (sink, bf)
    })

  /** The same single-user probe answered through
    * [[BloomSkip.readEqualsInPlan]] — the driver-free variant: the pruned
    * file set stays a broadcast metadata DataFrame anti-joined against
    * `_metadata.file_path` inside the plan. Must hash-match the identical
    * full-scan oracle as `q_bloom_prune`. */
  def bloomInPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, bf) = bloomedEvents(spark, sfDir)
    bf.readEqualsInPlan(spark, ("user_id", lit(7L)))
      .filter(col("user_id") === 7L)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .withColumn("in_plan", lit(true))
  }

  val bloomPruneSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  min(event_id) AS min_id,
      |  max(event_id) AS max_id,
      |  TRUE AS pruned
      |FROM events
      |WHERE user_id = 7""".stripMargin

  val bloomInPlanSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  min(event_id) AS min_id,
      |  max(event_id) AS max_id,
      |  TRUE AS in_plan
      |FROM events
      |WHERE user_id = 7""".stripMargin

  val zonemapPruneSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  min(event_id) AS min_id,
      |  max(event_id) AS max_id,
      |  TRUE AS pruned
      |FROM events
      |WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
      |             AND TIMESTAMP '2024-01-12 23:59:59.999999'
      |  AND value BETWEEN 100.0 AND 200.0""".stripMargin

  val zonemapInPlanSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  min(event_id) AS min_id,
      |  max(event_id) AS max_id,
      |  TRUE AS in_plan
      |FROM events
      |WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
      |             AND TIMESTAMP '2024-01-12 23:59:59.999999'
      |  AND value BETWEEN 100.0 AND 200.0""".stripMargin
}
