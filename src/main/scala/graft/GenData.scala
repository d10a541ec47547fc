package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator for BENCH SCALING runs beyond
  * the driver-provided fixtures (TESTDATA.md stops at sf0.1; the 100 TB
  * design claims want at least one decade of empirical scaling). Produces
  * the same ten-table schema with the same key ranges, value domains, and
  * distribution shapes as the sf0.1 fixture (profiled via DuckDB), scaled
  * by `--sf`; region/nation are copied verbatim (fixed cardinality).
  *
  * NOT a correctness fixture: oracle hashes are only checked on the
  * driver's own testdata. This data exists so `graft.Bench` can measure
  * how every query's wall-time grows with 10× rows.
  *
  * Scale shape (the generator itself must scale): every table is a
  * `spark.range` → per-row splitmix64-derived columns — no driver-side
  * row materialization, no shuffle except lineitem's order-explode and the
  * final file write.
  *
  * Usage: runMain graft.GenData <outDir> <sf>   (sf relative to 1.0 =
  * 10× the sf0.1 fixture; 6M lineitem rows)
  */
object GenData {

  /** splitmix64-backed uniform in [0,1) keyed by (row key, salt) — the
    * engine's standard deterministic-uniform recipe (top 53 bits + ½). */
  private def u(spark: SparkSession, key: Column, salt: Long): Column =
    (shiftrightunsigned(
      VectorExpressions.mix64Col(spark, key * lit(1000003L) + lit(salt)), 11)
      .cast("double") + lit(0.5)) / lit(9007199254740992.0)

  /** Non-negative hash bucket in [0, n). */
  private def bucket(spark: SparkSession, key: Column, salt: Long, n: Int): Column =
    pmod(VectorExpressions.mix64Col(spark, key * lit(1000003L) + lit(salt)),
      lit(n.toLong))

  private def pick(b: Column, choices: Seq[String]): Column =
    element_at(array(choices.map(lit): _*), (b % choices.size).cast("int") + 1)

  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "bench_data/sf1"
    val sf = if (args.length > 1) args(1).toDouble else 1.0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.local(cpus.toInt)
    generate(spark, outDir, sf)
    spark.stop()
  }

  def generate(spark: SparkSession, outDir: String, sf: Double): Unit = {
    val nCustomer = (150000 * sf).toLong
    val nSupplier = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrders = (1500000 * sf).toLong
    val nEvents = (1000000 * sf).toLong
    val nUsers = (15000 * sf).toLong
    val nDocs = (50000 * sf).toLong
    val nVecs = (20000 * sf).toLong

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // fixed-cardinality dimensions: copy the fixture rows verbatim
    write(Tables.region(spark, "/root/testdata/sf0.1").coalesce(1), "region")
    write(Tables.nation(spark, "/root/testdata/sf0.1").coalesce(1), "nation")

    val cust = spark.range(nCustomer).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      bucket(spark, col("id"), 11, 25).cast("int").as("c_nationkey"),
      round(u(spark, col("id"), 12) * 10999.79 - 999.99, 2).as("c_acctbal"),
      pick(bucket(spark, col("id"), 13, 5),
        Seq("AUTOMOBILE", "FURNITURE", "MACHINERY", "HOUSEHOLD", "BUILDING"))
        .as("c_mktsegment"))
    write(cust, "customer")

    val supp = spark.range(nSupplier).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), col("id")).as("s_name"),
      bucket(spark, col("id"), 21, 25).cast("int").as("s_nationkey"),
      round(u(spark, col("id"), 22) * 10999.79 - 999.99, 2).as("s_acctbal"))
    write(supp, "supplier")

    val part = spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(lit("part "), pick(bucket(spark, col("id"), 31, 6),
        Seq("ivory", "azure", "linen", "plum", "slate", "khaki")),
        lit(" "), col("id")).as("p_name"),
      concat(lit("Brand#"),
        (bucket(spark, col("id"), 32, 45) + 10).cast("string")).as("p_brand"),
      pick(bucket(spark, col("id"), 33, 6),
        Seq("ECONOMY", "MEDIUM", "SMALL", "PROMO", "LARGE", "STANDARD"))
        .as("p_type"),
      (bucket(spark, col("id"), 34, 50) + 1).cast("int").as("p_size"),
      round(u(spark, col("id"), 35) * 900.0 + 99.9, 2).as("p_retailprice"))
    write(part, "part")

    // order dates span 1995-01-01 .. 2001-08-01 (the fixture window)
    val orderEpochLo = 788918400L // 1995-01-01 UTC
    val orderDays = 2404
    val orders = spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      bucket(spark, col("id"), 41, nCustomer.toInt).as("o_custkey"),
      pick(bucket(spark, col("id"), 42, 10),
        Seq("F", "F", "F", "F", "O", "O", "O", "O", "O", "P"))
        .as("o_orderstatus"),
      round(u(spark, col("id"), 43) * 498991.27 + 1001.91, 2)
        .as("o_totalprice"),
      timestamp_seconds(lit(orderEpochLo) +
        bucket(spark, col("id"), 44, orderDays) * 86400L).as("o_orderdate"),
      pick(bucket(spark, col("id"), 45, 5),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    write(orders, "orders")

    // lineitem: 1..7 lines per order (avg 4, matching the fixture's 4.07);
    // ship date = order date + 1..120 days
    val li = orders.select(col("o_orderkey"), col("o_orderdate"),
        (bucket(spark, col("o_orderkey"), 51, 7) + 1).cast("int").as("n_lines"))
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), col("n_lines"))).as("l_linenumber"))
    val lkey = col("o_orderkey") * lit(100L) + col("l_linenumber")
    val lineitem = li.select(
      col("o_orderkey").as("l_orderkey"),
      bucket(spark, lkey, 52, nPart.toInt).as("l_partkey"),
      bucket(spark, lkey, 53, nSupplier.toInt).as("l_suppkey"),
      col("l_linenumber"),
      (bucket(spark, lkey, 54, 50) + 1).cast("double").as("l_quantity"),
      round(u(spark, lkey, 55) * 104099.23 + 900.68, 2).as("l_extendedprice"),
      (bucket(spark, lkey, 56, 11).cast("double") / 100.0).as("l_discount"),
      (bucket(spark, lkey, 57, 9).cast("double") / 100.0).as("l_tax"),
      pick(bucket(spark, lkey, 58, 10),
        Seq("N", "N", "N", "N", "N", "A", "A", "A", "R", "R"))
        .as("l_returnflag"),
      pick(bucket(spark, lkey, 59, 2), Seq("O", "F")).as("l_linestatus"),
      timestamp_seconds(unix_timestamp(col("o_orderdate")) +
        (bucket(spark, lkey, 60, 120) + 1) * 86400L).as("l_shipdate"))
    write(lineitem, "lineitem")

    // events.ts is written as BIGINT NANOS, the shape Tables.events and
    // the streaming source expect to post-process (the driver fixture is
    // TIMESTAMP_NS parquet, which Spark cannot write)
    val evEpochLo = 1704067200L // 2024-01-01 UTC
    val evSpan = 30L * 86400L
    val events = spark.range(nEvents).select(
      col("id").as("event_id"),
      ((lit(evEpochLo) +
        (u(spark, col("id"), 61) * evSpan.toDouble).cast("long"))
        * lit(1000000000L)).as("ts"),
      bucket(spark, col("id"), 62, nUsers.toInt).as("user_id"),
      pick(bucket(spark, col("id"), 63, 20),
        Seq("view", "view", "view", "view", "view", "view", "view", "view",
          "view", "view", "click", "click", "click", "click", "click",
          "purchase", "purchase", "signup", "signup", "error"))
        .as("event_type"),
      round(u(spark, col("id"), 64) * 560.21, 2).as("value"),
      concat(lit("{\"k\": "), bucket(spark, col("id"), 65, 100),
        lit("}")).as("props"))
    write(events, "events")

    // documents: 10..100 words from the fixture's 31-word vocabulary
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
      "dup", "fast", "filter", "group", "hash", "join", "key", "line",
      "merge", "order", "part", "query", "row", "scan", "slow", "small",
      "sort", "spark", "stream", "table", "the", "value", "vector", "window")
    val nWords = (bucket(spark, col("id"), 71, 91) + 10).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      pick(bucket(spark, col("id") * lit(131L) + i.cast("long"), 72,
        vocab.size), vocab))
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      array_join(words, " ").as("text"),
      pick(bucket(spark, col("id"), 73, 10),
        Seq("en", "en", "en", "en", "de", "de", "es", "es", "fr", "zh"))
        .as("lang"),
      concat(lit("src"), bucket(spark, col("id"), 74, 20)).as("source"))
      .withColumn("n_chars", length(col("text")))
    write(docs, "documents")

    // embeddings: 64-dim float32 with 10 label clusters (a +0.5 bump on
    // dimensions congruent to the label keeps nearest-class-mean realistic)
    val dims = transform(sequence(lit(1), lit(64)), d =>
      ((u(spark, col("id") * lit(67L) + d.cast("long"), 81) - 0.5) * 0.9 +
        when(pmod(d.cast("long"), lit(10L)) === pmod(col("id"), lit(10L)),
          0.5).otherwise(0.0)).cast("float"))
    val vecs = spark.range(nVecs).select(
      col("id").as("vec_id"),
      dims.as("embedding"),
      pmod(col("id"), lit(10L)).cast("int").as("label"))
    write(vecs, "embeddings")

    println(s"generated sf=$sf at $outDir: lineitem=${(6000000 * sf).toLong}" +
      s" (approx), docs=$nDocs, events=$nEvents, vecs=$nVecs")
  }
}
