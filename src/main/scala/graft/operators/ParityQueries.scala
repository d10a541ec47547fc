package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries exposing the reference-parity operator surface
  * (SURVEY.md §2.1-2.4): partition transforms, SerDes, validation split,
  * enrichment, coercion, and the partitioned table sink round-trip.
  */
object ParityQueries {

  /** §1.4 transform library over `events` (identity/day/month/year/hour/
    * truncate on string + int). Dates/months rendered as partition-value
    * strings — that is exactly what hidden partitioning materializes.
    */
  def partitionTransforms(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val sch = e.schema
    def t(tr: Transform, c: String) = tr(col(c), sch(c).dataType)
    e.select(
      $"event_id",
      t(Transform.Identity, "event_type").as("event_type"),
      t(Transform.Day, "ts").cast("string").as("day_str"),
      t(Transform.Month, "ts").as("month_str"),
      t(Transform.Year, "ts").cast("long").as("yr"),
      t(Transform.Hour, "ts").as("hr"),
      t(Transform.Truncate(10), "user_id").as("user_trunc"),
      t(Transform.Truncate(3), "event_type").as("type_trunc"))
      .orderBy($"event_id")
  }

  val partitionTransformsSql: String =
    """SELECT event_id, event_type,
      |  CAST(CAST(ts AS DATE) AS VARCHAR) AS day_str,
      |  strftime(ts, '%Y-%m') AS month_str,
      |  CAST(year(ts) AS BIGINT) AS yr,
      |  strftime(ts, '%Y-%m-%d-%H') AS hr,
      |  user_id - ((user_id % 10) + 10) % 10 AS user_trunc,
      |  substring(event_type, 1, 3) AS type_trunc
      |FROM events ORDER BY event_id""".stripMargin

  /** bucket[N] transform — hash-checked against [[OracleSql.bucketTransformSql]]
    * (murmur3_x86_32 unrolled into SQL, seeds 42 and 0); specs additionally
    * assert range/stability and Iceberg-spec test vectors. Emits both the
    * Spark-native bucket and the Iceberg-bit-exact bucket (IcebergBucketing). */
  def bucketTransform(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    e.select($"event_id",
      Transform.Bucket(16)(col("user_id"), e.schema("user_id").dataType)
        .cast("long").as("bucket"),
      IcebergBucketing.icebergBucket(spark, $"user_id", 16)
        .cast("long").as("iceberg_bucket"))
      .orderBy($"event_id")
  }

  /** Scalar-function breadth (SURVEY §2.5 "string/date/math/array" row):
    * a curated set whose semantics are bit-identical across engines
    * (IEEE-exact math only — no libm-dependent pow/log in outputs). */
  def scalarFunctions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    e.select(
      $"event_id",
      upper($"event_type").as("upper_type"),
      lpad($"event_type", 10, "_").as("padded"),
      regexp_replace($"event_type", "c", "k").as("replaced"),
      reverse($"event_type").as("reversed"),
      concat_ws("-", $"event_type", $"user_id").as("concatenated"),
      date_add(to_date($"ts"), 7).cast("string").as("week_later"),
      datediff(to_date($"ts"), lit("2024-01-01").cast("date"))
        .cast("long").as("days_since"),
      round(abs($"value" - 100.0), 2).as("abs_diff"),
      floor($"value").cast("long").as("floored"),
      ceil($"value").cast("long").as("ceiled"),
      ($"value" * $"value").as("squared"),
      array_join(array_sort(split($"event_type", "")), "").as("sorted_chars"),
      size(split($"event_type", "")).cast("long").as("n_chars"))
      .orderBy($"event_id")
  }

  val scalarFunctionsSql: String =
    """SELECT event_id,
      |  upper(event_type) AS upper_type,
      |  lpad(event_type, 10, '_') AS padded,
      |  regexp_replace(event_type, 'c', 'k', 'g') AS replaced,
      |  reverse(event_type) AS reversed,
      |  event_type || '-' || user_id AS concatenated,
      |  CAST(CAST(ts AS DATE) + 7 AS VARCHAR) AS week_later,
      |  CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS days_since,
      |  round(abs("value" - 100.0), 2) AS abs_diff,
      |  CAST(floor("value") AS BIGINT) AS floored,
      |  CAST(ceil("value") AS BIGINT) AS ceiled,
      |  "value" * "value" AS squared,
      |  array_to_string(list_sort(string_split(event_type, '')), '') AS sorted_chars,
      |  CAST(length(event_type) AS BIGINT) AS n_chars
      |FROM events ORDER BY event_id""".stripMargin

  /** Aggregate-function breadth (the families the relational queries don't
    * touch): bitwise aggregates, boolean aggregates, conditional counting,
    * and arg-min/max selection. All order-independent (bitwise/boolean ops
    * commute; min_by keys on the unique event_id) → hash-deterministic. */
  def aggBreadth(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(
        bit_and($"user_id").as("band"),
        bit_or($"user_id").as("bor"),
        bit_xor($"user_id").as("bxor"),
        bool_and($"value" < 1000.0).as("all_small"),
        bool_or($"value" > 90.0).as("any_big"),
        count_if($"value" > 50.0).as("n_over_50"),
        min_by($"user_id", $"event_id").as("first_user"),
        max_by($"user_id", $"event_id").as("last_user"))
      .orderBy($"event_type")
  }

  val aggBreadthSql: String =
    """SELECT event_type,
      |  bit_and(user_id) AS band,
      |  bit_or(user_id) AS bor,
      |  bit_xor(user_id) AS bxor,
      |  bool_and(value < 1000.0) AS all_small,
      |  bool_or(value > 90.0) AS any_big,
      |  CAST(count_if(value > 50.0) AS BIGINT) AS n_over_50,
      |  arg_min(user_id, event_id) AS first_user,
      |  arg_max(user_id, event_id) AS last_user
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Pivot (wide-format conditional aggregation): daily event counts with
    * one column per event type. The pivot values are DECLARED, not
    * discovered — `pivot(col, values)` with an explicit list keeps the
    * plan a single groupBy with conditional aggregates (one shuffle,
    * map-side partial); omitting the list adds a blocking distinct-values
    * job over the full input before the plan can even be built, which at
    * 100 TB is a scan you pay twice. Day is emitted as a formatted string
    * so both engines compare the same lexical value. */
  def pivotDaily(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(date_format($"ts", "yyyy-MM-dd").as("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy($"day")
  }

  val pivotDailySql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day,
      |  CAST(count_if(event_type = 'click') AS BIGINT) AS click,
      |  CAST(count_if(event_type = 'error') AS BIGINT) AS error,
      |  CAST(count_if(event_type = 'purchase') AS BIGINT) AS purchase,
      |  CAST(count_if(event_type = 'signup') AS BIGINT) AS signup,
      |  CAST(count_if(event_type = 'view') AS BIGINT) AS view
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** Datetime-function breadth beyond the partition transforms: quarter,
    * weekday (Spark's 1=Sunday convention vs DuckDB's 0=Sunday is bridged
    * with +1 in the oracle), month-end, week truncation, clamped month
    * arithmetic, and epoch seconds — all rendered to engine-neutral
    * strings/longs. */
  def datetimeBreadth(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the fixture's ts all falls in one month — spread rows over 12 months
    // (by user_id) so quarter/month-end/clamping are exercised across the
    // whole year, not just January
    val vts = expr("timestampadd(MONTH, pmod(user_id, 12), ts)")
    Tables.events(spark, sfDir)
      .select(
        $"event_id",
        quarter(vts).cast("long").as("qtr"),
        dayofweek(vts).cast("long").as("dow"),
        last_day(to_date(vts)).cast("string").as("month_end"),
        date_trunc("week", vts).cast("string").as("week_start"),
        add_months(to_date(vts), 1).cast("string").as("next_month"),
        unix_timestamp($"ts").cast("long").as("epoch_s"))
      .orderBy($"event_id")
  }

  val datetimeBreadthSql: String =
    """WITH t AS (
      |  SELECT event_id, ts,
      |    ts + to_months(CAST(((user_id % 12) + 12) % 12 AS INT)) AS vts
      |  FROM events)
      |SELECT event_id,
      |  CAST(quarter(vts) AS BIGINT) AS qtr,
      |  CAST(dayofweek(vts) + 1 AS BIGINT) AS dow,
      |  CAST(last_day(CAST(vts AS DATE)) AS VARCHAR) AS month_end,
      |  CAST(CAST(date_trunc('week', vts) AS TIMESTAMP) AS VARCHAR) AS week_start,
      |  CAST(CAST(CAST(vts AS DATE) + INTERVAL 1 MONTH AS DATE) AS VARCHAR) AS next_month,
      |  CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
      |FROM t ORDER BY event_id""".stripMargin

  /** Array-function breadth: set operations (sorted + joined to strings —
    * element ORDER of intersect/union/except differs between engines, the
    * set itself does not), position (Spark's 0-for-missing vs DuckDB's
    * NULL bridged with coalesce), containment, extrema and slicing, over
    * deterministic integer sequences derived from the row. */
  def arrayBreadth(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // upper bound ranges 2..6, so a = [1..2] up to [1..6]: length-2 arrays
    // DO occur (user_id % 5 == 0), which is what exercises the 3-absent
    // and single-element-slice branches
    val a = sequence(lit(1), pmod($"user_id", lit(5)) + 2)
    val b = sequence(lit(2), lit(5))
    def s(c: org.apache.spark.sql.Column) = array_join(array_sort(c), ",")
    Tables.events(spark, sfDir)
      .select(
        $"event_id",
        s(array_intersect(a, b)).as("inter_s"),
        s(array_union(a, b)).as("union_s"),
        s(array_except(a, b)).as("except_s"),
        // coalesce on BOTH engines: a NULL input array must agree (Spark
        // would give NULL, the oracle's coalesced list_position gives 0)
        coalesce(array_position(a, 3), lit(0L)).cast("long").as("pos3"),
        array_contains(a, 4).as("has4"),
        array_max(a).cast("long").as("amax"),
        array_join(slice(a, 2, 2), ",").as("sliced"))
      .orderBy($"event_id")
  }

  val arrayBreadthSql: String =
    """WITH t AS (
      |  SELECT event_id,
      |    generate_series(1, CAST(((user_id % 5) + 5) % 5 + 2 AS INT)) AS a,
      |    generate_series(2, 5) AS b
      |  FROM events)
      |SELECT event_id,
      |  array_to_string(list_sort(list_intersect(a, b)), ',') AS inter_s,
      |  array_to_string(list_sort(list_distinct(list_concat(a, b))), ',') AS union_s,
      |  array_to_string(list_sort(list_filter(list_distinct(a), x -> NOT list_contains(b, x))), ',') AS except_s,
      |  CAST(coalesce(list_position(a, 3), 0) AS BIGINT) AS pos3,
      |  list_contains(a, 4) AS has4,
      |  CAST(list_max(a) AS BIGINT) AS amax,
      |  array_to_string(a[2:3], ',') AS sliced
      |FROM t ORDER BY event_id""".stripMargin

  /** Higher-order-function breadth — the lambda surface (transform /
    * filter / aggregate / zip_with / exists / forall) over integer arrays,
    * where DuckDB's list comprehensions and list_reduce replay the exact
    * semantics. Integer lambdas only: exact on both engines. */
  def hofBreadth(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val a = sequence(lit(1), pmod($"user_id", lit(6)) + 2)
    val b = sequence(lit(3), pmod($"user_id", lit(6)) + 4) // same length as a
    Tables.events(spark, sfDir)
      .select(
        $"event_id",
        array_join(transform(a, x => x * x), ",").as("squares"),
        array_join(filter(a, x => x % 2 === 0), ",").as("evens"),
        aggregate(a, lit(0L), (acc, x) => acc + x).as("total"),
        array_join(zip_with(a, b, (x, y) => x + y), ",").as("pairsums"),
        exists(a, x => x > 5).as("any_gt5"),
        forall(a, x => x < 10).as("all_lt10"))
      .orderBy($"event_id")
  }

  val hofBreadthSql: String =
    """WITH t AS (
      |  SELECT event_id,
      |    generate_series(1, CAST(((user_id % 6) + 6) % 6 + 2 AS INT)) AS a,
      |    generate_series(3, CAST(((user_id % 6) + 6) % 6 + 4 AS INT)) AS b
      |  FROM events)
      |SELECT event_id,
      |  array_to_string([x * x FOR x IN a], ',') AS squares,
      |  array_to_string([x FOR x IN a IF x % 2 = 0], ',') AS evens,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), a), (acc, x) -> acc + x) AS total,
      |  array_to_string([a[i] + b[i] FOR i IN generate_series(1, len(a))], ',') AS pairsums,
      |  len(list_filter(a, x -> x > 5)) > 0 AS any_gt5,
      |  len(list_filter(a, x -> x < 10)) = len(a) AS all_lt10
      |FROM t ORDER BY event_id""".stripMargin

  /** S1/S2 JSON SerDe round-trip: parse `props` (from_json), extract k, and
    * re-serialize a record struct (to_json). */
  def serdeJsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    e.select(
      $"event_id", $"event_type",
      from_json($"props",
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
        .getField("k").as("k"),
      to_json(struct($"event_id", $"event_type")).as("json"))
      .orderBy($"event_id")
  }

  val serdeJsonRoundtripSql: String =
    """SELECT event_id, event_type,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |  to_json(struct_pack(event_id := event_id, event_type := event_type)) AS json
      |FROM events ORDER BY event_id""".stripMargin

  /** O2 validate_schema + O5 error split: ok/err counts under a predicate. */
  def validateSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val out = Ops.validateSchema(e, $"value" < 100, "value out of range")
    out.oks.select(lit("ok").as("status"))
      .unionAll(out.errs.select(lit("err").as("status")))
      .groupBy($"status").agg(count(lit(1)).as("n"))
      .orderBy($"status")
  }

  val validateSplitSql: String =
    """SELECT CASE WHEN value < 100 THEN 'ok' ELSE 'err' END AS status,
      |  COUNT(*) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** CHECK-constraint split ([[Ops.checkConstraints]]): two named value
    * constraints evaluated in one pass, rows grouped by FAILURE
    * SIGNATURE (the comma-joined violated-constraint names — the triage
    * view a data-quality dashboard wants), with NULL-proves-nothing
    * semantics pinned: NULL `value` rows must land in the `min_value`
    * violation bucket, not pass. */
  def checkSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val out = Ops.checkConstraints(e, Seq(
      "min_value" -> "value >= 100.0",
      "user_mod" -> "user_id % 5 <> 0"))
    out.errs.select($"error", $"value")
      .unionAll(out.oks.select(lit("valid").as("error"), $"value"))
      .groupBy($"error")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"error")
  }

  val checkSplitSql: String =
    """WITH tagged AS (SELECT value,
      |  CASE
      |    WHEN NOT coalesce(value >= 100.0, FALSE)
      |     AND NOT coalesce(user_id % 5 <> 0, FALSE)
      |      THEN 'min_value,user_mod'
      |    WHEN NOT coalesce(value >= 100.0, FALSE) THEN 'min_value'
      |    WHEN NOT coalesce(user_id % 5 <> 0, FALSE) THEN 'user_mod'
      |    ELSE 'valid' END AS error
      |  FROM events)
      |SELECT error, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM tagged GROUP BY 1 ORDER BY 1""".stripMargin

  /** O3 enrich_with_metadata (deterministic enrichments only). */
  def enrichMetadata(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    Ops.enrichWithMetadata(e, Seq(
      "pipeline_version" -> lit("1.0.0"),
      "source_table" -> lit("events"),
      "processed_date" -> to_date($"ts").cast("string")))
      .oks
      .select($"event_id", $"pipeline_version", $"source_table", $"processed_date")
      .orderBy($"event_id")
  }

  val enrichMetadataSql: String =
    """SELECT event_id, '1.0.0' AS pipeline_version, 'events' AS source_table,
      |  CAST(CAST(ts AS DATE) AS VARCHAR) AS processed_date
      |FROM events ORDER BY event_id""".stripMargin

  /** S3 ParquetSerDe coercion: complex columns → JSON strings. */
  def coercion(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
      .select($"event_id",
        struct($"user_id", $"event_type").as("payload"),
        array($"value").as("arr"))
    ParquetSerDe.serialize(e).orderBy($"event_id")
  }

  val coercionSql: String =
    """SELECT event_id,
      |  to_json(struct_pack(user_id := user_id, event_type := event_type)) AS payload,
      |  to_json([value]) AS arr
      |FROM events ORDER BY event_id""".stripMargin

  /** S5/S6 blob SerDe round-trip — identity on the record proves the
    * base64(json) encode/decode inverse pair. */
  def blobRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir).select($"event_id", $"event_type")
    val serde = BlobSerDe(schema = Some(
      org.apache.spark.sql.types.StructType.fromDDL("event_id BIGINT, event_type STRING")))
    serde.deserialize(serde.serialize(e)).orderBy($"event_id")
  }

  val blobRoundtripSql: String =
    "SELECT event_id, event_type FROM events ORDER BY event_id"

  /** `op.inspect` parity (reference composition surface, operators.py:33,
    * connector.py:65-66): the reference taps the stream to log errors;
    * Spark's native tap is `Dataset.observe` — named aggregate metrics
    * collected ON the existing job, no second scan, delivered to the
    * driver/listeners after the action. The observed metrics are returned
    * as a one-row DataFrame so the oracle can pin them. */
  def observeMetrics(spark: SparkSession, sfDir: String): DataFrame =
    observeMetricsOf(Tables.events(spark, sfDir))

  /** Core of [[observeMetrics]], over any events-shaped frame. SUM over an
    * empty input observes NULL, so both sums are coalesced to typed zeros —
    * an empty table yields (0, 0, 0.0) instead of an NPE at the casts. */
  private[graft] def observeMetricsOf(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation()
    val e = events.observe(obs,
      count(lit(1)).as("n_rows"),
      coalesce(sum(when($"value" >= 100.0, 1L).otherwise(0L)), lit(0L))
        .as("n_big"),
      coalesce(sum($"value".cast("decimal(18,2)")).cast("double"), lit(0.0))
        .as("total_value"))
    e.write.mode("overwrite")
      .format("noop").save() // one pass, populates the observation
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long], m("n_big").asInstanceOf[Long],
      m("total_value").asInstanceOf[Double]))
      .toDF("n_rows", "n_big", "total_value")
  }

  val observeMetricsSql: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events""".stripMargin

  /** K5-K7 sink round-trip: write `events` through [[TableSink]] with a
    * (identity event_type, day ts) hidden-partition spec, read the table
    * back, aggregate. Matching the direct aggregation over the source
    * proves no loss/duplication through the partitioned write.
    */
  def sinkRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_rt",
      warehousePath = dest,
      numPartitions = 4,
      partitionSpec = Seq(
        PartitionField("event_type", Transform.Identity),
        PartitionField("ts", Transform.Day, Some("event_date"))),
      sortOrder = Seq("event_id")))
    sink.append(e)
    sink.read(spark)
      .groupBy($"event_type", $"event_date".cast("string").as("event_date"))
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"event_type", $"event_date")
  }

  val sinkRoundtripSql: String =
    """SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Zero-copy shallow clone end-to-end: events are written through a
    * versioned sink, [[TableSink.shallowCloneTo]] creates an O(metadata)
    * clone (no data copied — CloneSpec pins that), a deterministic batch
    * (event_id < 5 relabeled 'cloned_batch') is appended to the CLONE,
    * and the aggregate runs through the clone's mixed-root manifest read.
    * The oracle replays source + batch directly from the fixture, so a
    * hash match proves the clone loses nothing, duplicates nothing, and
    * sees its own appends — while the source table stays at its original
    * row count (pinned by the spec, not the hash). */
  def tableClone(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val base = Fixtures.fresh("graft_wh")
    val src = new TableSink(SinkConfig(
      tableName = "events_clone_src", warehousePath = base,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity))))
    src.append(e)
    val clone = src.shallowCloneTo(SinkConfig(
      tableName = "events_clone_dst", warehousePath = base))
    clone.append(e.filter($"event_id" < 5)
      .withColumn("event_type", lit("cloned_batch")))
    clone.read(spark)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"event_type")
  }

  val tableCloneSql: String =
    """WITH base AS (
      |  SELECT event_type, value FROM events
      |  UNION ALL
      |  SELECT 'cloned_batch' AS event_type, value FROM events
      |  WHERE event_id < 5)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM base GROUP BY 1 ORDER BY 1""".stripMargin

  /** [[sinkRoundtrip]] through the `fileFormat = orc` knob (§2.4): same
    * hidden-partition write, same aggregate oracle. The oracle never touches
    * the ORC files themselves (DuckDB compares the query's parquet output);
    * a hash match proves the knob is honored end-to-end — ORC writer, ORC
    * partitioned read — with no loss or duplication. */
  def sinkRoundtripOrc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_rt_orc",
      warehousePath = dest,
      numPartitions = 4,
      fileFormat = "orc",
      partitionSpec = Seq(
        PartitionField("event_type", Transform.Identity),
        PartitionField("ts", Transform.Day, Some("event_date"))),
      sortOrder = Seq("event_id")))
    sink.append(e)
    sink.read(spark)
      .groupBy($"event_type", $"event_date".cast("string").as("event_date"))
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"event_type", $"event_date")
  }

  val sinkRoundtripOrcSql: String = sinkRoundtripSql

  /** Batch MERGE (copy-on-write upsert) end-to-end: seed a partitioned
    * table with a third of the events, then upsert one batch carrying both
    * UPDATEs (every sixth event, value shifted +1000 — these keys exist in
    * the base) and INSERTs (a disjoint third of the events), and aggregate
    * the final table state. A hash match proves the merge rewrote exactly
    * the matched keys, kept the rest, and added the inserts — the write
    * mode an append-only connector lacks and Iceberg-class tables provide.
    *
    * Scale shape: [[TableSink.upsert]] rewrites only the partitions the
    * incoming keys touch (partition-pruned anti-join + union), never the
    * whole table; the final aggregate is the usual one-shuffle rollup. */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"event_type", $"value")
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_merge",
      warehousePath = dest,
      numPartitions = 4,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter($"event_id" % 3 === 0))
    val updates = e.filter($"event_id" % 6 === 0)
      .withColumn("value", $"value" + 1000.0)
    val inserts = e.filter($"event_id" % 3 === 1)
    sink.upsert(updates.unionByName(inserts), Seq("event_id"))
    sink.read(spark)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"event_type")
  }

  val mergeUpsertSql: String =
    """WITH base AS (
      |  SELECT event_id, event_type, value FROM events WHERE event_id % 3 = 0),
      |incoming AS (
      |  SELECT event_id, event_type, value + 1000.0 AS value
      |  FROM events WHERE event_id % 6 = 0
      |  UNION ALL
      |  SELECT event_id, event_type, value FROM events WHERE event_id % 3 = 1),
      |merged AS (
      |  SELECT * FROM incoming
      |  UNION ALL
      |  SELECT * FROM base
      |  WHERE event_id NOT IN (SELECT event_id FROM incoming))
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  /** Additive schema evolution end-to-end (§2.4; SinkSpec covers the unit
    * case): the first append writes (event_id, event_type, value), the
    * second adds a `quality` column the first batch never saw, and a
    * `mergeSchema` read unions the file schemas — pre-evolution rows
    * surface the new column as NULL, exactly as an Iceberg-class additive
    * ALTER would. The oracle replays the two batches with an explicit
    * NULL for the first. `quality` is `(event_id mod 7) * 0.125` — a
    * dyadic rational both engines hold exactly, so the sums are bit-stable.
    *
    * Scale shape: schema union is per-file-footer metadata (no data
    * rewrite — old files are never touched); the aggregate is the usual
    * one-shuffle rollup. */
  def schemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
      .select($"event_id", $"event_type", $"value")
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_evolve",
      warehousePath = dest,
      numPartitions = 4,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter($"event_id" % 2 === 0))
    sink.append(e.filter($"event_id" % 2 === 1)
      .withColumn("quality", pmod($"event_id", lit(7)).cast("double") * 0.125))
    sink.read(spark, mergeSchema = true)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        count($"quality").as("n_scored"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"),
        sum(coalesce($"quality", lit(0.0)).cast("decimal(18,3)"))
          .cast("double").as("total_quality"))
      .orderBy($"event_type")
  }

  val schemaEvolutionSql: String =
    """WITH merged AS (
      |  SELECT event_type, value, CAST(NULL AS DOUBLE) AS quality
      |  FROM events WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT event_type, value,
      |    CAST(event_id % 7 AS DOUBLE) * 0.125 AS quality
      |  FROM events WHERE event_id % 2 = 1)
      |SELECT event_type, COUNT(*) AS n, COUNT(quality) AS n_scored,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  CAST(SUM(CAST(COALESCE(quality, 0.0) AS DECIMAL(18,3))) AS DOUBLE)
      |    AS total_quality
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  /** DELETE-by-predicate end-to-end (§2.4; SinkSpec covers the emptied-
    * partition unit case): load the table, delete rows matching a
    * value+key predicate, and aggregate the survivors plus the reported
    * delete count. A hash match proves the rewrite removed exactly the
    * matched rows and nothing else — GDPR-style row deletion, the second
    * write mode append-only connectors lack.
    *
    * Scale shape: [[TableSink.delete]] rewrites only partitions holding
    * matches (partition-pruned dynamic overwrite); the matched-partition
    * projection is column-pruned and cached so count/distinct/sweep share
    * one scan. */
  def deletePredicate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
      .select($"event_id", $"event_type", $"value")
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_del",
      warehousePath = dest,
      numPartitions = 4,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e)
    val nDeleted = sink.delete(spark,
      col("value") < 50.0 && pmod(col("event_id"), lit(5)) === 0)
    sink.read(spark)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .withColumn("n_deleted", lit(nDeleted))
      .orderBy($"event_type")
  }

  val deletePredicateSql: String =
    """WITH survivors AS (
      |  SELECT event_type, value FROM events
      |  WHERE NOT (value < 50.0 AND event_id % 5 = 0)),
      |del AS (
      |  SELECT COUNT(*) AS n_deleted FROM events
      |  WHERE value < 50.0 AND event_id % 5 = 0)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  (SELECT n_deleted FROM del) AS n_deleted
      |FROM survivors GROUP BY 1 ORDER BY 1""".stripMargin

  /** Snapshot time travel end-to-end (§2.4 snapshot log; reference
    * README.md:95-105 commit coordination): two appends to a `versioned`
    * sink commit snapshots v1 and v2; reading as-of v1 must surface exactly
    * the first batch — no leakage from later commits, no loss. The batches
    * split `events` on a deterministic key so the oracle replays snapshot
    * v1 as a plain filter over the fixture: a hash match proves the
    * manifest captured the v1 file set exactly. */
  def timeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_tt",
      warehousePath = dest,
      numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter(pmod($"event_id", lit(3)) =!= 0))
    sink.append(e.filter(pmod($"event_id", lit(3)) === 0))
    sink.readVersion(spark, 1)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"event_type")
  }

  val timeTravelSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events WHERE event_id % 3 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Incremental (CDC-style) consumption: `readChanges(v1, v2)` must
    * surface exactly the rows the second commit appended — the file-set
    * difference of the two manifests, never a rescan of history. Same
    * deterministic split as [[timeTravel]], so the oracle is the
    * complementary filter. */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_cdc",
      warehousePath = dest,
      numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter(pmod($"event_id", lit(3)) =!= 0))
    sink.append(e.filter(pmod($"event_id", lit(3)) === 0))
    sink.readChanges(spark, 1, 2)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"event_type")
  }

  val snapshotDiffSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events WHERE event_id % 3 = 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Row-level changelog (CDC) end-to-end, four commits deep: two append
    * commits, then a merge-on-read predicate delete (`value < 100`),
    * then an erasure-list delete (every `user_id % 7 = 0`) — and
    * [[TableSink.readChangelog]] must emit exactly the insert rows of
    * each append and the delete rows each sidecar removed FROM ITS
    * PRE-COMMIT SNAPSHOT (the erasure delete at v4 must not re-delete
    * rows the predicate already removed at v3). The oracle replays the
    * four change sets from the fixture with explicit set algebra;
    * per-(version, type) counts and DECIMAL sums pin both membership
    * and values. */
  def changelogCdc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_chg", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter(pmod($"event_id", lit(3)) =!= 0))     // v1 insert
    sink.append(e.filter(pmod($"event_id", lit(3)) === 0))     // v2 insert
    sink.deleteWhere("value < 100.0")                          // v3 delete
    sink.deleteKeys(                                           // v4 delete
      e.filter(pmod($"user_id", lit(7)) === 0).select($"user_id"),
      Seq("user_id"))
    sink.readChangelog(spark, 0, 4)
      .groupBy($"_change_version", $"_change_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"_change_version", $"_change_type")
  }

  val changelogCdcSql: String =
    """WITH v1 AS (SELECT * FROM events WHERE event_id % 3 <> 0),
      |v2 AS (SELECT * FROM events WHERE event_id % 3 = 0),
      |d3 AS (SELECT * FROM events WHERE coalesce(value < 100.0, FALSE)),
      |d4 AS (SELECT * FROM events
      |       WHERE NOT coalesce(value < 100.0, FALSE)
      |         AND user_id % 7 = 0),
      |chg AS (
      |  SELECT 1 AS _change_version, 'insert' AS _change_type, value FROM v1
      |  UNION ALL
      |  SELECT 2, 'insert', value FROM v2
      |  UNION ALL
      |  SELECT 3, 'delete', value FROM d3
      |  UNION ALL
      |  SELECT 4, 'delete', value FROM d4)
      |SELECT CAST(_change_version AS BIGINT) AS _change_version,
      |  _change_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM chg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The same four-commit CDC fixture consumed INCREMENTALLY through
    * [[TableSink.readChangelogSince]]'s durable cursor in two batches —
    * batch 1 after the appends (cursor 0 → 2), batch 2 after the two
    * delete commits (cursor 2 → 4) — then unioned. Equality with the
    * identical full-changelog oracle proves the cursor arithmetic:
    * no change row is lost at the batch boundary, none is replayed after
    * its batch committed. */
  def changelogIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_chg_inc", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    val cursor = s"$dest/_chg_cursor"
    sink.append(e.filter(pmod($"event_id", lit(3)) =!= 0))     // v1 insert
    sink.append(e.filter(pmod($"event_id", lit(3)) === 0))     // v2 insert
    val (b1, commit1) = sink.readChangelogSince(spark, cursor)
    // OPTIMIZATION r15 (guide §2.3 / §5): pin only the columns this
    // consumer aggregates — the full-row checkpoint serialized every
    // document-sized props payload (measured 2.0 of the query's ~2.9
    // CPU-s in the pin alone); the consume-then-commit contract pins
    // the consumed slice either way.
    val batch1 = b1.select($"_change_version", $"_change_type", $"value")
      .localCheckpoint()
    commit1()
    sink.deleteWhere("value < 100.0")                          // v3 delete
    sink.deleteKeys(                                           // v4 delete
      e.filter(pmod($"user_id", lit(7)) === 0).select($"user_id"),
      Seq("user_id"))
    val (b2, commit2) = sink.readChangelogSince(spark, cursor)
    val batch2 = b2.select($"_change_version", $"_change_type", $"value")
      .localCheckpoint()
    commit2()
    batch1.unionByName(batch2)
      .groupBy($"_change_version", $"_change_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"_change_version", $"_change_type")
  }

  /** Identical change-set oracle as `q_changelog_cdc` — the incremental
    * consumption must be indistinguishable from one full read. */
  val changelogIncrementalSql: String = changelogCdcSql

  /** The cursor API's `startingTimestamp` floor (round-12 — the stream
    * sources' option on [[TableSink.readChangelogSince]]): the same
    * four-commit fixture, consumed by a FRESH cursor whose starting
    * timestamp is captured between v1 and v2 — the batch must be
    * exactly the v2-insert + v3-delete + v4-delete slice (every commit
    * at or after the instant, none before it; the Delta contract,
    * resolved against the same commit clock as TIMESTAMP AS OF). The
    * oracle recomputes that slice with explicit set algebra, so a floor
    * leaking v1 rows or dropping v2's is a hash mismatch. */
  def changelogSinceTs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_chg_ts", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter(pmod($"event_id", lit(3)) =!= 0))     // v1 insert
    Thread.sleep(30) // separate the commit mtimes around the cutoff
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(30)
    sink.append(e.filter(pmod($"event_id", lit(3)) === 0))     // v2 insert
    sink.deleteWhere("value < 100.0")                          // v3 delete
    sink.deleteKeys(                                           // v4 delete
      e.filter(pmod($"user_id", lit(7)) === 0).select($"user_id"),
      Seq("user_id"))
    val cursor = s"$dest/_chg_ts_cursor"
    val (b, commit) = sink.readChangelogSince(spark, cursor,
      startingTimestampMs = Some(betweenMs))
    // narrow pin, same rationale as changelogIncremental's batches
    val batch = b.select($"_change_version", $"_change_type", $"value")
      .localCheckpoint()
    commit()
    batch.groupBy($"_change_version", $"_change_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"_change_version", $"_change_type")
  }

  val changelogSinceTsSql: String =
    """WITH v2 AS (SELECT * FROM events WHERE event_id % 3 = 0),
      |d3 AS (SELECT * FROM events WHERE coalesce(value < 100.0, FALSE)),
      |d4 AS (SELECT * FROM events
      |       WHERE NOT coalesce(value < 100.0, FALSE)
      |         AND user_id % 7 = 0),
      |chg AS (
      |  SELECT 2 AS _change_version, 'insert' AS _change_type, value FROM v2
      |  UNION ALL
      |  SELECT 3, 'delete', value FROM d3
      |  UNION ALL
      |  SELECT 4, 'delete', value FROM d4)
      |SELECT CAST(_change_version AS BIGINT) AS _change_version,
      |  _change_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM chg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** CDC replication end-to-end: the four-commit fixture's changelog is
    * applied to a DOWNSTREAM replica via [[TableSink.replicateTo]] in two
    * cursor micro-batches (after the appends, after the deletes), each
    * applied as its net changes in one replica commit — and the replica's
    * final state must equal the oracle's direct computation of the
    * survivors (v1 ∪ v2, minus the predicate delete, minus the erasure
    * delete).
    * Any ordering, idempotency, or batch-boundary defect in the apply
    * loop shows up as a membership difference here. */
  def changelogReplicate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    def cfg(name: String) = SinkConfig(
      tableName = name, warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id"))
    val src = new TableSink(cfg("events_src"))
    val replica = new TableSink(cfg("events_replica"))
    val cursor = s"$dest/_repl_cursor"
    src.append(e.filter(pmod($"event_id", lit(3)) =!= 0))      // v1 insert
    src.append(e.filter(pmod($"event_id", lit(3)) === 0))      // v2 insert
    src.replicateTo(spark, replica, Seq("event_id"), cursor)   // batch 1
    src.deleteWhere("value < 100.0")                           // v3 delete
    src.deleteKeys(                                            // v4 delete
      e.filter(pmod($"user_id", lit(7)) === 0).select($"user_id"),
      Seq("user_id"))
    src.replicateTo(spark, replica, Seq("event_id"), cursor)   // batch 2
    replica.read(spark)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"),
        min($"event_id").as("min_id"),
        max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }

  val changelogReplicateSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  min(event_id) AS min_id,
      |  max(event_id) AS max_id
      |FROM events
      |WHERE NOT coalesce(value < 100.0, FALSE)
      |  AND NOT coalesce(user_id % 7 = 0, FALSE)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The exactly-once VERSIONED STREAMING door
    * ([[TableSink.appendStreamBatch]], the per-micro-batch commit under
    * [[TableSink.startStreamVersioned]]): the events table lands in
    * three micro-batch commits, with batch 1 REPLAYED twice mid-stream
    * (the checkpoint-recovery shape foreachBatch produces after a
    * crash) and batch 0 replayed late — every replay must be absorbed
    * by the txn line embedded in the claimed snapshots. The final
    * aggregate over the MANIFEST-resolved head must equal the oracle's
    * direct aggregation (any double-landed batch shows up as doubled
    * counts/sums) and the snapshot spine must be exactly [1, 2, 3]
    * (a skipped replay mints no version). */
  def streamVersionedExactlyOnce(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_vstream", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    def slice(r: Int) = e.filter(pmod($"event_id", lit(3)) === r)
    sink.appendStreamBatch(slice(0), "cdc-stream", 0L)
    sink.appendStreamBatch(slice(1), "cdc-stream", 1L)
    sink.appendStreamBatch(slice(1), "cdc-stream", 1L) // crash replay
    sink.appendStreamBatch(slice(0), "cdc-stream", 0L) // ancient replay
    sink.appendStreamBatch(slice(2), "cdc-stream", 2L)
    val versions = sink.snapshotVersions()
    sink.readVersion(spark, versions.last)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .withColumn("n_commits", lit(versions.size.toLong))
      .orderBy($"event_type")
  }

  val streamVersionedExactlyOnceSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  CAST(3 AS BIGINT) AS n_commits
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Snapshot-stream `ignoreChanges` opt-in (round-13, Delta's escape
    * hatch): a merge-on-read UPDATE commit lands MID-STREAM and the
    * stream — which by default refuses loudly (it cannot retract rows it
    * already emitted) — keeps going, re-emitting the update's
    * replacement rows as plain appends for an idempotent consumer. The
    * stream's total output is v1's snapshot + the re-emitted
    * replacements + the post-update append, aggregated per event_type;
    * `value + 1000` keeps fractional bits identical on both engines. */
  def streamIgnoreChanges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_igch", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter(pmod($"event_id", lit(3)) =!= 0))       // v1
    val out = s"$dest/_igch_out"
    val q = sink.readStream(spark, ignoreChanges = true)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", s"$dest/_igch_cp").start()
    try {
      q.processAllAvailable()                      // batch 0: v1 snapshot
      sink.updateMor(spark,                        // v2: MoR update
        coalesce(pmod($"user_id", lit(7)) === 0, lit(false)),
        Seq("value" -> ($"value" + 1000.0)))
      sink.append(e.filter(pmod($"event_id", lit(3)) === 0))     // v3
      q.processAllAvailable()                      // replacements + v3
    } finally q.stop()
    spark.read.parquet(out)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"event_type")
  }

  val streamIgnoreChangesSql: String =
    """WITH v1 AS (SELECT * FROM events WHERE event_id % 3 <> 0),
      |repl AS (SELECT event_type, value + 1000.0 AS value FROM v1
      |         WHERE coalesce(user_id % 7 = 0, FALSE)),
      |v3 AS (SELECT * FROM events WHERE event_id % 3 = 0),
      |outp AS (
      |  SELECT event_type, value FROM v1
      |  UNION ALL SELECT event_type, value FROM repl
      |  UNION ALL SELECT event_type, value FROM v3)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM outp GROUP BY 1 ORDER BY 1""".stripMargin

  /** Incremental materialized-view maintenance (IVM) end-to-end over the
    * four-commit CDC fixture: a per-event_type (count, decimal-sum) view
    * is refreshed TWICE — after the appends, after the two delete
    * commits — each refresh folding only the changelog delta into the
    * persisted state (inserts add, deletes subtract; never a base
    * rescan). The final state must equal the oracle's direct aggregation
    * of the survivors: any sign error, double-fold, or missed delete
    * flavor shows up in the counts/sums. */
  def mvRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val src = new TableSink(SinkConfig(
      tableName = "events_mv_src", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    val mv = new MaterializedView(src, s"$dest/mv_by_type",
      Seq("event_type"), Seq("value"))
    src.append(e.filter(pmod($"event_id", lit(3)) =!= 0))      // v1 insert
    src.append(e.filter(pmod($"event_id", lit(3)) === 0))      // v2 insert
    mv.refresh(spark)                                          // folds v1-v2
    src.deleteWhere("value < 100.0")                           // v3 delete
    src.deleteKeys(                                            // v4 delete
      e.filter(pmod($"user_id", lit(7)) === 0).select($"user_id"),
      Seq("user_id"))
    mv.refresh(spark)                                          // folds v3-v4
    mv.read(spark)
      .select($"event_type", $"n",
        $"sum_value".cast("double").as("total"))
      .orderBy($"event_type")
  }

  val mvRefreshSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS total
      |FROM events
      |WHERE NOT coalesce(value < 100.0, FALSE)
      |  AND NOT coalesce(user_id % 7 = 0, FALSE)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Row lineage end-to-end: events land in two known commits (v1 =
    * `event_id % 3 ≠ 0`, v2 = the rest), a merge-on-read delete then
    * removes the low-value rows, and [[TableSink.readWithCommitVersion]]
    * must tag every SURVIVING row with the commit that introduced its
    * file. The oracle derives the version from the same modulus split —
    * any misattributed file→version pair or a lineage join that breaks
    * the delete anti-join shows up in the per-(version, type) counts. */
  def rowLineage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_lineage", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter(pmod($"event_id", lit(3)) =!= 0))     // v1
    sink.append(e.filter(pmod($"event_id", lit(3)) === 0))     // v2
    sink.deleteWhere("value < 100.0")                          // v3 (MoR)
    sink.readWithCommitVersion(spark)
      .groupBy($"_commit_version", $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"_commit_version", $"event_type")
  }

  val rowLineageSql: String =
    """SELECT CAST(CASE WHEN event_id % 3 <> 0 THEN 1 ELSE 2 END AS BIGINT)
      |    AS _commit_version,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events
      |WHERE NOT coalesce(value < 100.0, FALSE)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Delete-layer minor compaction end-to-end: two appends, then ALL
    * THREE merge-on-read delete flavors (predicate, erasure list,
    * deletion vectors) accumulate as separate commits, then
    * [[TableSink.consolidateDeletes]] merges them into one commit
    * WITHOUT touching a data file — and the consolidated read must equal
    * the oracle's direct survivor computation. Any flavor dropped, any
    * OR-merge error, or any anti-join-schema slip in the merge shows up
    * as a membership difference. */
  def consolidateDeletes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_consol", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter(pmod($"event_id", lit(3)) =!= 0))     // v1
    sink.append(e.filter(pmod($"event_id", lit(3)) === 0))     // v2
    sink.deleteWhere("value < 100.0")                          // v3 predicate
    sink.deleteKeys(                                           // v4 erasure
      e.filter(pmod($"user_id", lit(7)) === 0).select($"user_id"),
      Seq("user_id"))
    sink.deletePositions(spark, "event_id % 11 = 0")           // v5 positions
    sink.consolidateDeletes(spark)                             // → one commit
    sink.read(spark)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"),
        min($"event_id").as("min_id"),
        max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }

  val consolidateDeletesSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  min(event_id) AS min_id,
      |  max(event_id) AS max_id
      |FROM events
      |WHERE NOT coalesce(value < 100.0, FALSE)
      |  AND NOT coalesce(user_id % 7 = 0, FALSE)
      |  AND NOT (event_id % 11 = 0)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The delete-layer inventory ([[TableSink.metaDeletes]]) over the
    * three-flavor fixture: each sidecar's version, flavor, ENTRY COUNT,
    * and detail — with the counts derived independently by the oracle
    * from the same modulus/threshold arithmetic (the erasure-list count
    * is the distinct qualifying user_ids; the deletion-vector count is the
    * rows VISIBLE at its commit that matched — resolved-at-commit
    * semantics pinned). */
  def metaDeletes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_metadel", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e)                                             // v1
    sink.deleteWhere("value < 100.0")                          // v2 predicate
    sink.deleteKeys(                                           // v3 erasure
      e.filter(pmod($"user_id", lit(7)) === 0).select($"user_id"),
      Seq("user_id"))
    sink.deletePositions(spark, "event_id % 11 = 0")           // v4 positions
    sink.metaDeletes(spark)
  }

  val metaDeletesSql: String =
    """SELECT * FROM (
      |  SELECT CAST(2 AS BIGINT) AS version, 'predicate' AS flavor,
      |         CAST(1 AS BIGINT) AS n_entries, 'value < 100.0' AS detail
      |  UNION ALL
      |  SELECT 3, 'keys',
      |         (SELECT COUNT(DISTINCT user_id) FROM events
      |          WHERE user_id % 7 = 0), 'user_id'
      |  UNION ALL
      |  SELECT 4, 'positions',
      |         (SELECT COUNT(*) FROM events
      |          WHERE NOT coalesce(value < 100.0, FALSE)
      |            AND NOT coalesce(user_id % 7 = 0, FALSE)
      |            AND event_id % 11 = 0), 'file_path,row_pos')
      |ORDER BY version, flavor""".stripMargin

  /** Snapshot rollback end-to-end: two thirds of events commit (v1), the
    * final third commits (v2), [[TableSink.rollbackTo]] restores v1
    * (v2's files deleted, its manifest dropped), and the table then keeps
    * taking commits — HALF of the previously-rolled-back rows re-append
    * as the new v2. The live read must show exactly
    * batch1 ∪ re-appended-half: rows the rollback removed stay gone, the
    * re-appended subset is back, and the history restart didn't corrupt
    * either. The oracle replays the set algebra from the fixture.
    *
    * Scale shape: rollback is O(files added after the target) driver-side
    * metadata + deletes — no data file is read or rewritten; the table is
    * immediately writable at the restored head (Iceberg's
    * rollback_to_snapshot contract). */
  def rollback(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_rb", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter(pmod($"event_id", lit(3)) =!= 0))    // v1
    sink.append(e.filter(pmod($"event_id", lit(3)) === 0))    // v2
    sink.rollbackTo(1)                                        // back to v1
    sink.append(e.filter(pmod($"event_id", lit(6)) === 0))    // new v2
    sink.read(spark)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"event_type")
  }

  val rollbackSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events WHERE event_id % 3 <> 0 OR event_id % 6 = 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Commit-history accounting THROUGH the metadata-table surface
    * ([[TableSink.metaSnapshots]] — Iceberg's `snapshots`/`history`
    * analogue): three deterministic thirds of events commit as three
    * snapshots; the metadata table provides the version spine (its rows
    * ARE the output rows — a missing or phantom snapshot breaks the
    * hash), each version's cumulative row count comes from time travel,
    * and the per-commit delta is recovered with a lag window. The oracle
    * replays the same accounting from the fixture's thirds.
    *
    * Scale shape: the metadata table is driver-side manifest metadata
    * (snapshot count rows); the totals are one bounded aggregate per
    * version over time-travel reads — the audit query a maintenance
    * pipeline runs after each ingest wave. */
  def metaHistory(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_meta", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter(pmod($"event_id", lit(3)) === 1))    // v1
    sink.append(e.filter(pmod($"event_id", lit(3)) === 2))    // v2
    sink.append(e.filter(pmod($"event_id", lit(3)) === 0))    // v3
    val spine = sink.metaSnapshots(spark).select($"version")
    val totals = sink.snapshotVersions().map { v =>
      sink.readVersion(spark, v).agg(count(lit(1)).as("n_total"))
        .withColumn("version", lit(v.toLong))
    }.reduce(_.unionByName(_))
    val w = org.apache.spark.sql.expressions.Window.orderBy($"version")
    spine.join(totals, Seq("version"))
      .withColumn("n_added",
        $"n_total" - coalesce(lag($"n_total", 1).over(w), lit(0L)))
      .select($"version", $"n_added", $"n_total")
      .orderBy($"version")
  }

  val metaHistorySql: String =
    """WITH t AS (
      |  SELECT CAST(1 AS BIGINT) AS version,
      |    COUNT(*) FILTER (WHERE event_id % 3 = 1) AS n_added FROM events
      |  UNION ALL SELECT 2, COUNT(*) FILTER (WHERE event_id % 3 = 2)
      |    FROM events
      |  UNION ALL SELECT 3, COUNT(*) FILTER (WHERE event_id % 3 = 0)
      |    FROM events)
      |SELECT version, n_added,
      |  CAST(SUM(n_added) OVER (ORDER BY version) AS BIGINT) AS n_total
      |FROM t ORDER BY version""".stripMargin

  /** Per-partition accounting THROUGH the partitions metadata table
    * ([[TableSink.metaPartitions]] — Iceberg's `partitions` analogue):
    * events land identity-partitioned by event_type, and the metadata
    * table's per-partition record counts — keyed by the `col=value`
    * path spine of each file's manifest entry — must equal
    * the fixture's per-type counts. File counts and byte sizes are
    * engine-specific (salted writer layout), so the oracle pins the
    * partition spine and record counts while MetaTablesSpec pins the
    * file-level invariants.
    *
    * Scale shape: the rollup reads only the head manifest, whose entries
    * record each file's rows and bytes at commit — no data file is
    * opened. */
  def metaPartitions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_parts", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e)
    sink.metaPartitions(spark)
      .select($"partition", $"record_count")
      .orderBy($"partition")
  }

  val metaPartitionsSql: String =
    """SELECT 'event_type=' || event_type AS partition,
      |  COUNT(*) AS record_count
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Write-audit-publish end-to-end over [[TableSink]] branches — the
    * staging workflow Iceberg builds on named branches (reference
    * README.md:95-105 commit coordination): batch 1 commits to main (v1),
    * batch 2 is staged on branch `audit` via [[TableSink.appendToBranch]],
    * audited with a full branch read, then published (fast-forward, v2).
    * One output row per event_type pins all three surfaces at once:
    *  - `n_main_pre`: main read AFTER the branch append but BEFORE publish
    *    — must still be exactly batch 1, even though the staged files are
    *    physically in the table directory (snapshot isolation);
    *  - `n_audit`: the branch-head read — inherited + staged rows;
    *  - `n_final` / `total_final`: main after publish — everything.
    * The oracle replays all three as plain filters over the fixture, so a
    * hash match proves the staged rows were invisible to main, fully
    * visible to the audit, and published losslessly as pure metadata.
    *
    * Scale shape: branching is manifest metadata only — no data file is
    * copied or rewritten by create/read/publish; the three aggregates are
    * |event_type| rows each, joined broadcast-small. */
  def branchWap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_wap",
      warehousePath = dest,
      numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter(pmod($"event_id", lit(3)) =!= 0))       // main v1
    sink.createBranch("audit")
    sink.appendToBranch("audit", e.filter(pmod($"event_id", lit(3)) === 0))
    val mainPre = sink.readVersion(spark, sink.snapshotVersions().last)
      .groupBy($"event_type").agg(count(lit(1)).as("n_main_pre"))
    val audit = sink.readBranch(spark, "audit")
      .groupBy($"event_type").agg(count(lit(1)).as("n_audit"))
    val v2 = sink.publishBranch("audit")                          // main v2
    val fin = sink.readVersion(spark, v2)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_final"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total_final"))
    // Join FROM fin (post-publish = every type) with left joins: a type
    // present only in the staged batch has no mainPre row, and the oracle's
    // COUNT(*) FILTER keeps it with n_main_pre = 0 — inner joins would
    // silently drop it and hash-mismatch on such a fixture.
    fin.join(mainPre, Seq("event_type"), "left")
      .join(audit, Seq("event_type"), "left")
      .select($"event_type",
        coalesce($"n_main_pre", lit(0L)).as("n_main_pre"),
        coalesce($"n_audit", lit(0L)).as("n_audit"),
        $"n_final", $"total_final")
      .orderBy($"event_type")
  }

  val branchWapSql: String =
    """SELECT event_type,
      |  COUNT(*) FILTER (WHERE event_id % 3 <> 0) AS n_main_pre,
      |  COUNT(*) AS n_audit,
      |  COUNT(*) AS n_final,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_final
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Bucketed co-located join end-to-end (BucketingSpec asserts the
    * no-Exchange plan; this pins the VALUES): orders and lineitem are
    * persisted bucketed by orderkey, joined through the bucket metadata,
    * and aggregated to revenue per order priority. The oracle joins the
    * raw fixtures — a hash match proves bucketed write + bucket-aware
    * read lose and duplicate nothing.
    *
    * Scale shape: both sides pre-bucketed on the join key means the join
    * shuffles NEITHER input — the layout investment that turns repeated
    * fact⋈fact joins from the dominant shuffle into a local merge. */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val (ot, lt) = (s"orders_bj_$sfx", s"lineitem_bj_$sfx")
    Bucketing.writeBucketed(Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderpriority"), ot, "o_orderkey")
    Bucketing.writeBucketed(Tables.lineitem(spark, sfDir)
      .select($"l_orderkey".as("o_orderkey"), $"l_extendedprice", $"l_discount"),
      lt, "o_orderkey")
    val revenue = $"l_extendedprice".cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - $"l_discount".cast("decimal(18,2)"))
    Bucketing.colocatedJoin(spark, ot, lt, "o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(revenue).cast("double").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  val bucketedJoinSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |    AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** JSONL ingest round-trip (TextSourcesSpec covers the unit cases): the
    * documents table is dumped to JSON-lines, read back through
    * [[TextSources.jsonl]] with the declared schema, and aggregated —
    * count, exact text length sum, and md5-of-text sum pin byte-level
    * content integrity through the serialize/parse cycle, per source.
    * The oracle aggregates the original fixture: a hash match proves the
    * interchange format loses nothing (escaping, unicode, nulls).
    *
    * Scale shape: JSONL splits by line for parallel scans; the declared
    * schema avoids the inference pre-scan. One shuffle for the rollup. */
  def jsonlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
    val dest = Fixtures.fresh("graft_jsonl")
    d.write.json(dest)
    TextSources.jsonl(spark, dest, d.schema)
      .groupBy($"source")
      .agg(count(lit(1)).as("n"),
        sum(length($"text")).as("len_sum"),
        sum(conv(substring(md5($"text"), 1, 8), 16, 10).cast("long"))
          .as("md5_sum"))
      .orderBy($"source")
  }

  val jsonlRoundtripSql: String =
    """SELECT source, COUNT(*) AS n,
      |  CAST(SUM(LENGTH(text)) AS BIGINT) AS len_sum,
      |  CAST(SUM(CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT))
      |    AS BIGINT) AS md5_sum
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Router fan-out end-to-end (RouterSpec covers the mechanics): events
    * are routed to per-event-type destination TABLES via the
    * `message.table` semantics ([[TableRouter.appendRouted]] — the
    * reference declares the field but never consults it), then every
    * destination is read back and re-unioned for the aggregate. A hash
    * match against the unrouted fixture proves fan-out is a partition of
    * the input: nothing lost, nothing duplicated, nothing misrouted.
    *
    * Scale shape: one cached scan filtered per destination (the driver
    * holds only the distinct table-name set); each destination keeps its
    * own partition-transform clustering. */
  def routerFanout(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
      .select($"event_id", $"event_type", $"value",
        concat(lit("evt_"), $"event_type").as("dest"))
    val wh = Fixtures.fresh("graft_wh")
    def cfg(t: String) = SinkConfig(tableName = t, warehousePath = wh,
      numPartitions = 2, sortOrder = Seq("event_id"))
    TableRouter.appendRouted(e, "dest", cfg)
    val dests = e.select($"dest").distinct().as[String].collect().sorted
    dests.map(t => new TableSink(cfg(t)).read(spark)
        .withColumn("routed_table", lit(t)))
      .reduce(_ unionByName _)
      .groupBy($"routed_table", $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"routed_table", $"event_type")
  }

  val routerFanoutSql: String =
    """SELECT 'evt_' || event_type AS routed_table, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** CSV ingest round-trip — [[jsonlRoundtrip]]'s harder sibling: CSV must
    * QUOTE embedded newlines/commas/quotes, and reading them back needs
    * `multiLine` (a quoted field may span physical lines, so files — not
    * byte ranges — become the split unit; the write keeps multiple files
    * to preserve parallelism). Same md5-pinned integrity oracle over the
    * original fixture: a hash match proves quoting+escaping round-trips
    * every byte of every document. */
  def csvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
    val dest = Fixtures.fresh("graft_csv")
    d.write.option("header", "true").csv(dest)
    TextSources.csv(spark, dest, d.schema, header = true, multiLine = true)
      .groupBy($"source")
      .agg(count(lit(1)).as("n"),
        sum(length($"text")).as("len_sum"),
        sum(conv(substring(md5($"text"), 1, 8), 16, 10).cast("long"))
          .as("md5_sum"))
      .orderBy($"source")
  }

  val csvRoundtripSql: String = jsonlRoundtripSql

  /** Exact interpolated percentiles per group — `percentile()` (the exact
    * sort-based aggregate, not the approx sketch; [[Sketches]] carries the
    * approx path) at the standard p50/p90/p99 operating points, 9-dp
    * rounded: both engines interpolate rank p·(n−1) between order
    * statistics, so the rounded values pin the whole sorted-aggregate
    * machinery against DuckDB's quantile_cont. */
  def percentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(round(expr("percentile(value, 0.5)"), 9).as("p50"),
        round(expr("percentile(value, 0.9)"), 9).as("p90"),
        round(expr("percentile(value, 0.99)"), 9).as("p99"))
      .orderBy($"event_type")
  }

  val percentilesSql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 9) AS p50,
      |  round(quantile_cont(value, 0.9), 9) AS p90,
      |  round(quantile_cont(value, 0.99), 9) AS p99
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Skew-salted join end-to-end (SkewSpec covers the salt mechanics):
    * the same orders⋈lineitem aggregate as [[bucketedJoin]], but joined
    * through [[SkewTools.saltedJoin]] — lineitem rows get a deterministic
    * salt, orders replicate salts×, and the join key becomes (key, salt)
    * so a hot orderkey spreads over `salts` reducers. The oracle is the
    * PLAIN join: a hash match proves salting is result-invariant, the
    * contract that makes it safe to deploy on a skewed 100 TB corpus. */
  def saltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey".as("o_orderkey"), $"l_extendedprice", $"l_discount")
    val o = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderpriority")
    val revenue = $"l_extendedprice".cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - $"l_discount".cast("decimal(18,2)"))
    SkewTools.saltedJoin(l, o, "o_orderkey", salts = 8)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(revenue).cast("double").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  val saltedJoinSql: String = bucketedJoinSql

  /** Compaction round-trip (SinkSpec covers file-count mechanics): three
    * small appends fragment the table, [[TableSink.compact]] rewrites each
    * partition to ~target-sized files behind a crash-safe directory swap,
    * and the aggregate of the compacted table must equal the direct
    * fixture aggregate — the rewrite loses and duplicates nothing. */
  def compactRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
      .select($"event_id", $"event_type", $"value")
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_compact",
      warehousePath = dest,
      numPartitions = 4,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter($"event_id" % 3 === 0))
    sink.append(e.filter($"event_id" % 3 === 1))
    sink.append(e.filter($"event_id" % 3 === 2))
    sink.compact(spark)
    sink.read(spark)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"event_type")
  }

  val compactRoundtripSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Incremental compaction end-to-end: ONE partition is deliberately
    * fragmented (five slice appends land only `click` rows) while every
    * other partition commits once; [[TableSink.compactPartitions]] must
    * pick exactly the fragmented spine, rewrite it losslessly (the
    * aggregate equals the full-table oracle), and leave the untouched
    * partitions' FILES physically identical — `untouched_preserved`
    * pins path-set equality for the `purchase` partition, the proof the
    * rewrite cost was proportional to fragmented bytes, not the table. */
  def compactPartial(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
      .select($"event_id", $"event_type", $"value")
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_partial",
      warehousePath = dest,
      numPartitions = 4,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter($"event_type" =!= "click"))
    (0 until 5).foreach(k =>
      sink.append(e.filter($"event_type" === "click" &&
        pmod($"event_id", lit(5)) === k)))
    // untouched check from the listing, prefix-scoped (DataFrame
    // .inputFiles reports the whole relation, pre-pruning)
    val before = sink.dataFilesRel()
      .filter(_.startsWith("event_type=purchase/")).toSet
    val spines = sink.compactPartitions(spark, maxFiles = 4)
    val after = sink.dataFilesRel()
      .filter(_.startsWith("event_type=purchase/")).toSet
    sink.read(spark)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .withColumn("only_fragmented", lit(spines == Seq("event_type=click")))
      .withColumn("untouched_preserved", lit(before == after))
      .orderBy($"event_type")
  }

  val compactPartialSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  TRUE AS only_fragmented, TRUE AS untouched_preserved
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Incremental materialized-view maintenance — the consumer side of the
    * CDC surface [[snapshotDiff]] proves: a per-type (count, sum) summary
    * is materialized at snapshot v1, a second commit lands, and the view
    * is brought current by merging ONLY the delta's partial aggregate
    * (`readChanges(1, 2)`) — count and sum are algebraically mergeable, so
    * the base rows are never rescanned. The oracle is the full recompute
    * over all events: a hash match proves view-after-merge ≡ recompute,
    * which is the MV maintenance contract.
    *
    * Scale shape: the merge cost is |delta| + |view| (view is
    * |event_type| rows), independent of the base table size — at 100 TB
    * this is the difference between a per-commit summary refresh being
    * free and being a full-table scan. Sums stay in decimal until the
    * final cast, so merge order cannot perturb them. */
  def incrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_mv",
      warehousePath = dest,
      numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    def partial(df: DataFrame): DataFrame = df.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).as("total_dec"))
    sink.append(e.filter(pmod($"event_id", lit(3)) =!= 0))
    val view = partial(sink.readVersion(spark, 1)) // materialized at v1
    sink.append(e.filter(pmod($"event_id", lit(3)) === 0))
    val delta = partial(sink.readChanges(spark, 1, 2)) // delta rows only
    view.unionByName(delta)
      .groupBy($"event_type")
      .agg(sum($"n").as("n"),
        sum($"total_dec").cast("double").as("total"))
      .orderBy($"event_type")
  }

  val incrementalAggSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Same snapshot-v1 contract as [[timeTravel]], exercised through the SQL
    * front door: [[GraftCatalog]] resolves `graft_cat.<table> VERSION AS OF
    * 1` against the sink's manifest log and hands Spark the exact v1 file
    * set as a native vectorized scan. A hash match proves the whole chain —
    * catalog registration, identifier resolution, time-travel manifest
    * lookup, partition-directory recovery — end to end, not just the
    * library-API path. */
  def catalogTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    // fixed warehouse + unique table name: catalog plugin instances (and
    // their options) are cached per session, so the warehouse must be
    // stable across invocations while each run still gets a fresh table
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_ct_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val sink = new TableSink(SinkConfig(
      tableName = tbl,
      warehousePath = wh,
      numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter(pmod($"event_id", lit(3)) =!= 0))
    sink.append(e.filter(pmod($"event_id", lit(3)) === 0))
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM graft_cat.$tbl VERSION AS OF 1
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val catalogTimeTravelSql: String = timeTravelSql

  /** The SQL WRITE front door end-to-end, no library call touches data:
    * `CREATE TABLE` (versioned property), two `INSERT INTO … SELECT`
    * commits, and the final aggregate — all through the catalog. The
    * oracle recomputes the aggregate from the source; the query also
    * pins that each SQL insert committed its own snapshot (versions
    * [1, 2] → time travel works on SQL-written history). */
  def sqlInsert(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_sqlw_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrc_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl " +
      "(event_id BIGINT, user_id BIGINT, value DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, user_id, value FROM $src WHERE event_id % 2 = 0")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, user_id, value FROM $src WHERE event_id % 2 = 1")
    val versions = new TableSink(SinkConfig(tableName = tbl,
      warehousePath = wh, versioned = true)).snapshotVersions()
    spark.sql(
      s"""SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  min(event_id) AS min_id, max(event_id) AS max_id
         |FROM graft_cat.$tbl""".stripMargin)
      .withColumn("two_commits", lit(versions == Seq(1, 2)))
  }

  val sqlInsertSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  TRUE AS two_commits
      |FROM events""".stripMargin

  /** `DELETE FROM … WHERE` through the pure-SQL door: ingest via
    * `INSERT INTO … SELECT`, delete a compound predicate (range AND
    * membership) via SQL, aggregate via SQL — the oracle recomputes the
    * survivors. Pins the whole filter-translation chain (analyzer
    * pushdown → V1 filters → SQL text → copy-on-write delete) and that
    * the table stays readable through the catalog afterwards. */
  def sqlDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_sqld_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrc_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl " +
      "(event_id BIGINT, user_id BIGINT, value DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, user_id, value FROM $src")
    spark.sql(s"DELETE FROM graft_cat.$tbl " +
      "WHERE value < 100.0 OR user_id IN (0, 7, 14)")
    spark.sql(
      s"""SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  min(event_id) AS min_id, max(event_id) AS max_id
         |FROM graft_cat.$tbl""".stripMargin)
  }

  val sqlDeleteSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events
      |WHERE NOT (coalesce(value < 100.0, FALSE)
      |        OR coalesce(user_id IN (0, 7, 14), FALSE))""".stripMargin

  /** `DELETE … WHERE` through the pure-SQL door in MERGE-ON-READ mode
    * (`spark.graft.sql.deleteMode=mor`): the statement commits a
    * deletion-vector sidecar — O(matched rows) metadata, ZERO data files
    * rewritten — and the catalog read path serves the table THROUGH the
    * pending sidecar (the scan executes the library read, which applies
    * it), so the post-delete SELECT runs with no compaction in between.
    * The `mor_metadata_only` flag is ORACLE-GATED: it is TRUE only when
    * the data-file inventory is byte-for-name identical across the
    * DELETE, so a silent regression to copy-on-write (or a refusal
    * masked by a fallback) fails the hash. Reference anchor: the
    * connector's only write mode is non-rewriting appends
    * (connector.py:233-245) — reads that tolerate delete sidecars are
    * the Iceberg-side dual of that discipline, and the Iceberg spec's
    * `write.delete.mode=merge-on-read` names the same trade. */
  def sqlDeleteMor(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_sqldm_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrcm_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl " +
      "(event_id BIGINT, user_id BIGINT, value DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, user_id, value FROM $src")
    val sink = new TableSink(SinkConfig(tableName = tbl,
      warehousePath = wh, versioned = true))
    val before = sink.dataFilesRel().toSet
    // a SELECTIVE predicate — the position flavor's intended workload:
    // every read loads all pending vectors on the driver and broadcasts
    // their union, up to a bit per row of each file they touch; the
    // broad-predicate twin is q_sql_delete (copy-on-write).
    try {
      spark.conf.set("spark.graft.sql.deleteMode", "mor")
      spark.sql(s"DELETE FROM graft_cat.$tbl " +
        "WHERE user_id IN (0, 7, 14)")
    } finally spark.conf.unset("spark.graft.sql.deleteMode")
    val metadataOnly = before.nonEmpty && sink.dataFilesRel().toSet == before
    spark.sql(
      s"""SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  min(event_id) AS min_id, max(event_id) AS max_id,
         |  $metadataOnly AS mor_metadata_only
         |FROM graft_cat.$tbl""".stripMargin)
  }

  val sqlDeleteMorSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  TRUE AS mor_metadata_only
      |FROM events
      |WHERE NOT coalesce(user_id IN (0, 7, 14), FALSE)""".stripMargin

  /** `UPDATE … SET … WHERE` through the pure-SQL door in MERGE-ON-READ
    * mode (`spark.graft.sql.updateMode=mor`, round-12): ONE commit
    * position-deletes the matched rows and appends their replacements —
    * O(matched rows) data IO, ZERO pre-existing data files rewritten or
    * removed, history preserved (no expiry). The sidecar is referenced
    * INSIDE the claimed snapshot (`#dv` line — the `#txn` pattern), so
    * no reader window ever shows old and new copies together. The
    * `mor_no_rewrite` flag is ORACLE-GATED: TRUE only when every
    * pre-update data file survives BY NAME AND the pre-update snapshot
    * is still time-travel-readable with the OLD total — a silent
    * regression to copy-on-write (which rewrites files and expires
    * history) fails the hash. Reference anchor: the connector's only
    * write mode is non-rewriting appends (connector.py:233-245). */
  def sqlUpdateMor(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_squm_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrcu_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl " +
      "(event_id BIGINT, user_id BIGINT, value DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, user_id, value FROM $src")
    val sink = new TableSink(SinkConfig(tableName = tbl,
      warehousePath = wh, versioned = true))
    val before = sink.dataFilesRel().toSet
    val oldTotal = spark.sql(
      s"""SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         |FROM graft_cat.$tbl""".stripMargin).collect()(0).getDouble(0)
    // a SELECTIVE predicate — the position flavor's intended workload
    // (the broad-update COW twin is q_sql_update); `value + 1000` keeps
    // the fractional digits bit-identical so the decimal-rounded oracle
    // total matches exactly
    try {
      spark.conf.set("spark.graft.sql.updateMode", "mor")
      spark.sql(s"UPDATE graft_cat.$tbl SET value = value + 1000.0 " +
        "WHERE user_id IN (0, 7, 14)")
    } finally spark.conf.unset("spark.graft.sql.updateMode")
    val after = sink.dataFilesRel().toSet
    val histTotal = spark.sql(
      s"""SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         |FROM graft_cat.$tbl VERSION AS OF 1""".stripMargin)
      .collect()(0).getDouble(0)
    val morNoRewrite = before.nonEmpty && before.subsetOf(after) &&
      math.abs(histTotal - oldTotal) < 1e-6
    spark.sql(
      s"""SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  min(event_id) AS min_id, max(event_id) AS max_id,
         |  $morNoRewrite AS mor_no_rewrite
         |FROM graft_cat.$tbl""".stripMargin)
  }

  val sqlUpdateMorSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(CASE WHEN coalesce(user_id IN (0, 7, 14), FALSE)
      |    THEN value + 1000.0 ELSE value END AS DECIMAL(18,2)))
      |    AS DOUBLE) AS total,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  TRUE AS mor_no_rewrite
      |FROM events""".stripMargin

  /** Changelog replay across a SCHEMA-EVOLUTION boundary (round-13):
    * ingest a slice under a 3-column schema, `ALTER TABLE ADD COLUMNS
    * (score)`, ingest the rest with a computed score, then MoR-delete a
    * predicate spanning BOTH file generations, and aggregate the FULL
    * changelog from the SQL door's `<table>.changes`. The per-(version,
    * type) sums prove (a) pre-evolution rows NULL-fill in the added
    * column, (b) the delete replay re-reads its mixed-generation
    * pre-commit snapshot under the declared HEAD schema, and (c) the
    * union of pre- and post-evolution change rows conforms — VERDICT
    * r12 missing (d). `score = value + 1000` keeps the fractional bits
    * identical on both engines (same trick as [[sqlUpdateMor]]). */
  def changelogEvolved(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl =
      s"events_chev_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrcev_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl " +
      "(event_id BIGINT, user_id BIGINT, value DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +                       // v1
      s"SELECT event_id, user_id, value FROM $src WHERE event_id % 3 <> 0")
    spark.sql(s"ALTER TABLE graft_cat.$tbl ADD COLUMNS (score DOUBLE)")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +                       // v2
      "SELECT event_id, user_id, value, value + 1000.0 " +
      s"FROM $src WHERE event_id % 3 = 0")
    val sink = new TableSink(SinkConfig(tableName = tbl,
      warehousePath = wh, versioned = true))
    sink.deleteWhere("value < 100.0")                                // v3
    spark.sql(
      s"""SELECT _change_version, _change_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  CAST(SUM(CAST(coalesce(score, 0.0) AS DECIMAL(18,2)))
         |    AS DOUBLE) AS score_total
         |FROM graft_cat.$tbl.changes
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  val changelogEvolvedSql: String =
    """WITH v1 AS (SELECT value, CAST(NULL AS DOUBLE) AS score
      |            FROM events WHERE event_id % 3 <> 0),
      |v2 AS (SELECT value, value + 1000.0 AS score
      |       FROM events WHERE event_id % 3 = 0),
      |chg AS (
      |  SELECT 1 AS _change_version, 'insert' AS _change_type, * FROM v1
      |  UNION ALL
      |  SELECT 2, 'insert', * FROM v2
      |  UNION ALL
      |  SELECT 3, 'delete', * FROM (
      |    SELECT * FROM v1 WHERE coalesce(value < 100.0, FALSE)
      |    UNION ALL
      |    SELECT * FROM v2 WHERE coalesce(value < 100.0, FALSE)))
      |SELECT CAST(_change_version AS BIGINT) AS _change_version,
      |  _change_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  CAST(SUM(CAST(coalesce(score, 0.0) AS DECIMAL(18,2)))
      |    AS DOUBLE) AS score_total
      |FROM chg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Changelog replay across a RENAME COLUMN boundary (round-13): the
    * third evolution kind after [[changelogEvolved]]'s ADD/DROP. Ingest
    * a slice under `amount`, `ALTER TABLE RENAME COLUMN amount TO
    * total`, ingest the rest, MoR-delete on the NEW name with a
    * predicate spanning BOTH file generations, aggregate the full
    * changelog. Proves pre-rename files' VALUES carry under the renamed
    * head column — the rename fold (physical-name coalesce,
    * `_graft_renames`) runs before the replay's predicate evaluates and
    * before the cross-generation union conforms; a NULL-filled column
    * here would zero half of `total_amt`. */
  def changelogRenamed(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl =
      s"events_chrn_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrcrn_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl " +
      "(event_id BIGINT, user_id BIGINT, amount DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +                       // v1
      s"SELECT event_id, user_id, value FROM $src WHERE event_id % 3 <> 0")
    spark.sql(s"ALTER TABLE graft_cat.$tbl RENAME COLUMN amount TO total")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +                       // v2
      s"SELECT event_id, user_id, value FROM $src WHERE event_id % 3 = 0")
    val sink = new TableSink(SinkConfig(tableName = tbl,
      warehousePath = wh, versioned = true))
    sink.deleteWhere("total < 100.0")                                // v3
    spark.sql(
      s"""SELECT _change_version, _change_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(total AS DECIMAL(18,2))) AS DOUBLE) AS total_amt
         |FROM graft_cat.$tbl.changes
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  val changelogRenamedSql: String =
    """WITH v1 AS (SELECT value FROM events WHERE event_id % 3 <> 0),
      |v2 AS (SELECT value FROM events WHERE event_id % 3 = 0),
      |chg AS (
      |  SELECT 1 AS _change_version, 'insert' AS _change_type, * FROM v1
      |  UNION ALL
      |  SELECT 2, 'insert', * FROM v2
      |  UNION ALL
      |  SELECT 3, 'delete', * FROM (
      |    SELECT * FROM v1 WHERE coalesce(value < 100.0, FALSE)
      |    UNION ALL
      |    SELECT * FROM v2 WHERE coalesce(value < 100.0, FALSE)))
      |SELECT CAST(_change_version AS BIGINT) AS _change_version,
      |  _change_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_amt
      |FROM chg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Changelog replay across a TYPE-WIDENING boundary (round-14): the
    * fourth evolution kind, completing [[changelogEvolved]] (ADD) and
    * [[changelogRenamed]] (RENAME). Ingest under INT, `ALTER COLUMN …
    * TYPE BIGINT`, ingest values an int32 cannot hold, MoR-delete a
    * predicate spanning BOTH file generations, aggregate the full
    * changelog. The replay must read mixed narrow/wide generations in
    * one pass — the declared-schema fallback (`_graft_schema` beats
    * footer inference) upcasts the old int32 files; inference would pin
    * whichever width the sampled footer carried and fail the scan on
    * the other generation. `total_uid` would be wrong, not just the
    * schema, if the narrow generation NULL-filled or truncated. */
  def changelogWidened(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl =
      s"events_chwd_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrcwd_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl " +
      "(event_id BIGINT, uid INT, value DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +                       // v1
      s"SELECT event_id, CAST(user_id AS INT), value FROM $src " +
      "WHERE event_id % 3 <> 0")
    spark.sql(s"ALTER TABLE graft_cat.$tbl ALTER COLUMN uid TYPE BIGINT")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +                       // v2
      s"SELECT event_id, user_id + 5000000000, value FROM $src " +
      "WHERE event_id % 3 = 0")
    val sink = new TableSink(SinkConfig(tableName = tbl,
      warehousePath = wh, versioned = true))
    sink.deleteWhere("value < 100.0")                                // v3
    spark.sql(
      s"""SELECT _change_version, _change_type, COUNT(*) AS n,
         |  CAST(SUM(uid) AS BIGINT) AS total_uid,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM graft_cat.$tbl.changes
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  val changelogWidenedSql: String =
    """WITH v1 AS (SELECT CAST(CAST(user_id AS INTEGER) AS BIGINT) AS uid,
      |              value FROM events WHERE event_id % 3 <> 0),
      |v2 AS (SELECT user_id + 5000000000 AS uid, value
      |       FROM events WHERE event_id % 3 = 0),
      |chg AS (
      |  SELECT 1 AS _change_version, 'insert' AS _change_type, * FROM v1
      |  UNION ALL
      |  SELECT 2, 'insert', * FROM v2
      |  UNION ALL
      |  SELECT 3, 'delete', * FROM (
      |    SELECT * FROM v1 WHERE coalesce(value < 100.0, FALSE)
      |    UNION ALL
      |    SELECT * FROM v2 WHERE coalesce(value < 100.0, FALSE)))
      |SELECT CAST(_change_version AS BIGINT) AS _change_version,
      |  _change_type, COUNT(*) AS n,
      |  CAST(SUM(uid) AS BIGINT) AS total_uid,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM chg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** TYPE-WIDENING schema evolution through the pure-SQL door: ingest
    * under INT, `ALTER COLUMN … TYPE BIGINT`, insert a value a 32-bit
    * int cannot hold, aggregate — old int32 files upcast at scan under
    * the widened declared schema (Iceberg spec "Schema Evolution"
    * permitted promotions; no field ids needed, the declared schema
    * governs every read). The scalar subquery reads VERSION AS OF 1 —
    * the PRE-widen snapshot — under the widened schema, pinning that
    * time travel is never schema-shifted. Oracle: the same aggregates
    * recomputed over the source plus the sentinel row. */
  def sqlWiden(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_sqlw_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrcw_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl (event_id BIGINT, uid INT) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, CAST(user_id AS INT) FROM $src")
    spark.sql(s"ALTER TABLE graft_cat.$tbl ALTER COLUMN uid TYPE BIGINT")
    spark.sql(s"INSERT INTO graft_cat.$tbl VALUES (-1, 5000000000)")
    spark.sql(
      s"""SELECT COUNT(*) AS n, SUM(uid) AS total_uid, MAX(uid) AS max_uid,
         |  (SELECT SUM(uid) FROM graft_cat.$tbl VERSION AS OF 1)
         |    AS total_v1
         |FROM graft_cat.$tbl""".stripMargin)
  }

  val sqlWidenSql: String =
    """SELECT COUNT(*) + 1 AS n,
      |  CAST(SUM(CAST(CAST(user_id AS INTEGER) AS BIGINT)) + 5000000000
      |    AS BIGINT) AS total_uid,
      |  CAST(5000000000 AS BIGINT) AS max_uid,
      |  CAST(SUM(CAST(CAST(user_id AS INTEGER) AS BIGINT)) AS BIGINT)
      |    AS total_v1
      |FROM events""".stripMargin

  /** `INSERT INTO … REPLACE WHERE` through the pure-SQL door (DSv2
    * SupportsOverwrite → [[TableSink.replaceWhere]]): the statement
    * deletes the matching slice and inserts the replacement rows as ONE
    * commit, and on this identity-partitioned table only the 'error'
    * partition rewrites ([[TableSink.replacePartitionsScoped]] — the
    * Delta dynamic-replaceWhere shape). The replacement recomputes the
    * slice with a value bump, so the oracle is a CASE over the source:
    * every engine-side piece (the partition routing, the delete+insert
    * fusion, the scoped commit) must compose exactly or the hash
    * drifts. */
  def sqlReplaceWhere(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_rw_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrcr_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    val sink = new TableSink(SinkConfig(tableName = tbl, warehousePath = wh,
      versioned = true, numPartitions = 4,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.select(col("event_id"), col("user_id"), col("value"),
      col("event_type")))
    spark.sql(s"INSERT INTO graft_cat.$tbl REPLACE WHERE " +
      "event_type = 'error' " +
      s"SELECT event_id, user_id, value * 2.0, event_type FROM $src " +
      "WHERE event_type = 'error' AND value >= 50.0")
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM graft_cat.$tbl GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  val sqlReplaceWhereSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM (
      |  SELECT event_type, value FROM events WHERE event_type <> 'error'
      |  UNION ALL
      |  SELECT event_type, value * 2.0 AS value FROM events
      |  WHERE event_type = 'error' AND value >= 50.0
      |) GROUP BY 1 ORDER BY 1""".stripMargin

  /** `UPDATE … SET … WHERE` through the pure-SQL door ([[GraftDmlRule]]):
    * ingest via `INSERT INTO … SELECT`, update a compound predicate with a
    * self-referencing SET expression (`value * 2 + 1` — the new value reads
    * the row's current value), aggregate via SQL. The oracle recomputes
    * the post-update state with a CASE over the source — IEEE double
    * multiply/add are bit-identical across engines (never division, per
    * the float-parity rules). Pins the whole interception chain: analyzer
    * resolution → [[GraftDmlRule]] → [[GraftUpdateCommand]] → guarded
    * row-count-verified rewrite — and that the table stays readable
    * through the catalog afterwards. */
  def sqlUpdate(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_squ_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrc_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl " +
      "(event_id BIGINT, user_id BIGINT, value DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, user_id, value FROM $src")
    spark.sql(s"UPDATE graft_cat.$tbl " +
      "SET value = value * 2.0 + 1.0 " +
      "WHERE user_id % 5 = 0 AND value >= 100.0")
    spark.sql(
      s"""SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  min(event_id) AS min_id, max(event_id) AS max_id
         |FROM graft_cat.$tbl""".stripMargin)
  }

  val sqlUpdateSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(CASE WHEN user_id % 5 = 0 AND value >= 100.0
      |                     THEN value * 2.0 + 1.0 ELSE value END
      |               AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events""".stripMargin

  /** SQL DML on an identity-PARTITIONED table — the persisted partition
    * spec makes the catalog door writable (GraftCatalog.fileTable):
    * library append declares `identity(event_type)`, then pure SQL
    * INSERTs a synthetic partition, DELETEs part of one partition
    * (partition-scoped copy-on-write — untouched partitions keep their
    * files), UPDATEs another, and aggregates per partition. The oracle
    * composes the same four ops over the source. */
  def sqlPartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_sqp_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrc_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    val sink = new TableSink(SinkConfig(tableName = tbl, warehousePath = wh,
      versioned = true, numPartitions = 4,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity))))
    sink.append(e.select(col("event_id"), col("user_id"), col("value"),
      col("event_type")))
    // recovered schema orders the partition column last
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id + 10000000, user_id, value, 'synthetic' " +
      s"FROM $src WHERE event_id % 100 = 0")
    spark.sql(s"DELETE FROM graft_cat.$tbl " +
      "WHERE event_type = 'click' AND value < 50.0")
    spark.sql(s"UPDATE graft_cat.$tbl SET value = value + 10.0 " +
      "WHERE event_type = 'view'")
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM graft_cat.$tbl GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** SQL DML on a HIDDEN-transform partitioned table — the reference's
    * core semantic (README.md:141-155, connector.py:285-323) through the
    * pure-SQL door: a library-created `day(ts)` table takes a SQL INSERT
    * that supplies only source columns (the sink re-derives the
    * partition value into the right `ts_day=` directory), reads see the
    * LOGICAL schema (the derived directory column projected away), and
    * a SQL DELETE rewrites through the library's copy-on-write path.
    * The final aggregate groups by the derivation — committed rows from
    * both doors must land in the same day buckets as the oracle computes
    * directly from the source column. */
  def sqlHiddenPartition(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_shp_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrc_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    val sink = new TableSink(SinkConfig(tableName = tbl, warehousePath = wh,
      versioned = true, numPartitions = 4,
      partitionSpec = Seq(PartitionField("ts", Transform.Day))))
    sink.append(e.select(col("event_id"), col("ts"), col("value"))
      .where(col("event_id") % 2 === 0))
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, ts, value FROM $src WHERE event_id % 2 = 1")
    // merge-on-read DELETE (round-11): the statement commits O(matched)
    // position metadata instead of rewriting every day partition (the
    // old copy-on-write shape was the bench's one remaining
    // O(data)-per-statement term — ~27-43 s at gen sf10), and the final
    // SELECT reads THROUGH the pending sidecar via the catalog's
    // library-read serving path — the full MoR loop through pure SQL.
    try {
      spark.conf.set("spark.graft.sql.deleteMode", "mor")
      spark.sql(s"DELETE FROM graft_cat.$tbl WHERE value < 10.0")
    } finally spark.conf.unset("spark.graft.sql.deleteMode")
    spark.sql(
      s"""SELECT CAST(date_trunc('DAY', ts) AS TIMESTAMP) AS day,
         |  COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM graft_cat.$tbl GROUP BY 1 ORDER BY 1 LIMIT 25""".stripMargin)
  }

  /** Column RENAME via the persisted name-mapping sidecar: a SQL-created
    * table takes a batch under the ORIGINAL column name, renames it
    * (`ALTER TABLE … RENAME COLUMN` — no data rewrite; `_graft_renames`
    * records old→new and every scan coalesces the generations), takes a
    * second batch under the NEW name, and serves both the head read and
    * a PRE-RENAME `VERSION AS OF` read under the current schema — the
    * Iceberg rename contract, done with a name mapping instead of field
    * ids. */
  def sqlRename(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_ren_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrc_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl (event_id BIGINT, val DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " + // v1: physical name 'val'
      s"SELECT event_id, value FROM $src WHERE event_id % 2 = 0")
    spark.sql(s"ALTER TABLE graft_cat.$tbl RENAME COLUMN val TO amount")
    spark.sql(s"INSERT INTO graft_cat.$tbl " + // v2: physical name 'amount'
      s"SELECT event_id, value FROM $src WHERE event_id % 2 = 1")
    spark.sql(
      s"""SELECT phase, n, total FROM (
         |  SELECT 'head' AS phase, COUNT(*) AS n,
         |    CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
         |  FROM graft_cat.$tbl WHERE amount >= 5.0
         |  UNION ALL
         |  SELECT 'v1' AS phase, COUNT(*) AS n,
         |    CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
         |  FROM graft_cat.$tbl VERSION AS OF 1 WHERE amount >= 5.0
         |) ORDER BY phase""".stripMargin)
  }

  val sqlRenameSql: String =
    """SELECT phase, n, total FROM (
      |  SELECT 'head' AS phase, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM events WHERE value >= 5.0
      |  UNION ALL
      |  SELECT 'v1' AS phase, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM events WHERE value >= 5.0 AND event_id % 2 = 0
      |) t ORDER BY phase""".stripMargin

  /** Hidden-partition PRUNING through the SQL door, oracle-gated: a
    * `day(ts)`-partitioned table answers a source-column window through
    * the catalog, and the physical scan must touch a strict subset of
    * the table's files — the derivation pruned the other day
    * directories at planning, no analyze involved. The `pruned` flag
    * rides in the result row (the oracle expects TRUE), so a silent
    * pruning regression is a hash mismatch, not just a slow plan. */
  def sqlHiddenPrune(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_shpr_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val sink = new TableSink(SinkConfig(tableName = tbl, warehousePath = wh,
      versioned = true, numPartitions = 2,
      partitionSpec = Seq(PartitionField("ts", Transform.Day))))
    sink.append(e.select(col("event_id"), col("ts"), col("value")))
    val where = "ts >= TIMESTAMP '2024-01-05 00:00:00' AND " +
      "ts < TIMESTAMP '2024-01-08 00:00:00'"
    val q = spark.sql(
      s"""SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM graft_cat.$tbl WHERE $where""".stripMargin)
    // measure the scan on an exchange-free probe with the same WHERE
    // (the aggregate plan is AQE-wrapped, hiding its scan pre-execution)
    val scanned = spark
      .sql(s"SELECT event_id FROM graft_cat.$tbl WHERE $where")
      .queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case p: org.apache.spark.sql.execution.datasources.v2.parquet
                .ParquetScan => p.fileIndex.inputFiles.length
            case _ => Int.MaxValue
          }
      }.min
    val total = sink.read(spark).inputFiles.length
    q.withColumn("pruned", org.apache.spark.sql.functions.lit(
      scanned < total && scanned > 0))
  }

  val sqlHiddenPruneSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  TRUE AS pruned
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-08 00:00:00'""".stripMargin

  val sqlHiddenPartitionSql: String =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events WHERE value >= 10.0
      |GROUP BY 1 ORDER BY 1 LIMIT 25""".stripMargin

  val sqlPartitionedSql: String =
    """WITH final AS (
      |  SELECT event_type,
      |    CASE WHEN event_type = 'view' THEN value + 10.0 ELSE value END AS value
      |  FROM events
      |  WHERE NOT (event_type = 'click' AND value < 50.0)
      |  UNION ALL
      |  SELECT 'synthetic' AS event_type, value FROM events
      |  WHERE event_id % 100 = 0
      |)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM final GROUP BY 1 ORDER BY 1""".stripMargin

  /** Whole-table `INSERT OVERWRITE` through the catalog: ingest all,
    * overwrite with a filtered re-select (the guarded rewrite swap —
    * truncate capability + V2Writes' OverwriteByExpression(true) path),
    * aggregate. The oracle is the filter itself. */
  def sqlOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_sqo_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrc_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl " +
      "(event_id BIGINT, value DOUBLE) TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl SELECT event_id, value FROM $src")
    spark.sql(s"INSERT OVERWRITE graft_cat.$tbl " +
      s"SELECT event_id, value FROM $src WHERE value >= 50.0")
    spark.sql(
      s"""SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  min(event_id) AS min_id, max(event_id) AS max_id
         |FROM graft_cat.$tbl""".stripMargin)
  }

  val sqlOverwriteSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events WHERE value >= 50.0""".stripMargin

  /** Iceberg-style metadata tables through pure SQL
    * (`cat.t.snapshots` / `.files` / `.partitions` — [[GraftMetaTable]]):
    * two INSERT commits, then one SQL query composing all three views.
    * Deterministic columns only (versions, parents, record counts —
    * never wall-clock or file counts, which the record-per-file split
    * may vary); the oracle recomputes the counts from the source. Pins
    * identifier resolution (`<table>` as the namespace tail), the
    * driver-built tables' `LocalScan` serving (each of the three inputs
    * plans as a local table scan, the `files` aggregate evaluated by
    * [[LocalScanStrategy]]), and that the manifest-served inventories
    * agree with the snapshot log. */
  def metaSql(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_mts_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrc_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl " +
      "(event_id BIGINT, value DOUBLE) TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, value FROM $src WHERE event_id % 2 = 0")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, value FROM $src WHERE event_id % 2 = 1")
    spark.sql(
      s"""SELECT s.version, s.parent_version, f.total_records,
         |  p.part_key, p.part_records
         |FROM graft_cat.$tbl.snapshots s
         |CROSS JOIN (SELECT CAST(SUM(record_count) AS BIGINT) AS total_records
         |            FROM graft_cat.$tbl.files) f
         |CROSS JOIN (SELECT `partition` AS part_key,
         |              CAST(record_count AS BIGINT) AS part_records
         |            FROM graft_cat.$tbl.partitions) p
         |ORDER BY s.version""".stripMargin)
  }

  val metaSqlSql: String =
    """SELECT CAST(v AS BIGINT) AS version,
      |  CAST(CASE WHEN v = 2 THEN 1 END AS BIGINT) AS parent_version,
      |  (SELECT COUNT(*) FROM events) AS total_records,
      |  '' AS part_key,
      |  (SELECT COUNT(*) FROM events) AS part_records
      |FROM (VALUES (1), (2)) t(v) ORDER BY 1""".stripMargin

  /** The `.changes` metadata table — the full CDC changelog through pure
    * SQL — against a history that mixes both commit kinds: two appends
    * (manifest file-set diffs) and one merge-on-read predicate delete
    * ([[TableSink.deleteWhere]]), which the changelog REPLAYS against its
    * pre-commit snapshot even while the main catalog read refuses the
    * pending sidecar. The aggregate keys on (`_change_type`,
    * `_change_version`) so the hash pins which rows each commit
    * inserted/deleted, not just totals; the oracle recomputes all three
    * commits' row sets from the source. Everything data-sized here runs
    * distributed: the insert diffs are native file scans and the delete
    * replay is one filtered scan, served through [[GraftMetaTable]]'s
    * V1Scan — only the grouped rows reach the driver. */
  def changesSql(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_chg_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val sink = new TableSink(SinkConfig(
      tableName = tbl, warehousePath = wh, versioned = true))
    val slim = e.select($"event_id", $"event_type", $"value")
    sink.append(slim.filter(pmod($"event_id", lit(2)) === 0)) // v1
    sink.append(slim.filter(pmod($"event_id", lit(2)) === 1)) // v2
    sink.deleteWhere("value < 10.0")                          // v3: MoR
    spark.sql(
      s"""SELECT _change_type, _change_version, COUNT(*) AS n,
         |  CAST(SUM(event_id) AS BIGINT) AS id_sum
         |FROM graft_cat.$tbl.changes
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  val changesSqlSql: String =
    """SELECT * FROM (
      |  SELECT 'insert' AS _change_type, CAST(1 AS BIGINT) AS _change_version,
      |    COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS id_sum
      |  FROM events WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT 'insert', CAST(2 AS BIGINT), COUNT(*),
      |    CAST(SUM(event_id) AS BIGINT)
      |  FROM events WHERE event_id % 2 = 1
      |  UNION ALL
      |  SELECT 'delete', CAST(3 AS BIGINT), COUNT(*),
      |    CAST(SUM(event_id) AS BIGINT)
      |  FROM events WHERE value < 10.0
      |) ORDER BY 1, 2""".stripMargin

  /** Maintenance through SQL `CALL` ([[GraftProcedures]], Spark 4's DSv2
    * `ProcedureCatalog`): two INSERT commits, `CALL system.expire_snapshots`
    * (drops v1), `CALL system.compact` (materializing rewrite — history
    * restarts at a fresh generation v1), then one SQL aggregate joined
    * with the snapshots metadata view. Deterministic columns only: the
    * surviving snapshot VERSION pins that expiry ran and the rewrite
    * restarted history, the aggregate pins that no row was lost through
    * either op; file counts (which the compaction target makes
    * data-size-dependent) stay out of the hash. */
  def sqlCall(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_cal_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrc_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl " +
      "(event_id BIGINT, value DOUBLE) TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, value FROM $src WHERE event_id % 2 = 0")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, value FROM $src WHERE event_id % 2 = 1")
    spark.sql(s"CALL graft_cat.system.expire_snapshots(" +
      s"`table` => '$tbl', keep_last => 1)")
    spark.sql(s"CALL graft_cat.system.compact(`table` => '$tbl')")
    spark.sql(
      s"""SELECT s.version AS snapshot_version, agg.n, agg.total
         |FROM graft_cat.$tbl.snapshots s
         |CROSS JOIN (SELECT COUNT(*) AS n,
         |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         |  FROM graft_cat.$tbl) agg""".stripMargin)
  }

  val sqlCallSql: String =
    """SELECT CAST(1 AS BIGINT) AS snapshot_version, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events""".stripMargin

  /** Table ADOPTION through SQL (`CALL system.adopt` —
    * [[TableSink.adopt]], Iceberg's migrate/add_files analogue): a PLAIN
    * parquet directory written by a stock `df.write` (no graft protocol
    * anywhere near it) becomes snapshot v1 without any data rewrite,
    * then a SQL INSERT commits v2 off the adopted manifest. The final
    * row set pins the version spine [1, 2], that `VERSION AS OF 1` is
    * exactly the pre-adoption files, and that the head is the union —
    * the full convert-then-write lifecycle, hash-checked. */
  def sqlAdopt(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_adp_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrc_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    // the pre-existing plain directory: stock parquet write, two files
    e.select($"event_id", $"value")
      .filter(pmod($"event_id", lit(2)) === 0)
      .coalesce(2).write.parquet(s"$wh/$tbl")
    spark.sql(s"CALL graft_cat.system.adopt(`table` => '$tbl')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, value FROM $src WHERE event_id % 2 = 1")
    spark.sql(
      s"""SELECT s.version, v1.n_v1, agg.n, agg.total
         |FROM graft_cat.$tbl.snapshots s
         |CROSS JOIN (SELECT COUNT(*) AS n_v1
         |  FROM graft_cat.$tbl VERSION AS OF 1) v1
         |CROSS JOIN (SELECT COUNT(*) AS n,
         |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         |  FROM graft_cat.$tbl) agg
         |ORDER BY s.version""".stripMargin)
  }

  val sqlAdoptSql: String =
    """SELECT CAST(v AS BIGINT) AS version,
      |  (SELECT COUNT(*) FROM events WHERE event_id % 2 = 0) AS n_v1,
      |  (SELECT COUNT(*) FROM events) AS n,
      |  (SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
      |   FROM events) AS total
      |FROM (VALUES (1), (2)) t(v) ORDER BY 1""".stripMargin

  /** The LAYERED manifest log end-to-end (`CALL system.compact_manifests`
    * — [[TableSink.compactManifests]], Iceberg `rewrite_manifests`):
    * three INSERT commits chain three delta manifests, the CALL folds
    * them into ONE merged manifest as a metadata-only snapshot (v4), and
    * a fourth INSERT chains off the merged head. The result pins the
    * version spine [1..5], that `VERSION AS OF 2` still reads through
    * the original deltas (pre-merge history intact), that the merge
    * commit changed NO rows (v4 count = v3 count), and that the head is
    * lossless — the whole manifest-layer lifecycle, hash-checked. */
  def manifestCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_mfc_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrc_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl (event_id BIGINT, value DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    (0 to 2).foreach(r => spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, value FROM $src WHERE event_id % 3 = $r"))
    spark.sql(
      s"CALL graft_cat.system.compact_manifests(`table` => '$tbl')") // v4
    spark.sql(s"INSERT INTO graft_cat.$tbl " + // v5 chains off the merge
      s"SELECT event_id + 1000000000, value FROM $src WHERE event_id % 3 = 0")
    spark.sql(
      s"""SELECT s.version, v2.n_v2, v34.n_v3, v34.n_v4, agg.n, agg.total
         |FROM graft_cat.$tbl.snapshots s
         |CROSS JOIN (SELECT COUNT(*) AS n_v2
         |  FROM graft_cat.$tbl VERSION AS OF 2) v2
         |CROSS JOIN (
         |  SELECT (SELECT COUNT(*) FROM graft_cat.$tbl VERSION AS OF 3)
         |      AS n_v3,
         |    (SELECT COUNT(*) FROM graft_cat.$tbl VERSION AS OF 4) AS n_v4
         |) v34
         |CROSS JOIN (SELECT COUNT(*) AS n,
         |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         |  FROM graft_cat.$tbl) agg
         |ORDER BY s.version""".stripMargin)
  }

  val manifestCompactSql: String =
    """SELECT CAST(v AS BIGINT) AS version,
      |  (SELECT COUNT(*) FROM events WHERE event_id % 3 IN (0, 1)) AS n_v2,
      |  (SELECT COUNT(*) FROM events) AS n_v3,
      |  (SELECT COUNT(*) FROM events) AS n_v4,
      |  (SELECT COUNT(*) + (SELECT COUNT(*) FROM events
      |     WHERE event_id % 3 = 0) FROM events) AS n,
      |  (SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) +
      |     (SELECT SUM(CAST(value AS DECIMAL(18,2))) FROM events
      |      WHERE event_id % 3 = 0) AS DOUBLE) FROM events) AS total
      |FROM (VALUES (1), (2), (3), (4), (5)) t(v) ORDER BY 1""".stripMargin

  /** WRITE-AUDIT-PUBLISH through SQL (`CALL system.branch` /
    * `system.publish` — [[GraftProcedures]] over [[TableSink]] branches):
    * v1 inserts the even half, a CALL creates branch 'audit', the odd
    * half is STAGED on the branch (main's readers never see it — the
    * fixture asserts that isolation eagerly, pre-publish), the branch is
    * audited via `VERSION AS OF 'audit'`, then `CALL system.publish`
    * fast-forwards main. The result pins the version spine [1, 2] (a
    * branch append must NOT mint a main version), that v1 stayed
    * even-only, that the audited branch already saw everything, and that
    * the published head is the union — the full WAP lifecycle without
    * leaving the SQL door. Pure metadata throughout: publish moves no
    * data file. */
  def sqlBranch(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_wap_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrc_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl (event_id BIGINT, value DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, value FROM $src WHERE event_id % 2 = 0")
    spark.sql(s"CALL graft_cat.system.branch(`table` => '$tbl', " +
      "name => 'audit')")
    // stage the odd half ON THE BRANCH (the library append surface — a
    // SQL INSERT always targets main, which is exactly what WAP avoids)
    val sink = new TableSink(SinkConfig(tableName = tbl,
      warehousePath = wh, versioned = true))
    sink.appendToBranch("audit",
      spark.sql(s"SELECT event_id, value FROM $src WHERE event_id % 2 = 1"))
    // eager isolation check, BEFORE publish (the returned frame is lazy
    // and would otherwise observe post-publish state): main still reads
    // the even half only, the branch already reads the union
    val evenN = spark.sql(
      s"SELECT COUNT(*) FROM $src WHERE event_id % 2 = 0").head().getLong(0)
    val allN = spark.sql(s"SELECT COUNT(*) FROM $src").head().getLong(0)
    val mainPre = spark.sql(
      s"SELECT COUNT(*) FROM graft_cat.$tbl").head().getLong(0)
    val branchPre = spark.sql(
      s"SELECT COUNT(*) FROM graft_cat.$tbl VERSION AS OF 'audit'")
      .head().getLong(0)
    require(mainPre == evenN,
      s"staged branch rows leaked into main pre-publish: $mainPre != $evenN")
    require(branchPre == allN,
      s"branch audit read must see base + staged: $branchPre != $allN")
    spark.sql(s"CALL graft_cat.system.publish(`table` => '$tbl', " +
      "name => 'audit')")
    spark.sql(
      s"""SELECT s.version, v1.n_v1, agg.n, agg.total
         |FROM graft_cat.$tbl.snapshots s
         |CROSS JOIN (SELECT COUNT(*) AS n_v1
         |  FROM graft_cat.$tbl VERSION AS OF 1) v1
         |CROSS JOIN (SELECT COUNT(*) AS n,
         |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         |  FROM graft_cat.$tbl) agg
         |ORDER BY s.version""".stripMargin)
  }

  val sqlBranchSql: String =
    """SELECT CAST(v AS BIGINT) AS version,
      |  (SELECT COUNT(*) FROM events WHERE event_id % 2 = 0) AS n_v1,
      |  (SELECT COUNT(*) FROM events) AS n,
      |  (SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
      |   FROM events) AS total
      |FROM (VALUES (1), (2)) t(v) ORDER BY 1""".stripMargin

  /** `ALTER TABLE DROP COLUMN` through the SQL door: batch 1 lands WITH
    * a `tag` column, the DROP shrinks the declared schema (old files
    * keep their bytes; reads project the column away — and the
    * tombstone permanently refuses a same-name re-add, the field-id
    * hazard), batch 2 inserts under the evolved two-column shape. The
    * final aggregate over the union plus the v1 count pins that both
    * generations co-read under the evolved schema and no row was lost
    * to the projection. */
  def sqlDropColumn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_drp_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrc_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl " +
      "(event_id BIGINT, value DOUBLE, tag STRING) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, value, 'legacy' FROM $src WHERE event_id % 2 = 0")
    spark.sql(s"ALTER TABLE graft_cat.$tbl DROP COLUMN tag")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, value FROM $src WHERE event_id % 2 = 1")
    spark.sql(
      s"""SELECT agg.n, agg.total, v1.n_v1
         |FROM (SELECT COUNT(*) AS n,
         |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         |  FROM graft_cat.$tbl) agg
         |CROSS JOIN (SELECT COUNT(*) AS n_v1
         |  FROM graft_cat.$tbl VERSION AS OF 1) v1""".stripMargin)
  }

  val sqlDropColumnSql: String =
    """SELECT (SELECT COUNT(*) FROM events) AS n,
      |  (SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
      |   FROM events) AS total,
      |  (SELECT COUNT(*) FROM events WHERE event_id % 2 = 0) AS n_v1""".stripMargin

  /** `ALTER TABLE ADD COLUMNS` + the evolved column through every door:
    * batch 1 lands pre-evolution, the ALTER grows the declared schema
    * (old files read the column as NULL — Iceberg's additive evolution),
    * batch 2 inserts WITH the column, and a SQL UPDATE back-fills the
    * legacy rows; the final per-category aggregate proves both
    * generations co-read under one schema. The oracle replays the
    * category derivation with a CASE over the source. */
  def sqlAlter(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_sqa_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrc_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl (event_id BIGINT, value DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, value FROM $src WHERE event_id % 2 = 0")
    spark.sql(s"ALTER TABLE graft_cat.$tbl ADD COLUMNS (category STRING)")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, value, " +
      s"CASE WHEN value < 50.0 THEN 'low' ELSE 'high' END FROM $src " +
      s"WHERE event_id % 2 = 1")
    spark.sql(s"UPDATE graft_cat.$tbl SET category = 'legacy' " +
      "WHERE category IS NULL")
    spark.sql(
      s"""SELECT category, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM graft_cat.$tbl GROUP BY category ORDER BY category""".stripMargin)
  }

  val sqlAlterSql: String =
    """SELECT CASE WHEN event_id % 2 = 0 THEN 'legacy'
      |            WHEN value < 50.0 THEN 'low' ELSE 'high' END AS category,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** `MERGE INTO` through the pure-SQL door, every action class firing:
    * target = events with `event_id % 3 <> 0`, source = even event_ids;
    * MATCHED rows update (`s.value + 1000`) under 50.0 and DELETE above,
    * NOT MATCHED inserts only `value >= 10`, NOT MATCHED BY SOURCE
    * deletes `value < 5` — conditional cascades in all three classes
    * (value spans 0.01–490 at every SF, so each branch is non-empty).
    * The oracle composes the same four row sets from the source table.
    * event_id is unique, so the merge is cardinality-clean by
    * construction; the violation path is spec-covered
    * (GraftDmlSpec). */
  def sqlMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_sqm_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrc_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl " +
      "(event_id BIGINT, user_id BIGINT, value DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, user_id, value FROM $src WHERE event_id % 3 <> 0")
    spark.sql(
      s"""MERGE INTO graft_cat.$tbl AS tgt
         |USING (SELECT event_id, user_id, value FROM $src
         |       WHERE event_id % 2 = 0) AS s
         |ON tgt.event_id = s.event_id
         |WHEN MATCHED AND s.value < 50.0 THEN
         |  UPDATE SET value = s.value + 1000.0
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED AND s.value >= 10.0 THEN
         |  INSERT (event_id, user_id, value)
         |  VALUES (s.event_id, s.user_id, s.value)
         |WHEN NOT MATCHED BY SOURCE AND tgt.value < 5.0 THEN DELETE
         |""".stripMargin)
    spark.sql(
      s"""SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  min(event_id) AS min_id, max(event_id) AS max_id
         |FROM graft_cat.$tbl""".stripMargin)
  }

  val sqlMergeSql: String =
    """WITH final AS (
      |  SELECT event_id, user_id,
      |    CASE WHEN event_id % 2 = 0 THEN value + 1000.0 ELSE value END AS value
      |  FROM events
      |  WHERE event_id % 3 <> 0
      |    AND NOT (event_id % 2 = 0 AND value >= 50.0)
      |    AND NOT (event_id % 2 <> 0 AND value < 5.0)
      |  UNION ALL
      |  SELECT event_id, user_id, value FROM events
      |  WHERE event_id % 6 = 0 AND value >= 10.0
      |)
      |SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM final""".stripMargin

  /** `MERGE INTO` through the pure-SQL door in MERGE-ON-READ mode
    * (`spark.graft.sql.mergeMode=mor`, round-12): ONE commit
    * position-deletes the target rows an action fired on and appends
    * the survivors' new values plus the fired inserts — O(changed rows)
    * data IO, ZERO pre-existing files rewritten, history preserved;
    * untouched rows are never read-modified-written. The `mor_no_rewrite`
    * flag is ORACLE-GATED exactly like `q_sql_update_mor`'s: TRUE only
    * when every pre-merge data file survives by name AND the pre-merge
    * snapshot still time-travels to the old total. All three action
    * classes fire: matched update + matched delete (selective source —
    * the position flavor's workload), not-matched insert. */
  def sqlMergeMor(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_sqmm_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrcmm_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl " +
      "(event_id BIGINT, user_id BIGINT, value DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, user_id, value FROM $src WHERE event_id % 3 <> 0")
    val sink = new TableSink(SinkConfig(tableName = tbl,
      warehousePath = wh, versioned = true))
    val before = sink.dataFilesRel().toSet
    val oldTotal = spark.sql(
      s"""SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         |FROM graft_cat.$tbl""".stripMargin).collect()(0).getDouble(0)
    try {
      spark.conf.set("spark.graft.sql.mergeMode", "mor")
      spark.sql(
        s"""MERGE INTO graft_cat.$tbl AS tgt
           |USING (SELECT event_id, user_id, value FROM $src
           |       WHERE user_id IN (0, 7, 14)) AS s
           |ON tgt.event_id = s.event_id
           |WHEN MATCHED AND s.value < 100.0 THEN
           |  UPDATE SET value = s.value + 1000.0
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED THEN
           |  INSERT (event_id, user_id, value)
           |  VALUES (s.event_id, s.user_id, s.value)
           |""".stripMargin)
    } finally spark.conf.unset("spark.graft.sql.mergeMode")
    val after = sink.dataFilesRel().toSet
    val histTotal = spark.sql(
      s"""SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         |FROM graft_cat.$tbl VERSION AS OF 1""".stripMargin)
      .collect()(0).getDouble(0)
    val morNoRewrite = before.nonEmpty && before.subsetOf(after) &&
      math.abs(histTotal - oldTotal) < 1e-6
    spark.sql(
      s"""SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  min(event_id) AS min_id, max(event_id) AS max_id,
         |  $morNoRewrite AS mor_no_rewrite
         |FROM graft_cat.$tbl""".stripMargin)
  }

  val sqlMergeMorSql: String =
    """WITH final AS (
      |  SELECT event_id, user_id,
      |    CASE WHEN coalesce(user_id IN (0, 7, 14), FALSE)
      |      THEN value + 1000.0 ELSE value END AS value
      |  FROM events
      |  WHERE event_id % 3 <> 0
      |    AND NOT (coalesce(user_id IN (0, 7, 14), FALSE)
      |             AND value >= 100.0)
      |  UNION ALL
      |  SELECT event_id, user_id, value FROM events
      |  WHERE event_id % 3 = 0 AND coalesce(user_id IN (0, 7, 14), FALSE)
      |)
      |SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  min(event_id) AS min_id, max(event_id) AS max_id,
      |  TRUE AS mor_no_rewrite
      |FROM final""".stripMargin

  /** SQL DYNAMIC partition overwrite (round-12 — the former refusal):
    * `INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic` resolves into
    * the library's partition-scoped dynamic overwrite via the session
    * extension rule (the UPDATE/MERGE interception pattern — Spark's
    * own dynamic plan has no V1 write fallback). The statement replaces
    * EXACTLY the partition the incoming rows land in ('click', values
    * doubled); every other partition's file inventory must survive BY
    * NAME — the `untouched_intact` flag is oracle-gated, so a silent
    * degrade to a whole-table overwrite fails the hash. */
  def sqlDynamicOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_sqdo_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val src = s"evsrcdo_${tbl.takeRight(8)}"
    e.createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE graft_cat.$tbl " +
      "(event_id BIGINT, value DOUBLE, event_type STRING) " +
      "PARTITIONED BY (event_type) TBLPROPERTIES('versioned'='true')")
    spark.sql(s"INSERT INTO graft_cat.$tbl " +
      s"SELECT event_id, value, event_type FROM $src")
    val sink = new TableSink(SinkConfig(tableName = tbl,
      warehousePath = wh, versioned = true))
    val untouchedBefore = sink.dataFilesRel()
      .filterNot(_.startsWith("event_type=click/")).toSet
    val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      spark.sql(s"INSERT OVERWRITE graft_cat.$tbl " +
        s"SELECT event_id, value * 2.0 AS value, event_type FROM $src " +
        "WHERE event_type = 'click'")
    } finally prevMode match {
      case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val untouchedAfter = sink.dataFilesRel()
      .filterNot(_.startsWith("event_type=click/")).toSet
    val intact = untouchedBefore.nonEmpty &&
      untouchedBefore == untouchedAfter
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  $intact AS untouched_intact
         |FROM graft_cat.$tbl GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val sqlDynamicOverwriteSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(CASE WHEN event_type = 'click' THEN value * 2.0
      |    ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  TRUE AS untouched_intact
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Snapshot TAGS end-to-end — immutable named refs to commits (Iceberg
    * tags): batch 1 commits (v1) and is tagged `baseline`, batch 2 commits
    * (v2). The tag is then resolved through BOTH engine surfaces —
    * [[TableSink.readTag]] and SQL `VERSION AS OF 'baseline'` via
    * [[GraftCatalog]] (name → pinned snapshot → manifest) — and joined
    * against the head read. Left joins + coalesce keep a type present only
    * in batch 2 with n_tagged = 0, matching the oracle's FILTER semantics.
    *
    * Scale shape: a tag is one tiny log file; resolving it costs a
    * manifest read — no data scan beyond the aggregates themselves. */
  def tagPin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val wh = Fixtures.path("graft_catalog_wh")
    val tbl = s"events_tag_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    val sink = new TableSink(SinkConfig(
      tableName = tbl, warehousePath = wh, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter(pmod($"event_id", lit(3)) =!= 0))   // v1
    sink.createTag("baseline")
    sink.append(e.filter(pmod($"event_id", lit(3)) === 0))   // v2
    val tagged = sink.readTag(spark, "baseline")
      .groupBy($"event_type").agg(count(lit(1)).as("n_tagged"))
    val tagSql = spark.sql(
      s"""SELECT event_type, COUNT(*) AS n_tag_sql
         |FROM graft_cat.$tbl VERSION AS OF 'baseline'
         |GROUP BY event_type""".stripMargin)
    val head = sink.read(spark)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_head"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total_head"))
    head.join(tagged, Seq("event_type"), "left")
      .join(tagSql, Seq("event_type"), "left")
      .select($"event_type",
        coalesce($"n_tagged", lit(0L)).as("n_tagged"),
        coalesce($"n_tag_sql", lit(0L)).as("n_tag_sql"),
        $"n_head", $"total_head")
      .orderBy($"event_type")
  }

  val tagPinSql: String =
    """SELECT event_type,
      |  COUNT(*) FILTER (WHERE event_id % 3 <> 0) AS n_tagged,
      |  COUNT(*) FILTER (WHERE event_id % 3 <> 0) AS n_tag_sql,
      |  COUNT(*) AS n_head,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_head
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Partition-spec EVOLUTION end-to-end: generation 1 lands under
    * `identity(event_type)` (the value lives only in the directory name),
    * generation 2 — after the spec change, with NO rewrite of generation-1
    * files — under `day(ts)` (event_type stays in the data files, the
    * derived day is directory metadata). [[TableSink.readEvolved]] groups
    * files by layout, restores identity columns from their directories,
    * drops derived-only columns, and unions the generations. The oracle
    * aggregates the raw fixture: a hash match (counts, distinct users,
    * value sums, ts min/max per type) proves no row, column, or timestamp
    * was lost or doubled across the spec change.
    *
    * Scale shape: spec evolution is the 100 TB path AWAY from a full
    * rewrite — repartitioning a petabyte table by rewriting it is the
    * thing Iceberg exists to avoid; the read costs one footer probe per
    * generation (= number of spec changes, a handful) on top of the
    * normal scans. */
  def partitionEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val gen1 = SinkConfig(tableName = "events_pe", warehousePath = dest,
      numPartitions = 4,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id"))
    new TableSink(gen1).append(e.filter(pmod($"event_id", lit(2)) === 0))
    val sink2 = new TableSink(gen1.copy(
      partitionSpec = Seq(PartitionField("ts", Transform.Day))))
    sink2.append(e.filter(pmod($"event_id", lit(2)) === 1))
    sink2.readEvolved(spark)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct($"user_id").as("n_users"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"),
        min($"ts").as("ts_min"), max($"ts").as("ts_max"))
      .orderBy($"event_type")
  }

  /** VERSIONED partition-spec evolution (round-13): two file generations
    * under different spines (identity(event_type), then day(ts)) on one
    * versioned table, a merge-on-read delete predicate spanning BOTH,
    * read through the LIVE read. Pins the round-13 readFiles fix: a
    * mixed-spine manifest loads one generation per basePath group and
    * unions (a single load silently DROPPED the other generation's
    * rows), identity values restore from their generation's directories,
    * and the sidecar fold applies across the union. */
  def partitionEvolutionVersioned(spark: SparkSession,
      sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val gen1 = SinkConfig(tableName = "events_pev", warehousePath = dest,
      versioned = true, numPartitions = 4,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id"))
    new TableSink(gen1).append(
      e.filter(pmod(col("event_id"), lit(2)) === 0))
    val sink2 = new TableSink(gen1.copy(
      partitionSpec = Seq(PartitionField("ts", Transform.Day))))
    sink2.append(e.filter(pmod(col("event_id"), lit(2)) === 1))
    sink2.deleteWhere("value < 10.0") // MoR predicate over BOTH generations
    sink2.read(spark)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy(col("event_type"))
  }

  val partitionEvolutionVersionedSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events
      |WHERE NOT coalesce(value < 10.0, FALSE)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Merge-on-read deletes end-to-end: the full fixture commits (v1), then
    * TWO delete predicates commit as pure metadata ([[TableSink
    * .deleteWhere]] — no data file read or rewritten; v2 drops small
    * values, v3 drops a whole event_type). The live read subtracts both at
    * scan time; time travel to v1 still shows everything (deletes are
    * version-scoped). One row per v1 event_type joins all three surfaces;
    * the fully-deleted type keeps n_live = 0 and a NULL sum on both sides
    * (SUM over an empty filter set is NULL — the oracle's FILTER
    * semantics, no coalesce).
    *
    * Scale shape: this is the 100 TB delete path — O(metadata) at delete
    * time, survivors filtered by a codegen'd predicate fused into the
    * scan, the rewrite deferred to [[TableSink.compact]] where it
    * amortizes across many deletes. */
  def morDelete(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_mor", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e)                                            // v1
    sink.deleteWhere("value < 10.0")                          // v2 (metadata)
    sink.deleteWhere("event_type = 'click'")                  // v3 (metadata)
    val v1 = sink.readVersion(spark, 1)
      .groupBy($"event_type").agg(count(lit(1)).as("n_v1"))
    val live = sink.read(spark)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_live"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total_live"))
    v1.join(live, Seq("event_type"), "left")
      .select($"event_type", $"n_v1",
        coalesce($"n_live", lit(0L)).as("n_live"), $"total_live")
      .orderBy($"event_type")
  }

  /** Position-list (Iceberg v2 position-delete) merge-on-read delete
    * end-to-end, pinning the semantic that SEPARATES it from
    * [[morDelete]]'s predicate flavor: the condition is resolved ONCE at
    * commit time to physical (file, row-ordinal) coordinates, so rows
    * appended LATER that match the same condition are untouched. Fixture:
    * two-thirds of events commit (v1); `deletePositions("value < 50.0")`
    * commits the matched coordinates as a sidecar (v2 — no data file
    * read back or rewritten at read time); the remaining third appends
    * (v3) — its `value < 50.0` rows must SURVIVE the live read, which a
    * predicate delete would have kept filtering. Time travel to v1 still
    * shows the deleted rows. Full outer join + coalesce keeps an
    * event_type alive on either side; `total_live` stays NULL when the
    * filter set is empty (oracle FILTER semantics).
    *
    * Scale shape: commit cost is one filtered scan of the head snapshot
    * writing only matched coordinates; read cost is one filter on
    * (file, pos) over broadcast deletion vectors — the surgical-delete
    * path for "these specific corrupt rows", where a
    * predicate would over-delete future data. */
  def posDelete(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_posdel", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter(pmod($"event_id", lit(3)) =!= 0))    // v1
    sink.deletePositions(spark, "value < 50.0")               // v2 (metadata)
    sink.append(e.filter(pmod($"event_id", lit(3)) === 0))    // v3
    val v1 = sink.readVersion(spark, 1)
      .groupBy($"event_type").agg(count(lit(1)).as("n_v1"))
    val live = sink.read(spark)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_live"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total_live"))
    v1.join(live, Seq("event_type"), "full_outer")
      .select($"event_type",
        coalesce($"n_v1", lit(0L)).as("n_v1"),
        coalesce($"n_live", lit(0L)).as("n_live"), $"total_live")
      .orderBy($"event_type")
  }

  val posDeleteSql: String =
    """SELECT event_type,
      |  COUNT(*) FILTER (WHERE event_id % 3 <> 0) AS n_v1,
      |  COUNT(*) FILTER (WHERE (event_id % 3 <> 0 AND NOT (value < 50.0))
      |    OR event_id % 3 = 0) AS n_live,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (
      |    WHERE (event_id % 3 <> 0 AND NOT (value < 50.0))
      |      OR event_id % 3 = 0) AS DOUBLE) AS total_live
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Erasure-list (right-to-be-forgotten) delete end-to-end: the full
    * fixture commits (v1), then an opt-out list of user_ids (every 7th
    * user) commits as a key-list sidecar ([[TableSink.deleteKeys]] — pure
    * metadata, no file rewritten). The live read anti-joins the list at
    * scan time; v1 time travel still shows the users (version-scoped,
    * until compaction also physically erases them). The oracle replays the
    * erasure as a NOT IN filter over the fixture.
    *
    * Scale shape: the 100 TB GDPR path — commit cost is O(erasure list),
    * read cost is one anti-join term that broadcasts when the list is
    * small; the physical rewrite happens once, at [[TableSink.compact]],
    * amortized across every accumulated removal request. */
  def erasureDelete(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new TableSink(SinkConfig(
      tableName = "events_erase", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e)                                            // v1
    val optOut = e.filter(pmod($"user_id", lit(7)) === 0)
      .select($"user_id").distinct()
    sink.deleteKeys(optOut, Seq("user_id"))                   // v2 (metadata)
    val v1 = sink.readVersion(spark, 1)
      .groupBy($"event_type").agg(count(lit(1)).as("n_v1"))
    val live = sink.read(spark)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_live"),
        countDistinct($"user_id").as("n_users_live"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total_live"))
    v1.join(live, Seq("event_type"), "left")
      .select($"event_type", $"n_v1",
        coalesce($"n_live", lit(0L)).as("n_live"),
        coalesce($"n_users_live", lit(0L)).as("n_users_live"),
        $"total_live")
      .orderBy($"event_type")
  }

  val erasureDeleteSql: String =
    """SELECT event_type, COUNT(*) AS n_v1,
      |  COUNT(*) FILTER (WHERE user_id % 7 <> 0) AS n_live,
      |  COUNT(DISTINCT user_id) FILTER (WHERE user_id % 7 <> 0)
      |    AS n_users_live,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (
      |    WHERE user_id % 7 <> 0) AS DOUBLE) AS total_live
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  val morDeleteSql: String =
    """SELECT event_type, COUNT(*) AS n_v1,
      |  COUNT(*) FILTER (WHERE NOT (value < 10.0)
      |    AND NOT (event_type = 'click')) AS n_live,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (
      |    WHERE NOT (value < 10.0) AND NOT (event_type = 'click'))
      |    AS DOUBLE) AS total_live
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  val partitionEvolutionSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  MIN(ts) AS ts_min, MAX(ts) AS ts_max
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
}
