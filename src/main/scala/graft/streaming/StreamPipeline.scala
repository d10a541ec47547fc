package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming side of the engine (reference: §3.1 sink path +
  * the `event_timestamp` the reference carries but never windows on —
  * SURVEY.md §2.5 "Streaming"). The reference is processing-time only; the
  * Spark engine adds event-time windowed aggregation and watermarking as
  * the idiomatic extension.
  */
object StreamPipeline {

  /** Raw fixture schema for streaming reads (static schema, README.md:68 —
    * file streaming sources require one anyway). `ts` arrives as nano
    * longs (see [[Tables.events]]). */
  val eventsRawSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING")

  /** Unbounded view of the events fixture via the file streaming source.
    * The source requires a directory; the fixture is a single file, so it is
    * exposed through a per-sfDir staging directory of symlinks (read-only
    * fixtures stay untouched). */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The declared schema must match the fixture's physical ts type —
    // nano longs or TIMESTAMP_NTZ micros depending on generation (see
    // [[Tables.events]]); sniff the footer once, then stream.
    val tsIsLong = spark.read.parquet(s"$sfDir/events.parquet")
      .schema("ts").dataType == LongType
    val schema =
      if (tsIsLong) eventsRawSchema
      else StructType(eventsRawSchema.map(f =>
        if (f.name == "ts") f.copy(dataType = TimestampNTZType) else f))
    val raw = spark.readStream.schema(schema).parquet(stageDir(sfDir, "events"))
    if (tsIsLong) raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }

  private def stageDir(sfDir: String, table: String): String = {
    import java.nio.file.{Files, LinkOption, Path, Paths}
    import scala.jdk.CollectionConverters._
    val target = Paths.get(sfDir).toAbsolutePath.resolve(s"$table.parquet")
    val dir = Paths.get(Fixtures.path(
      s"stream_src_${table}_${target.getParent.toString.replaceAll("[^A-Za-z0-9.]", "_")}"))
    Files.createDirectories(dir)
    def link(name: String, tgt: Path): Unit = {
      val l = dir.resolve(name)
      // NOFOLLOW: a dangling staged link must be detected (exists() follows
      // links and would report false, then createSymbolicLink would throw)
      if (Files.exists(l, LinkOption.NOFOLLOW_LINKS) &&
          !Files.exists(l)) // dangling → re-stage
        Files.delete(l)
      if (!Files.exists(l, LinkOption.NOFOLLOW_LINKS))
        Files.createSymbolicLink(l, tgt)
    }
    if (Files.isDirectory(target)) {
      // directory-style parquet (the generated bench fixtures): the file
      // stream source does not recurse into a linked subdirectory, so
      // stage each part file directly — a directory symlink reads as ZERO
      // input rows and would silently void the run
      val s = Files.list(target)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(p => link(p.getFileName.toString, p))
      finally s.close()
    } else link(s"$table.parquet", target)
    dir.toString
  }

  /** Run `body` with a reduced shuffle-partition count and restore after.
    * Stateful streaming creates one state store per shuffle partition per
    * operator; at micro-batch sizes the per-store fixed cost (provider
    * init, snapshot, commit) dominates, so streaming queries run with
    * fewer, larger state partitions. Results are partition-count-invariant
    * (asserted by the 4-vs-32-thread oracle runs); on a real cluster the
    * state partition count is sized to executors × cores instead. */
  private val shuffleConfLock = new Object
  private def withStreamShuffle[A](spark: SparkSession, n: Int)(body: => A): A =
    // session conf is global, so the save/set/restore is serialized across
    // graft streaming queries (two interleaved restores would otherwise
    // leave the reduced value behind permanently). Unrelated work on the
    // same session during the window still observes the reduced value —
    // inherent to session-scoped conf; use a dedicated session to avoid it.
    shuffleConfLock.synchronized {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, n.toString)
      try body finally spark.conf.set(key, prev)
    }

  /** Event-time daily windowed aggregation over the stream. */
  def dailyCounts(stream: DataFrame): DataFrame = {
    import stream.sparkSession.implicits._
    stream
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
  }

  /** Batch query entry: run the streaming aggregation to completion on the
    * bounded fixture through a memory sink (complete mode — every window
    * emitted deterministically) and return the result table.
    */
  def streamWindowQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val name = "stream_win_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStreamShuffle(spark, 8) {
      val q = dailyCounts(eventsStream(spark, sfDir))
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
      .select($"window.start".cast("date").cast("string").as("day"),
        $"event_type", $"n", $"total")
      .orderBy($"day", $"event_type")
  }

  val streamWindowSql: String =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Sliding event-time windows (1-day width, 6-hour slide): every event
    * lands in exactly width/slide = 4 overlapping windows, all aligned to
    * the epoch like Spark's `window()` default. Overlap is realized by the
    * streaming engine's window replication — state is 4× the tumbling
    * case, still bounded by (windows in watermark) × (event types), never
    * by the stream. */
  def slidingCounts(stream: DataFrame): DataFrame = {
    import stream.sparkSession.implicits._
    stream
      .groupBy(window($"ts", "1 day", "6 hours"), $"event_type")
      .agg(count(lit(1)).as("n"))
  }

  /** Batch query entry for [[slidingCounts]] (complete mode, memory sink —
    * same determinism argument as [[streamWindowQuery]]). */
  def streamSlidingQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val name = "stream_slide_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStreamShuffle(spark, 8) {
      val q = slidingCounts(eventsStream(spark, sfDir))
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
      .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("wstart"),
        $"event_type", $"n")
      .orderBy($"wstart", $"event_type")
  }

  /** The oracle replays the window replication arithmetically: the µs slot
    * index floor(epoch_us/6h) names the LAST window start covering an
    * event, and starts k = 0..3 slides earlier complete the width/slide
    * set (start > ts − 1 day holds for every k ≤ 3 by construction). */
  val streamSlidingSql: String =
    """WITH w AS (
      |  SELECT event_type,
      |    to_timestamp((epoch_us(ts) // 21600000000 - k) * 21600) AS ws
      |  FROM events, unnest(generate_series(0, 3)) AS t(k))
      |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
      |  COUNT(*) AS n
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Custom-state surface (`mapGroupsWithState`): per-user running event
    * count held in the state store. Emits the running total per update; the
    * final per-user maximum equals the batch count regardless of how the
    * source is micro-batched, which keeps the query deterministic and
    * oracle-checkable.
    */
  def statefulUserCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val name = "stream_state_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val users = eventsStream(spark, sfDir).select($"user_id").as[Long]
    val counted = users.groupByKey(identity)
      .mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[Long], state) =>
          val n = state.getOption.getOrElse(0L) + events.size
          state.update(n)
          (user, n)
      }
    withStreamShuffle(spark, 8) {
      val q = counted.toDF("user_id", "n_events")
        .writeStream.outputMode("update").format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
      .groupBy($"user_id").agg(max($"n_events").as("n_events"))
      .orderBy($"user_id")
  }

  val statefulUserCountsSql: String =
    "SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id ORDER BY user_id"

  /** flatMapGroupsWithState — the multi-emission custom-state shape
    * (mapGroupsWithState emits exactly one row per group per batch; this
    * emits zero-to-many). Per-user milestone rows: one emission each time
    * the running event count crosses a multiple of 10. The emitted *set* is
    * batching-invariant (milestones ≤ final count, each crossed exactly
    * once), so the query is deterministic and oracle-checkable. */
  def statefulMilestones(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val name = "stream_miles_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val users = eventsStream(spark, sfDir).select($"user_id").as[Long]
    val milestones = users.groupByKey(identity)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[Long], state) =>
          val prev = state.getOption.getOrElse(0L)
          val n = prev + events.size
          state.update(n)
          ((prev / 10 + 1) to n / 10).iterator.map(k => (user, k * 10))
      }
    withStreamShuffle(spark, 8) {
      val q = milestones.toDF("user_id", "milestone")
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name).orderBy($"user_id", $"milestone")
  }

  val statefulMilestonesSql: String =
    """WITH RECURSIVE c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
      |m(user_id, milestone, n) AS (
      |  SELECT user_id, CAST(10 AS BIGINT), n FROM c WHERE n >= 10
      |  UNION ALL
      |  SELECT user_id, milestone + 10, n FROM m WHERE milestone + 10 <= n)
      |SELECT user_id, milestone FROM m ORDER BY user_id, milestone""".stripMargin

  /** Session windows: per-user activity sessions separated by >30-minute
    * gaps (`session_window` — the gap-based window the category checklist
    * calls out). Works identically over batch and streaming input; exposed
    * over batch for the oracle (DuckDB reproduces it via islands-and-gaps;
    * Spark merges events exactly gap-apart into one session, so a new
    * session starts only when the gap is strictly greater — verified
    * empirically, hence `>` in the oracle).
    */
  def sessionWindows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"),
        max($"n_events").as("busiest_session"))
      .orderBy($"user_id")
  }

  /** STREAMING sessionization — [[sessionWindows]]' unbounded twin: the
    * same gap-merged `session_window` aggregate run through the streaming
    * engine (complete mode, so late-merging sessions re-emit corrected).
    * The streaming engine merges a key's overlapping session fragments
    * across micro-batches in its session-window state store; on the
    * staged single-batch source the result equals the batch query, which
    * is what the shared oracle checks.
    *
    * Scale shape: state is (open sessions per key) — for append mode a
    * watermark would close and evict sessions; complete mode here is for
    * the bounded fixture. One shuffle keyed on user_id. */
  def streamSessionWindows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val name = "stream_sess_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val sessions = eventsStream(spark, sfDir)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
    withStreamShuffle(spark, 8) {
      val q = sessions.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"),
        max($"n_events").as("busiest_session"))
      .orderBy($"user_id")
  }

  // def, not val: sessionWindowsSql is defined later in this object and a
  // val here would capture null during textual initialization
  def streamSessionWindowsSql: String = sessionWindowsSql

  /** Stream-stream inner join: click→purchase conversions per user within
    * one hour. Both sides carry watermarks and the join condition bounds
    * event time in both directions, so the state store provably evicts —
    * the only stream-stream join shape that survives unbounded input.
    * Determinism caveat (inherent to watermarking, not this query): pair
    * emission is batching-invariant only while arrival order respects the
    * watermark bound — input arriving more than the watermark delay behind
    * the observed max event time is dropped as late. The staged source
    * here is one file = one micro-batch, so no input can ever be late; a
    * production deployment sizes the delay to its real arrival skew. */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val name = "stream_join_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val clicks = eventsStream(spark, sfDir)
      .filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "30 days")
    val purchases = eventsStream(spark, sfDir)
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "30 days")
    val joined = clicks.join(purchases,
      $"c_user" === $"p_user" &&
        $"p_ts" >= $"c_ts" && $"p_ts" <= $"c_ts" + expr("INTERVAL 1 HOUR"))
    withStreamShuffle(spark, 8) {
      val q = joined.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
      .groupBy($"c_user".as("user_id"))
      .agg(count(lit(1)).as("n_conversions"))
      .orderBy($"user_id")
  }

  val streamStreamJoinSql: String =
    """SELECT a.user_id, COUNT(*) AS n_conversions
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_type = 'click' AND b.event_type = 'purchase'
      | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Stream-stream LEFT OUTER join — the state-EVICTION surface the inner
    * join never exercises: an unmatched click is held in state until the
    * watermark proves no purchase can still arrive for its one-hour match
    * window, then emitted with NULLs. Per user: conversions (matched
    * pairs, inner semantics) and abandoned clicks (watermark-flushed
    * unmatched). Clicks younger than (watermark − 1 h) at end-of-input
    * remain in state and are NOT emitted — inherent to outer-join
    * watermarking, replayed by the oracle's explicit watermark cutoff
    * (`least(max click ts, max purchase ts)`, zero delay; the global
    * watermark is the min across inputs). Users with only unflushed
    * clicks produce no rows at all — the oracle's HAVING mirrors that.
    *
    * Scale shape: identical state layout to [[streamStreamJoin]] (keyed
    * by user, range-bounded on event time, both sides evict); the outer
    * flush adds no state — it re-reads rows already held. */
  def streamLeftJoin(spark: SparkSession, sfDir: String): DataFrame =
    streamLeftJoinOver(spark, () => eventsStream(spark, sfDir))

  /** [[streamLeftJoin]] over a caller-built stream factory (called once
    * per join side — stream-stream joins want independent source
    * instances); specs pass multi-file staged sources to pin cross-batch
    * matching and watermark-flush timing. */
  private[graft] def streamLeftJoinOver(spark: SparkSession,
      mkStream: () => DataFrame): DataFrame = {
    import spark.implicits._
    val name = "stream_loj_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val clicks = mkStream()
      .filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "0 seconds")
    val purchases = mkStream()
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "0 seconds")
    val joined = clicks.join(purchases,
      $"c_user" === $"p_user" &&
        $"p_ts" >= $"c_ts" && $"p_ts" <= $"c_ts" + expr("INTERVAL 1 HOUR"),
      "leftOuter")
    withStreamShuffle(spark, 8) {
      val q = joined.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
      .groupBy($"c_user".as("user_id"))
      .agg(count($"p_user").as("n_conversions"),
        (count(lit(1)) - count($"p_user")).as("n_abandoned"))
      .orderBy($"user_id")
  }

  val streamLeftJoinSql: String =
    """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      |wm AS (SELECT least((SELECT max(ts) FROM c),
      |                    (SELECT max(ts) FROM p)) AS w),
      |pairs AS (
      |  SELECT c.user_id, c.ts,
      |    (SELECT count(*) FROM p
      |     WHERE p.user_id = c.user_id
      |       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR) AS m
      |  FROM c)
      |SELECT user_id,
      |  CAST(SUM(m) AS BIGINT) AS n_conversions,
      |  CAST(SUM(CASE WHEN m = 0
      |                 AND ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
      |            THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned
      |FROM pairs GROUP BY 1
      |HAVING SUM(m) > 0
      |    OR SUM(CASE WHEN m = 0
      |                 AND ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
      |            THEN 1 ELSE 0 END) > 0
      |ORDER BY 1""".stripMargin

  /** Streaming deduplication: `dropDuplicates` over the (user_id,
    * event_type) key. This is GLOBAL dedup — state is one entry per
    * distinct key, bounded by key cardinality, not by time (a watermark
    * not in the key subset would not evict anything, so none is declared).
    * For time-scoped dedup at 100 TB key cardinalities, use
    * `dropDuplicatesWithinWatermark`, which trades global uniqueness for
    * watermark-evicted state. The surviving key *set* here is
    * batching-invariant (first-seen wins), so the per-type distinct-user
    * counts are deterministic and oracle-checkable. */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val name = "stream_dedup_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val deduped = eventsStream(spark, sfDir)
      .dropDuplicates("user_id", "event_type")
      .select($"user_id", $"event_type")
    withStreamShuffle(spark, 8) {
      val q = deduped.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_distinct_users"))
      .orderBy($"event_type")
  }

  val streamDedupSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Time-scoped streaming dedup — `dropDuplicatesWithinWatermark`, the
    * bounded-state answer [[streamDedup]]'s doc promises: state for a key is
    * EVICTED once the watermark passes its event time + delay, so state size
    * is bounded by keys-per-delay-window, not global key cardinality — the
    * only dedup shape that survives unbounded key spaces at 100 TB.
    *
    * Determinism: the delay here (3650 days) exceeds the fixture's whole
    * event-time span, so no state can be evicted regardless of how the
    * source micro-batches, and the surviving key set equals global distinct
    * — which is what makes this run oracle-checkable. A production
    * deployment sizes the delay to its real duplicate-arrival skew (minutes
    * to hours), accepting re-emission of keys that recur later than that. */
  def streamDedupWatermarked(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val name = "stream_dedup_wm_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val deduped = eventsStream(spark, sfDir)
      .withWatermark("ts", "3650 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select($"user_id", $"event_type")
    withStreamShuffle(spark, 8) {
      val q = deduped.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_distinct_users"))
      .orderBy($"event_type")
  }

  val streamDedupWatermarkedSql: String = streamDedupSql

  /** Streaming funnel — the stateful-processing twin of
    * [[EventAnalytics.funnel]]: one state machine per user tracking the
    * furthest strictly-ordered step reached, advanced by a forward scan of
    * each micro-batch in event-time order. A first-in-ts-order scan with a
    * strict `ts > reached_ts` guard reproduces the batch semantics exactly
    * (the first qualifying event in time order IS the min-timestamp
    * qualifying event), so emissions — one row per user per step, emitted
    * when the step is first reached — aggregate to the batch funnel counts.
    *
    * Determinism caveat (same as [[streamStreamJoin]]): a micro-batch whose
    * events precede already-processed event time cannot rewind the machine.
    * The staged source is one file = one micro-batch, so replay here is
    * exact; a production deployment orders by source partition time or
    * accepts arrival-order funnel semantics.
    *
    * Scale shape: state is (step index, timestamp) per user — constant per
    * key, the smallest possible streaming-funnel state; the per-batch sort
    * is per-user-per-batch (bounded by a user's in-batch events, not the
    * stream). The terminal aggregation is |steps| rows. */
  def streamFunnel(spark: SparkSession, sfDir: String,
      steps: Seq[String] = Seq("signup", "click", "purchase")): DataFrame =
    streamFunnelOver(spark, eventsStream(spark, sfDir), steps)

  /** [[streamFunnel]] over any streaming events frame — split out so specs
    * can pin the ARRIVAL-ORDER semantics with a multi-file, out-of-order
    * source (one file per micro-batch via `maxFilesPerTrigger`), where the
    * monotone state machine must NOT rewind on late event times. */
  def streamFunnelOver(spark: SparkSession, stream: DataFrame,
      steps: Seq[String] = Seq("signup", "click", "purchase")): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(steps.nonEmpty, "need at least one funnel step")
    val name = "stream_funnel_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ev = stream
      .filter($"event_type".isInCollection(steps))
      .select($"user_id", expr("unix_micros(ts)").as("ts_us"), $"event_type")
      .as[(Long, Long, String)]
    val advances = ev.groupByKey(_._1)
      .flatMapGroupsWithState[(Int, Long), (Long, Long, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[(Long, Long, String)], state) =>
          var (reached, tsReached) =
            state.getOption.getOrElse((0, Long.MinValue))
          val out = Seq.newBuilder[(Long, Long, String)]
          events.toSeq.sortBy(_._2).foreach { case (_, tsUs, eventType) =>
            if (reached < steps.length && eventType == steps(reached) &&
                tsUs > tsReached) {
              reached += 1
              tsReached = tsUs
              out += ((user, reached.toLong, steps(reached - 1)))
            }
          }
          state.update((reached, tsReached))
          out.result().iterator
      }
    withStreamShuffle(spark, 8) {
      val q = advances.toDF("user_id", "step_idx", "step")
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    // each user emits a given step at most once (state is monotone), so the
    // count per step is the number of users that ever reached it
    spark.table(name)
      .groupBy($"step_idx", $"step").agg(count(lit(1)).as("users"))
      .select($"step_idx", $"step", $"users")
      .orderBy($"step_idx")
  }

  /** The streaming funnel replays the BATCH funnel oracle exactly. */
  val streamFunnelSql: String = EventAnalytics.funnelSql

  /** Per-user running totals carried in [[StatefulProcessor]] value state. */
  final case class UserTotals(n: Long, cents: Long)

  /** The Spark-4 `transformWithState` surface — successor to the
    * (flat)MapGroupsWithState pair above, with named state variables
    * (value/list/map), per-state TTL, and timers behind
    * [[org.apache.spark.sql.streaming.StatefulProcessorHandle]]. The
    * processor keeps one [[UserTotals]] value state per user (count +
    * exact integer cents — a double running sum would be order-sensitive)
    * and emits the running totals each micro-batch.
    *
    * Requires the RocksDB state-store provider; the conf is set for the
    * query and restored after (session-scoped, same caveat as
    * [[withStreamShuffle]]).
    *
    * Batching-invariance: both per-user totals are MONOTONE over batches,
    * so `max` over the update-mode emissions equals the batch aggregate no
    * matter how the source micro-batches — deterministic and
    * oracle-checkable, like [[statefulUserCounts]].
    *
    * Scale shape: state is one fixed-width row per user, partitioned by
    * the group key across the state-store shards; RocksDB keeps it
    * off-heap and incrementally checkpointed — the 100 TB-stream answer to
    * in-memory state growth. */
  private class RunningTotals
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var totals: ValueState[UserTotals] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals]("totals",
        org.apache.spark.sql.Encoders.product[UserTotals], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      var t = Option(totals.get()).getOrElse(UserTotals(0L, 0L))
      rows.foreach { case (_, cents) => t = UserTotals(t.n + 1, t.cents + cents) }
      totals.update(t)
      Iterator.single((user, t.n, t.cents))
    }
  }

  def streamTransformWithState(spark: SparkSession, sfDir: String): DataFrame =
    transformWithStateOver(spark, eventsStream(spark, sfDir))

  /** [[streamTransformWithState]] over any events-shaped streaming frame
    * (split out so specs can drive multi-batch sources). */
  def transformWithStateOver(spark: SparkSession, stream: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val name = "stream_tws_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ev = stream.select($"user_id",
        round($"value" * 100).cast("long").as("cents"))
      .as[(Long, Long)]
    val out = ev.groupByKey(_._1)
      .transformWithState(new RunningTotals, TimeMode.None(),
        OutputMode.Update())
    shuffleConfLock.synchronized {
      val shuffleKey = "spark.sql.shuffle.partitions"
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prevShuffle = spark.conf.get(shuffleKey)
      val prevProvider = spark.conf.getOption(providerKey)
      spark.conf.set(shuffleKey, "8")
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val q = out.toDF("user_id", "n_events", "cents")
          .writeStream.outputMode("update").format("memory").queryName(name)
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally {
        spark.conf.set(shuffleKey, prevShuffle)
        prevProvider.fold(spark.conf.unset(providerKey))(
          spark.conf.set(providerKey, _))
      }
    }
    spark.table(name)
      .groupBy($"user_id")
      .agg(max($"n_events").as("n_events"),
        (max($"cents").cast("double") / 100.0).as("total"))
      .orderBy($"user_id")
  }

  val streamTransformWithStateSql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-user idle-session state for the timer processor. */
  final case class IdleState(n: Long, lastMs: Long)

  /** EVENT-TIME TIMERS — the `transformWithState` capability the legacy
    * (flat)MapGroupsWithState pair cannot express: emit a user's session
    * summary ONLY when the watermark proves the user has been idle past
    * `gapMs` of event time. Each batch re-arms a single per-user timer at
    * (latest event + gap); [[StatefulProcessor.handleExpiredTimer]] fires
    * when the watermark crosses it, emits (user, n_events, last_ms), and
    * clears the state — bounded state with an explicit, watermark-driven
    * close, deterministic under any batching (processing-time timers are
    * not). Spec-backed (StreamingSpec): timers are about WHICH rows emit
    * WHEN, which no batch SQL oracle can replay. */
  private class IdleSessions(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp), (Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[IdleState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[IdleState]("idle",
        org.apache.spark.sql.Encoders.product[IdleState], TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      var s = Option(st.get()).getOrElse(IdleState(0L, 0L))
      rows.foreach { case (_, ts) =>
        s = IdleState(s.n + 1, math.max(s.lastMs, ts.getTime)) }
      st.update(s)
      // exactly one live timer per user, re-armed at latest-event + gap
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(s.lastMs + gapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
      val s = st.get()
      st.clear()
      Iterator.single((user, s.n, s.lastMs))
    }
  }

  /** Drive [[IdleSessions]] over an events-shaped stream (must carry a
    * `ts` TIMESTAMP column): emits one (user_id, n_events, last_ms) row
    * per CLOSED idle session. Same RocksDB conf dance as
    * [[transformWithStateOver]]. */
  def idleSessionsOver(spark: SparkSession, stream: DataFrame,
      gapMs: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val name = "stream_timer_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val ev = stream
      .withWatermark("ts", "0 seconds")
      .select($"user_id", $"ts").as[(Long, java.sql.Timestamp)]
    val out = ev.groupByKey(_._1)
      .transformWithState(new IdleSessions(gapMs), TimeMode.EventTime(),
        OutputMode.Append())
    shuffleConfLock.synchronized {
      val shuffleKey = "spark.sql.shuffle.partitions"
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prevShuffle = spark.conf.get(shuffleKey)
      val prevProvider = spark.conf.getOption(providerKey)
      spark.conf.set(shuffleKey, "8")
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val q = out.toDF("user_id", "n_events", "last_ms")
          .writeStream.outputMode("append").format("memory").queryName(name)
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally {
        spark.conf.set(shuffleKey, prevShuffle)
        prevProvider.fold(spark.conf.unset(providerKey))(
          spark.conf.set(providerKey, _))
      }
    }
    spark.table(name).orderBy($"user_id", $"last_ms")
  }

  /** Stream-static enrichment — the remaining classic streaming join
    * shape next to [[streamStreamJoin]]: each micro-batch of the event
    * stream joins a STATIC dimension (per-user cohort week, computed once
    * in batch) and feeds a running per-cohort count. Stream-static inner
    * joins are STATELESS — no watermark, no join state store; the static
    * side is re-planned per micro-batch, so at scale it should be a
    * broadcast-friendly dimension or a bucketed table (here it is
    * |users| rows of (user, week) — metadata-shaped, AQE broadcasts it).
    * Aggregation runs in complete mode over |cohort-weeks| groups —
    * bounded by the calendar. */
  def streamStaticEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val name = "stream_enrich_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val cohorts = Tables.events(spark, sfDir).groupBy($"user_id")
      .agg(date_trunc("week", min($"ts")).as("cohort_week"))
    val counted = eventsStream(spark, sfDir).select($"user_id")
      .join(cohorts, "user_id")
      .groupBy($"cohort_week").agg(count(lit(1)).as("n_events"))
    withStreamShuffle(spark, 8) {
      val q = counted.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name).orderBy($"cohort_week")
  }

  /** Streaming CDC consumption ([[graft.TableSink.readChangesStream]] —
    * the change-feed twin of the snapshot table source): a versioned
    * table takes two append commits BEFORE the stream starts (the
    * initial batch replays their changelog) and two merge-on-read
    * delete commits MID-STREAM (the next batch emits them as retraction
    * rows instead of refusing). The collected feed aggregates per
    * (version, change type) and must equal the full-changelog oracle —
    * proving the streamed feed is indistinguishable from one batch
    * changelog read. */
  def streamCdc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val name = "stream_cdc_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new graft.TableSink(graft.SinkConfig(
      tableName = "events_cdc_src", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(graft.PartitionField("event_type",
        graft.Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter(pmod($"event_id", lit(3)) =!= 0))     // v1 insert
    sink.append(e.filter(pmod($"event_id", lit(3)) === 0))     // v2 insert
    withStreamShuffle(spark, 8) {
      // the aggregation runs INSIDE the stream (complete mode): the
      // memory table holds one row per (version, change type) at any
      // scale — collecting the raw feed would funnel the whole corpus
      // through the driver
      val q = sink.readChangesStream(spark)
        .groupBy($"_change_version", $"_change_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
        .writeStream.outputMode("complete")
        .format("memory").queryName(name)
        .option("checkpointLocation", Fixtures.fresh("cdc_cp"))
        .start()
      try {
        q.processAllAvailable()                                // v1+v2 feed
        sink.deleteWhere("value < 100.0")                      // v3 delete
        sink.deleteKeys(                                       // v4 delete
          e.filter(pmod($"user_id", lit(7)) === 0).select($"user_id"),
          Seq("user_id"))
        q.processAllAvailable()                                // retractions
      } finally q.stop()
    }
    spark.table(name)
      .orderBy($"_change_version", $"_change_type")
  }

  /** The streamed CDC feed must equal the batch changelog oracle. */
  val streamCdcSql: String = ParityQueries.changelogCdcSql

  /** The CDC stream's `startingVersion` floor end-to-end (the Delta
    * source contract — INCLUSIVE version N, round-12): the table takes
    * TWO insert commits, and a consumer started at version 2 must
    * aggregate EXACTLY the [2, head] slice — none of v1's rows may
    * enter the feed, all of v2's must. The aggregation runs INSIDE the
    * stream (complete mode, bounded driver state at any scale); the
    * oracle recomputes v2's slice directly from the source, so a floor
    * that leaked v1 rows or dropped v2 rows is a hash mismatch, not
    * just a count drift. */
  def streamCdcStart(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val name = "stream_cdcst_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new graft.TableSink(graft.SinkConfig(
      tableName = "events_cdcst_src", warehousePath = dest,
      numPartitions = 4, versioned = true,
      partitionSpec = Seq(graft.PartitionField("event_type",
        graft.Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter(pmod($"event_id", lit(2)) === 0))     // v1 insert
    sink.append(e.filter(pmod($"event_id", lit(2)) =!= 0))     // v2 insert
    withStreamShuffle(spark, 8) {
      val q = sink.readChangesStream(spark, startingVersion = Some("2"))
        .groupBy($"_change_version", $"_change_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
        .writeStream.outputMode("complete")
        .format("memory").queryName(name)
        .option("checkpointLocation", Fixtures.fresh("cdcst_cp"))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name).orderBy($"_change_version", $"_change_type")
  }

  val streamCdcStartSql: String =
    """SELECT CAST(2 AS BIGINT) AS _change_version,
      |  'insert' AS _change_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events WHERE event_id % 2 <> 0""".stripMargin

  /** Resident-stream CDC replication end-to-end
    * ([[graft.TableSink.startReplication]]): a replica table tracks the
    * source through two append commits consumed at stream start and two
    * merge-on-read delete commits landing MID-STREAM (streamed as
    * retractions, applied by position in one replica commit). The
    * replica's final aggregate must equal the oracle's direct
    * computation of the survivors — same contract as the cursor-driven
    * `q_changelog_replicate`, now with the trigger's latency. */
  def streamReplication(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    def cfg(name: String) = graft.SinkConfig(
      tableName = name, warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(graft.PartitionField("event_type",
        graft.Transform.Identity)),
      sortOrder = Seq("event_id"))
    val src = new graft.TableSink(cfg("events_rsrc"))
    val replica = new graft.TableSink(cfg("events_rdst"))
    src.append(e.filter(pmod($"event_id", lit(3)) =!= 0))      // v1
    src.append(e.filter(pmod($"event_id", lit(3)) === 0))      // v2
    val q = src.startReplication(spark, replica, Seq("event_id"),
      s"$dest/_repl_cp", intervalSeconds = 1)
    try {
      q.processAllAvailable()                                  // v1+v2 land
      src.deleteWhere("value < 100.0")                         // v3 delete
      src.deleteKeys(                                          // v4 delete
        e.filter(pmod($"user_id", lit(7)) === 0).select($"user_id"),
        Seq("user_id"))
      q.processAllAvailable()                                  // retractions
    } finally q.stop()
    replica.read(spark).groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"event_type")
  }

  /** The replica's final state ≡ the survivors of the four commits. */
  val streamReplicationSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events
      |WHERE NOT coalesce(value < 100.0, FALSE) AND user_id % 7 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Table-as-stream-source end-to-end ([[TableSink.readStream]] —
    * Iceberg's streaming-read contract): the fixture commits to a
    * versioned partitioned table in two waves, a stream consumes the
    * TABLE (the second append lands after the stream starts, so file
    * discovery — not a static scan — must pick it up), and the running
    * aggregate over everything consumed must equal the batch aggregate
    * over the whole fixture. */
  def streamTableSource(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val name = "stream_tbl_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val e = Tables.events(spark, sfDir)
    val dest = Fixtures.fresh("graft_wh")
    val sink = new graft.TableSink(graft.SinkConfig(
      tableName = "events_src", warehousePath = dest, numPartitions = 4,
      versioned = true,
      partitionSpec = Seq(graft.PartitionField("event_type",
        graft.Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter(pmod($"event_id", lit(3)) =!= 0))    // v1
    val agg = sink.readStream(spark)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
    withStreamShuffle(spark, 8) {
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        sink.append(e.filter(pmod($"event_id", lit(3)) === 0)) // v2, mid-stream
        q.processAllAvailable()
      } finally q.stop()
    }
    spark.table(name).orderBy($"event_type")
  }

  /** Batch replay of [[streamTableSource]]: the stream consumed both
    * commits, so the aggregate covers the whole fixture. */
  val streamTableSourceSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Batch replay of [[streamStaticEnrich]]: same join, same counts. */
  val streamStaticEnrichSql: String =
    """WITH first AS (
      |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP)
      |           AS cohort_week
      |  FROM events GROUP BY 1)
      |SELECT cohort_week, count(*) AS n_events
      |FROM events JOIN first USING (user_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Raw fixture schema for streaming document reads. */
  val docsRawSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  /** The stateful core of [[streamNearDup]]: signature → band buckets →
    * one smallest-doc_id-seen long of state per (band, bucket), emitting
    * `(doc_id, bucket_first)` whenever a doc lands in a bucket already
    * holding a smaller id. Exposed so specs can drive it with controlled
    * micro-batching (the state must survive ACROSS batches). */
  private[graft] def nearDupFlags(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val bands = 16
    val rpb = 4 // rows per band; bands * rpb = 64 signature lanes
    // fused token-array kernel (r14) — identical lanes to
    // minhashSig(shinglesOf(...)), no per-window shingle strings
    val sig = docs.select(col("doc_id"),
      VectorExpressions.minhashTokensSig(spark,
        split(col("text"), " "), 5, bands * rpb).as("sig"))
    val bucketed = sig.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * lit(rpb) + 1, lit(rpb))).as("h"))))
          .as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.h").as("h"))
      .as[(Long, Int, Long)]
    bucketed.groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state) =>
          var mn = state.getOption.getOrElse(Long.MaxValue)
          val out = Vector.newBuilder[(Long, Long)]
          rows.toSeq.sortBy(_._1).foreach { r =>
            if (mn < r._1) out += ((r._1, mn))
            if (r._1 < mn) mn = r._1
          }
          state.update(mn)
          out.result().iterator
      }.toDF("doc_id", "bucket_first")
  }

  /** Streaming MinHash/LSH near-duplicate detection — the continuous-
    * ingestion twin of [[Dedup.minhashLsh]]: each arriving document's
    * 64-lane MinHash signature is banded (16 × 4) and each (band, bucket)
    * keeps ONE long of state — the smallest doc_id it has ever seen — via
    * `flatMapGroupsWithState`. A document that lands in a bucket already
    * holding a smaller id is emitted as a near-dup candidate with that
    * first-seen id; the post-stream reduction takes the min across a
    * doc's 16 buckets. State is O(populated buckets) longs — bounded by
    * corpus bands, never by pair count — and per-batch work is one
    * signature pass + one bucket shuffle: the arrival-streaming shape of
    * the batch LSH posting-list design.
    *
    * Determinism for the oracle: within a group each batch is folded in
    * doc_id order, and the fixture arrives as ONE `processAllAvailable`
    * batch, so "first seen" ≡ "smallest doc_id sharing a band" — the
    * order-independent definition the DuckDB replay computes. A
    * multi-batch production deployment keeps the same state shape but
    * first-seen becomes arrival-order (the standard streaming-dedup
    * contract, as [[streamDedupWatermarked]] documents for eviction). */
  def streamNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val name = "stream_neardup_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val flagged = nearDupFlags(spark.readStream.schema(docsRawSchema)
      .parquet(stageDir(sfDir, "documents")))
    withStreamShuffle(spark, 8) {
      val q = flagged.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
      .groupBy($"doc_id")
      .agg(min($"bucket_first").as("first_seen"))
      .orderBy($"doc_id")
  }

  val sessionWindowsSql: String =
    """WITH lagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sessions AS (
      |  SELECT user_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM lagged),
      |per_session AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events
      |  FROM sessions GROUP BY user_id, session_id)
      |SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS busiest_session
      |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin
}
