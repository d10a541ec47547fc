package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming daily windows equal the batch aggregation") {
    val got = StreamPipeline.streamWindowQuery(spark, TestSpark.sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val want = Tables.events(spark, TestSpark.sfDir)
      .groupBy(to_date($"ts").cast("string").as("day"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy($"day", $"event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.sameElements(want))
  }

  test("streaming sliding windows equal batch window() with 4x replication") {
    val got = StreamPipeline.streamSlidingQuery(spark, TestSpark.sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val want = Tables.events(spark, TestSpark.sfDir)
      .groupBy(window($"ts", "1 day", "6 hours"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("wstart"),
        $"event_type", $"n")
      .orderBy($"wstart", $"event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.sameElements(want))
    // every event must appear in exactly width/slide = 4 windows
    val total = Tables.events(spark, TestSpark.sfDir).count()
    assert(got.map(_._3).sum == 4 * total)
  }

  test("streaming funnel equals the batch funnel") {
    val got = StreamPipeline.streamFunnel(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = EventAnalytics.funnel(Tables.events(spark, TestSpark.sfDir))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.sameElements(want), s"${got.toSeq} vs ${want.toSeq}")
    assert(got.head._3 > 0, "fixture should have signups")
  }

  test("funnel over out-of-order multi-file arrival keeps arrival-order semantics") {
    // Two source files, one micro-batch each (maxFilesPerTrigger=1), where
    // the SECOND batch carries EARLIER event times. Pins the documented
    // caveat: the monotone state machine advances in arrival order and
    // cannot rewind — so (a) an already-reached step ignores late earlier
    // events, and (b) a step whose qualifying event arrived in an earlier
    // batch than its predecessor is NOT retro-credited, diverging from the
    // event-time batch funnel on exactly that user.
    def ns(s: String): Long =
      java.sql.Timestamp.valueOf(s).getTime * 1000000L
    def rows(data: (Long, Long, String)*) =
      data.map { case (id, ts, et) => (id, ts, id, et, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val srcDir = new java.io.File(Fixtures.fresh("funnel_ooo"))
    srcDir.mkdirs()
    def stage(name: String, df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
      val tmp = Fixtures.fresh(s"funnel_ooo_$name")
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(srcDir, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      assert(dest.setLastModified(mtime))
    }
    // arrival 1: u1 full funnel, u2 signup only, u4 click (no signup yet)
    stage("a", rows(
      (1L, ns("2024-01-01 10:00:00"), "signup"),
      (1L, ns("2024-01-01 10:05:00"), "click"),
      (1L, ns("2024-01-01 10:10:00"), "purchase"),
      (2L, ns("2024-01-01 10:00:00"), "signup"),
      (4L, ns("2024-01-01 10:00:00"), "click")), 1000000L)
    // arrival 2, EARLIER event times: u2 late click (must not advance past
    // the reached ts), u4 signup (the batch-1 click is not retro-credited),
    // u3 full funnel within one batch
    stage("b", rows(
      (2L, ns("2024-01-01 09:50:00"), "click"),
      (4L, ns("2024-01-01 09:00:00"), "signup"),
      (3L, ns("2024-01-01 09:00:00"), "signup"),
      (3L, ns("2024-01-01 09:05:00"), "click"),
      (3L, ns("2024-01-01 09:10:00"), "purchase")), 2000000L)
    val stream = spark.readStream
      .schema(StreamPipeline.eventsRawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    val got = StreamPipeline.streamFunnelOver(spark, stream)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == Map(1L -> 4L, 2L -> 2L, 3L -> 2L),
      s"arrival-order funnel: signup=4, click=2 (u4 not retro-credited), " +
        s"purchase=2 — got $got")
    // the event-time batch funnel DOES credit u4's click: divergence pinned
    val batch = EventAnalytics.funnel(
      rows((1L, ns("2024-01-01 10:00:00"), "signup"),
        (1L, ns("2024-01-01 10:05:00"), "click"),
        (1L, ns("2024-01-01 10:10:00"), "purchase"),
        (2L, ns("2024-01-01 10:00:00"), "signup"),
        (4L, ns("2024-01-01 10:00:00"), "click"),
        (2L, ns("2024-01-01 09:50:00"), "click"),
        (4L, ns("2024-01-01 09:00:00"), "signup"),
        (3L, ns("2024-01-01 09:00:00"), "signup"),
        (3L, ns("2024-01-01 09:05:00"), "click"),
        (3L, ns("2024-01-01 09:10:00"), "purchase"))
        .withColumn("ts", expr("timestamp_micros(ts div 1000)")))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(batch(2L) == 3L,
      s"batch funnel must credit u4's pre-arrived click: $batch")
  }

  test("left outer join matches across batches and flushes only watermark-safe clicks") {
    // Two files, one micro-batch each. Pins the three outer-join behaviors:
    // (a) a purchase arriving a BATCH AFTER its click still matches (state
    // held across batches); (b) an unmatched click whose one-hour match
    // window closed before the final watermark flushes with NULLs;
    // (c) an unmatched click whose window is still open at end-of-input is
    // withheld (no row at all) — the inherent outer-join incompleteness
    // the Scaladoc documents.
    def ns(s: String): Long =
      java.sql.Timestamp.valueOf(s).getTime * 1000000L
    def rows(data: (Long, Long, String)*) =
      data.map { case (id, ts, et) => (id, ts, id, et, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val srcDir = new java.io.File(Fixtures.fresh("loj_batches"))
    srcDir.mkdirs()
    def stage(name: String, df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
      val tmp = Fixtures.fresh(s"loj_batches_$name")
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(srcDir, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      assert(dest.setLastModified(mtime))
    }
    // batch 1: clicks u1, u2; an unrelated u9 purchase late in the day
    stage("a", rows(
      (1L, ns("2024-01-01 10:00:00"), "click"),
      (2L, ns("2024-01-01 10:00:00"), "click"),
      (9L, ns("2024-01-01 18:00:00"), "purchase")), 1000000L)
    // batch 2: u1's purchase (matches the batch-1 click), u3's fresh click
    stage("b", rows(
      (1L, ns("2024-01-01 10:30:00"), "purchase"),
      (3L, ns("2024-01-01 17:30:00"), "click")), 2000000L)
    // final watermark = min(max click ts, max purchase ts) = 17:30, so
    // u2's window (closes 11:00) flushes; u3's (closes 18:30) does not
    val got = StreamPipeline.streamLeftJoinOver(spark, () =>
        spark.readStream
          .schema(StreamPipeline.eventsRawSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir.toString)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)")))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((1L, 0L)), 2L -> ((0L, 1L))),
      s"u1 cross-batch conversion, u2 flushed abandoned, u3 withheld, " +
        s"u9 right-unmatched ignored — got $got")
  }

  test("stream-static enrichment equals the batch join") {
    val got = StreamPipeline.streamStaticEnrich(spark, TestSpark.sfDir)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    val cohorts = Tables.events(spark, TestSpark.sfDir)
      .groupBy($"user_id")
      .agg(date_trunc("week", min($"ts")).as("cohort_week"))
    val want = Tables.events(spark, TestSpark.sfDir)
      .join(cohorts, "user_id")
      .groupBy($"cohort_week").agg(count(lit(1)).as("n_events"))
      .orderBy($"cohort_week")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    assert(got.sameElements(want), s"${got.toSeq} vs ${want.toSeq}")
  }

  test("transformWithState totals accumulate across micro-batches (RocksDB state)") {
    // three source files, one micro-batch each (maxFilesPerTrigger=1),
    // touching overlapping users: value state must CARRY totals across
    // batches, not recompute per batch
    val srcDir = new java.io.File(Fixtures.fresh("tws_src"))
    srcDir.mkdirs()
    def stage(name: String, mtime: Long, data: (Long, Double)*): Unit = {
      val tmp = Fixtures.fresh(s"tws_$name")
      data.toDF("user_id", "value").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(srcDir, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      assert(dest.setLastModified(mtime))
    }
    stage("a", 1000000L, (1L, 1.50), (1L, 2.25), (2L, 10.00))
    stage("b", 2000000L, (1L, 0.25), (3L, 5.00))
    stage("c", 3000000L, (2L, 0.01))
    val stream = spark.readStream
      .schema("user_id BIGINT, value DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir.toString)
    val got = StreamPipeline.transformWithStateOver(spark, stream)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 3L, 4.00), (2L, 2L, 10.01), (3L, 1L, 5.00)),
      s"got $got")
  }

  test("event-time timers close idle sessions exactly once (transformWithState)") {
    // three files -> three micro-batches; user 1 goes idle, user 2 keeps
    // the watermark advancing. The timer must fire for user 1 exactly
    // once (watermark past last-event + gap) and never for user 2 (still
    // live at end of stream).
    val srcDir = new java.io.File(Fixtures.fresh("timer_src"))
    srcDir.mkdirs()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def stage(name: String, mtime: Long,
        data: (Long, java.sql.Timestamp)*): Unit = {
      val tmp = Fixtures.fresh(s"timer_$name")
      data.toDF("user_id", "ts").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(srcDir, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      assert(dest.setLastModified(mtime))
    }
    stage("a", 1000000L,
      (1L, t("2024-01-01 10:00:00")), (1L, t("2024-01-01 10:05:00")))
    stage("b", 2000000L, (2L, t("2024-01-01 12:00:00")))
    stage("c", 3000000L, (2L, t("2024-01-01 12:01:00")))
    val stream = spark.readStream
      .schema("user_id BIGINT, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir.toString)
    val got = StreamPipeline
      .idleSessionsOver(spark, stream, gapMs = 30L * 60 * 1000)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, t("2024-01-01 10:05:00").getTime)),
      s"exactly one closed session, for the idle user only: $got")
  }

  test("streaming sink is exactly-once across a checkpointed restart") {
    val cfg = SinkConfig(
      tableName = "events_stream",
      warehousePath = Fixtures.fresh("stream_sink"),
      batchIntervalSeconds = 1,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)))
    val sink = new TableSink(cfg)
    val cp = Fixtures.fresh("stream_cp")
    val src = StreamPipeline.eventsStream(spark, TestSpark.sfDir)

    val q1 = sink.startStream(src, cp)
    q1.processAllAvailable()
    q1.stop()
    val afterFirst = sink.read(spark).count()
    assert(afterFirst == 1000, s"expected all 1000 fixture rows, got $afterFirst")

    // restart on the same checkpoint: nothing new to process, no re-writes
    val q2 = sink.startStream(StreamPipeline.eventsStream(spark, TestSpark.sfDir), cp)
    q2.processAllAvailable()
    q2.stop()
    val afterSecond = sink.read(spark).count()
    assert(afterSecond == afterFirst,
      s"restart duplicated rows: $afterFirst -> $afterSecond")

    // a streaming-sink table refuses batch appends: the _spark_metadata
    // log would hide batch files from readers
    val ex = intercept[IllegalArgumentException] {
      sink.append(Tables.events(spark, TestSpark.sfDir).limit(1))
    }
    assert(ex.getMessage.contains("_spark_metadata"))
  }

  test("streaming read consumes appends incrementally, exactly once") {
    import spark.implicits._
    val sink = new TableSink(SinkConfig(
      tableName = "events_srcstream",
      warehousePath = Fixtures.fresh("stream_read_wh"),
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "cat", "v"))
    val q = sink.readStream(spark)
      .groupBy($"cat").agg(org.apache.spark.sql.functions.sum($"id").as("s"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("tbl_stream")
      .option("checkpointLocation", Fixtures.fresh("stream_read_cp"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("tbl_stream").as[(String, Long)].collect().toMap
        == Map("a" -> 1L, "b" -> 2L))
      // a commit AFTER the stream started is discovered, not re-read
      sink.append(Seq((3L, "a", 30.0)).toDF("id", "cat", "v"))
      q.processAllAvailable()
      assert(spark.table("tbl_stream").as[(String, Long)].collect().toMap
        == Map("a" -> 4L, "b" -> 2L))
    } finally q.stop()
    // pending merge-on-read deletes are APPLIED by a fresh stream's
    // initial snapshot batch — the source reads through the manifest
    // like the batch read, so any history shape serves (the old
    // directory-discovery source had to refuse here)
    sink.deleteWhere("v < 15.0")
    val q2 = sink.readStream(spark)
      .groupBy($"cat").agg(org.apache.spark.sql.functions.sum($"id").as("s"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("tbl_stream_mor")
      .option("checkpointLocation", Fixtures.fresh("stream_read_cp2"))
      .start()
    try {
      q2.processAllAvailable()
      assert(spark.table("tbl_stream_mor").as[(String, Long)].collect().toMap
        == Map("a" -> 3L, "b" -> 2L),
        "the initial snapshot batch must apply pending deletes")
    } finally q2.stop()
  }

  test("snapshot streaming never emits unclaimed or race-orphaned files") {
    import spark.implicits._
    val sink = new TableSink(SinkConfig(
      tableName = "events_orphanstream",
      warehousePath = Fixtures.fresh("stream_orphan_wh"),
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "cat", "v"))
    val q = sink.readStream(spark)
      .writeStream.format("memory").queryName("orphan_stream")
      .option("checkpointLocation", Fixtures.fresh("stream_orphan_cp"))
      .start()
    try {
      q.processAllAvailable()
      // an append's staged files land in the table dir BEFORE its
      // manifest claim; a crashed/retracted attempt leaves them forever.
      // Fake one by cloning a committed data file under a new name —
      // a directory-discovery stream would emit its rows
      val root = new org.apache.hadoop.fs.Path(sink.config.tablePath)
      val committed = WarehouseIO.listDataFilesRel(root).head
      val orphan = committed.replaceAll("part-[^/]*", "part-orphan-unclaimed")
      org.apache.hadoop.fs.FileUtil.copy(
        WarehouseIO.fs(root), new org.apache.hadoop.fs.Path(root, committed),
        WarehouseIO.fs(root), new org.apache.hadoop.fs.Path(root, orphan),
        false, spark.sparkContext.hadoopConfiguration)
      sink.append(Seq((3L, "a", 30.0)).toDF("id", "cat", "v")) // claimed
      q.processAllAvailable()
      val ids = spark.table("orphan_stream").select($"id").as[Long]
        .collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L),
        s"only manifest-claimed rows may stream (got $ids) — the orphan " +
          "file's rows must stay invisible")
    } finally q.stop()
  }

  test("a delete commit or a history rewrite mid-stream fails the " +
    "stream precisely instead of corrupting it") {
    import spark.implicits._
    val sink = new TableSink(SinkConfig(
      tableName = "events_guardstream",
      warehousePath = Fixtures.fresh("stream_guard_wh"),
      versioned = true))
    sink.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "cat", "v"))
    def startQ(n: String) = sink.readStream(spark)
      .writeStream.format("memory").queryName(n)
      .option("checkpointLocation", Fixtures.fresh(s"stream_guard_$n"))
      .start()
    val q1 = startQ("guard1")
    try {
      q1.processAllAvailable()
      sink.deleteWhere("v < 15.0") // MoR delete commit lands mid-stream
      sink.append(Seq((3L, "c", 30.0)).toDF("id", "cat", "v"))
      val e = intercept[Exception](q1.processAllAvailable())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("merge-on-read deletes"),
        s"a mid-stream delete commit must refuse precisely: $msgs")
    } finally q1.stop()
    // a rewriting op restarts the history: generation-pinned offsets
    // refuse the silently-diverged resume
    sink.compact(spark)
    val q2 = startQ("guard2")
    try {
      q2.processAllAvailable() // fresh checkpoint: serves the new history
      assert(spark.table("guard2").count() == 2L,
        "post-compact snapshot has the two surviving rows")
    } finally q2.stop()
  }

  test("CDC streaming startingVersion: 'latest' sees only post-start " +
    "commits; version N sees exactly [N, head] (the inclusive Delta " +
    "contract)") {
    import spark.implicits._
    val sink = new TableSink(SinkConfig(
      tableName = "events_cdcstart",
      warehousePath = Fixtures.fresh("stream_cdcstart_wh"),
      versioned = true))
    sink.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")) // v1
    sink.append(Seq((3L, 30.0)).toDF("id", "v"))             // v2
    sink.append(Seq((4L, 40.0)).toDF("id", "v"))             // v3
    def run(starting: Option[String], tag: String): Set[(Long, String, Long)] = {
      val cp = Fixtures.fresh(s"stream_cdcstart_cp_$tag")
      val out = Fixtures.fresh(s"stream_cdcstart_out_$tag")
      val q = sink.readChangesStream(spark, starting)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", cp).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(out)
        .select($"id", $"_change_type", $"_change_version")
        .as[(Long, String, Long)].collect().toSet
    }
    // default: the full retained history replays as batch 0
    assert(run(None, "full").map(_._1) == Set(1L, 2L, 3L, 4L))
    // version N is INCLUSIVE (Delta's startingVersion): exactly [2, 3]
    assert(run(Some("2"), "v2") ==
      Set((3L, "insert", 2L), (4L, "insert", 3L)),
      "startingVersion=2 must emit [2, head] — commit 2 itself included")
    // startingVersion=1 = everything (commit numbering starts at v1)
    assert(run(Some("1"), "v1all").map(_._1) == Set(1L, 2L, 3L, 4L),
      "startingVersion=1 includes the first commit — inclusive, not " +
        "an exclusive floor")
    // latest: nothing until a post-start commit lands
    val cp = Fixtures.fresh("stream_cdcstart_cp_latest")
    val out = Fixtures.fresh("stream_cdcstart_out_latest")
    val q = sink.readChangesStream(spark, Some("latest"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      sink.append(Seq((5L, 50.0)).toDF("id", "v"))           // v4
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
      .select($"id", $"_change_type", $"_change_version")
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((5L, "insert", 4L)),
      s"a 'latest' consumer must see only post-start commits: $got")
    // snapshot mode honors the same floor
    val outS = Fixtures.fresh("stream_cdcstart_out_snap")
    val qs = sink.readStream(spark, Some("4"))
      .writeStream.format("parquet").option("path", outS)
      .option("checkpointLocation",
        Fixtures.fresh("stream_cdcstart_cp_snap")).start()
    try qs.processAllAvailable() finally qs.stop()
    assert(spark.read.parquet(outS).select($"id").as[Long].collect().toSet
      == Set(5L), "snapshot stream with startingVersion=4 sees [4, head]")
    // a bad option refuses loudly
    intercept[Exception](run(Some("nope"), "bad"))
    // a version past head+1 cannot ever exist under this history:
    // refuse at stream start instead of silently emitting nothing
    intercept[Exception](run(Some("99"), "past"))
    // head+1 is allowed and means "only commits after stream start"
    // (the numeric spelling of 'latest'): nothing from history, the
    // next commit emits — and unlike 'latest' the floor is stable
    // across restarts
    val cpF = Fixtures.fresh("stream_cdcstart_cp_future")
    val outF = Fixtures.fresh("stream_cdcstart_out_future")
    def startF() = sink.readChangesStream(spark, Some("5")) // head is v4
      .writeStream.format("parquet").option("path", outF)
      .option("checkpointLocation", cpF).start()
    val qf = startF()
    try {
      qf.processAllAvailable()                           // nothing yet
      sink.append(Seq((6L, 60.0)).toDF("id", "v"))       // v5 = the floor
      qf.processAllAvailable()
    } finally qf.stop()
    val gotF = spark.read.parquet(outF).select($"id").as[Long]
      .collect().toSet
    assert(gotF == Set(6L),
      s"startingVersion=head+1 must emit exactly the post-start commits: $gotF")
  }

  test("ignoreChanges: a MoR update mid-stream re-emits replacement rows " +
    "as appends instead of killing the stream; a delete-only commit is " +
    "skipped; default still refuses (round-13)") {
    import spark.implicits._
    val sink = new TableSink(SinkConfig(
      tableName = "events_igch",
      warehousePath = Fixtures.fresh("stream_igch_wh"),
      versioned = true))
    sink.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "cat", "v"))
    val out = Fixtures.fresh("stream_igch_out")
    val q = sink.readStream(spark, ignoreChanges = true)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", Fixtures.fresh("stream_igch_cp"))
      .start()
    try {
      q.processAllAvailable()                        // batch 0: snapshot
      sink.updateMor(spark, $"id" === 1L, Seq("v" -> lit(11.0)))  // v2
      sink.deleteWhere("id = 2")                     // v3: delete-only
      sink.append(Seq((3L, "c", 30.0)).toDF("id", "cat", "v"))    // v4
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out).select($"id", $"v")
      .as[(Long, Double)].collect().toSeq.sorted
    // snapshot (1,2) + re-emitted replacement (1 updated) + append (3);
    // the delete-only commit contributes nothing and retracts nothing
    assert(got == Seq((1L, 10.0), (1L, 11.0), (2L, 20.0), (3L, 30.0)),
      s"got: $got")
    // WITHOUT the opt-in, the same update commit still kills the stream
    // (the documented default) — fresh checkpoint, replayed history
    val q2 = sink.readStream(spark)
      .writeStream.format("memory").queryName("igch_default")
      .option("checkpointLocation", Fixtures.fresh("stream_igch_cp2"))
      .start()
    try {
      q2.processAllAvailable() // snapshot batch is fine (deletes applied)
      sink.updateMor(spark, $"id" === 3L, Seq("v" -> lit(33.0)))
      val err = intercept[Exception](q2.processAllAvailable())
      val msgs = Iterator.iterate(err: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("ignoreChanges"),
        s"default must refuse and name the opt-in: $msgs")
    } finally q2.stop()
    // the CDC stream refuses the option precisely (it already streams
    // update/delete commits as retraction rows)
    val bad = spark.readStream
      .format("org.apache.spark.sql.graft.GraftTableStream")
      .schema(sink.read(spark).schema)
      .option("tablePath", sink.config.tablePath)
      .option("mode", "changes")
      .option("ignoreChanges", "true")
      .load()
      .writeStream.format("memory").queryName("igch_bad")
      .option("checkpointLocation", Fixtures.fresh("stream_igch_cp3"))
      .start()
    val err2 = intercept[Exception] {
      try bad.processAllAvailable() finally bad.stop()
    }
    val msgs2 = Iterator.iterate(err2: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs2.contains("snapshot stream only"), s"got: $msgs2")
  }

  test("a CDC stream over an ALTER ADD boundary replays pre-evolution " +
    "commits NULL-filled under the declared head schema — including a " +
    "post-evolution MoR delete of a pre-evolution row (round-13)") {
    import spark.implicits._
    val wh = Fixtures.fresh("stream_evolve_wh")
    spark.conf.set("spark.sql.catalog.gsev", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsev.warehouse", wh)
    spark.sql("CREATE TABLE gsev.ev (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gsev.ev VALUES (1, 10.0), (2, 20.0)")   // v1
    spark.sql("ALTER TABLE gsev.ev ADD COLUMNS (score DOUBLE)")
    spark.sql("INSERT INTO gsev.ev VALUES (3, 30.0, 0.3)")         // v2
    val sink = new TableSink(SinkConfig(tableName = "ev",
      warehousePath = wh, versioned = true,
      tableSchema = Some(spark.table("gsev.ev").schema)))
    val out = Fixtures.fresh("stream_evolve_out")
    val q = sink.readChangesStream(spark)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", Fixtures.fresh("stream_evolve_cp"))
      .start()
    try {
      q.processAllAvailable()                 // batch 0: history replay
      // diagnostic wrapper (round-14): this test failed ONLY under the
      // full parallel suite twice, with deleteWhere seeing no committed
      // snapshot after two successful catalog INSERTs — dump the table
      // dir state so the failing run is attributable
      try sink.deleteWhere("v = 10.0")        // v3: delete a v1 row
      catch { case e: IllegalArgumentException =>
        val walk = new StringBuilder
        def ls(p: java.io.File, ind: String): Unit = {
          walk.append(s"$ind${p.getName}\n")
          val cs = p.listFiles()
          if (cs != null) cs.sortBy(_.getName).foreach(c => ls(c, ind + "  "))
        }
        ls(new java.io.File(wh), "")
        throw new IllegalArgumentException(
          s"${e.getMessage}\n[diagnostic] catalog table state under $wh:\n" +
            s"$walk\n[diagnostic] sink.tablePath=${sink.config.tablePath} " +
            s"versions=${sink.snapshotVersions()}", e)
      }
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
      .select($"id", $"score", $"_change_type", $"_change_version")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1.0 else r.getDouble(1),
        r.getString(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, -1.0, "insert", 1L), (2L, -1.0, "insert", 1L),
      (3L, 0.3, "insert", 2L), (1L, -1.0, "delete", 3L)),
      s"got: $got")
  }

  test("a RENAME COLUMN mid-stream fails the stream precisely with the " +
    "restart remedy; a fresh stream re-pins at the renamed head and " +
    "folds pre-rename values under the new name (round-13)") {
    import spark.implicits._
    val wh = Fixtures.fresh("stream_rename_wh")
    spark.conf.set("spark.sql.catalog.gsrn", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsrn.warehouse", wh)
    spark.sql("CREATE TABLE gsrn.rn (id BIGINT, amount DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gsrn.rn VALUES (1, 10.0), (2, 20.0)")
    val sink = new TableSink(SinkConfig(tableName = "rn", warehousePath = wh,
      versioned = true, tableSchema = Some(spark.table("gsrn.rn").schema)))
    val q = sink.readStream(spark).writeStream.format("memory")
      .queryName("rnstream")
      .option("checkpointLocation", Fixtures.fresh("stream_rename_cp"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("rnstream").count() == 2)
      // the rename lands mid-stream: post-rename files would read NULL
      // under the pinned name — the next batch must refuse precisely,
      // not die in the projection's unresolved-column error
      spark.sql("ALTER TABLE gsrn.rn RENAME COLUMN amount TO total")
      spark.sql("INSERT INTO gsrn.rn VALUES (3, 30.0)")
      val e = intercept[Exception](q.processAllAvailable())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("RENAMED after this stream"), s"got: $msgs")
    } finally q.stop()
    // the remedy works: a fresh stream re-pins at the renamed head and
    // serves pre-rename rows' VALUES under the new name
    val sink2 = new TableSink(SinkConfig(tableName = "rn",
      warehousePath = wh, versioned = true,
      tableSchema = Some(spark.table("gsrn.rn").schema)))
    val q2 = sink2.readStream(spark).writeStream.format("memory")
      .queryName("rnstream2")
      .option("checkpointLocation", Fixtures.fresh("stream_rename_cp2"))
      .start()
    try {
      q2.processAllAvailable()
      val got = spark.table("rnstream2").select($"id", $"total")
        .as[(Long, Double)].collect().toSet
      assert(got == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)), s"got: $got")
    } finally q2.stop()
  }

  test("a DROP COLUMN mid-stream fails the stream precisely (post-drop " +
    "commits would NULL-fill the pinned shape silently); a fresh stream " +
    "re-pins at the evolved head (round-13)") {
    import spark.implicits._
    val wh = Fixtures.fresh("stream_drop_wh")
    spark.conf.set("spark.sql.catalog.gsdr", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsdr.warehouse", wh)
    spark.sql("CREATE TABLE gsdr.dr (id BIGINT, v DOUBLE, score DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gsdr.dr VALUES (1, 10.0, 0.1), (2, 20.0, 0.2)")
    val sink = new TableSink(SinkConfig(tableName = "dr", warehousePath = wh,
      versioned = true, tableSchema = Some(spark.table("gsdr.dr").schema)))
    val q = sink.readStream(spark).writeStream.format("memory")
      .queryName("drstream")
      .option("checkpointLocation", Fixtures.fresh("stream_drop_cp"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("drstream").count() == 2)
      spark.sql("ALTER TABLE gsdr.dr DROP COLUMN score")
      spark.sql("INSERT INTO gsdr.dr VALUES (3, 30.0)")
      val e = intercept[Exception](q.processAllAvailable())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("DROPPED after this stream"), s"got: $msgs")
    } finally q.stop()
    // the remedy: a fresh stream re-pins at the evolved (shrunken) head
    val sink2 = new TableSink(SinkConfig(tableName = "dr",
      warehousePath = wh, versioned = true,
      tableSchema = Some(spark.table("gsdr.dr").schema)))
    val q2 = sink2.readStream(spark).writeStream.format("memory")
      .queryName("drstream2")
      .option("checkpointLocation", Fixtures.fresh("stream_drop_cp2"))
      .start()
    try {
      q2.processAllAvailable()
      val got = spark.table("drstream2").select($"id", $"v")
        .as[(Long, Double)].collect().toSet
      assert(got == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)), s"got: $got")
      assert(!spark.table("drstream2").columns.contains("score"),
        "the dropped column must not resurrect in the re-pinned stream")
    } finally q2.stop()
  }

  test("an ADD COLUMNS mid-stream is BENIGN (the pinned shape keeps " +
    "serving faithfully) and a WIDENING retype mid-stream refuses " +
    "precisely with the restart remedy; the restart re-pins the WIDE " +
    "declared schema (round-14)") {
    import spark.implicits._
    val wh = Fixtures.fresh("stream_add_wh")
    spark.conf.set("spark.sql.catalog.gsad", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsad.warehouse", wh)
    spark.sql("CREATE TABLE gsad.ad (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gsad.ad VALUES (1, 10.0), (2, 20.0)")
    val sink = new TableSink(SinkConfig(tableName = "ad", warehousePath = wh,
      versioned = true, tableSchema = Some(spark.table("gsad.ad").schema)))
    val q = sink.readStream(spark).writeStream.format("memory")
      .queryName("adstream")
      .option("checkpointLocation", Fixtures.fresh("stream_add_cp"))
      .start()
    try {
      q.processAllAvailable()
      // ADD mid-stream: post-evolution files carry an extra column the
      // pinned schema simply does not request — the stream keeps
      // serving its declared shape, values intact, no refusal
      spark.sql("ALTER TABLE gsad.ad ADD COLUMNS (score DOUBLE)")
      spark.sql("INSERT INTO gsad.ad VALUES (3, 30.0, 0.3)")
      q.processAllAvailable()
      val got = spark.table("adstream").select($"id", $"v")
        .as[(Long, Double)].collect().toSet
      assert(got == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)), s"got: $got")
      assert(!spark.table("adstream").columns.contains("score"),
        "the pinned shape must not grow mid-stream")
    } finally q.stop()
    // WIDEN mid-stream: refused PRECISELY with the restart remedy
    // (round-14 — previously the raw parquet conversion error), the
    // last cell of the evolution matrix: same contract as RENAME/DROP
    spark.conf.set("spark.sql.catalog.gswd", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gswd.warehouse", wh)
    spark.sql("CREATE TABLE gswd.wd (id BIGINT, n INT) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gswd.wd VALUES (1, 100)")
    val sink2 = new TableSink(SinkConfig(tableName = "wd",
      warehousePath = wh, versioned = true,
      tableSchema = Some(spark.table("gswd.wd").schema)))
    val q2 = sink2.readStream(spark).writeStream.format("memory")
      .queryName("wdstream")
      .option("checkpointLocation", Fixtures.fresh("stream_widen_cp"))
      .start()
    try {
      q2.processAllAvailable()
      spark.sql("ALTER TABLE gswd.wd ALTER COLUMN n TYPE BIGINT")
      spark.sql("INSERT INTO gswd.wd VALUES (2, 5000000000)")
      val e = intercept[Exception](q2.processAllAvailable())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("RETYPED"), s"got: $msgs")
      assert(msgs.contains("restart the stream"), s"got: $msgs")
    } finally q2.stop()
    // the remedy genuinely heals — and WITHOUT an explicit schema: the
    // fresh source pins the WIDE declared schema (_graft_schema beats
    // footer inference, which could sample the narrow pre-widen file)
    val sink3 = new TableSink(SinkConfig(tableName = "wd",
      warehousePath = wh, versioned = true))
    val q3 = sink3.readStream(spark).writeStream.format("memory")
      .queryName("wdstream2")
      .option("checkpointLocation", Fixtures.fresh("stream_widen_cp2"))
      .start()
    try {
      q3.processAllAvailable()
      val got = spark.table("wdstream2").select($"id", $"n")
        .as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 100L), (2L, 5000000000L)), s"got: $got")
    } finally q3.stop()
  }

  test("restarting a checkpointed stream with a HIGHER startingVersion " +
    "resumes from its offset — the option binds the first batch only " +
    "(Delta's restart contract; round-13)") {
    import spark.implicits._
    val sink = new TableSink(SinkConfig(
      tableName = "events_cdcrestart",
      warehousePath = Fixtures.fresh("stream_cdcrestart_wh"),
      versioned = true))
    sink.append(Seq((1L, 10.0)).toDF("id", "v"))             // v1
    val cp = Fixtures.fresh("stream_cdcrestart_cp")
    val out = Fixtures.fresh("stream_cdcrestart_out")
    def start(starting: Option[String]) =
      sink.readChangesStream(spark, starting)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", cp).start()
    val q1 = start(None)
    try q1.processAllAvailable() finally q1.stop()          // offset = v1
    sink.append(Seq((2L, 20.0)).toDF("id", "v"))             // v2
    sink.append(Seq((3L, 30.0)).toDF("id", "v"))             // v3
    // restart with startingVersion=4 (> checkpoint offset 1): the
    // checkpoint wins — commits (1, 3] must still be emitted, not
    // silently skipped while the offset advances past them
    val q2 = start(Some("4"))
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out).select($"id").as[Long]
      .collect().toSet
    assert(got == Set(1L, 2L, 3L),
      s"a restart must resume from its offset and ignore the option: $got")
  }

  test("CDC streaming startingTimestamp resolves against the commit " +
    "clock: an instant between v1 and v2 floors the stream at v1") {
    import spark.implicits._
    val sink = new TableSink(SinkConfig(
      tableName = "events_cdcts",
      warehousePath = Fixtures.fresh("stream_cdcts_wh"),
      versioned = true))
    sink.append(Seq((1L, 10.0)).toDF("id", "v"))             // v1
    Thread.sleep(30) // separate the commit mtimes
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(30)
    sink.append(Seq((2L, 20.0)).toDF("id", "v"))             // v2
    sink.append(Seq((3L, 30.0)).toDF("id", "v"))             // v3
    def run(ts: Long, tag: String): Set[Long] = {
      val out = Fixtures.fresh(s"stream_cdcts_out_$tag")
      val q = sink.readChangesStream(spark,
          startingTimestampMs = Some(ts))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation",
          Fixtures.fresh(s"stream_cdcts_cp_$tag")).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(out).select($"id").as[Long].collect().toSet
    }
    assert(run(betweenMs, "mid") == Set(2L, 3L),
      "a timestamp between v1 and v2 must floor at v1 — (v1, head] only")
    // a pre-history instant = no floor = the default full replay
    assert(run(1000L, "pre") == Set(1L, 2L, 3L))
    // both options together refuse
    intercept[Exception] {
      val q = sink.readChangesStream(spark, Some("1"), Some(betweenMs))
        .writeStream.format("memory")
        .queryName("cdcts_bad")
        .option("checkpointLocation",
          Fixtures.fresh("stream_cdcts_cp_bad")).start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  test("CDC streaming emits delete commits as retraction rows and " +
    "resumes from the checkpoint without replaying the feed") {
    import spark.implicits._
    val sink = new TableSink(SinkConfig(
      tableName = "events_cdcstream",
      warehousePath = Fixtures.fresh("stream_cdc_wh"),
      versioned = true))
    sink.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "cat", "v"))
    val cp = Fixtures.fresh("stream_cdc_cp")
    val out = Fixtures.fresh("stream_cdc_out")
    def startQ() = sink.readChangesStream(spark)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).start()
    val q1 = startQ()
    try {
      q1.processAllAvailable() // initial: v1 inserts
      sink.append(Seq((3L, "c", 30.0)).toDF("id", "cat", "v")) // v2
      sink.deleteWhere("v < 15.0")                             // v3 delete
      q1.processAllAvailable() // v2 insert + v3 retraction STREAM
    } finally q1.stop()
    val feed = spark.read.parquet(out)
      .select($"id", $"_change_type", $"_change_version")
      .as[(Long, String, Long)].collect().toSet
    assert(feed == Set((1L, "insert", 1L), (2L, "insert", 1L),
      (3L, "insert", 2L), (1L, "delete", 3L)),
      s"the feed must carry inserts AND the delete retraction: $feed")
    // checkpoint resume: only commits after the consumed head emit
    sink.append(Seq((4L, "d", 40.0)).toDF("id", "cat", "v"))   // v4
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    val resumed = spark.read.parquet(out)
      .select($"id", $"_change_type").as[(Long, String)].collect().toSeq
    assert(resumed.size == feed.size + 1 &&
      resumed.count(_ == ((4L, "insert"))) == 1,
      s"resume must emit exactly the one new commit: $resumed")
  }

  test("resident-stream replication tracks the source through appends, " +
    "updates, and deletes; restart converges idempotently") {
    import spark.implicits._
    val wh2 = Fixtures.fresh("stream_repl_wh")
    val src = new TableSink(SinkConfig("repl_src", wh2, versioned = true))
    val dst = new TableSink(SinkConfig("repl_dst", wh2, versioned = true))
    src.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))
    val cp = Fixtures.fresh("stream_repl_cp")
    def state(s: TableSink) = s.read(spark).select($"id", $"v")
      .as[(Long, Double)].collect().toSet
    val q1 = src.startReplication(spark, dst, Seq("id"), cp,
      intervalSeconds = 1)
    try {
      q1.processAllAvailable()
      assert(state(dst) == state(src), "initial snapshot replicates")
      src.append(Seq((3L, 30.0)).toDF("id", "v"))
      src.upsert(Seq((1L, 11.0)).toDF("id", "v"), Seq("id"))
      // the upsert REWRITES source history (generation flip): the stream
      // must fail loudly, never resume silently against the new history
      val e = intercept[Exception](q1.processAllAvailable())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("rewritten mid-stream"), msgs)
    } finally q1.stop()
    // fresh checkpoint after the maintenance window: the replica
    // converges to the rewritten source (keyed upsert is idempotent
    // over the rows the first stream already landed)
    val q2 = src.startReplication(spark, dst, Seq("id"),
      Fixtures.fresh("stream_repl_cp2"), intervalSeconds = 1)
    try {
      q2.processAllAvailable()
      assert(state(dst) == state(src),
        s"replica must converge: ${state(dst)} vs ${state(src)}")
      // and keeps tracking: MoR delete commits stream as retractions
      src.deleteWhere("v < 15.0")
      src.append(Seq((4L, 40.0)).toDF("id", "v"))
      q2.processAllAvailable()
      assert(state(dst) == state(src),
        s"deletes must replicate: ${state(dst)} vs ${state(src)}")
      assert(!state(dst).exists(_._1 == 1L), "the deleted key is gone")
    } finally q2.stop()
  }

  test("seeded stress: COW rewrites interleaved with a live replication " +
    "stream either converge or refuse precisely (rewritten mid-stream) — " +
    "never a raw missing-file crash") {
    import spark.implicits._
    val rnd = new scala.util.Random(12)
    for (i <- 1 to 5) {
      val wh = Fixtures.fresh(s"stream_race_wh_$i")
      val src = new TableSink(SinkConfig("race_src", wh, versioned = true))
      val dst = new TableSink(SinkConfig("race_dst", wh, versioned = true))
      src.append(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
      val q = src.startReplication(spark, dst, Seq("id"),
        Fixtures.fresh(s"stream_race_cp_$i"), intervalSeconds = 1)
      // interleave appends around a COW rewrite while micro-batches run:
      // the rewrite deletes planned source files under the in-flight
      // batch with seeded-random timing, exercising both the planning
      // window (file listing) and the execution window (foreachBatch)
      val outcome = scala.util.Try {
        src.append(Seq((3L + i, 3.0)).toDF("id", "v"))
        Thread.sleep(rnd.nextInt(300).toLong)
        src.upsert(Seq((1L, 10.0 + i)).toDF("id", "v"), Seq("id"))
        Thread.sleep(rnd.nextInt(200).toLong)
        src.append(Seq((100L + i, 9.0)).toDF("id", "v"))
        q.processAllAvailable()
      }
      q.stop()
      outcome match {
        case scala.util.Success(_) => () // every race window missed: fine
        case scala.util.Failure(e) =>
          val msgs = Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null)
            .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
          assert(msgs.contains("rewritten mid-stream"),
            s"trial $i must refuse precisely, got: $msgs")
      }
      // after the maintenance window a fresh checkpoint converges (the
      // keyed apply is idempotent over whatever the first stream landed)
      val q2 = src.startReplication(spark, dst, Seq("id"),
        Fixtures.fresh(s"stream_race_cp2_$i"), intervalSeconds = 1)
      try {
        q2.processAllAvailable()
        val s = src.read(spark).select($"id", $"v")
          .as[(Long, Double)].collect().toSet
        val d = dst.read(spark).select($"id", $"v")
          .as[(Long, Double)].collect().toSet
        assert(d == s, s"trial $i replica must converge: $d vs $s")
      } finally q2.stop()
    }
  }

  test("snapshot streaming resumes incrementally from the checkpoint " +
    "without re-emitting consumed commits") {
    import spark.implicits._
    val sink = new TableSink(SinkConfig(
      tableName = "events_resumestream",
      warehousePath = Fixtures.fresh("stream_resume_wh"),
      versioned = true))
    sink.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "cat", "v"))
    val cp = Fixtures.fresh("stream_resume_cp")
    val out = Fixtures.fresh("stream_resume_out")
    def startQ() = sink.readStream(spark)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).start()
    val q1 = startQ()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() == 2L)
    sink.append(Seq((3L, "c", 30.0)).toDF("id", "cat", "v"))
    // same checkpoint: the restarted query emits ONLY the new commit —
    // a re-emission of the consumed snapshot would land 5 rows, not 3
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    val ids = spark.read.parquet(out).select($"id").as[Long]
      .collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L),
      s"the resumed stream must emit only the un-consumed commit: $ids")
  }

  test("size flush: no streamed data file exceeds batchSize records") {
    val cfg = SinkConfig(
      tableName = "events_sized",
      warehousePath = Fixtures.fresh("stream_sized"),
      batchSize = 64,
      batchIntervalSeconds = 1)
    val sink = new TableSink(cfg)
    val q = sink.startStream(
      StreamPipeline.eventsStream(spark, TestSpark.sfDir),
      Fixtures.fresh("stream_sized_cp"))
    try q.processAllAvailable() finally q.stop()
    assert(sink.read(spark).count() == 1000)
    val files = new java.io.File(cfg.tablePath).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val n = spark.read.parquet(f.getAbsolutePath).count()
      assert(n <= 64, s"file ${f.getName} has $n rows > batchSize")
    }
  }

  test("streaming upsert merges each micro-batch by key (CDC sink)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sink = new TableSink(SinkConfig(
      tableName = "cdc",
      warehousePath = Fixtures.fresh("cdc_sink"),
      batchIntervalSeconds = 1,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity))))
    val src = MemoryStream[(Long, String, Double)]
    val q = sink.startStreamUpsert(
      src.toDF().toDF("event_id", "event_type", "value"),
      keyCols = Seq("event_id"),
      checkpointLocation = Fixtures.fresh("cdc_cp"))
    try {
      src.addData((1L, "click", 1.0), (2L, "click", 2.0), (3L, "view", 3.0))
      q.processAllAvailable()
      assert(sink.read(spark).count() == 3)
      // second batch: update key 2, insert key 4
      src.addData((2L, "click", 20.0), (4L, "view", 4.0))
      q.processAllAvailable()
      val rows = sink.read(spark)
        .select($"event_id", $"value").as[(Long, Double)].collect().toMap
      assert(rows == Map(1L -> 1.0, 2L -> 20.0, 3L -> 3.0, 4L -> 4.0),
        s"key 2 must be replaced, key 4 inserted: $rows")
      // two events for one key INSIDE a micro-batch collapse to one row
      src.addData((7L, "click", 1.0), (7L, "click", 2.0))
      q.processAllAvailable()
      assert(sink.read(spark).filter($"event_id" === 7L).count() == 1,
        "intra-batch duplicate keys must not produce duplicate rows")
    } finally q.stop()
  }

  test("streaming upsert on a MoR-capable sink applies micro-batches as " +
    "position-delete + append commits: no rewrite, history kept") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sink = new TableSink(SinkConfig(
      tableName = "cdc_mor",
      warehousePath = Fixtures.fresh("cdc_mor_sink"),
      batchIntervalSeconds = 1,
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity))))
    val src = MemoryStream[(Long, String, Double)]
    val q = sink.startStreamUpsert(
      src.toDF().toDF("event_id", "event_type", "value"),
      keyCols = Seq("event_id"),
      checkpointLocation = Fixtures.fresh("cdc_mor_cp"))
    try {
      src.addData((1L, "click", 1.0), (2L, "view", 2.0))
      q.processAllAvailable()
      val files1 = sink.dataFilesRel().toSet
      val vs1 = sink.snapshotVersions().size
      src.addData((1L, "click", 10.0), (3L, "view", 3.0)) // update + insert
      q.processAllAvailable()
      val rows = sink.read(spark)
        .select($"event_id", $"value").as[(Long, Double)].collect().toMap
      assert(rows == Map(1L -> 10.0, 2L -> 2.0, 3L -> 3.0),
        s"key 1 replaced, key 3 inserted: $rows")
      assert(files1.subsetOf(sink.dataFilesRel().toSet),
        "the MoR apply must not rewrite the first batch's files")
      assert(sink.snapshotVersions().size > vs1,
        "the MoR apply preserves history across micro-batches")
    } finally q.stop()
  }

  test("versioned config rejects the raw streaming sink, pointing at the CDC path") {
    val sink = new TableSink(SinkConfig("vs", Fixtures.fresh("vs_sink"),
      versioned = true))
    val ex = intercept[IllegalArgumentException](
      sink.startStream(StreamPipeline.eventsStream(spark, TestSpark.sfDir),
        Fixtures.fresh("vs_cp")))
    assert(ex.getMessage.contains("startStreamUpsert"))
  }

  test("near-dup bucket state survives across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val flagged = StreamPipeline.nearDupFlags(
      src.toDF().toDF("doc_id", "text"))
    val name = "neardup_xb_" + java.util.UUID.randomUUID().toString
      .replace("-", "")
    val q = flagged.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    try {
      src.addData((1L, text), (7L, "totally different words here entirely" +
        " nothing shared with the others at all"))
      q.processAllAvailable()
      assert(spark.table(name).count() == 0,
        "nothing to flag in the first batch")
      // batch 2: a near-identical doc — the batch-1 bucket state must flag it
      src.addData((9L, text))
      q.processAllAvailable()
      val got = spark.table(name)
        .groupBy(col("doc_id")).agg(min(col("bucket_first")).as("first"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((9L, 1L)),
        s"doc 9 must be flagged against batch-1's doc 1: $got")
    } finally q.stop()
  }

  test("watermark drops late data in append-mode windowed aggregation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = src.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes"))
      .agg(count(lit(1)).as("n"))
    val name = "wm_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // window [10:00,10:10) gets 2 events
      src.addData((t("2024-01-01 10:00:01"), 1L), (t("2024-01-01 10:05:00"), 2L))
      q.processAllAvailable()
      // watermark advances far past that window -> it finalizes and emits
      src.addData((t("2024-01-01 11:00:00"), 3L))
      q.processAllAvailable()
      // a LATE event for the already-finalized window must be dropped
      src.addData((t("2024-01-01 10:06:00"), 99L))
      q.processAllAvailable()
      src.addData((t("2024-01-01 12:00:00"), 4L))
      q.processAllAvailable()
      val emitted = spark.table(name)
        .select(col("window.start").cast("string"), col("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(emitted("2024-01-01 10:00:00") == 2,
        s"late event must not inflate the finalized window: $emitted")
    } finally q.stop()
  }
}
