package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[TableSink.startStreamVersioned]]: streaming ingest through the
  * versioned manifest protocol — each micro-batch is ONE snapshot, so
  * time travel / changelog / catalog reads work on a live streaming
  * table, and checkpoint replays are EXACTLY-ONCE via the txn line the
  * commit embeds in its claimed snapshot. */
class VersionedStreamSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = Fixtures.fresh("vstream_wh")

  private def mkSink(name: String): TableSink =
    new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      batchIntervalSeconds = 1, versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))

  test("each micro-batch commits one snapshot: time travel + changelog " +
    "work on a live streaming table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sink = mkSink("vs_t1")
    val src = MemoryStream[(Long, String, Double)]
    val q = sink.startStreamVersioned(
      src.toDF().toDF("id", "cat", "v"),
      checkpointLocation = Fixtures.fresh("vs_t1_cp"))
    try {
      src.addData((1L, "a", 1.0), (2L, "b", 2.0))
      q.processAllAvailable()
      src.addData((3L, "a", 3.0))
      q.processAllAvailable()
      val vs = sink.snapshotVersions()
      assert(vs.size >= 2, s"one snapshot per non-empty micro-batch: $vs")
      assert(sink.readVersion(spark, vs.head).count() == 2,
        "the first batch is time-travelable while the stream runs")
      assert(sink.readVersion(spark, vs.last).count() == 3)
      // row-level CDC over the streamed commits
      val changes = sink.readChangelog(spark, 0, vs.last)
      assert(changes.where($"_change_type" === "insert").count() == 3)
    } finally q.stop()
  }

  test("a replayed batch id is skipped before staging — exactly-once") {
    val sink = mkSink("vs_t2")
    val b1 = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "cat", "v")
    val b2 = Seq((3L, "a", 3.0)).toDF("id", "cat", "v")
    assert(sink.appendStreamBatch(b1, "streamA", 0L))
    assert(sink.appendStreamBatch(b2, "streamA", 1L))
    // crash-replay of batch 1 (and an ancient batch 0): both no-ops
    assert(!sink.appendStreamBatch(b2, "streamA", 1L))
    assert(!sink.appendStreamBatch(b1, "streamA", 0L))
    assert(sink.read(spark).count() == 3, "no duplicate rows")
    assert(sink.snapshotVersions() == Seq(1, 2), "no duplicate snapshots")
    // a DIFFERENT stream's ids are independent
    assert(sink.appendStreamBatch(b1, "streamB", 0L))
    assert(sink.read(spark).count() == 5)
    assert(sink.snapshotVersions() == Seq(1, 2, 3))
  }

  test("restart from the checkpoint does not re-commit the last batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sink = mkSink("vs_t3")
    val cp = Fixtures.fresh("vs_t3_cp")
    val src = MemoryStream[(Long, String, Double)]
    val df = src.toDF().toDF("id", "cat", "v")
    val q1 = sink.startStreamVersioned(df, cp, streamId = Some("vs3"))
    try {
      src.addData((1L, "a", 1.0), (2L, "b", 2.0))
      q1.processAllAvailable()
    } finally q1.stop()
    val n1 = sink.read(spark).count()
    // restart on the same checkpoint: MemoryStream re-offers its data,
    // the checkpoint replays the batch — the txn line must absorb it
    val q2 = sink.startStreamVersioned(df, cp, streamId = Some("vs3"))
    try {
      src.addData((3L, "a", 3.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val rows = sink.read(spark).select($"id").as[Long].collect().sorted
    assert(n1 == 2 && rows.sameElements(Array(1L, 2L, 3L)),
      s"replayed batch must not double-land: ${rows.toSeq}")
  }

  test("startStreamVersioned refuses unversioned configs; batch append " +
    "and streaming commits interleave on one table") {
    val flat = new TableSink(SinkConfig("vs_flat", wh))
    intercept[IllegalArgumentException](
      flat.startStreamVersioned(spark.range(1).toDF(), "/tmp/x"))
    val sink = mkSink("vs_mix")
    assert(sink.appendStreamBatch(
      Seq((1L, "a", 1.0)).toDF("id", "cat", "v"), "s", 0L))
    sink.append(Seq((2L, "b", 2.0)).toDF("id", "cat", "v"))
    assert(sink.appendStreamBatch(
      Seq((3L, "a", 3.0)).toDF("id", "cat", "v"), "s", 1L))
    assert(sink.snapshotVersions() == Seq(1, 2, 3),
      "batch and streaming commits share one optimistic log")
    assert(sink.read(spark).count() == 3)
  }

  test("a crashed batch-0 attempt's orphans are NOT swept into the first " +
    "streaming commit on replay") {
    val sink = mkSink("vs_orphan0")
    val b1 = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "cat", "v")
    // first attempt: staged files renamed into the root, then "crash"
    // between the rename and the snapshot claim — simulated by landing
    // the commit and erasing the whole log (files stay, no head)
    assert(sink.appendStreamBatch(b1, "s0", 0L))
    WarehouseIO.delete(new org.apache.hadoop.fs.Path(
      s"$wh/vs_orphan0/_graft_log"), recursive = true)
    // checkpoint replay of batch 0: head==None + a txn line — the commit
    // must NOT bootstrap-sweep the directory (the first attempt's
    // orphans are indistinguishable from pre-existing data and would
    // double every row of the batch)
    assert(sink.appendStreamBatch(b1, "s0", 0L))
    assert(sink.readVersion(spark, 1).count() == 2,
      "v1 carries the batch exactly once — replay orphans stay out")
    // the orphans are unreferenced debris, reclaimable by removeOrphans
    val reclaimed = sink.removeOrphans(graceMs = 0L)
    assert(reclaimed.count(_.endsWith(".parquet")) >= 1,
      s"the crashed attempt's files are orphans: $reclaimed")
    assert(sink.readVersion(spark, 1).count() == 2)
  }

  test("a zombie duplicate writer landing the same batch id inside the " +
    "commit window is absorbed, not double-committed") {
    val sink = mkSink("vs_zombie")
    val b = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "cat", "v")
    assert(sink.appendStreamBatch(b, "sz", 0L)) // v1
    // arm: just before THIS writer's claim, a second writer (the zombie's
    // replacement, or the original non-zombie) commits the same (sz, 1)
    val rival = mkSink("vs_zombie")
    var fired = false
    sink.raceWindowCheckHook = () => if (!fired) {
      fired = true
      assert(rival.appendStreamBatch(
        Seq((9L, "a", 9.0)).toDF("id", "cat", "v"), "sz", 1L))
    }
    try {
      // the pre-staging dedup probe passes (batch 1 not yet committed at
      // probe time); the rival lands it in the window; the in-loop
      // re-check must absorb the duplicate instead of retrying the claim
      val committed = sink.appendStreamBatch(b, "sz", 1L)
      assert(!committed, "the duplicate batch id must be absorbed")
    } finally sink.raceWindowCheckHook = () => ()
    assert(sink.read(spark).count() == 3,
      "only v1's two rows + the rival's one row — no double-commit")
    // the absorbed attempt's staged files were reclaimed immediately
    assert(sink.removeOrphans(graceMs = 0L).isEmpty,
      "the absorbed attempt must clean its own staged files")
  }

  test("stream ids containing spaces (checkpoint paths) keep replay " +
    "dedup working via txn-id escaping") {
    val sink = mkSink("vs_spacey")
    val b = Seq((1L, "a", 1.0)).toDF("id", "cat", "v")
    val sid = "/tmp/check point dir/vs spacey"
    assert(sink.appendStreamBatch(b, sid, 0L))
    assert(!sink.appendStreamBatch(b, sid, 0L),
      "replay of a space-bearing stream id must still dedup")
    assert(sink.read(spark).count() == 1)
    // the escaped id round-trips byte-identical through the snapshot file
    assert(TableLog.decodeTxnId(TableLog.encodeTxnId(sid)) == sid)
    val weird = "a %20b\nc\r d%"
    assert(TableLog.decodeTxnId(TableLog.encodeTxnId(weird)) == weird)
  }
}
