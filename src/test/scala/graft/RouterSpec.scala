package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class RouterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("batch routing fans records out to per-table sinks completely") {
    val wh = Fixtures.fresh("router")
    val e = Tables.events(spark, TestSpark.sfDir)
      .withColumn("dest", when($"value" < 100, "small").otherwise("large"))
    TableRouter.appendRouted(e, "dest",
      t => SinkConfig(tableName = t, warehousePath = wh))
    val small = spark.read.parquet(s"$wh/small")
    val large = spark.read.parquet(s"$wh/large")
    assert(small.count() == e.filter($"value" < 100).count())
    assert(large.count() == e.filter($"value" >= 100).count())
    assert(small.count() + large.count() == 1000)
    assert(!small.columns.contains("dest"), "routing column dropped")
  }

  test("streaming routing fans out per micro-batch with a checkpoint") {
    val wh = Fixtures.fresh("router_stream")
    val q = TableRouter.startRoutedStream(
      StreamPipeline.eventsStream(spark, TestSpark.sfDir)
        .withColumn("dest", concat(lit("t_"), $"event_type")),
      "dest",
      t => SinkConfig(tableName = t, warehousePath = wh,
        partitionSpec = Seq(PartitionField("ts", Transform.Day, Some("d")))),
      Fixtures.fresh("router_cp"), intervalSeconds = 1)
    q.processAllAvailable()
    q.stop()
    val types = Tables.events(spark, TestSpark.sfDir)
      .select("event_type").distinct().as[String].collect()
    val total = types.map(t => spark.read.parquet(s"$wh/t_$t").count()).sum
    assert(total == 1000)
  }

  test("versioned routed stream is exactly-once PER DESTINATION: a " +
    "replayed batch commits only to the tables that missed it") {
    val wh = Fixtures.fresh("router_v_wh")
    def cfg(t: String) = SinkConfig(tableName = s"v_$t",
      warehousePath = wh, versioned = true)
    def batch(rows: (Long, String, Double)*) =
      rows.toSeq.toDF("id", "dest", "v")
    // batch 0 routes to a and b
    val committed0 = TableRouter.routeBatchVersioned(
      batch((1L, "a", 1.0), (2L, "b", 2.0)), "dest", cfg, "router", 0L)
    assert(committed0 == Seq("a", "b"))
    // the crash-replay shape: batch 0 re-routes after only `a` committed
    // a hypothetical batch 1 — here, replay batch 0 outright: every
    // destination already has it, nothing commits, nothing duplicates
    assert(TableRouter.routeBatchVersioned(
      batch((1L, "a", 1.0), (2L, "b", 2.0)), "dest", cfg, "router", 0L)
      .isEmpty)
    // partial-crash convergence: pre-commit batch 1 to `a` only (as if
    // the crash hit between destinations), then replay the FULL batch —
    // only `b` commits
    val sinkA = new TableSink(cfg("a"))
    assert(sinkA.appendStreamBatch(
      batch((3L, "a", 3.0)).drop("dest"), "router", 1L))
    val committed1 = TableRouter.routeBatchVersioned(
      batch((3L, "a", 3.0), (4L, "b", 4.0)), "dest", cfg, "router", 1L)
    assert(committed1 == Seq("b"),
      s"only the destination that missed batch 1 may commit: $committed1")
    assert(new TableSink(cfg("a")).read(spark).count() == 2,
      "no duplicate rows in a")
    assert(new TableSink(cfg("b")).read(spark).count() == 2)
    assert(new TableSink(cfg("a")).snapshotVersions() == Seq(1, 2),
      "one snapshot per committed batch, none for replays")
    // end-to-end through a real stream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // (the replay/partial-crash cases above all ran on the CONCURRENT
    // fan-out path — destination independence holds under parallelism)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, String, Double)]
    val q = TableRouter.startRoutedStreamVersioned(
      src.toDF().toDF("id", "dest", "v"), "dest", cfg,
      Fixtures.fresh("router_v_cp"), streamId = Some("router2"),
      intervalSeconds = 1)
    try {
      src.addData((10L, "a", 1.0), (11L, "c", 2.0))
      q.processAllAvailable()
      assert(new TableSink(cfg("c")).read(spark).count() == 1)
      assert(new TableSink(cfg("a")).read(spark).count() == 3)
    } finally q.stop()
  }

  test("concurrent fan-out commits every destination exactly as the " +
    "sequential path would, and failures surface after all settle") {
    val wh = Fixtures.fresh("router_conc_wh")
    def cfg(t: String) = SinkConfig(tableName = s"c_$t",
      warehousePath = wh, versioned = true)
    val dests = ('a' to 'f').map(_.toString)
    val rows = dests.zipWithIndex.flatMap { case (d, i) =>
      Seq((i.toLong, d, i * 1.0), (i + 100L, d, i * 2.0)) }
    val committed = TableRouter.routeBatchVersioned(
      rows.toDF("id", "dest", "v"), "dest", cfg, "conc", 0L,
      maxConcurrency = 6)
    assert(committed.sorted == dests,
      s"every destination commits under the concurrent path: $committed")
    dests.foreach { d =>
      val sink = new TableSink(cfg(d))
      assert(sink.read(spark).count() == 2, s"destination $d slice")
      assert(sink.snapshotVersions() == Seq(1))
    }
    // sequential (maxConcurrency=1) replay converges identically: all skip
    assert(TableRouter.routeBatchVersioned(
      rows.toDF("id", "dest", "v"), "dest", cfg, "conc", 0L,
      maxConcurrency = 1).isEmpty)
    // one failing destination (unversioned → appendStreamBatch refuses)
    // surfaces the error while the healthy ones still commit batch 1
    def cfgBad(t: String) = if (t == "c") SinkConfig(tableName = s"c_$t",
      warehousePath = wh) else cfg(t)
    intercept[IllegalArgumentException] {
      TableRouter.routeBatchVersioned(
        rows.toDF("id", "dest", "v"), "dest", cfgBad, "conc", 1L,
        maxConcurrency = 6)
    }
    assert(new TableSink(cfg("a")).snapshotVersions() == Seq(1, 2),
      "healthy destinations settle their batch-1 commit before the " +
        "failure rethrows")
  }
}
