package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TableSink.compactPartitions]] — incremental compaction: only
  * fragmented partitions rewrite; untouched partitions' files stay
  * physically identical; guards refuse the unsafe combinations. */
class PartialCompactSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = Fixtures.fresh("partial_compact_wh")

  private def spineCounts(sink: TableSink): Map[String, Int] =
    sink.dataFilesRel()
      .groupBy(f => f.split('/').dropRight(1).mkString("/"))
      .view.mapValues(_.size).toMap

  test("only the fragmented partition rewrites; the rest keep their files") {
    val sink = new TableSink(SinkConfig(tableName = "pc1",
      warehousePath = wh,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity)),
      sortOrder = Seq("id")))
    // fragment cat=a with five single-row appends; cat=b commits once
    (1 to 5).foreach(i =>
      sink.append(Seq((i.toLong, "a", i * 1.0)).toDF("id", "cat", "v")))
    sink.append(Seq((100L, "b", 100.0), (101L, "b", 101.0))
      .toDF("id", "cat", "v"))
    val before = spineCounts(sink)
    assert(before("cat=a") == 5 && before("cat=b") >= 1, s"setup: $before")
    // NOTE inputFiles reports the whole relation (pre-pruning), so the
    // untouched-files check works from the listing, prefix-scoped
    val bFilesBefore = sink.dataFilesRel().filter(_.startsWith("cat=b/")).toSet

    val spines = sink.compactPartitions(spark, maxFiles = 3)
    assert(spines == Seq("cat=a"), s"got $spines")
    val after = spineCounts(sink)
    assert(after("cat=a") < 5, s"cat=a must collapse: $after")
    val bFilesAfter = sink.dataFilesRel().filter(_.startsWith("cat=b/")).toSet
    assert(bFilesAfter == bFilesBefore,
      "untouched partition's files must be physically identical")
    val got = sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 4L, 5L, 100L, 101L), "lossless rewrite")
    // nothing left above the threshold: second run is a no-op
    assert(sink.compactPartitions(spark, maxFiles = 3).isEmpty)
  }

  test("fixture-shaped run picks exactly the fragmented event_type") {
    val e = Tables.events(spark, TestSpark.sfDir)
      .select($"event_id", $"event_type", $"value")
    val sink = new TableSink(SinkConfig(tableName = "pc_events",
      warehousePath = wh, numPartitions = 4,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity)),
      sortOrder = Seq("event_id")))
    sink.append(e.filter($"event_type" =!= "click"))
    (0 until 5).foreach(k =>
      sink.append(e.filter($"event_type" === "click" &&
        pmod($"event_id", lit(5)) === k)))
    val counts = spineCounts(sink)
    val spines = sink.compactPartitions(spark, maxFiles = 4)
    assert(spines == Seq("event_type=click"),
      s"got $spines from layout $counts")
  }

  test("guards: pending MoR deletes, unpartitioned, clone all refuse") {
    val sink = new TableSink(SinkConfig(tableName = "pc2",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    (1 to 4).foreach(i =>
      sink.append(Seq((i.toLong, "a", i * 1.0)).toDF("id", "cat", "v")))
    sink.deleteWhere("id = 1")
    val e1 = intercept[IllegalArgumentException] {
      sink.compactPartitions(spark, maxFiles = 2)
    }
    assert(e1.getMessage.contains("materialize"))

    val flat = new TableSink(SinkConfig(tableName = "pc3", warehousePath = wh))
    flat.append(Seq((1L, "a", 1.0)).toDF("id", "cat", "v"))
    val e2 = intercept[IllegalArgumentException] {
      flat.compactPartitions(spark)
    }
    assert(e2.getMessage.contains("compact()"))
  }

  test("versioned: partial compaction expires history like any rewrite") {
    val sink = new TableSink(SinkConfig(tableName = "pc4",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    (1 to 4).foreach(i =>
      sink.append(Seq((i.toLong, "a", i * 1.0)).toDF("id", "cat", "v")))
    assert(sink.snapshotVersions() == Seq(1, 2, 3, 4))
    assert(sink.compactPartitions(spark, maxFiles = 2) == Seq("cat=a"))
    assert(sink.snapshotVersions() == Seq(1), "history reset to one snapshot")
    assert(sink.read(spark).count() == 4)
  }
}
