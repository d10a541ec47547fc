package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions.{col, not}
import org.roaringbitmap.longlong.Roaring64NavigableMap
import org.scalatest.funsuite.AnyFunSuite

/** [[DeletionVectors]]: the bitmap codec, the row filter, and the refusal
  * of snapshots that reference the position-list sidecars deletion
  * vectors replaced. */
class DeletionVectorsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = TestSpark.tmpDir("dv_wh")

  private def bits(ps: Long*): Roaring64NavigableMap =
    Roaring64NavigableMap.bitmapOf(ps: _*)

  test("the codec round-trips positions at and above 2^31, and union ORs " +
    "per file without touching its inputs") {
    val big = Seq(0L, 7L, (1L << 31) - 1, 1L << 31, (1L << 31) + 5,
      1L << 40, Long.MaxValue)
    val dvs = Map("file:/t/a%20b.parquet" -> bits(big: _*),
      "file:/t/c.parquet" -> bits(3L))
    val back = DeletionVectors.parse(DeletionVectors.render(dvs))
    assert(back.keySet == dvs.keySet)
    assert(back("file:/t/a%20b.parquet").toArray.toSeq == big)
    assert(DeletionVectors.cardinality(back) == big.size + 1)
    assert(DeletionVectors.parse(DeletionVectors.render(Map.empty)).isEmpty)
    val u = DeletionVectors.union(Seq(dvs, Map("file:/t/c.parquet" ->
      bits(1L << 33))))
    assert(u("file:/t/c.parquet").toArray.toSeq == Seq(3L, 1L << 33))
    assert(dvs("file:/t/c.parquet").toArray.toSeq == Seq(3L))
  }

  test("the row filter drops exactly the named rows, compiled and " +
    "interpreted") {
    val rows = Seq(("f1", 0L), ("f1", 1L), ("f1", 1L << 31), ("f2", 0L),
      ("f2", 4L), ("f3", 1L)).toDF("file", "pos")
    val dvs = Map("f1" -> bits(1L, 1L << 31), "f2" -> bits(4L))
    def kept(): Set[(String, Long)] = rows.where(not(DeletionVectors
      .deleted(spark, dvs, col("file"), col("pos"))))
      .as[(String, Long)].collect().toSet
    val expected = Set(("f1", 0L), ("f2", 0L), ("f3", 1L))
    assert(kept() == expected)
    Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN").foreach {
      case (k, v) => spark.conf.set(k, v) }
    try assert(kept() == expected)
    finally Seq("spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode").foreach(spark.conf.unset)
  }

  test("removeOrphans sweeps a stranded dv-* file, and an older writer's " +
    "stranded pos-* directory, and keeps the referenced one") {
    val sink = new TableSink(SinkConfig(tableName = "t_orphan",
      warehousePath = wh, versioned = true))
    sink.append(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    sink.deletePositions(spark, "id = 1")
    // a crash between a sidecar write and its claim strands it
    val log = s"$wh/t_orphan/_graft_log"
    WarehouseIO.writeString(new HPath(s"$log/dv-deadbeef0000"), "")
    Seq(("file_path", 0L)).toDF("file_path", "row_pos").write
      .parquet(s"$log/pos-deadbeef0000")
    assert(sink.removeOrphans(graceMs = 60000L).isEmpty, "inside the grace")
    assert(sink.removeOrphans(graceMs = 0L) ==
      Seq("_graft_log/dv-deadbeef0000", "_graft_log/pos-deadbeef0000"))
    assert(sink.read(spark).as[(Long, Double)].collect().toSeq ==
      Seq((2L, 2.0)))
  }

  test("a snapshot referencing a position-list sidecar is refused by name " +
    "on read, commit and consolidation") {
    Seq("#pos pos-0123456789ab", "#dv pos-0123456789ab").foreach { ref =>
      val name = s"t_${ref.take(3).drop(1)}"
      val sink = new TableSink(SinkConfig(tableName = name,
        warehousePath = wh, versioned = true))
      sink.append(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
      sink.deletePositions(spark, "id = 1")
      // the head as an older build wrote it: its deletes in a `pos-*`
      // parquet directory the snapshot names
      val log = new HPath(s"$wh/$name/_graft_log")
      val head = new HPath(log, TableLog.versionFile(2))
      val lines = WarehouseIO.readString(head).split("\n").toSeq
      WarehouseIO.writeString(head, (lines.head +: ref +:
        lines.tail.filterNot(_.startsWith("#dv "))).mkString("\n"))
      Seq(("file_path", 0L)).toDF("file_path", "row_pos").write
        .parquet(new HPath(log, "pos-0123456789ab").toString)
      def refused(what: String)(body: => Any): Unit = {
        val e = intercept[IllegalArgumentException](body)
        assert(e.getMessage.contains("pos-0123456789ab") &&
          e.getMessage.contains("position-list"), s"$what: ${e.getMessage}")
      }
      refused("read")(sink.read(spark).count())
      refused("readVersion")(sink.readVersion(spark, 2).count())
      refused("append")(sink.append(Seq((3L, 3.0)).toDF("id", "v")))
      refused("consolidateDeletes")(sink.consolidateDeletes(spark))
      assert(sink.snapshotVersions() == Seq(1, 2), "nothing committed")
    }
  }

  test("a streaming txn id that starts with pos- is not a position-list " +
    "reference") {
    val sink = new TableSink(SinkConfig(tableName = "t_txn_pos",
      warehousePath = wh, versioned = true))
    assert(sink.appendStreamBatch(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"),
      "pos-orders", 0L))
    sink.deletePositions(spark, "id = 1")
    assert(sink.appendStreamBatch(Seq((3L, 3.0)).toDF("id", "v"),
      "pos-orders", 1L))
    assert(!sink.appendStreamBatch(Seq((3L, 3.0)).toDF("id", "v"),
      "pos-orders", 1L), "a replayed batch is skipped")
    assert(sink.consolidateDeletes(spark) > 0)
    assert(sink.read(spark).as[(Long, Double)].collect().sortBy(_._1).toSeq ==
      Seq((2L, 2.0), (3L, 3.0)))
  }
}
