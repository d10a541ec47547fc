package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[TableLog]]: one listing of `_graft_log` per operation, and the log's
  * on-disk layout defined in one file. Listing counts are read off
  * [[WarehouseIO.dirListings]] around one call. */
class TableLogSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = TestSpark.tmpDir("tablelog_wh")

  private def mkSink(name: String): TableSink =
    new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))

  private def rows(ids: Range) =
    ids.map(i => (i.toLong, if (i % 2 == 0) "a" else "b")).toDF("id", "cat")

  /** Directory listings `body` makes, with its result. */
  private def listings[T](body: => T): (Long, T) = {
    val before = WarehouseIO.dirListings.get()
    val r = body
    (WarehouseIO.dirListings.get() - before, r)
  }

  test("a versioned head read under a pending key-list sidecar lists the " +
    "log once") {
    val sink = mkSink("head_read")
    sink.append(rows(1 to 10))
    sink.append(rows(11 to 20))
    sink.deleteKeys(Seq(3L, 12L).toDF("id"), Seq("id"))
    assert(sink.hasPendingDeletes(sink.snapshotVersions().last))
    val (n, ids) = listings(
      sink.read(spark).select($"id").as[Long].collect().toSet)
    assert(ids == (1 to 20).map(_.toLong).toSet -- Set(3L, 12L))
    assert(n == 1, s"head read listed the log $n times")
  }

  test("a changelog replay lists the log the same number of times over 4 " +
    "and over 16 commits") {
    val sink = mkSink("changelog_range")
    sink.append(rows(1 to 5))
    // v2..v17: appends, every 4th commit a key-list delete of a live key
    (2 to 17).foreach { v =>
      if (v % 4 == 0) sink.deleteKeys(Seq((v - 1).toLong).toDF("id"), Seq("id"))
      else sink.append(rows(v * 10 to v * 10 + 2))
    }
    assert(sink.snapshotVersions() == (1 to 17))
    def replay(from: Int): (Long, Long) = listings(
      sink.readChangelog(spark, from, 17).count())
    val (short, shortRows) = replay(13) // v14..v17: 4 commits, one delete
    val (long, longRows) = replay(1)   // v2..v17: 16 commits, four deletes
    assert(shortRows > 0 && longRows > shortRows)
    assert(short == long,
      s"4 commits listed the log $short times, 16 commits $long times")
    assert(long == 1, s"a changelog replay listed the log $long times")
  }

  test("only TableLog.scala spells the log's file names") {
    val root = java.nio.file.Paths.get(sys.props("user.dir"), "src", "main",
      "scala")
    val layout = Seq("%05d.list", "\".list\"", "\"branch_", "\"tag_",
      "\"dv-", "\"keys-", "\"del-")
    val sources = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    }
    assert(sources.exists(_.getFileName.toString == "TableLog.scala"))
    def text(p: java.nio.file.Path): String =
      new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
    val offenders = for {
      p <- sources if p.getFileName.toString != "TableLog.scala"
      t = text(p)
      pat <- layout if t.contains(pat)
    } yield s"${root.relativize(p)}: $pat"
    assert(offenders.isEmpty, offenders.mkString("; "))
    // the catalog's TIMESTAMP AS OF fixture names version files the same way
    assert(sources.filter(_.getFileName.toString == "ParityQueries.scala")
      .exists(p => text(p).contains("TableLog.versionFile(")))
  }
}
