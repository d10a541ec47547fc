package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

/** [[WarehouseIO]]'s tree walks against Hadoop's own recursive listing,
  * and its metadata-read counter. */
class WarehouseIOSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("the data-file and whole-tree walks list what listFiles lists") {
    val wh = TestSpark.tmpDir("wio_wh")
    val sink = new TableSink(SinkConfig(tableName = "t", warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "cat", "v"))
    sink.append(Seq((4L, "c", 40.0)).toDF("id", "cat", "v"))
    sink.deleteKeys(Seq(Tuple1(2L)).toDF("id"), Seq("id"))
    sink.deletePositions(spark, "id = 3")
    // a plain Spark write beside the sink's files leaves `_SUCCESS`
    // markers and their checksums in a data directory
    Seq((5L, "d")).toDF("id", "cat").write.partitionBy("cat")
      .parquet(s"$wh/t/extra")
    val root = new HPath(s"$wh/t")

    val onDisk = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$wh/t"))
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    assert(onDisk.exists(_.startsWith("dv-")) &&
      onDisk.exists(_.startsWith("keys-")) && onDisk("_SUCCESS") &&
      onDisk.exists(_.endsWith(".crc")), s"fixture: $onDisk")

    val f = WarehouseIO.fs(root)
    val q = f.makeQualified(root)
    val listed = {
      val it = f.listFiles(q, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(st => st.getPath.toString.stripPrefix(q.toString)
          .stripPrefix("/") -> st.getLen)
        .toVector
    }
    val data = listed.filterNot { case (rel, _) =>
      rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
    }
    assert(data.exists(_._1.startsWith("cat=a/")) &&
      data.exists(_._1.startsWith("extra/cat=d/")) &&
      listed.exists(_._1.startsWith("_graft_log/dv-")), s"listed: $listed")

    assert(WarehouseIO.dataFileStatuses(root)
      .map { case (rel, st) => rel -> st.getLen }.toVector == data)
    assert(WarehouseIO.listAllFilesRel(root) == listed.map(_._1))
    assert(WarehouseIO.dataFileStatuses(new HPath(s"$wh/absent")).isEmpty)
  }

  test("a probe of an absent file leaves metaReads unchanged") {
    val p = new HPath(TestSpark.tmpDir("wio_probe"), "generation")
    val before = WarehouseIO.metaReads.get()
    intercept[java.io.FileNotFoundException](WarehouseIO.readString(p))
    assert(WarehouseIO.metaReads.get() == before,
      "a read that never opened a file counted as a metadata read")
    WarehouseIO.writeString(p, "g")
    assert(WarehouseIO.readString(p) == "g")
    assert(WarehouseIO.metaReads.get() == before + 1)
  }
}
