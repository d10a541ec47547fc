package graft

import org.apache.spark.sql.types.{StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Read planning resolves every schema from footers on the driver
  * ([[FileFooters]]): no Spark job runs while a read is analyzed and
  * optimized, and the resolved schema is exactly the one Spark's own
  * inference would have produced. */
class ReadPlanningSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = Fixtures.fresh("plan_wh")
  spark.conf.set("spark.sql.catalog.gplan", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.gplan.warehouse", wh)

  private def logDir(sink: TableSink) =
    new org.apache.hadoop.fs.Path(sink.config.tablePath, "_graft_log")

  /** A versioned identity-partitioned table with one pending key-list and
    * one pending position-list sidecar at its head. */
  private def pendingTable(name: String): TableSink = {
    val sink = new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "cat", "v"))
    sink.append(Seq((4L, "b", 40.0), (5L, "c", 50.0)).toDF("id", "cat", "v"))
    sink.deleteKeys(Seq(2L).toDF("id"), Seq("id"))
    sink.deletePositions(spark, "id = 4")
    sink
  }

  test("planning a catalog read, time travel, the files table and the " +
    "changelog/position frames launches no job") {
    val sink = pendingTable("zj")
    val head = sink.snapshotVersions().last
    val jobs = TestSpark.jobsDuring {
      Seq("gplan.zj", "gplan.zj VERSION AS OF 2", "gplan.zj.files")
        .foreach { t =>
          val df = spark.sql(s"SELECT * FROM $t")
          df.schema
          df.queryExecution.optimizedPlan
        }
      Seq(sink.readChangelog(spark, 0, head), sink.readHeadWithPos(spark))
        .foreach { df => df.schema; df.queryExecution.optimizedPlan }
    }
    assert(jobs.isEmpty, s"read planning launched Spark jobs: $jobs")
    // and the frames still answer correctly
    assert(spark.sql("SELECT id FROM gplan.zj").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L, 5L))
    assert(spark.sql("SELECT sum(record_count) FROM gplan.zj.files")
      .as[Long].head() == 5L)
  }

  /** The footer-resolved schema, applied as a declared schema, yields the
    * same relation schema as Spark's inference over the same input. */
  private def assertFilesParity(files: Seq[String], base: String): Unit = {
    val inferred = spark.read.option("basePath", base).parquet(files: _*).schema
    val footer = FileFooters.ofFiles(spark, "parquet", files, base)
    assert(footer.isDefined, s"no footer schema for $files")
    assert(spark.read.option("basePath", base).schema(footer.get)
      .parquet(files: _*).schema == inferred)
  }

  private def assertDirParity(dir: String): StructType = {
    val inferred = spark.read.parquet(dir).schema
    val footer = FileFooters.ofDirectory(spark, "parquet", dir)
    assert(footer.isDefined, s"no footer schema for $dir")
    assert(spark.read.schema(footer.get).parquet(dir).schema == inferred)
    inferred
  }

  private def headFiles(sink: TableSink): Seq[String] =
    TableLog.readSnapshotFiles(logDir(sink), new org.apache.hadoop.fs
      .Path(logDir(sink), f"v${sink.snapshotVersions().last}%05d.list"))
      .map(rel => s"${sink.config.tablePath}/$rel")

  test("schema parity: identity + day partitioned table") {
    val sink = new TableSink(SinkConfig(tableName = "par_day",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity),
        PartitionField("ts", Transform.Day))))
    sink.append(Seq(
      (1L, "a", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, "b", java.sql.Timestamp.valueOf("2024-01-02 11:00:00")),
      (3L, "a", java.sql.Timestamp.valueOf("2024-01-03 12:00:00")))
      .toDF("id", "cat", "ts"))
    assertFilesParity(headFiles(sink), sink.config.tablePath)
    assertDirParity(sink.config.tablePath)
  }

  test("schema parity: additive drift without ALTER — the file Spark " +
    "picks wins, and a merged read keeps Spark's inference") {
    val sink = new TableSink(SinkConfig(tableName = "par_drift",
      warehousePath = wh, versioned = true))
    sink.append(Seq((1L, 1.0)).toDF("id", "v"))
    sink.append(Seq((2L, 2.0, "x")).toDF("id", "v", "extra"))
    sink.append(Seq((3L, 3.0)).toDF("id", "v"))
    val files = headFiles(sink)
    assertFilesParity(files, sink.config.tablePath)
    // each single-file subset pins that file's own width
    files.foreach(f => assertFilesParity(Seq(f), sink.config.tablePath))
    assertDirParity(sink.config.tablePath)
    assert(FileFooters.ofFiles(spark, "parquet", files, sink.config.tablePath,
      Map("mergeSchema" -> "true")).isEmpty)
    assert(sink.read(spark, mergeSchema = true).columns.contains("extra"))
  }

  test("schema parity: key-list and position-list sidecars") {
    val sink = pendingTable("par_side")
    val names = TestSpark.childNames(logDir(sink))
    val dirs = names.filter(_.startsWith("keys-"))
    assert(dirs.nonEmpty && names.exists(_.startsWith("dv-")))
    dirs.foreach(d => assertDirParity(s"${logDir(sink)}/$d"))
  }

  test("schema parity: spark.sql.parquet.binaryAsString is honoured") {
    // a file written without Spark's schema metadata: its un-annotated
    // BINARY column is what binaryAsString re-types
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; required binary payload; }")
    val dir = Fixtures.fresh("binary_as_string")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("payload", "abc"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "true")
    try assert(assertDirParity(dir)("payload").dataType == StringType)
    finally spark.conf.unset(key)
    assert(assertDirParity(dir)("payload").dataType != StringType)
  }
}
