package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class SinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkSink(warehouse: String, numPartitions: Int = 2) =
    new TableSink(SinkConfig(
      tableName = "t",
      warehousePath = warehouse,
      numPartitions = numPartitions,
      partitionSpec = Seq(
        PartitionField("event_type", Transform.Identity),
        PartitionField("ts", Transform.Day, Some("event_date"))),
      sortOrder = Seq("event_id")))

  test("append + read-back loses and duplicates nothing") {
    val e = Tables.events(spark, TestSpark.sfDir)
    val sink = mkSink(TestSpark.tmpDir("sink_rt"))
    sink.append(e)
    val back = sink.read(spark)
    assert(back.count() == e.count())
    assert(back.agg(sum($"event_id")).head().getLong(0) ==
      e.agg(sum($"event_id")).head().getLong(0))
    // derived partition columns materialized
    assert(back.columns.contains("event_date"))
    // partition pruning-friendly layout: filtering one event_type reads a subset
    assert(back.filter($"event_type" === "click").count() ==
      e.filter($"event_type" === "click").count())
  }

  test("compact collapses salted small files without changing the data") {
    val e = Tables.events(spark, TestSpark.sfDir)
    val sink = mkSink(TestSpark.tmpDir("sink_compact"), numPartitions = 4)
    sink.append(e)
    sink.append(e.limit(200)) // second commit: more small files
    def files(): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(
        java.nio.file.Paths.get(sink.config.tablePath))
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .toVector
      finally s.close()
    }
    val before = files()
    val sumBefore = sink.read(spark).agg(
      count(lit(1)), sum($"event_id"), sum($"value".cast("decimal(18,2)")))
      .head()
    sink.compact(spark) // default 128 MB target >> data: one file per dir
    val after = files()
    assert(after.size < before.size, s"${before.size} -> ${after.size}")
    val dirs = after.groupBy(_.getParent)
    dirs.foreach { case (d, fs) =>
      assert(fs.size == 1, s"partition $d should compact to one file")
    }
    val sumAfter = sink.read(spark).agg(
      count(lit(1)), sum($"event_id"), sum($"value".cast("decimal(18,2)")))
      .head()
    assert(sumBefore == sumAfter, "compaction must preserve the data")
  }

  test("create-if-missing: first append creates the table directory") {
    val wh = TestSpark.tmpDir("sink_create")
    val sink = mkSink(wh)
    assert(!new java.io.File(s"$wh/t").exists())
    sink.append(Tables.events(spark, TestSpark.sfDir).limit(10))
    assert(new java.io.File(s"$wh/t").exists())
  }

  test("second append appends (mode=append), not overwrites") {
    val e = Tables.events(spark, TestSpark.sfDir).limit(100)
    val sink = mkSink(TestSpark.tmpDir("sink_app"))
    sink.append(e)
    sink.append(e)
    assert(sink.read(spark).count() == 200)
  }

  test("unpartitioned config writes flat files") {
    val sink = new TableSink(SinkConfig("flat", TestSpark.tmpDir("sink_flat")))
    sink.append(Seq((1, "a"), (2, "b")).toDF("id", "name"))
    assert(sink.read(spark).count() == 2)
  }

  test("sortWithinPartitions orders rows inside each file") {
    val e = Tables.events(spark, TestSpark.sfDir)
    val sink = mkSink(TestSpark.tmpDir("sink_sort"), numPartitions = 1)
    sink.append(e)
    // per-file monotonicity of event_id within each partition dir
    val files = new java.io.File(sink.config.tablePath).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.take(5).foreach { f =>
      val ids = spark.read.parquet(f.getAbsolutePath)
        .select("event_id").as[Long].collect()
      assert(ids.sameElements(ids.sorted), s"unsorted file ${f.getName}")
    }
  }

  test("orc file format knob is honored end-to-end") {
    val sink = new TableSink(SinkConfig("orc_t", TestSpark.tmpDir("sink_orc"),
      fileFormat = "orc",
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity))))
    val e = Tables.events(spark, TestSpark.sfDir).limit(200)
    sink.append(e)
    assert(sink.read(spark).count() == 200)
    val files = new java.io.File(sink.config.tablePath).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
    assert(files.exists(_.getName.endsWith(".orc")))
  }

  test("compression codec rides through extraOptions (zstd)") {
    val sink = new TableSink(SinkConfig("zstd_t", TestSpark.tmpDir("sink_zstd"),
      extraOptions = Map("compression" -> "zstd")))
    sink.append(Tables.events(spark, TestSpark.sfDir).limit(100))
    assert(sink.read(spark).count() == 100)
    val files = new java.io.File(sink.config.tablePath).listFiles()
    assert(files.exists(_.getName.contains(".zstd.parquet")),
      files.map(_.getName).mkString(","))
  }

  test("partition_data per-message override wins over the derived transform") {
    val e = Tables.events(spark, TestSpark.sfDir).limit(100)
    // even event_ids carry an explicit partition value; odd rows derive
    val withOverride = e.withColumn(TableSink.PartitionDataCol,
      when($"event_id" % 2 === 0, map(lit("event_date"), lit("1970-01-01"))))
    val sink = mkSink(TestSpark.tmpDir("sink_pdata"))
    sink.append(withOverride)
    val back = sink.read(spark)
    assert(!back.columns.contains(TableSink.PartitionDataCol),
      "override map is metadata, must not be written")
    assert(back.count() == 100)
    val sentinel = lit("1970-01-01").cast(back.schema("event_date").dataType)
    assert(back.filter($"event_date" === sentinel).count() ==
      e.filter($"event_id" % 2 === 0).count())
    // rows without an override keep the transform-derived day
    assert(back.filter($"event_date" =!= sentinel)
      .filter($"event_date".cast("date") =!= $"ts".cast("date")).count() == 0)
  }

  test("sink reads prune partitions on derived columns") {
    val sink = mkSink(TestSpark.tmpDir("sink_prune"))
    sink.append(Tables.events(spark, TestSpark.sfDir))
    val plan = sink.read(spark).filter($"event_type" === "click")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(event_type"),
      s"the event_type predicate must prune partitions, not filter rows:\n$plan")
  }

  test("upsert replaces matching keys, keeps the rest, rewrites only touched partitions") {
    val e = Tables.events(spark, TestSpark.sfDir)
    val sink = mkSink(TestSpark.tmpDir("sink_upsert"))
    sink.append(e)
    val before = sink.read(spark).count()
    val updates = e.filter($"event_type" === "click").limit(5)
      .withColumn("value", lit(-1.0))
    val inserts = e.filter($"event_type" === "click").limit(2)
      .withColumn("event_id", $"event_id" + 1000000L)
    val purchaseDir = new java.io.File(
      sink.config.tablePath + "/event_type=purchase")
    def snapshot(): Set[(String, Long, Long)] = purchaseDir.listFiles()
      .flatMap(d => if (d.isDirectory) d.listFiles() else Array(d))
      .map(f => (f.getPath, f.length, f.lastModified)).toSet
    val snap = snapshot()
    sink.upsert(updates.unionByName(inserts), Seq("event_id"))
    val after = sink.read(spark)
    assert(after.count() == before + 2, "5 replaced in place, 2 inserted")
    val updatedIds = updates.select("event_id").as[Long].collect().toSet
    val got = after.filter($"event_id".isin(updatedIds.toSeq: _*))
      .select("value").as[Double].collect()
    assert(got.length == 5 && got.forall(_ == -1.0),
      s"matched keys must carry the incoming values: ${got.toSeq}")
    assert(snapshot() == snap,
      "partitions with no incoming keys must not be rewritten")
  }

  test("delete rewrites touched partitions; emptied partitions actually vanish") {
    val e = Tables.events(spark, TestSpark.sfDir)
    val sink = mkSink(TestSpark.tmpDir("sink_delete"))
    sink.append(e)
    val total = sink.read(spark).count()
    // partial delete inside partitions: negative-value clicks
    val cond1 = $"event_type" === "click" && $"value" < 50.0
    val expect1 = e.filter(cond1).count()
    assert(expect1 > 0)
    assert(sink.delete(spark, cond1) == expect1)
    val after1 = sink.read(spark)
    assert(after1.count() == total - expect1)
    assert(after1.filter(cond1).count() == 0)
    // sweep an entire partition value: every 'view' row goes
    val expect2 = after1.filter($"event_type" === "view").count()
    assert(expect2 > 0)
    assert(sink.delete(spark, $"event_type" === "view") == expect2)
    val after2 = sink.read(spark)
    assert(after2.filter($"event_type" === "view").count() == 0)
    assert(!new java.io.File(sink.config.tablePath + "/event_type=view").exists(),
      "an emptied partition directory must not survive the delete")
    // deleting nothing is a no-op
    assert(sink.delete(spark, lit(false)) == 0L)
    assert(sink.read(spark).count() == total - expect1 - expect2)
  }

  test("versioned sink time-travels over append history; rewrites expire it") {
    val sink = new TableSink(SinkConfig("vt", TestSpark.tmpDir("sink_vt"),
      versioned = true,
      partitionSpec = Seq(PartitionField("event_type", Transform.Identity))))
    val e = Tables.events(spark, TestSpark.sfDir)
    sink.append(e.limit(100)) // v1
    sink.append(e.limit(50))  // v2
    sink.append(e.limit(25))  // v3
    assert(sink.snapshotVersions() == Seq(1, 2, 3))
    assert(sink.readVersion(spark, 1).count() == 100)
    assert(sink.readVersion(spark, 2).count() == 150)
    assert(sink.readVersion(spark, 3).count() == 175)
    assert(sink.read(spark).count() == 175)
    // partition columns still derive under time travel (basePath)
    assert(sink.readVersion(spark, 1).columns.contains("event_type"))
    assert(sink.readVersion(spark, 1)
      .filter($"event_type".isNull).count() == 0)
    // a rewriting op expires history down to the post-rewrite state
    // incremental read: exactly the rows the later commits appended
    assert(sink.readChanges(spark, 1, 2).count() == 50)
    assert(sink.readChanges(spark, 1, 3).count() == 75)
    assert(sink.readChanges(spark, 3, 3).count() == 0)
    // rollback restores the v2 state and drops later history
    sink.rollbackTo(2)
    assert(sink.read(spark).count() == 150)
    assert(sink.snapshotVersions() == Seq(1, 2))
    // a rewriting op expires history down to the post-rewrite state
    val deleted = sink.delete(spark, $"value" < 50.0)
    assert(deleted > 0)
    assert(sink.snapshotVersions() == Seq(1))
    assert(sink.readVersion(spark, 1).count() == sink.read(spark).count())
    intercept[IllegalArgumentException](sink.readVersion(spark, 3))
  }

  test("upsert follows a key that migrates partitions (no stale duplicate)") {
    val e = Tables.events(spark, TestSpark.sfDir)
    val sink = mkSink(TestSpark.tmpDir("sink_migrate"))
    sink.append(e)
    val total = sink.read(spark).count()
    val moved = e.filter($"event_type" === "click").limit(1)
      .withColumn("event_type", lit("view"))
    val movedId = moved.select("event_id").as[Long].head()
    sink.upsert(moved, Seq("event_id"))
    val after = sink.read(spark)
    assert(after.count() == total, "a migrating key must not duplicate")
    val rows = after.filter($"event_id" === movedId)
      .select("event_type").as[String].collect().toSeq
    assert(rows == Seq("view"),
      s"key must exist exactly once, in its new partition: $rows")
  }

  test("delete keeps rows where the predicate evaluates to NULL") {
    val sink = new TableSink(SinkConfig("nulls", TestSpark.tmpDir("sink_nulls")))
    sink.append(Seq((1L, Some(10.0)), (2L, None), (3L, Some(99.0)))
      .toDF("id", "v"))
    assert(sink.delete(spark, $"v" < 50.0) == 1L,
      "only the definitively-matching row counts as deleted")
    assert(sink.read(spark).select("id").as[Long].collect().toSet ==
      Set(2L, 3L), "the NULL-predicate row must survive")
  }

  test("partition_data map lacking a derived key falls back instead of failing (ANSI)") {
    val e = Tables.events(spark, TestSpark.sfDir).limit(10)
    val withOverride = e.withColumn(TableSink.PartitionDataCol,
      map(lit("some_other_col"), lit("x"))) // non-null map, no event_date entry
    val sink = mkSink(TestSpark.tmpDir("sink_pdata_partial"))
    sink.append(withOverride) // ANSI element_at would throw MAP_KEY_DOES_NOT_EXIST
    val back = sink.read(spark)
    assert(back.count() == 10)
    assert(back.filter($"event_date".cast("date") =!= $"ts".cast("date"))
      .count() == 0, "all rows must carry the transform-derived day")
  }

  test("time-travel and snapshot-diff queries partition the two appends") {
    val e = Tables.events(spark, TestSpark.sfDir)
    val n1 = ParityQueries.timeTravel(spark, TestSpark.sfDir)
      .agg(sum("n")).as[Long].head()
    val n2 = ParityQueries.snapshotDiff(spark, TestSpark.sfDir)
      .agg(sum("n")).as[Long].head()
    assert(n1 == e.filter(pmod(col("event_id"), lit(3)) =!= 0).count())
    assert(n2 == e.filter(pmod(col("event_id"), lit(3)) === 0).count())
    assert(n1 + n2 == e.count(), "v1 plus the diff must cover every row")
  }

  test("additive schema evolution: mergeSchema read unions appended columns") {
    val sink = new TableSink(SinkConfig("evolve", TestSpark.tmpDir("sink_evolve")))
    sink.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    sink.append(Seq((3L, "c", 0.5)).toDF("id", "name", "score"))
    val merged = sink.read(spark, mergeSchema = true)
    assert(merged.columns.toSet == Set("id", "name", "score"))
    assert(merged.count() == 3)
    // pre-evolution rows read the new column as null
    assert(merged.filter($"score".isNull).count() == 2)
    assert(merged.filter($"id" === 3L).select("score").head().getDouble(0) == 0.5)
  }

  test("catalog passthroughs are carried; avro is rejected citing the missing jar") {
    val c = SinkConfig("t", "/w", catalogUri = Some("thrift://h:9083"),
      catalogType = Some("hive"), tempDir = "/tmp/stage")
    assert(c.catalogUri.contains("thrift://h:9083"))
    assert(c.catalogType.contains("hive"))
    assert(c.tempDir == "/tmp/stage")
    val ex = intercept[IllegalArgumentException](
      SinkConfig("t", "/w", fileFormat = "avro"))
    assert(ex.getMessage.contains("spark-avro"), ex.getMessage)
    intercept[IllegalArgumentException](SinkConfig("t", "/w", tempDir = ""))
  }

  test("config presets mirror the reference and validators warn") {
    val ht = SinkConfig.forHighThroughput("t", "/w")
    assert(ht.batchSize == 10000 && ht.batchIntervalSeconds == 30 && ht.numPartitions == 8)
    val ll = SinkConfig.forLowLatency("t", "/w")
    assert(ll.batchSize == 100 && ll.batchIntervalSeconds == 5 && ll.numPartitions == 2)
    val pb = SinkConfig.forPetabyteScale("t", "/w")
    assert(pb.batchSize == 50000 && pb.numPartitions == 32)
    assert(SinkConfig("t", "/w", batchIntervalSeconds = 61).warnings.nonEmpty)
    assert(SinkConfig("t", "/w", numPartitions = 51).warnings.nonEmpty)
    intercept[IllegalArgumentException](SinkConfig("t", "/w", batchSize = 0))
    intercept[IllegalArgumentException](SinkConfig("t", "/w", numPartitions = 101))
  }

  test("CHECK constraints: versioned append aborts atomically in staging") {
    val wh = TestSpark.tmpDir("sink_check_wh")
    val sink = new TableSink(SinkConfig(tableName = "chk", warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity)),
      checkConstraints = Seq("v > 0", "cat IS NOT NULL")))
    sink.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "cat", "v"))
    assert(sink.read(spark).count() == 2)
    val e = intercept[IllegalArgumentException](
      sink.append(Seq((3L, "a", -5.0), (4L, "a", 1.0)).toDF("id", "cat", "v")))
    assert(e.getMessage.contains("'v > 0' (1 rows)"), e.getMessage)
    // atomic: no commit, no staged debris, no orphaned data files
    assert(sink.snapshotVersions() == Seq(1), "violating batch must not commit")
    assert(sink.read(spark).count() == 2)
    assert(TestSpark.childNames(
      new org.apache.hadoop.fs.Path(s"$wh/chk/_staging")).isEmpty,
      "aborted staging dir must be cleaned")
    assert(sink.removeOrphans(graceMs = 0L).isEmpty,
      "an aborted append must leave no orphans")
    // NULL proves nothing: a NULL v row is a violation, not a pass
    val eNull = intercept[IllegalArgumentException](sink.append(
      Seq((5L, "a", Option.empty[java.lang.Double])).toDF("id", "cat", "v")))
    assert(eNull.getMessage.contains("v > 0"), eNull.getMessage)
    // the gate also guards upsert's incoming batch
    val eUp = intercept[IllegalArgumentException](
      sink.upsert(Seq((1L, "a", -1.0)).toDF("id", "cat", "v"), Seq("id")))
    assert(eUp.getMessage.contains("upsert refused"), eUp.getMessage)
    // valid writes still flow
    sink.append(Seq((6L, "c", 30.0)).toDF("id", "cat", "v"))
    assert(sink.read(spark).count() == 3)
  }

  test("CHECK constraints: empty batches pass; partition types hold") {
    val wh = TestSpark.tmpDir("sink_check_wh3")
    val sink = new TableSink(SinkConfig(tableName = "chk3",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity)),
      // length() on the STRING partition value: staging-dir re-inference
      // would re-type cat=01 as INT 1 and flip the verdict
      checkConstraints = Seq("length(cat) = 2", "v > 0")))
    val schema = Seq((1L, "01", 1.0)).toDF("id", "cat", "v").schema
    // empty batch: a no-op write, not an NPE on a null violation count
    sink.append(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row], schema))
    sink.append(Seq((1L, "01", 1.0), (2L, "02", 2.0)).toDF("id", "cat", "v"))
    assert(sink.read(spark).count() == 2,
      "numeric-looking string partition values must validate as strings")
    val e = intercept[IllegalArgumentException](
      sink.append(Seq((3L, "003", 3.0)).toDF("id", "cat", "v")))
    assert(e.getMessage.contains("length(cat) = 2"), e.getMessage)
    // unversioned empty batch through the pre-write gate
    val flat = new TableSink(SinkConfig(tableName = "chk3f",
      warehousePath = wh, checkConstraints = Seq("v > 0")))
    flat.append(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row],
      Seq((1L, 1.0)).toDF("id", "v").schema))
    // streaming file sink cannot enforce the gate — refuse, don't skip
    val es = intercept[IllegalArgumentException](
      flat.startStream(Tables.events(spark, TestSpark.sfDir), s"$wh/ckpt"))
    assert(es.getMessage.contains("checkConstraints"), es.getMessage)
  }

  test("CHECK constraints: unversioned append pre-validates before write") {
    val wh = TestSpark.tmpDir("sink_check_wh2")
    val sink = new TableSink(SinkConfig(tableName = "chk2", warehousePath = wh,
      checkConstraints = Seq("v > 0")))
    val e = intercept[IllegalArgumentException](
      sink.append(Seq((1L, -1.0)).toDF("id", "v")))
    assert(e.getMessage.contains("append refused"), e.getMessage)
    assert(!WarehouseIO.exists(
      new org.apache.hadoop.fs.Path(sink.config.tablePath)),
      "nothing may land when the pre-write gate refuses")
    sink.append(Seq((2L, 2.0)).toDF("id", "v"))
    assert(sink.read(spark).count() == 1)
  }

  test("isMissingFileError matches only the KNOWN missing-path shapes — " +
    "an unrelated 'does not exist' failure must stay loud (round-13)") {
    def wrap(t: Throwable) = new RuntimeException("outer", t)
    assert(TableSink.isMissingFileError(
      wrap(new java.io.FileNotFoundException("gone.parquet"))))
    assert(TableSink.isMissingFileError(
      new RuntimeException("Path does not exist: file:/t/part-0.parquet")))
    assert(TableSink.isMissingFileError(new IllegalArgumentException(
      "snapshot v3 does not exist (expired by a rewrite, or never " +
        "committed); available: 5, 6")))
    // unrelated shapes that share the bare substring must NOT convert
    // into the 'rewritten mid-stream' refusal
    assert(!TableSink.isMissingFileError(
      new RuntimeException("Table or view does not exist: t")))
    assert(!TableSink.isMissingFileError(
      new RuntimeException("branch 'aud' does not exist; live branches:")))
    assert(!TableSink.isMissingFileError(
      new RuntimeException("column c does not exist")))
  }
  test("copy-on-write upsert enforces the key contract: NULL or " +
    "duplicate key tuples refuse before any rewrite (round-13)") {
    val sink = new TableSink(SinkConfig(tableName = "t",
      warehousePath = TestSpark.tmpDir("sink_keycontract")))
    sink.append(Seq((1L, "a", 1.0), (2L, "a", 2.0)).toDF("id", "cat", "v"))
    val vBefore = sink.read(spark).orderBy("id").collect().toSeq
    val e1 = intercept[IllegalArgumentException](sink.upsert(
      Seq((Option(1L), "a", 9.0), (Option.empty[Long], "a", 8.0))
        .toDF("id", "cat", "v"), Seq("id")))
    assert(e1.getMessage.contains("NULL key"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](sink.upsert(
      Seq((1L, "a", 9.0), (1L, "a", 8.0)).toDF("id", "cat", "v"),
      Seq("id")))
    assert(e2.getMessage.contains("unique within the batch"), e2.getMessage)
    assert(sink.read(spark).orderBy("id").collect().toSeq == vBefore,
      "refusals must leave the table untouched")
  }
}
