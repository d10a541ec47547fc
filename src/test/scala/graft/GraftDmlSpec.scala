package graft


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL `UPDATE` / `MERGE INTO` through [[GraftDmlRule]] and the library
  * [[TableSink.update]]: semantics (three-valued WHERE, action cascades,
  * cardinality guard), refusals, the constraint gate, and the
  * partition-scoped commit shape. */
class GraftDmlSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = Fixtures.fresh("dml_wh")
  spark.conf.set("spark.sql.catalog.gdml", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.gdml.warehouse", wh)

  private var n = 0
  private def fresh(): String = { n += 1; s"t$n" }

  private def mk(rows: Seq[(Long, Double, String)]): String = {
    val t = fresh()
    spark.sql(s"CREATE TABLE gdml.$t (id BIGINT, v DOUBLE, s STRING) " +
      "TBLPROPERTIES('versioned'='true')")
    rows.toDF("id", "v", "s").createOrReplaceTempView(s"src_$t")
    spark.sql(s"INSERT INTO gdml.$t SELECT * FROM src_$t")
    t
  }

  private def state(t: String): Map[Long, (Double, String)] =
    spark.sql(s"SELECT * FROM gdml.$t").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap

  test("SQL UPDATE: matched rows take the SET, NULL condition keeps the row") {
    val t = mk(Seq((1L, 10.0, "a"), (2L, 20.0, null), (3L, 30.0, "b")))
    // nullif(s,'a') IS NULL row (id=1) fires; id=2's condition is NULL
    // (s IS NULL -> comparison NULL) and must KEEP the row unchanged
    spark.sql(s"UPDATE gdml.$t SET v = v + 1.0 WHERE length(s) = 1")
    assert(state(t) == Map(1L -> (11.0, "a"), 2L -> (20.0, null),
      3L -> (31.0, "b")))
  }

  test("SQL UPDATE without WHERE updates every row; value casts to column type") {
    val t = mk(Seq((1L, 10.0, "a"), (2L, 20.0, "b")))
    spark.sql(s"UPDATE gdml.$t SET v = 7") // int literal -> double column
    assert(state(t).values.map(_._1).toSet == Set(7.0))
  }

  test("SQL UPDATE refuses subqueries with a precise error") {
    val t = mk(Seq((1L, 10.0, "a")))
    val e = intercept[Exception] {
      spark.sql(s"UPDATE gdml.$t SET v = 0 " +
        s"WHERE id IN (SELECT id FROM gdml.$t)")
    }
    assert(e.getMessage.contains("subqueries"), e.getMessage)
  }

  test("SQL UPDATE commits through the snapshot log (table stays versioned-readable)") {
    val t = mk(Seq((1L, 1.0, "x"), (2L, 2.0, "y")))
    spark.sql(s"UPDATE gdml.$t SET v = v * 10.0 WHERE id = 2")
    // post-rewrite head is a fresh snapshot; history before the rewrite
    // is expired (rewrites invalidate history — same contract as delete)
    val sink = new TableSink(SinkConfig(tableName = t, warehousePath = wh,
      versioned = true))
    assert(sink.snapshotVersions().nonEmpty)
    assert(spark.sql(s"SELECT sum(v) FROM gdml.$t").head().getDouble(0) == 21.0)
  }

  test("SQL UPDATE is gated by the table's persisted CHECK constraints") {
    val t = fresh()
    val sink = new TableSink(SinkConfig(tableName = t, warehousePath = wh,
      versioned = true, checkConstraints = Seq("v >= 0")))
    sink.append(Seq((1L, 5.0), (2L, 6.0)).toDF("id", "v"))
    val e = intercept[Exception] {
      spark.sql(s"UPDATE gdml.$t SET v = -1.0 WHERE id = 1")
    }
    assert(e.getMessage.contains("CHECK constraint"), e.getMessage)
    // refused atomically: nothing changed
    assert(spark.sql(s"SELECT sum(v) FROM gdml.$t").head().getDouble(0) == 11.0)
  }

  test("SQL MERGE: all three action classes, conditional cascades") {
    val t = mk(Seq((1L, 1.0, "keep"), (2L, 2.0, "upd"), (3L, 3.0, "del"),
      (4L, 100.0, "nmbs_keep"), (5L, 0.5, "nmbs_del")))
    Seq((2L, 20.0), (3L, 999.0), (6L, 60.0), (7L, 0.1))
      .toDF("id", "v").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO gdml.$t AS tgt USING merge_src AS s ON tgt.id = s.id
         |WHEN MATCHED AND s.v < 100.0 THEN UPDATE SET v = s.v, s = 'updated'
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED AND s.v >= 1.0 THEN INSERT (id, v) VALUES (s.id, s.v)
         |WHEN NOT MATCHED BY SOURCE AND tgt.v < 1.0 THEN DELETE
         |""".stripMargin)
    // 1: target-only, v>=1 -> kept; 2: matched, s.v<100 -> updated;
    // 3: matched, s.v=999 -> deleted; 4: target-only kept;
    // 5: target-only v<1 -> deleted; 6: inserted (s NULL-filled);
    // 7: not matched, s.v<1 -> not inserted
    assert(state(t) == Map(1L -> (1.0, "keep"), 2L -> (20.0, "updated"),
      4L -> (100.0, "nmbs_keep"), 6L -> (60.0, null)))
  }

  test("SQL MERGE errors on cardinality violation (two source rows hit one target)") {
    val t = mk(Seq((1L, 1.0, "a")))
    Seq((1L, 10.0), (1L, 20.0)).toDF("id", "v")
      .createOrReplaceTempView("dup_src")
    val e = intercept[Exception] {
      spark.sql(s"MERGE INTO gdml.$t AS tgt USING dup_src AS s " +
        "ON tgt.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v")
    }
    assert(e.getMessage.contains("cardinality"), e.getMessage)
    assert(state(t) == Map(1L -> (1.0, "a"))) // refused atomically
  }

  test("SQL MERGE insert-only with duplicate unmatched source keys inserts each row") {
    val t = mk(Seq((1L, 1.0, "a")))
    Seq((9L, 90.0), (9L, 91.0)).toDF("id", "v")
      .createOrReplaceTempView("dup_ins_src")
    // no matched actions -> the cardinality guard must NOT engage, and
    // each unmatched source row inserts (SQL semantics)
    spark.sql(s"MERGE INTO gdml.$t AS tgt USING dup_ins_src AS s " +
      "ON tgt.id = s.id WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)")
    val rows = spark.sql(s"SELECT v FROM gdml.$t WHERE id = 9")
      .collect().map(_.getDouble(0)).sorted
    assert(rows.toSeq == Seq(90.0, 91.0))
  }

  test("insert-only MERGE keeps a multi-matched target row exactly once") {
    val t = mk(Seq((1L, 1.0, "a"), (2L, 2.0, "b")))
    // two source rows match target id=1; with NO matched actions the
    // cardinality guard must not engage AND the unchanged target row must
    // survive once, not once per join copy
    Seq((1L, 10.0), (1L, 20.0), (9L, 90.0)).toDF("id", "v")
      .createOrReplaceTempView("multi_src")
    spark.sql(s"MERGE INTO gdml.$t AS tgt USING multi_src AS s " +
      "ON tgt.id = s.id WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)")
    assert(state(t) == Map(1L -> (1.0, "a"), 2L -> (2.0, "b"),
      9L -> (90.0, null)))
  }

  test("duplicate SET assignments refuse in SQL UPDATE and MERGE") {
    val t = mk(Seq((1L, 1.0, "a")))
    val e1 = intercept[Exception](
      spark.sql(s"UPDATE gdml.$t SET v = 1, v = 2"))
    assert(e1.getMessage.contains("more than once"), e1.getMessage)
    Seq((1L, 5.0)).toDF("id", "v").createOrReplaceTempView("dupset_src")
    val e2 = intercept[Exception](
      spark.sql(s"MERGE INTO gdml.$t AS tgt USING dupset_src AS s " +
        "ON tgt.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v, v = 0"))
    assert(e2.getMessage.contains("more than once"), e2.getMessage)
    assert(state(t) == Map(1L -> (1.0, "a")))
  }

  test("library update reaches rows in the NULL partition") {
    val dir = Fixtures.fresh("upd_nullpart")
    val sink = new TableSink(SinkConfig(tableName = "t", warehousePath = dir,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, Some("a"), 1.0), (2L, None, 2.0), (3L, None, 3.0))
      .toDF("id", "cat", "v"))
    val n = sink.update(spark, expr("id = 2"), Seq("v" -> lit(99.0)))
    assert(n == 1L)
    val got = sink.read(spark).select("id", "v").as[(Long, Double)]
      .collect().toMap
    assert(got == Map(1L -> 1.0, 2L -> 99.0, 3L -> 3.0),
      "the NULL-partition row must actually take the update")
  }

  /** A table partitioned by `cat` with one row in `cat=a` and two in the
    * NULL partition; `filesOf(part)` maps partition `part`'s data files to
    * their mtimes. */
  private def nullPartTable(name: String): (TableSink, String => Map[String, Long]) = {
    val dir = Fixtures.fresh(name)
    val sink = new TableSink(SinkConfig(tableName = "t", warehousePath = dir,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, Some("a"), 1.0), (2L, None, 2.0), (3L, None, 3.0))
      .toDF("id", "cat", "v"))
    def filesOf(part: String): Map[String, Long] = {
      val d = java.nio.file.Paths.get(s"$dir/t/cat=$part")
      if (!java.nio.file.Files.isDirectory(d)) return Map.empty
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala
        .filterNot(_.getFileName.toString.startsWith("_"))
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    (sink, filesOf)
  }

  private def idToV(sink: TableSink): Map[Long, Double] =
    sink.read(spark).select("id", "v").as[(Long, Double)].collect().toMap

  test("library delete reaches rows in the NULL partition: a kept row " +
    "rewrites only that partition, an emptied one is exact") {
    val (sink, filesOf) = nullPartTable("del_nullpart")
    val beforeA = filesOf("a")
    assert(sink.delete(spark, expr("id = 2")) == 1L)
    assert(idToV(sink) == Map(1L -> 1.0, 3L -> 3.0))
    assert(filesOf("a") == beforeA,
      "a delete in the NULL partition must not rewrite cat=a")
    assert(sink.delete(spark, expr("cat IS NULL")) == 1L)
    assert(idToV(sink) == Map(1L -> 1.0))
  }

  test("library upsert reaches rows in the NULL partition") {
    val (sink, filesOf) = nullPartTable("ups_nullpart")
    val beforeA = filesOf("a")
    sink.upsert(Seq((3L, Option.empty[String], 30.0),
      (4L, Option.empty[String], 4.0)).toDF("id", "cat", "v"), Seq("id"))
    assert(idToV(sink) == Map(1L -> 1.0, 2L -> 2.0, 3L -> 30.0, 4L -> 4.0))
    assert(filesOf("a") == beforeA,
      "an upsert into the NULL partition must not rewrite cat=a")
    // both NULL-partition keys move out: the emptied partition is exact
    sink.upsert(Seq((2L, Some("b"), 20.0), (3L, Some("b"), 30.0),
      (4L, Some("b"), 40.0)).toDF("id", "cat", "v"), Seq("id"))
    assert(idToV(sink) == Map(1L -> 1.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0))
    assert(sink.read(spark).where("cat IS NULL").count() == 0L)
  }

  test("library overwriteDynamic replaces the NULL partition like any other") {
    val (sink, filesOf) = nullPartTable("dyn_nullpart")
    val beforeA = filesOf("a")
    sink.overwriteDynamic(spark,
      Seq((9L, Option.empty[String], 9.0)).toDF("id", "cat", "v"))
    assert(idToV(sink) == Map(1L -> 1.0, 9L -> 9.0))
    assert(filesOf("a") == beforeA,
      "overwriting the NULL partition must not rewrite cat=a")
  }

  test("SQL MERGE reaches rows in the NULL partition") {
    val t = fresh()
    val sink = new TableSink(SinkConfig(tableName = t, warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, Some("a"), 1.0), (2L, None, 2.0), (3L, None, 3.0))
      .toDF("id", "cat", "v"))
    Seq((3L, Option.empty[String], 30.0), (5L, Option.empty[String], 5.0))
      .toDF("id", "cat", "v").createOrReplaceTempView(s"src_$t")
    spark.sql(s"""MERGE INTO gdml.$t t USING src_$t s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, cat, v) VALUES (s.id, s.cat, s.v)""")
    assert(idToV(sink) == Map(1L -> 1.0, 2L -> 2.0, 3L -> 30.0, 5L -> 5.0))
    // a MERGE that deletes every NULL-partition row empties it exactly
    spark.sql(s"""MERGE INTO gdml.$t t USING src_$t s ON t.cat IS NULL
      AND t.id = s.id WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED BY SOURCE AND t.cat IS NULL THEN DELETE""")
    assert(idToV(sink) == Map(1L -> 1.0))
  }

  test("a REPLACE WHERE or INSERT OVERWRITE PARTITION that changes nothing " +
    "commits nothing and keeps the table's history") {
    val t = fresh()
    val sink = new TableSink(SinkConfig(tableName = t, warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, 1.0, "a")).toDF("id", "v", "cat"))
    sink.append(Seq((2L, 2.0, "b")).toDF("id", "v", "cat"))
    val versions = sink.snapshotVersions()
    assert(versions.size == 2)
    Seq.empty[(Long, Double, String)].toDF("id", "v", "cat")
      .createOrReplaceTempView(s"empty_$t")
    spark.sql(s"INSERT INTO gdml.$t REPLACE WHERE cat = 'z' " +
      s"SELECT id, v, cat FROM empty_$t")
    spark.sql(s"INSERT OVERWRITE gdml.$t PARTITION (cat = 'z') " +
      s"SELECT id, v FROM empty_$t")
    assert(sink.snapshotVersions() == versions)
    assert(idToV(sink) == Map(1L -> 1.0, 2L -> 2.0))
  }

  test("SQL MERGE's partition-scoped route is gated by CHECK constraints") {
    val t = fresh()
    val sink = new TableSink(SinkConfig(tableName = t, warehousePath = wh,
      versioned = true, checkConstraints = Seq("v >= 0"),
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, 1.0, "a"), (2L, 2.0, "b")).toDF("id", "v", "cat"))
    Seq((2L, -2.0)).toDF("id", "v").createOrReplaceTempView(s"neg_$t")
    val e = intercept[Exception](spark.sql(s"MERGE INTO gdml.$t t " +
      s"USING neg_$t s ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v"))
    assert(e.getMessage.contains("CHECK constraint"), e.getMessage)
    assert(idToV(sink) == Map(1L -> 1.0, 2L -> 2.0))
    Seq((2L, 20.0)).toDF("id", "v").createOrReplaceTempView(s"pos_$t")
    spark.sql(s"MERGE INTO gdml.$t t USING pos_$t s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v")
    assert(idToV(sink) == Map(1L -> 1.0, 2L -> 20.0))
  }

  test("SQL UPDATE works on hidden-transform tables; legacy spec-less " +
    "partitioned tables refuse as read-only") {
    // hidden-transform partitioning is now writable through the catalog
    // (the derived column is projected away and re-derived on write)
    val t = fresh()
    val sink = new TableSink(SinkConfig(tableName = t, warehousePath = wh,
      partitionSpec = Seq(PartitionField("id", Transform.Bucket(4)))))
    sink.append(Seq((1L, "a"), (2L, "b")).toDF("id", "cat"))
    spark.sql(s"UPDATE gdml.$t SET cat = 'z' WHERE id = 1")
    assert(spark.sql(s"SELECT cat FROM gdml.$t WHERE id = 1")
      .as[String].head() == "z")
    // a legacy partitioned table with NO persisted spec stays read-only:
    // the layout alone cannot say how to derive, so writes must refuse
    val t2 = fresh()
    val sink2 = new TableSink(SinkConfig(tableName = t2, warehousePath = wh,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink2.append(Seq((1L, "a")).toDF("id", "cat"))
    val cfgFile = java.nio.file.Paths.get(s"$wh/$t2/_graft_config")
    java.nio.file.Files.writeString(cfgFile,
      java.nio.file.Files.readString(cfgFile).linesIterator
        .filterNot(_.startsWith("partition=")).mkString("\n"))
    val e = intercept[Exception] {
      spark.sql(s"UPDATE gdml.$t2 SET cat = 'z' WHERE id = 1")
    }
    assert(e.getMessage.contains("does not support UPDATE"), e.getMessage)
  }

  test("TRUNCATE TABLE and unfiltered DELETE empty the table through SQL") {
    val t1 = mk(Seq((1L, 1.0, "a"), (2L, 2.0, "b")))
    spark.sql(s"TRUNCATE TABLE gdml.$t1") // SupportsDelete truncate default
    assert(spark.sql(s"SELECT * FROM gdml.$t1").count() == 0)
    val t2 = mk(Seq((1L, 1.0, "a"), (2L, 2.0, "b")))
    spark.sql(s"DELETE FROM gdml.$t2")
    assert(spark.sql(s"SELECT * FROM gdml.$t2").count() == 0)
    // an emptied table stays writable (the catalog's created-empty path)
    spark.sql(s"INSERT INTO gdml.$t2 VALUES (9L, 9.0, 'z')")
    assert(state(t2) == Map(9L -> (9.0, "z")))
  }

  // ----------------------------------------------- library TableSink.update

  test("library update rewrites only the touched partitions") {
    val dir = Fixtures.fresh("upd_parts")
    val sink = new TableSink(SinkConfig(tableName = "t", warehousePath = dir,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0),
      (4L, "c", 4.0)).toDF("id", "cat", "v"))
    def files(part: String): Set[String] = {
      val d = java.nio.file.Paths.get(s"$dir/t/cat=$part")
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith("_")).toSet
      finally s.close()
    }
    val (beforeB, beforeC) = (files("b"), files("c"))
    val nUpd = sink.update(spark, expr("cat = 'a' AND id = 1"),
      Seq("v" -> expr("v + 100")))
    assert(nUpd == 1L)
    val got = sink.read(spark).select("id", "v").as[(Long, Double)]
      .collect().toMap
    assert(got == Map(1L -> 101.0, 2L -> 2.0, 3L -> 3.0, 4L -> 4.0))
    // untouched partitions kept their exact files; 'a' was rewritten
    assert(files("b") == beforeB && files("c") == beforeC)
  }

  test("SQL UPDATE on an identity-partitioned table rewrites only the " +
    "touched partitions (untouched partitions' files physically identical)") {
    val sink = new TableSink(SinkConfig(tableName = "tsqlscope",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0),
      (4L, "c", 4.0)).toDF("id", "cat", "v"))
    def files(part: String): Map[String, Long] = {
      val d = java.nio.file.Paths.get(s"$wh/tsqlscope/cat=$part")
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala
        .filterNot(_.getFileName.toString.startsWith("_"))
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    val (beforeB, beforeC) = (files("b"), files("c"))
    // the pure-SQL statement takes the partition-scoped library route
    // (GraftUpdateCommand -> TableSink.update -> dynamic overwrite):
    // O(touched partitions), not a whole-table rewrite
    spark.sql("UPDATE gdml.tsqlscope SET v = v + 100.0 " +
      "WHERE cat = 'a' AND id = 1")
    val got = spark.sql("SELECT id, v FROM gdml.tsqlscope").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 101.0, 2L -> 2.0, 3L -> 3.0, 4L -> 4.0))
    // the proof: untouched partitions kept the exact same files with the
    // exact same mtimes — they were never opened for write
    assert(files("b") == beforeB && files("c") == beforeC,
      "a SQL UPDATE scoped to cat='a' must not rewrite cat=b or cat=c")
    // a SET touching a partition column still takes the guarded
    // full-rewrite path (rows may move partitions) and stays correct
    spark.sql("UPDATE gdml.tsqlscope SET cat = 'z' WHERE id = 4")
    assert(spark.sql(
      "SELECT cat FROM gdml.tsqlscope WHERE id = 4").head().getString(0)
      == "z")
  }

  test("SQL MERGE on an identity-partitioned table rewrites only the " +
    "partitions an action fired in; emptied partitions fall back safely") {
    val sink = new TableSink(SinkConfig(tableName = "tmergescope",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0),
      (4L, "c", 4.0)).toDF("id", "cat", "v"))
    def files(part: String): Map[String, Long] = {
      val d = java.nio.file.Paths.get(s"$wh/tmergescope/cat=$part")
      if (!java.nio.file.Files.isDirectory(d)) return Map.empty
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala
        .filterNot(_.getFileName.toString.startsWith("_"))
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    val (beforeB, beforeC) = (files("b"), files("c"))
    // update one 'a' row + insert one 'd' row: only a and d are touched
    Seq((1L, "a", 100.0), (9L, "d", 9.0)).toDF("id", "cat", "v")
      .createOrReplaceTempView("merge_scope_src")
    spark.sql("""MERGE INTO gdml.tmergescope t USING merge_scope_src s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, cat, v) VALUES (s.id, s.cat, s.v)""")
    val got = spark.sql("SELECT id, v FROM gdml.tmergescope").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 100.0, 2L -> 2.0, 3L -> 3.0, 4L -> 4.0,
      9L -> 9.0))
    assert(files("b") == beforeB && files("c") == beforeC,
      "a MERGE firing only in cat=a and cat=d must not rewrite b or c")
    // a MERGE that DELETES every row of partition c: dynamic overwrite
    // cannot express an emptied partition — the guarded full-rewrite
    // fallback must keep the result exact (and c's directory row-free)
    Seq(Tuple1(4L)).toDF("id").createOrReplaceTempView("merge_scope_del")
    spark.sql("""MERGE INTO gdml.tmergescope t USING merge_scope_del s
      ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    assert(spark.sql("SELECT id FROM gdml.tmergescope").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 9L),
      "the emptied-partition merge must still delete exactly id=4")
  }

  test("INSERT OVERWRITE PARTITION / REPLACE WHERE: delete-matching + " +
    "insert as one commit, partition-scoped on identity partitioning") {
    val sink = new TableSink(SinkConfig(tableName = "trepl",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"),
      (4L, 4.0, "c")).toDF("id", "v", "cat"))
    def files(part: String): Map[String, Long] = {
      val d = java.nio.file.Paths.get(s"$wh/trepl/cat=$part")
      if (!java.nio.file.Files.isDirectory(d)) return Map.empty
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala
        .filterNot(_.getFileName.toString.startsWith("_"))
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    val (beforeB, beforeC) = (files("b"), files("c"))
    // static partition overwrite: replaces cat='a' with the new slice
    spark.sql("INSERT OVERWRITE gdml.trepl PARTITION (cat = 'a') " +
      "VALUES (10, 10.0), (11, 11.0)")
    val got = spark.sql("SELECT id, v, cat FROM gdml.trepl").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(got == Set((10L, 10.0, "a"), (11L, 11.0, "a"),
      (3L, 3.0, "b"), (4L, 4.0, "c")), s"got $got")
    assert(files("b") == beforeB && files("c") == beforeC,
      "overwriting partition a must not rewrite b or c")
    // REPLACE WHERE with a finer predicate: survivors of the matching
    // partition are kept, the new rows land, other partitions untouched
    val beforeB2 = files("b")
    spark.sql("INSERT INTO gdml.trepl REPLACE WHERE cat = 'c' AND v > 3.5 " +
      "VALUES (40, 40.0, 'c')")
    val got2 = spark.sql("SELECT id FROM gdml.trepl ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got2 == Seq(3L, 10L, 11L, 40L), s"got $got2")
    assert(files("b") == beforeB2,
      "a cat='c'-scoped replace must not rewrite cat=b")
    // unpartitioned table: same semantics through the full rewrite
    val flat = new TableSink(SinkConfig(tableName = "trepl_flat",
      warehousePath = wh, versioned = true))
    flat.append(Seq((1L, 1.0), (2L, 200.0)).toDF("id", "v"))
    spark.sql("INSERT INTO gdml.trepl_flat REPLACE WHERE v > 100.0 " +
      "VALUES (9, 9.0)")
    assert(spark.sql("SELECT id FROM gdml.trepl_flat ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 9L))
  }

  test("dynamic partition overwrite replaces exactly the partitions the " +
    "incoming rows land in") {
    val sink = new TableSink(SinkConfig(tableName = "tdyn",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, 1.0, "a"), (2L, 2.0, "b"), (3L, 3.0, "c"))
      .toDF("id", "v", "cat"))
    def files(part: String): Map[String, Long] = {
      val d = java.nio.file.Paths.get(s"$wh/tdyn/cat=$part")
      if (!java.nio.file.Files.isDirectory(d)) return Map.empty
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala
        .filterNot(_.getFileName.toString.startsWith("_"))
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    val (beforeB, beforeC) = (files("b"), files("c"))
    // library API first: rows land only in 'a' and (new) 'd'
    sink.overwriteDynamic(spark,
      Seq((10L, 10.0, "a"), (40L, 40.0, "d")).toDF("id", "v", "cat"))
    val got = spark.sql("SELECT id, cat FROM gdml.tdyn").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(got == Set(10L -> "a", 40L -> "d", 2L -> "b", 3L -> "c"),
      s"got $got")
    assert(files("b") == beforeB && files("c") == beforeC,
      "dynamic overwrite landing in a and d must not rewrite b or c")
    // the SQL form (round-12 — formerly a capability refusal): INSERT
    // OVERWRITE under partitionOverwriteMode=dynamic resolves into the
    // same library commit via the extension rule
    val (beforeB2, beforeC2) = (files("b"), files("c"))
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      Seq((100L, 100.0, "a")).toDF("id", "v", "cat")
        .createOrReplaceTempView("tdyn_src")
      spark.sql("INSERT OVERWRITE gdml.tdyn SELECT id, v, cat FROM tdyn_src")
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    val got2 = spark.sql("SELECT id, cat FROM gdml.tdyn").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(got2 == Set(100L -> "a", 40L -> "d", 2L -> "b", 3L -> "c"),
      s"SQL dynamic overwrite must replace only partition 'a': $got2")
    assert(files("b") == beforeB2 && files("c") == beforeC2,
      "SQL dynamic overwrite must not rewrite untouched partitions")
    // the hidden-transform fallback path: same semantics via full rewrite
    val hid = new TableSink(SinkConfig(tableName = "tdynh",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("b", Transform.Bucket(4)))))
    hid.append(Seq((1L, 10), (2L, 20), (3L, 30)).toDF("id", "b"))
    hid.overwriteDynamic(spark, Seq((9L, 10)).toDF("id", "b"))
    val gotH = hid.read(spark).select($"id").as[Long].collect().toSet
    // id=1 shares b=10's bucket partition with the incoming row: replaced
    assert(!gotH.contains(1L) && gotH.contains(9L) &&
      gotH.contains(2L) && gotH.contains(3L), s"got $gotH")
  }

  test("randomized UPDATE parity: the rendered-SQL scoped route and the " +
    "full Bridge route produce identical results on twin tables") {
    // The scoped route re-renders the resolved condition / SET
    // expressions as SQL text and re-resolves them against the library
    // read; this property pits that rendering against the Bridge-based
    // full-rewrite path on an unpartitioned twin — any rendering
    // infidelity (qualifiers, literals, function names, three-valued
    // WHERE) diverges the results.
    val rnd = new scala.util.Random(11L)
    val conds = Seq(
      "v < 20.0", "cat = 'a' AND v >= 10.0", "id IN (2, 4, 6) OR v > 40.0",
      "length(cat) = 1 AND id % 2 = 0", "coalesce(v > 30.0, false)",
      "cat IS NOT NULL AND abs(v - 25.0) < 10.0")
    val sets = Seq(
      Seq("v" -> "v * 2.0 + 1.0"),
      Seq("v" -> "round(v / 2.0, 1)"),
      Seq("v" -> "CAST(id AS DOUBLE) + v"),
      Seq("v" -> "greatest(v, 15.0)"))
    (1 to 8).foreach { trial =>
      val rows = (1 to 12).map(i =>
        (i.toLong, if (rnd.nextInt(5) == 0) null
        else Seq("a", "b", "c")(rnd.nextInt(3)),
          rnd.nextInt(50).toDouble))
      val tPart = s"tuprop_p$trial"
      val tFlat = s"tuprop_f$trial"
      new TableSink(SinkConfig(tableName = tPart, warehousePath = wh,
        versioned = true,
        partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
        .append(rows.toDF("id", "cat", "v"))
      new TableSink(SinkConfig(tableName = tFlat, warehousePath = wh,
        versioned = true)).append(rows.toDF("id", "cat", "v"))
      val cond = conds(rnd.nextInt(conds.size))
      val set = sets(rnd.nextInt(sets.size))
        .map { case (c, e) => s"$c = $e" }.mkString(", ")
      def run(t: String): Set[(Long, String, Double)] = {
        spark.sql(s"UPDATE gdml.$t SET $set WHERE $cond")
        spark.sql(s"SELECT id, cat, v FROM gdml.$t").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      }
      val (p, f) = (run(tPart), run(tFlat))
      assert(p == f,
        s"trial $trial diverged (SET $set WHERE $cond):\n " +
          s"scoped=$p\n full=$f")
    }
  }

  test("randomized REPLACE WHERE parity: scoped and full paths agree " +
    "on twin tables") {
    val rnd = new scala.util.Random(77L)
    val cats = Seq("a", "b", "c")
    val conds = Seq("cat = 'a'", "v < 20.0", "cat = 'b' AND v >= 10.0",
      "id IN (1, 3, 5)", "cat IN ('a', 'c') AND v > 15.0")
    (1 to 8).foreach { trial =>
      val rows = (1 to 10).map(i =>
        (i.toLong, cats(rnd.nextInt(3)), rnd.nextInt(40).toDouble))
      val repl = (1 to 3).map(i =>
        (100L + i, cats(rnd.nextInt(3)), rnd.nextInt(40).toDouble))
      val tP = s"trw_p$trial"; val tF = s"trw_f$trial"
      new TableSink(SinkConfig(tableName = tP, warehousePath = wh,
        versioned = true,
        partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
        .append(rows.toDF("id", "cat", "v"))
      new TableSink(SinkConfig(tableName = tF, warehousePath = wh,
        versioned = true)).append(rows.toDF("id", "cat", "v"))
      val cond = conds(rnd.nextInt(conds.size))
      val values = repl.map { case (i, c, v) => s"($i, '$c', $v)" }
        .mkString(", ")
      def run(t: String, partitionedCols: Boolean): Set[(Long, String, Double)] = {
        // partitioned catalog schema orders the partition column last
        val stmt =
          if (partitionedCols)
            s"INSERT INTO gdml.$t REPLACE WHERE $cond " +
              repl.map { case (i, c, v) => s"($i, $v, '$c')" }
                .mkString("VALUES ", ", ", "")
          else s"INSERT INTO gdml.$t REPLACE WHERE $cond VALUES $values"
        spark.sql(stmt)
        spark.sql(s"SELECT id, cat, v FROM gdml.$t").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      }
      val (p, f) = (run(tP, partitionedCols = true),
        run(tF, partitionedCols = false))
      assert(p == f, s"trial $trial diverged (WHERE $cond):\n " +
        s"scoped=$p\n full=$f")
    }
  }

  test("randomized MERGE parity: the partition-scoped path and the full " +
    "rewrite produce identical results on twin tables") {
    val rnd = new scala.util.Random(20260815L)
    val cats = Seq("a", "b", "c", "d")
    (1 to 12).foreach { trial =>
      val tPart = s"tmprop_p$trial"
      val tFlat = s"tmprop_f$trial"
      val rows = (1 to 14).filter(_ => rnd.nextBoolean()).map(i =>
        (i.toLong, cats(rnd.nextInt(cats.size)), rnd.nextInt(50).toDouble))
      val srcIds = (1 to 20).filter(_ => rnd.nextBoolean())
      val src = srcIds.map(i =>
        (i.toLong, cats(rnd.nextInt(cats.size)), rnd.nextInt(50).toDouble))
      new TableSink(SinkConfig(tableName = tPart, warehousePath = wh,
        versioned = true,
        partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
        .append(rows.toDF("id", "cat", "v"))
      new TableSink(SinkConfig(tableName = tFlat, warehousePath = wh,
        versioned = true)).append(rows.toDF("id", "cat", "v"))
      src.toDF("id", "cat", "v").createOrReplaceTempView(s"mprop_src$trial")
      // random action shape: conditional update/delete, optional insert,
      // optional not-matched-by-source delete (partition columns never
      // assigned by matched/nmbs actions — the scoped route's contract)
      val matched = rnd.nextInt(3) match {
        case 0 => "WHEN MATCHED AND s.v > 25 THEN UPDATE SET v = s.v " +
          "WHEN MATCHED THEN DELETE"
        case 1 => "WHEN MATCHED THEN UPDATE SET v = s.v + 1.0"
        case 2 => "WHEN MATCHED AND t.v < 20 THEN DELETE"
      }
      val insert =
        if (rnd.nextBoolean())
          "WHEN NOT MATCHED AND s.v > 10 THEN INSERT (id, cat, v) " +
            "VALUES (s.id, s.cat, s.v)"
        else ""
      val nmbs =
        if (rnd.nextBoolean())
          "WHEN NOT MATCHED BY SOURCE AND t.v > 40 THEN DELETE"
        else ""
      def run(t: String): Set[(Long, String, Double)] = {
        spark.sql(s"""MERGE INTO gdml.$t t USING mprop_src$trial s
          ON t.id = s.id
          $matched $insert $nmbs""")
        spark.sql(s"SELECT id, cat, v FROM gdml.$t").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      }
      val (p, f) = (run(tPart), run(tFlat))
      assert(p == f,
        s"trial $trial diverged:\n scoped=$p\n full=$f\n " +
          s"matched='$matched' insert='$insert' nmbs='$nmbs'")
    }
  }

  test("randomized MERGE parity: the merge-on-read route agrees with the " +
    "copy-on-write twin and never rewrites a pre-existing file") {
    val rnd = new scala.util.Random(20260816L)
    val cats = Seq("a", "b", "c", "d")
    (1 to 12).foreach { trial =>
      val tMor = s"tmorp_m$trial"
      val tCow = s"tmorp_c$trial"
      val rows = (1 to 14).filter(_ => rnd.nextBoolean()).map(i =>
        (i.toLong, cats(rnd.nextInt(cats.size)), rnd.nextInt(50).toDouble))
      val srcIds = (1 to 20).filter(_ => rnd.nextBoolean())
      val src = srcIds.map(i =>
        (i.toLong, cats(rnd.nextInt(cats.size)), rnd.nextInt(50).toDouble))
      if (rows.nonEmpty) {
        val morSink = new TableSink(SinkConfig(tableName = tMor,
          warehousePath = wh, versioned = true,
          partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
        morSink.append(rows.toDF("id", "cat", "v"))
        new TableSink(SinkConfig(tableName = tCow, warehousePath = wh,
          versioned = true)).append(rows.toDF("id", "cat", "v"))
        src.toDF("id", "cat", "v")
          .createOrReplaceTempView(s"morp_src$trial")
        val matched = rnd.nextInt(3) match {
          case 0 => "WHEN MATCHED AND s.v > 25 THEN UPDATE SET v = s.v " +
            "WHEN MATCHED THEN DELETE"
          case 1 => "WHEN MATCHED THEN UPDATE SET v = s.v + 1.0"
          case 2 => "WHEN MATCHED AND t.v < 20 THEN DELETE"
        }
        val insert =
          if (rnd.nextBoolean())
            "WHEN NOT MATCHED AND s.v > 10 THEN INSERT (id, cat, v) " +
              "VALUES (s.id, s.cat, s.v)"
          else ""
        val nmbs =
          if (rnd.nextBoolean())
            "WHEN NOT MATCHED BY SOURCE AND t.v > 40 THEN DELETE"
          else ""
        def run(t: String, mor: Boolean): Set[(Long, String, Double)] = {
          if (mor) spark.conf.set("spark.graft.sql.mergeMode", "mor")
          try spark.sql(s"""MERGE INTO gdml.$t t USING morp_src$trial s
            ON t.id = s.id
            $matched $insert $nmbs""")
          finally if (mor) spark.conf.unset("spark.graft.sql.mergeMode")
          spark.sql(s"SELECT id, cat, v FROM gdml.$t").collect()
            .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
        }
        val before = morSink.dataFilesRel().toSet
        val (m, c) = (run(tMor, mor = true), run(tCow, mor = false))
        assert(m == c,
          s"trial $trial diverged:\n mor=$m\n cow=$c\n " +
            s"matched='$matched' insert='$insert' nmbs='$nmbs'")
        assert(before.subsetOf(morSink.dataFilesRel().toSet),
          s"trial $trial: the mor merge rewrote a pre-existing file")
      }
    }
  }

  test("insert-only MERGE under mergeMode=mor commits a PLAIN append — " +
    "no empty position sidecar taxing every later read (round-13)") {
    import spark.implicits._
    val t = "tmor_insonly"
    val sink = new TableSink(SinkConfig(tableName = t, warehousePath = wh,
      versioned = true))
    sink.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "cat", "v"))
    Seq((3L, "c", 30.0), (4L, "c", 40.0)).toDF("id", "cat", "v")
      .createOrReplaceTempView("tmor_insonly_src")
    spark.conf.set("spark.graft.sql.mergeMode", "mor")
    try spark.sql(s"""MERGE INTO gdml.$t t USING tmor_insonly_src s
      ON t.id = s.id
      WHEN NOT MATCHED THEN INSERT (id, cat, v) VALUES (s.id, s.cat, s.v)""")
    finally spark.conf.unset("spark.graft.sql.mergeMode")
    assert(!sink.hasPendingDeletes(sink.snapshotVersions().last),
      "an insert-only merge must not flip the pending-deletes bit")
    val log = new java.io.File(s"$wh/$t/_graft_log")
    assert(!log.listFiles().map(_.getName).exists(_.startsWith("dv-")),
      "no position sidecar may exist for an insert-only merge")
    assert(spark.sql(s"SELECT id FROM gdml.$t").as[Long].collect().toSet
      == Set(1L, 2L, 3L, 4L))
  }

  test("MERGE mergeMode=mor raises the cardinality violation and falls " +
    "back to copy-on-write on ineligible tables") {
    import spark.implicits._
    val sink = new TableSink(SinkConfig(tableName = "tmor_card",
      warehousePath = wh, versioned = true))
    sink.append(Seq((1L, 10.0)).toDF("id", "v"))
    Seq((1L, 1.0), (1L, 2.0)).toDF("id", "v")
      .createOrReplaceTempView("tmor_card_src")
    try {
      spark.conf.set("spark.graft.sql.mergeMode", "mor")
      val e = intercept[Exception](
        spark.sql("""MERGE INTO gdml.tmor_card t USING tmor_card_src s
          ON t.id = s.id
          WHEN MATCHED AND s.v > 100 THEN UPDATE SET v = s.v"""))
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("cardinality violation"),
        s"mor must raise even when no action condition fires: $msgs")
      // ineligible (unversioned) table: silently the COW path, same result
      val unv = new TableSink(SinkConfig(tableName = "tmor_unv",
        warehousePath = wh))
      unv.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))
      Seq((1L, 99.0)).toDF("id", "v")
        .createOrReplaceTempView("tmor_unv_src")
      spark.sql("""MERGE INTO gdml.tmor_unv t USING tmor_unv_src s
        ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v""")
      assert(spark.sql("SELECT v FROM gdml.tmor_unv ORDER BY id")
        .as[Double].collect().toSeq == Seq(99.0, 20.0))
    } finally spark.conf.unset("spark.graft.sql.mergeMode")
  }

  test("library update refuses partition-deriving columns and unknown columns") {
    val dir = Fixtures.fresh("upd_guard")
    val sink = new TableSink(SinkConfig(tableName = "t", warehousePath = dir,
      partitionSpec = Seq(PartitionField("ts", Transform.Year))))
    sink.append(Seq((1L, java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
      .toDF("id", "ts"))
    val e1 = intercept[IllegalArgumentException] {
      sink.update(spark, lit(true), Seq("ts" -> lit("2025-01-01 00:00:00")))
    }
    assert(e1.getMessage.contains("partition-deriving"))
    val e2 = intercept[IllegalArgumentException] {
      sink.update(spark, lit(true), Seq("nope" -> lit(1)))
    }
    assert(e2.getMessage.contains("unknown columns"))
  }

  test("library update refuses a data column that collides with its " +
    "partition-join bookkeeping name") {
    val dir = Fixtures.fresh("upd_clash")
    val sink = new TableSink(SinkConfig(tableName = "t", warehousePath = dir,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, "a", 9.0)).toDF("id", "cat", "cat__graft_tv"))
    val e = intercept[IllegalArgumentException] {
      sink.update(spark, expr("id = 1"),
        Seq("cat__graft_tv" -> lit(1.0)))
    }
    assert(e.getMessage.contains("bookkeeping columns collide"),
      s"must refuse with the rename remedy, not an analyzer error: " +
        e.getMessage)
  }

  test("durable declaration sidecars ride every rewrite swap") {
    val dir = Fixtures.fresh("sidecars")
    val sink = new TableSink(SinkConfig(tableName = "t", warehousePath = dir,
      versioned = true, checkConstraints = Seq("v >= 0")))
    sink.append(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v"))
    def has(n: String): Boolean =
      java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(s"$dir/t/$n"))
    assert(has("_graft_config"))
    sink.delete(spark, expr("id = 1"))          // full rewriteSwap path
    assert(has("_graft_config"), "delete's rewrite dropped _graft_config")
    sink.update(spark, expr("id = 2"), Seq("v" -> lit(9.0)))
    assert(has("_graft_config"), "update's rewrite dropped _graft_config")
    sink.compact(spark)
    assert(has("_graft_config"), "compact's rewrite dropped _graft_config")
    // the gate still holds after all three rewrites
    val e = intercept[Exception](sink.append(Seq((9L, -1.0)).toDF("id", "v")))
    assert(e.getMessage.contains("CHECK constraint"))
  }

  test("library update: zero matches is a no-op, missing table returns 0") {
    val dir = Fixtures.fresh("upd_noop")
    val sink = new TableSink(SinkConfig(tableName = "t", warehousePath = dir,
      versioned = true))
    assert(sink.update(spark, lit(true), Seq("v" -> lit(0.0))) == 0L)
    sink.append(Seq((1L, 1.0)).toDF("id", "v"))
    val versionsBefore = sink.snapshotVersions()
    assert(sink.update(spark, expr("id = 99"), Seq("v" -> lit(0.0))) == 0L)
    assert(sink.snapshotVersions() == versionsBefore) // no phantom commit
    assert(sink.update(spark, expr("id = 1"), Seq("v" -> lit(5.0))) == 1L)
    assert(sink.read(spark).select("v").as[Double].head() == 5.0)
  }
}
