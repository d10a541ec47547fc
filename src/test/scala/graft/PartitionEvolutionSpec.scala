package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TableSink.readEvolved]] — partition-spec evolution: generations of
  * files written under different specs on one table path read back as one
  * logical table, identity partition values restored from directory names,
  * derived partition columns dropped, old files never rewritten. */
class PartitionEvolutionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshWh() = Fixtures.fresh("pe_wh")

  private def rows(r: (Long, String, Double, String)*) =
    r.toSeq.toDF("id", "cat", "v", "ts_s")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")

  test("identity → derived spec change reads back losslessly") {
    val wh = freshWh()
    val gen1 = SinkConfig(tableName = "t", warehousePath = wh,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity)))
    new TableSink(gen1).append(rows(
      (1L, "a", 10.0, "2024-01-01 10:00:00"),
      (2L, "b", 20.0, "2024-01-02 10:00:00")))
    val sink2 = new TableSink(gen1.copy(
      partitionSpec = Seq(PartitionField("ts", Transform.Day))))
    sink2.append(rows(
      (3L, "a", 30.0, "2024-01-03 10:00:00"),
      (4L, "c", 40.0, "2024-01-04 10:00:00")))
    val got = sink2.readEvolved(spark)
    // derived ts_day is directory metadata, not a table column
    assert(!got.columns.contains("ts_day"))
    // identity cat restored from gen-1 dirs AND present in gen-2 data
    val byId = got.select($"id", $"cat", $"v").as[(Long, String, Double)]
      .collect().sortBy(_._1).toSeq
    assert(byId == Seq((1L, "a", 10.0), (2L, "b", 20.0),
      (3L, "a", 30.0), (4L, "c", 40.0)))
    // ts values intact across both layouts
    assert(got.agg(count(when($"ts".isNull, 1))).head().getLong(0) == 0)
  }

  test("evolving to unpartitioned keeps identity values") {
    val wh = freshWh()
    val gen1 = SinkConfig(tableName = "t", warehousePath = wh,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity)))
    new TableSink(gen1).append(rows((1L, "a", 10.0, "2024-01-01 00:00:00")))
    val sink2 = new TableSink(gen1.copy(partitionSpec = Nil))
    sink2.append(rows((2L, "b", 20.0, "2024-01-02 00:00:00")))
    val cats = sink2.readEvolved(spark)
      .select($"id", $"cat").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(cats == Seq((1L, "a"), (2L, "b")))
  }

  test("additive schema evolution composes: missing columns read null") {
    val wh = freshWh()
    val gen1 = SinkConfig(tableName = "t", warehousePath = wh,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity)))
    new TableSink(gen1).append(rows((1L, "a", 10.0, "2024-01-01 00:00:00")))
    val sink2 = new TableSink(gen1.copy(partitionSpec = Nil))
    sink2.append(rows((2L, "b", 20.0, "2024-01-02 00:00:00"))
      .withColumn("extra", lit("x")))
    val got = sink2.readEvolved(spark)
      .select($"id", $"extra").as[(Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, None), (2L, Some("x"))))
  }

  test("empty table refuses with a clear message") {
    val sink = new TableSink(SinkConfig(tableName = "t",
      warehousePath = freshWh()))
    assert(intercept[IllegalArgumentException](sink.readEvolved(spark))
      .getMessage.contains("no data files"))
  }

  test("VERSIONED spec evolution: read/readVersion serve every generation " +
    "with MoR deletes folded, time travel and changelog replay the mixed " +
    "spine, readEvolved refuses pending sidecars precisely (round-13)") {
    import org.apache.spark.sql.functions.col
    val wh = freshWh()
    val gen1 = SinkConfig(tableName = "t", warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity)))
    new TableSink(gen1).append(
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "cat", "v")) // v1
    val s2 = new TableSink(gen1.copy(partitionSpec = Nil))
    s2.append(Seq((3L, "c", 30.0)).toDF("id", "cat", "v"))          // v2
    s2.deleteWhere("v < 15.0")                                      // v3
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"cat", $"v").as[(Long, String, Double)]
        .collect().toSet
    // the live read must serve BOTH generations (the directory-scan fast
    // path silently dropped the root-level gen-2 file before the fix)
    // with the delete folded; identity values restore from gen-1 dirs
    val live = Set((2L, "b", 20.0), (3L, "c", 30.0))
    assert(rows(s2.read(spark)) == live, "live read")
    assert(rows(s2.readVersion(spark, 3)) == live, "snapshot read")
    // time travel BEFORE the delete still shows all three rows
    assert(rows(s2.readVersion(spark, 2)) ==
      Set((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    // the changelog replays the whole mixed-spine history
    val chg = s2.readChangelogAll(spark)
      .select($"id", $"_change_type").as[(Long, String)].collect().toSet
    assert(chg == Set((1L, "insert"), (2L, "insert"), (3L, "insert"),
      (1L, "delete")), s"got: $chg")
    // readEvolved cannot fold sidecars across the generation union —
    // precise refusal, not resurrected rows
    val e = intercept[IllegalArgumentException](s2.readEvolved(spark))
    assert(e.getMessage.contains("compact"), e.getMessage)
    // the remedy: compact materializes deletes AND the spec migration
    s2.compact(spark)
    assert(rows(s2.readEvolved(spark)) == live, "post-compact readEvolved")
    assert(rows(s2.read(spark)) == live, "post-compact read")
  }

  /** A VERSIONED table whose ids 1-3 were written under identity(cat) and
    * ids 4-5 under Day(ts): its head mixes two partition spines, and the
    * gen-1 rows read with a NULL `ts_day`. */
  private def mixedSpineTable(): TableSink = {
    val gen1 = SinkConfig(tableName = "t", warehousePath = freshWh(),
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity)))
    new TableSink(gen1).append(rows(
      (1L, "a", 10.0, "2024-01-01 10:00:00"),
      (2L, "b", 20.0, "2024-01-02 10:00:00"),
      (3L, "b", 30.0, "2024-01-03 10:00:00")))
    val s2 = new TableSink(gen1.copy(
      partitionSpec = Seq(PartitionField("ts", Transform.Day))))
    s2.append(rows(
      (4L, "a", 40.0, "2024-01-02 12:00:00"),
      (5L, "c", 50.0, "2024-01-04 10:00:00")))
    s2
  }

  /** The rows as (id, cat, v), once every row's `ts_day` is derived:
    * a rewrite must not leave gen-1 rows in the NULL day partition, which
    * any `ts` predicate prunes. */
  private def idCatV(sink: TableSink): Seq[(Long, String, Double)] = {
    val df = sink.read(spark)
    assert(df.where($"ts_day".isNull).count() == 0L, "underived ts_day")
    df.select($"id", $"cat", $"v").as[(Long, String, Double)]
      .collect().sortBy(_._1).toSeq
  }

  test("the catalog serves a VERSIONED mixed-spine table, at the head and " +
    "as of a version, through the library read") {
    val sink = mixedSpineTable()
    spark.conf.set("spark.sql.catalog.gpe", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpe.warehouse",
      sink.config.warehousePath)
    def ids(sql: String): Set[Long] =
      spark.sql(sql).as[Long].collect().toSet
    assert(ids("SELECT id FROM gpe.t WHERE ts >= '2024-01-01'") ==
      Set(1L, 2L, 3L, 4L, 5L))
    assert(ids("SELECT id FROM gpe.t WHERE ts >= '2024-01-03'") ==
      Set(3L, 5L))
    assert(ids("SELECT id FROM gpe.t VERSION AS OF 2 WHERE cat = 'a'") ==
      Set(1L, 4L))
    assert(ids("SELECT id FROM gpe.t VERSION AS OF 1") == Set(1L, 2L, 3L))
  }

  test("copy-on-write ops on a VERSIONED mixed-spine table touching gen-1 " +
    "rows read back exact, each row in its derived partition") {
    val all = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "b", 30.0),
      (4L, "a", 40.0), (5L, "c", 50.0))
    val del = mixedSpineTable()
    assert(del.delete(spark, $"id" === 2L) == 1L)
    assert(idCatV(del) == all.filterNot(_._1 == 2L))
    // the table no longer mixes spines: a second delete is exact too
    assert(del.delete(spark, $"id" === 3L) == 1L)
    assert(idCatV(del) == all.filterNot(r => r._1 == 2L || r._1 == 3L))

    val upd = mixedSpineTable()
    assert(upd.update(spark, $"id" === 1L, Seq("v" -> lit(11.0))) == 1L)
    assert(idCatV(upd) == all.map(r => if (r._1 == 1L) r.copy(_3 = 11.0) else r))

    val ups = mixedSpineTable()
    ups.upsert(rows((3L, "b", 33.0, "2024-01-03 10:00:00"),
      (6L, "d", 60.0, "2024-01-05 10:00:00")), Seq("id"))
    assert(idCatV(ups) ==
      all.map(r => if (r._1 == 3L) r.copy(_3 = 33.0) else r) :+ ((6L, "d", 60.0)))
  }
}
