package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TableSink.shallowCloneTo]] — zero-copy clones: O(metadata) creation,
  * independent divergence on append, full materialization on the first
  * rewriting op, and the refuse-guards. */
class CloneSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = Fixtures.fresh("clone_wh")

  private def mkSource(name: String): TableSink = {
    val sink = new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "cat", "v"))
    sink
  }

  private def cfg(name: String): SinkConfig =
    SinkConfig(tableName = name, warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity)))

  private def dataFiles(sink: TableSink): Seq[String] = sink.dataFilesRel()

  test("clone reads the source head with zero data files of its own") {
    val src = mkSource("c_src1")
    val clone = src.shallowCloneTo(cfg("c_dst1"))
    assert(clone.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))
    assert(dataFiles(clone).isEmpty, "zero-copy: no files under the clone")
    // partition pruning still derives from the SOURCE directory spine
    val pruned = clone.read(spark).filter($"cat" === "a")
      .select($"id").as[Long].collect().sorted.toSeq
    assert(pruned == Seq(1L, 3L))
  }

  test("clone and source diverge independently on append") {
    val src = mkSource("c_src2")
    val clone = src.shallowCloneTo(cfg("c_dst2"))
    clone.append(Seq((4L, "b", 40.0)).toDF("id", "cat", "v"))
    assert(clone.read(spark).count() == 4, "clone sees source + its append")
    assert(src.read(spark).count() == 3, "source never observes the clone")
    assert(dataFiles(clone).nonEmpty, "the clone's own append is local")
    // and the other direction: a later source append stays invisible to
    // the clone (it references the head AT CLONE TIME)
    src.append(Seq((9L, "a", 90.0)).toDF("id", "cat", "v"))
    assert(clone.read(spark).count() == 4)
    assert(src.read(spark).count() == 4)
  }

  test("first rewriting op fully materializes the clone") {
    val src = mkSource("c_src3")
    val clone = src.shallowCloneTo(cfg("c_dst3"))
    val removed = clone.delete(spark, $"id" === 2L)
    assert(removed == 1)
    assert(clone.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L))
    assert(dataFiles(clone).nonEmpty, "rewrite materialized local files")
    // self-contained now: the manifest has no absolute source entries
    assert(src.read(spark).count() == 3, "source untouched by the rewrite")
  }

  test("partition-scoped delete on a clone keeps the untouched partitions") {
    // regression: the dynamic-overwrite path used to write only the touched
    // partition locally, then re-snapshot from the local listing — every
    // untouched source-referenced partition vanished from the clone
    val src = mkSource("c_src6")
    val clone = src.shallowCloneTo(cfg("c_dst6"))
    // delete one row from partition a, leaving a survivor in a — the
    // non-emptied case that used to take the partition-scoped path
    val removed = clone.delete(spark, $"id" === 1L)
    assert(removed == 1)
    assert(clone.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == Seq(2L, 3L), "partition b (id=2) must survive the rewrite")
    assert(src.read(spark).count() == 3, "source untouched")
  }

  test("partition-scoped upsert on a clone keeps the untouched partitions") {
    val src = mkSource("c_src7")
    val clone = src.shallowCloneTo(cfg("c_dst7"))
    // upsert touches only partition a (key 1 lives there)
    clone.upsert(Seq((1L, "a", 11.0)).toDF("id", "cat", "v"), Seq("id"))
    val got = clone.read(spark).select($"id", $"v").as[(Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 11.0), (2L, 20.0), (3L, 30.0)),
      "partition b (id=2) must survive; id=1 updated")
    assert(src.read(spark).select($"v").as[Double].collect().sorted.toSeq
      == Seq(10.0, 20.0, 30.0), "source untouched")
  }

  test("compact materializes a fresh clone with no local appends") {
    // regression: the bytes walk saw only the clone's (empty) directory,
    // hit the zero-bytes early return, and never materialized
    val src = mkSource("c_src8")
    val clone = src.shallowCloneTo(cfg("c_dst8"))
    clone.compact(spark)
    assert(clone.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))
    assert(dataFiles(clone).nonEmpty, "compact materialized local files")
    // self-contained: later source changes no longer reach the clone
    src.append(Seq((9L, "a", 90.0)).toDF("id", "cat", "v"))
    assert(clone.read(spark).count() == 3)
  }

  test("clone refuses a destination that already holds a table") {
    val src = mkSource("c_src9")
    val occupied = mkSource("c_dst9") // destination already has data + log
    val e = intercept[IllegalArgumentException] {
      src.shallowCloneTo(cfg("c_dst9"))
    }
    assert(e.getMessage.contains("fresh table"))
    assert(occupied.read(spark).count() == 3, "existing table untouched")
  }

  test("clone time travel and guards") {
    val src = mkSource("c_src4")
    val clone = src.shallowCloneTo(cfg("c_dst4"))
    clone.append(Seq((4L, "b", 40.0)).toDF("id", "cat", "v"))
    assert(clone.readVersion(spark, 1).count() == 3, "v1 = cloned head")
    assert(clone.readVersion(spark, 2).count() == 4)
    // guard: no clone-of-clone
    val e = intercept[IllegalArgumentException] {
      clone.shallowCloneTo(cfg("c_dst4b"))
    }
    assert(e.getMessage.contains("clone the original"))
    // guard: unversioned source
    val flat = new TableSink(SinkConfig(tableName = "c_flat",
      warehousePath = wh))
    flat.append(Seq((1L, "a", 1.0)).toDF("id", "cat", "v"))
    val e2 = intercept[IllegalArgumentException] {
      flat.shallowCloneTo(cfg("c_dst4c"))
    }
    assert(e2.getMessage.contains("versioned"))
    // guard: pending merge-on-read deletes must be compacted first
    val src5 = mkSource("c_src5")
    src5.deleteWhere("id = 1")
    val e3 = intercept[IllegalArgumentException] {
      src5.shallowCloneTo(cfg("c_dst5"))
    }
    assert(e3.getMessage.contains("compact"))
  }

  test("clone of a RENAMED table carries the rename mapping: source-era " +
    "files serve their values under the new name, not NULL (round-13)") {
    spark.conf.set("spark.sql.catalog.gcl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcl.warehouse", wh)
    spark.sql("CREATE TABLE gcl.ren_src (id BIGINT, amount DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gcl.ren_src VALUES (1, 10.0), (2, 20.0)") // v1
    spark.sql("ALTER TABLE gcl.ren_src RENAME COLUMN amount TO total")
    spark.sql("INSERT INTO gcl.ren_src VALUES (3, 30.0)")            // v2
    val src = new TableSink(SinkConfig(tableName = "ren_src",
      warehousePath = wh, versioned = true,
      tableSchema = Some(spark.table("gcl.ren_src").schema)))
    val clone = src.shallowCloneTo(SinkConfig(tableName = "ren_dst",
      warehousePath = wh, versioned = true))
    // pre-rename files physically carry `amount`; the clone references
    // those same files, so it needs the source's rename fold — without
    // it rows 1-2 would read total = NULL
    val got = clone.read(spark).select($"id", $"total")
      .as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)), s"got: $got")
    // the tombstone ledger rides along too: an ALTER ADD on the clone
    // re-using a source-dropped name would resurrect old files' bytes
    val tomb = new org.apache.hadoop.fs.Path(s"$wh/ren_dst",
      "_graft_renames")
    assert(WarehouseIO.isFile(tomb), "clone must own a rename mapping copy")
    // RENAME-NAME-REUSE (round-14, the rename twin of the round-13
    // tombstone-resurrection fix): re-ADDing the pre-rename physical
    // name ON THE CLONE must refuse — the clone references source-era
    // files that still carry `amount` bytes, and the rename fold would
    // serve them under the re-added name instead of NULL
    val addBack = intercept[Exception](spark.sql(
      "ALTER TABLE gcl.ren_dst ADD COLUMNS (amount DOUBLE)"))
    assert(addBack.getMessage.contains("resurrect"), addBack.getMessage)
    // renaming another column ONTO the superseded physical name is the
    // same aliasing and refuses too
    val renBack = intercept[Exception](spark.sql(
      "ALTER TABLE gcl.ren_dst RENAME COLUMN id TO amount"))
    assert(renBack.getMessage.contains("resurrect"), renBack.getMessage)
    // changelog replay on the clone serves pre-rename VALUES under the
    // new name — never a resurrected `amount` column, never NULL
    val chg = clone.readChangelogAll(spark)
    assert(!chg.columns.contains("amount"),
      s"changelog must not resurface the pre-rename name: ${chg.columns.toSeq}")
    val chgRows = chg.select($"id", $"total", $"_change_type")
      .as[(Long, Double, String)].collect().toSet
    assert(chgRows == Set((1L, 10.0, "insert"), (2L, 20.0, "insert"),
      (3L, 30.0, "insert")), s"got: $chgRows")
  }

  test("clone of a type-WIDENED table carries the declared schema — the " +
    "WIDEN twin of the rename-map copy (round-14): both width " +
    "generations read back upcast, library and catalog doors agree") {
    spark.conf.set("spark.sql.catalog.gcl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcl.warehouse", wh)
    spark.sql("CREATE TABLE gcl.wd_src (id BIGINT, n INT) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gcl.wd_src VALUES (1, 100)")            // int32
    spark.sql("ALTER TABLE gcl.wd_src ALTER COLUMN n TYPE BIGINT")
    spark.sql("INSERT INTO gcl.wd_src VALUES (2, 5000000000)")     // int64
    val src = new TableSink(SinkConfig(tableName = "wd_src",
      warehousePath = wh, versioned = true))
    val clone = src.shallowCloneTo(SinkConfig(tableName = "wd_dst",
      warehousePath = wh, versioned = true))
    // library read: without the copied `_graft_schema` this footer-
    // infers one width and fails the scan on the other generation
    val got = clone.read(spark).select($"id", $"n")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 100L), (2L, 5000000000L)), s"got: $got")
    // catalog read of the clone serves the same upcast view
    val viaSql = spark.sql("SELECT id, n FROM gcl.wd_dst ORDER BY id")
      .as[(Long, Long)].collect().toSeq
    assert(viaSql == Seq((1L, 100L), (2L, 5000000000L)), s"got: $viaSql")
  }
}
