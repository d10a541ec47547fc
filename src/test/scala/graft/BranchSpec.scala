package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TableSink]] branches — the write-audit-publish staging surface:
  * isolation before publish, fast-forward publish, abandoned-branch
  * cleanup via removeOrphans, and the catalog's VERSION AS OF 'branch'. */
class BranchSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = Fixtures.fresh("branch_wh")
  spark.conf.set("spark.sql.catalog.gbr", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.gbr.warehouse", wh)

  private def mkSink(name: String): TableSink = {
    val sink = new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "cat", "v"))
    sink
  }

  test("staged branch rows are invisible to main until publish") {
    val sink = mkSink("wap1")
    sink.createBranch("audit")
    sink.appendToBranch("audit", Seq((4L, "b", 40.0), (5L, "c", 50.0))
      .toDF("id", "cat", "v"))
    // main's head has not moved: still v1, still 3 rows — even though the
    // staged files are physically in the table directory
    assert(sink.snapshotVersions() == Seq(1))
    assert(sink.readVersion(spark, 1).count() == 3)
    // the audit surface sees inherited + staged
    val audit = sink.readBranch(spark, "audit")
      .select($"id").as[Long].collect().sorted.toSeq
    assert(audit == Seq(1L, 2L, 3L, 4L, 5L))
    // publish fast-forwards main as pure metadata
    val v2 = sink.publishBranch("audit")
    assert(v2 == 2)
    assert(sink.readVersion(spark, 2).count() == 5)
    // v1 time travel still works after publish (appends never remove files)
    assert(sink.readVersion(spark, 1).count() == 3)
  }

  test("a crash-stranded branch dir (base written, v00001.list not) is " +
    "excluded from READ paths but BLOCKS sidecar commits — its base is " +
    "already pinned, so a sidecar above it would silently never apply " +
    "to the branch view; re-creating or dropping heals (round-14)") {
    import org.apache.hadoop.fs.{Path => HPath}
    val sink = mkSink("wap_phantom")
    // simulate createBranch dying between its two writes
    WarehouseIO.writeString(
      new HPath(s"$wh/wap_phantom/_graft_log/branch_ghost", "base"), "1")
    assert(sink.branches().isEmpty,
      "a branch with no committed version must not serve reads")
    // sidecar commits refuse while the base is pinned (round-14: the
    // round-13 contract let them through — a sidecar landing above the
    // phantom's base would be invisible to the branch's two-slice read
    // once createBranch re-ran and went live)
    val e = intercept[IllegalArgumentException](sink.deleteWhere("id = 1"))
    assert(e.getMessage.contains("ghost"), e.getMessage)
    // re-creating the branch overwrites the stale base and goes live
    sink.createBranch("ghost")
    assert(sink.branches() == Seq("ghost"))
    assert(sink.readBranch(spark, "ghost").count() == 3,
      "the healed branch must base on the CURRENT head, not the stale base")
    sink.dropBranch("ghost")
    // with the phantom gone the sidecar commit proceeds
    sink.deleteWhere("id = 1")
    assert(sink.read(spark).count() == 2)
    // dropBranch also removes a phantom dir directly
    WarehouseIO.writeString(
      new HPath(s"$wh/wap_phantom/_graft_log/branch_ghost2", "base"), "1")
    sink.dropBranch("ghost2")
    assert(!WarehouseIO.exists(
      new HPath(s"$wh/wap_phantom/_graft_log/branch_ghost2")))
  }

  test("a branch created INSIDE the delete-commit window is not " +
    "silently diverged: the claimed sidecar snapshot retracts and the " +
    "delete refuses (round-14 claim-to-retract, like consolidate's)") {
    val sink = mkSink("wap_race")
    var fired = false
    // fire exactly once, right before the sidecar commit's claim — the
    // caller's pre-check has already passed by then
    sink.raceWindowCheckHook = () => if (!fired) {
      fired = true
      sink.createBranch("interloper")
    }
    try {
      val e = intercept[IllegalStateException](sink.deleteWhere("id = 1"))
      assert(e.getMessage.contains("interloper"), e.getMessage)
      assert(e.getMessage.contains("retracted"), e.getMessage)
    } finally sink.raceWindowCheckHook = () => ()
    // the retract left the log exactly as before the attempt: head is
    // still v1, no sidecar applies, and the branch view equals main
    assert(sink.snapshotVersions() == Seq(1))
    assert(sink.read(spark).count() == 3)
    assert(sink.readBranch(spark, "interloper").count() == 3)
    // the remedy works: drop the branch, retry the delete
    sink.dropBranch("interloper")
    sink.deleteWhere("id = 1")
    assert(sink.read(spark).count() == 2)
  }

  test("readBranch folds position sidecars over a MIXED-SPINE " +
    "(partition-spec-evolved) manifest — the capture rides per scan " +
    "relation, never an unresolvable `_metadata` on the union (round-14)") {
    val gen1 = SinkConfig(tableName = "wap_mixed", warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity)))
    new TableSink(gen1).append(
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "cat", "v"))  // v1
    val s2 = new TableSink(gen1.copy(partitionSpec = Nil))
    s2.append(Seq((3L, "c", 30.0)).toDF("id", "cat", "v"))           // v2
    s2.deletePositions(spark, "id = 1")            // v3: position sidecar
    s2.createBranch("audit")                       // base = v3, MoR pending
    val audit = s2.readBranch(spark, "audit")
      .select($"id").as[Long].collect().sorted.toSeq
    assert(audit == Seq(2L, 3L),
      s"base-slice position delete must fold across both spines: $audit")
    // staged rows pass base-file position sidecars untouched
    s2.appendToBranch("audit", Seq((9L, "z", 90.0)).toDF("id", "cat", "v"))
    val staged = s2.readBranch(spark, "audit")
      .select($"id").as[Long].collect().sorted.toSeq
    assert(staged == Seq(2L, 3L, 9L), s"got: $staged")
    s2.dropBranch("audit")
  }

  test("dropped branch's files become orphans and are reclaimed") {
    val sink = mkSink("wap2")
    sink.createBranch("audit")
    sink.appendToBranch("audit", Seq((9L, "z", 90.0)).toDF("id", "cat", "v"))
    // while the branch is live its staged files are NOT orphans
    assert(sink.removeOrphans(graceMs = 0L).isEmpty,
      "live branch files must survive removeOrphans")
    assert(sink.readBranch(spark, "audit").count() == 4)
    sink.dropBranch("audit")
    val reclaimed = sink.removeOrphans(graceMs = 0L)
    assert(reclaimed.nonEmpty, "dropped branch's staged files must be reclaimed")
    assert(reclaimed.forall(_.contains("cat=z")), s"only staged files: $reclaimed")
    assert(sink.readVersion(spark, 1).count() == 3)
  }

  test("catalog resolves VERSION AS OF 'branch' to the branch head") {
    val sink = mkSink("wap3")
    sink.createBranch("audit")
    sink.appendToBranch("audit", Seq((4L, "c", 40.0)).toDF("id", "cat", "v"))
    val viaSql = spark.sql("SELECT id FROM gbr.wap3 VERSION AS OF 'audit'")
      .as[Long].collect().sorted.toSeq
    assert(viaSql == Seq(1L, 2L, 3L, 4L))
    // main through the catalog still resolves its own head
    assert(spark.sql("SELECT count(*) FROM gbr.wap3").as[Long].head() == 3)
    val bad = intercept[Exception](
      spark.sql("SELECT * FROM gbr.wap3 VERSION AS OF 'nope'").collect())
    assert(bad.getMessage.contains("nope"))
  }

  test("main append during a live branch does not publish staged rows") {
    val sink = mkSink("wap5")
    sink.createBranch("audit")
    sink.appendToBranch("audit", Seq((8L, "c", 80.0)).toDF("id", "cat", "v"))
    // a main append while the branch is live must commit ONLY its own
    // files — the staged cat=c rows share the directory but stay out of
    // main's next manifest
    sink.append(Seq((4L, "a", 40.0)).toDF("id", "cat", "v"))
    assert(sink.snapshotVersions() == Seq(1, 2))
    val mainIds = sink.readVersion(spark, 2)
      .select($"id").as[Long].collect().sorted.toSeq
    assert(mainIds == Seq(1L, 2L, 3L, 4L),
      s"staged branch row leaked into main: $mainIds")
    // the branch still reads its inherited (v1) + staged rows
    val audit = sink.readBranch(spark, "audit")
      .select($"id").as[Long].collect().sorted.toSeq
    assert(audit == Seq(1L, 2L, 3L, 8L))
    // publish still works after the concurrent main append
    val v3 = sink.publishBranch("audit")
    assert(sink.readVersion(spark, v3).count() == 5)
  }

  test("rewriting ops refuse while a branch is live") {
    val sink = mkSink("wap6")
    sink.createBranch("audit")
    sink.appendToBranch("audit", Seq((9L, "c", 90.0)).toDF("id", "cat", "v"))
    val up = intercept[IllegalArgumentException](
      sink.upsert(Seq((1L, "a", 11.0)).toDF("id", "cat", "v"), Seq("id")))
    assert(up.getMessage.contains("audit"))
    val del = intercept[IllegalArgumentException](
      sink.delete(spark, col("id") === 1L))
    assert(del.getMessage.contains("publish or drop"))
    // dropping the branch unblocks the rewrite
    sink.dropBranch("audit")
    sink.removeOrphans(graceMs = 0L)
    assert(sink.delete(spark, col("id") === 1L) == 1L)
  }

  test("catalog refuses branch names that are not valid identifiers") {
    mkSink("wap7")
    val bad = intercept[Exception](spark.sql(
      "SELECT * FROM gbr.wap7 VERSION AS OF '../../wap3/branch_audit'")
      .collect())
    assert(bad.getMessage.contains("neither an integer snapshot id"))
  }

  test("tags pin a snapshot immutably and resolve by name") {
    val sink = mkSink("tag1")
    sink.createTag("baseline")
    sink.append(Seq((4L, "c", 40.0)).toDF("id", "cat", "v"))
    // head moved; the tag did not
    assert(sink.readTag(spark, "baseline").count() == 3)
    assert(sink.read(spark).count() == 4)
    assert(sink.tagVersion("baseline") == 1)
    // catalog resolves VERSION AS OF 'tag' when no branch has the name
    val viaSql = spark.sql(
      "SELECT id FROM gbr.tag1 VERSION AS OF 'baseline'")
      .as[Long].collect().sorted.toSeq
    assert(viaSql == Seq(1L, 2L, 3L))
    // bookkeeping: list, double-create refused, unknown refused
    assert(sink.tags() == Seq("baseline"))
    assert(intercept[IllegalArgumentException](sink.createTag("baseline"))
      .getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](sink.readTag(spark, "ghost"))
      .getMessage.contains("ghost"))
    assert(intercept[IllegalArgumentException](sink.createTag("v9", Some(9)))
      .getMessage.contains("snapshot v9"))
    sink.dropTag("baseline")
    assert(sink.tags().isEmpty)
  }

  test("rewrites and rollback refuse while a tag pins a snapshot") {
    val sink = mkSink("tag2")
    sink.append(Seq((4L, "c", 40.0)).toDF("id", "cat", "v"))
    sink.createTag("keep", Some(2))
    assert(intercept[IllegalArgumentException](
      sink.delete(spark, col("id") === 1L))
      .getMessage.contains("drop tags first"))
    assert(intercept[IllegalArgumentException](sink.rollbackTo(1))
      .getMessage.contains("keep"))
    // a tag at or before the target survives a rollback
    sink.dropTag("keep")
    sink.createTag("base", Some(1))
    sink.rollbackTo(1)
    assert(sink.readTag(spark, "base").count() == 3)
  }

  test("branch bookkeeping: list, double-create refused, unknown refused") {
    val sink = mkSink("wap4")
    assert(sink.branches().isEmpty)
    sink.createBranch("a")
    sink.createBranch("b")
    assert(sink.branches() == Seq("a", "b"))
    assert(intercept[IllegalArgumentException](sink.createBranch("a"))
      .getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](
      sink.readBranch(spark, "ghost")).getMessage.contains("ghost"))
    sink.dropBranch("b")
    assert(sink.branches() == Seq("a"))
  }
}
