package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TableSink.updateMor]] — merge-on-read UPDATE: one commit position-
  * deletes the matched rows and appends replacements (the sidecar
  * referenced INSIDE the claimed snapshot — atomic, no duplicates-visible
  * window), history is preserved, the changelog replays delete+insert at
  * one version, and compact materializes. */
class MorUpdateSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = Fixtures.fresh("morupd_wh")
  spark.conf.set("spark.sql.catalog.gmu", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.gmu.warehouse", wh)

  private def mkSink(name: String): TableSink = {
    val sink = new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "cat", "v"))
    sink
  }

  private def dataFiles(name: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(s"$wh/$name")
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !root.relativize(p).toString.startsWith("_"))
      .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p))
      .toMap
    finally s.close()
  }

  private def state(sink: TableSink): Set[(Long, String, Double)] =
    sink.read(spark).select($"id", $"cat", $"v")
      .as[(Long, String, Double)].collect().toSet

  test("updateMor rewrites no pre-existing file, preserves history, " +
    "and the live read serves the new values") {
    val sink = mkSink("u1")
    val before = dataFiles("u1")
    val n = sink.updateMor(spark, $"v" < 15.0, Seq("v" -> ($"v" + 100.0)))
    assert(n == 1L)
    val after = dataFiles("u1")
    // every pre-update file survives byte-identical (appends only)
    before.foreach { case (p, sz) =>
      assert(after.get(p).contains(sz), s"pre-update file $p was touched")
    }
    assert(state(sink) ==
      Set((1L, "a", 110.0), (2L, "b", 20.0), (3L, "a", 30.0)))
    // history preserved: time travel before the update shows old values
    assert(sink.readVersion(spark, 1).select($"v").as[Double]
      .collect().sorted.toSeq == Seq(10.0, 20.0, 30.0))
    // the update version serves the new semantics
    val head = sink.snapshotVersions().last
    assert(sink.readVersion(spark, head).filter($"id" === 1L)
      .select($"v").as[Double].head() == 110.0)
  }

  test("no-match updateMor is a no-op; NULL condition keeps every row") {
    val sink = mkSink("u2")
    val vs0 = sink.snapshotVersions()
    assert(sink.updateMor(spark, $"v" > 999.0, Seq("v" -> lit(0.0))) == 0L)
    assert(sink.updateMor(spark, lit(null).cast("boolean"),
      Seq("v" -> lit(0.0))) == 0L)
    assert(sink.snapshotVersions() == vs0, "a no-op must not commit")
    assert(state(sink).map(_._3) == Set(10.0, 20.0, 30.0))
  }

  test("the atomic #pos commit has no duplicates-visible window: a " +
    "manifest-driven read in the claim window sees exactly the " +
    "pre-update snapshot") {
    val sink = mkSink("u3")
    val pre = state(sink)
    val headBefore = sink.snapshotVersions().last
    var observed: Option[Set[(Long, String, Double)]] = None
    var fired = false
    sink.raceWindowCheckHook = () => if (!fired) {
      fired = true
      // the staged replacement files and the sidecar are on disk but
      // UNREFERENCED — a snapshot reader (readVersion / the SQL
      // catalog, both manifest-driven) must see the pre-state, never
      // the originals plus the replacements. (The plain directory
      // read() keeps its documented dirty-append window — same as any
      // in-flight append.)
      observed = Some(new TableSink(sink.config)
        .readVersion(spark, headBefore).select($"id", $"cat", $"v")
        .as[(Long, String, Double)].collect().toSet)
    }
    try sink.updateMor(spark, $"id" === 1L, Seq("v" -> lit(99.0)))
    finally sink.raceWindowCheckHook = () => ()
    assert(fired && observed.contains(pre),
      s"claim-window snapshot read must be the pre-update state: " +
        s"$observed vs $pre")
    assert(state(sink).contains((1L, "a", 99.0)))
    // and the post-claim snapshot serves the update with NO intermediate
    // shape: one version, both effects
    val headAfter = sink.snapshotVersions().last
    assert(headAfter == headBefore + 1)
    assert(sink.readVersion(spark, headAfter).select($"id", $"cat", $"v")
      .as[(Long, String, Double)].collect().toSet ==
      (pre - ((1L, "a", 10.0)) + ((1L, "a", 99.0))))
  }

  test("a crash before the claim leaves the table unchanged and the " +
    "statement retries cleanly") {
    val sink = mkSink("u4")
    val pre = state(sink)
    sink.raceWindowCheckHook =
      () => throw new RuntimeException("boom: injected pre-claim crash")
    val e = intercept[RuntimeException](
      sink.updateMor(spark, $"id" === 2L, Seq("v" -> lit(77.0))))
    sink.raceWindowCheckHook = () => ()
    assert(e.getMessage.contains("boom"))
    assert(state(sink) == pre, "a failed update must leave no trace")
    // no pending sidecar was folded in
    assert(!sink.hasPendingDeletes(sink.snapshotVersions().last))
    // the retry succeeds
    assert(sink.updateMor(spark, $"id" === 2L, Seq("v" -> lit(77.0))) == 1L)
    assert(state(sink).contains((2L, "b", 77.0)))
  }

  test("losing the version race re-resolves against the new head " +
    "(first-committer-wins, both effects land)") {
    val sink = mkSink("u5")
    var fired = false
    sink.raceWindowCheckHook = () => if (!fired) {
      fired = true // the interloper's own commit must not recurse
      new TableSink(sink.config)
        .append(Seq((4L, "a", 5.0)).toDF("id", "cat", "v"))
    }
    try {
      // the interloper's row ALSO matches: the re-resolved second
      // attempt must pick it up (snapshot isolation against the head
      // the commit actually lands on)
      val n = sink.updateMor(spark, $"v" < 15.0, Seq("v" -> ($"v" + 100.0)))
      assert(n == 2L, s"re-resolution must see the interloper's row: $n")
    } finally sink.raceWindowCheckHook = () => ()
    assert(state(sink) ==
      Set((1L, "a", 110.0), (2L, "b", 20.0), (3L, "a", 30.0),
        (4L, "a", 105.0)))
  }

  test("SET may move rows across identity partitions (the COW update " +
    "refuses this); the old copy is position-deleted in place") {
    val sink = mkSink("u6")
    intercept[IllegalArgumentException](
      sink.update(spark, $"id" === 1L, Seq("cat" -> lit("z"))))
    assert(sink.updateMor(spark, $"id" === 1L, Seq("cat" -> lit("z"))) == 1L)
    assert(state(sink) ==
      Set((1L, "z", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)))
    assert(sink.read(spark).filter($"cat" === "a").count() == 1L)
  }

  test("the changelog replays an updateMor commit as the old rows' " +
    "deletes plus the replacements' inserts at one version") {
    val sink = mkSink("u7")
    val v = sink.snapshotVersions().last
    sink.updateMor(spark, $"id" === 3L, Seq("v" -> lit(33.0)))
    val head = sink.snapshotVersions().last
    val feed = sink.readChangelog(spark, v, head)
      .select($"id", $"v", $"_change_type", $"_change_version")
      .as[(Long, Double, String, Long)].collect().toSet
    assert(feed == Set((3L, 30.0, "delete", head.toLong),
      (3L, 33.0, "insert", head.toLong)), s"got: $feed")
  }

  test("CDC replication applies an updateMor commit as its post-state " +
    "(insert wins the same-version tie)") {
    val sink = mkSink("u8")
    val dst = new TableSink(SinkConfig(tableName = "u8_dst",
      warehousePath = wh, versioned = true))
    val cursor = Fixtures.fresh("morupd_cursor") + "/c"
    sink.replicateTo(spark, dst, Seq("id"), cursor)
    sink.updateMor(spark, $"id" === 1L, Seq("v" -> lit(11.0)))
    sink.replicateTo(spark, dst, Seq("id"), cursor)
    assert(state(dst) == state(sink),
      s"replica must track the update: ${state(dst)} vs ${state(sink)}")
  }

  test("compact materializes: sidecars cleared, values survive") {
    val sink = mkSink("u9")
    sink.updateMor(spark, $"v" >= 20.0, Seq("v" -> ($"v" * 2.0)))
    assert(sink.hasPendingDeletes(sink.snapshotVersions().last))
    sink.compact(spark)
    assert(!sink.hasPendingDeletes(sink.snapshotVersions().last))
    assert(state(sink) ==
      Set((1L, "a", 10.0), (2L, "b", 40.0), (3L, "a", 60.0)))
  }

  test("expiry refuses to drop an updateMor commit whose sidecar still " +
    "applies; consolidation folds it") {
    val sink = mkSink("u10")
    sink.updateMor(spark, $"id" === 1L, Seq("v" -> lit(1.0)))
    sink.append(Seq((5L, "c", 50.0)).toDF("id", "cat", "v"))
    val e = intercept[IllegalArgumentException](
      sink.expireSnapshotsKeepLast(1))
    assert(e.getMessage.contains("merge-on-read"))
    // consolidation merges the #pos sidecar into a standard one and
    // reads stay correct
    sink.deleteWhere("v > 45.0") // a second sidecar so there is a fold
    sink.consolidateDeletes(spark)
    assert(state(sink) ==
      Set((1L, "a", 1.0), (2L, "b", 20.0), (3L, "a", 30.0)))
  }

  test("a branch created over a pending updateMor sidecar audits the " +
    "updated view; new updateMor commits refuse while it lives") {
    val sink = mkSink("u11")
    sink.updateMor(spark, $"id" === 1L, Seq("v" -> lit(99.0)))
    sink.createBranch("aud")
    assert(sink.readBranch(spark, "aud").select($"id", $"v")
      .as[(Long, Double)].collect().toSet ==
      Set((1L, 99.0), (2L, 20.0), (3L, 30.0)),
      "the branch base slice must serve through the #pos sidecar")
    sink.appendToBranch("aud", Seq((4L, "c", 40.0)).toDF("id", "cat", "v"))
    assert(sink.readBranch(spark, "aud").select($"id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(intercept[IllegalArgumentException](
      sink.updateMor(spark, $"id" === 2L, Seq("v" -> lit(0.0))))
      .getMessage.contains("aud"),
      "sidecar commits must still refuse while a branch is live")
    sink.dropBranch("aud")
  }

  test("upsertMor: one commit replaces matched keys and appends new " +
    "rows; no pre-existing file rewritten; replay converges") {
    val sink = mkSink("u12")
    val before = dataFiles("u12")
    val batch = Seq((1L, "a", 11.0), (4L, "c", 40.0)).toDF("id", "cat", "v")
    sink.upsertMor(batch, Seq("id"))
    val after = dataFiles("u12")
    before.foreach { case (p, sz) =>
      assert(after.get(p).contains(sz), s"pre-upsert file $p was touched")
    }
    val want = Set((1L, "a", 11.0), (2L, "b", 20.0), (3L, "a", 30.0),
      (4L, "c", 40.0))
    assert(state(sink) == want)
    // history preserved: the pre-upsert snapshot still serves old values
    assert(sink.readVersion(spark, 1).filter($"id" === 1L)
      .select($"v").as[Double].head() == 10.0)
    // at-least-once replay: the same batch applies idempotently (the
    // replication contract) — old copies position-deleted, state fixed
    sink.upsertMor(batch, Seq("id"))
    assert(state(sink) == want, "replaying the batch must converge")
    // a table with no commits takes the plain append
    val fresh = new TableSink(SinkConfig(tableName = "u12f",
      warehousePath = wh, versioned = true))
    fresh.upsertMor(Seq((9L, "z", 9.0)).toDF("id", "cat", "v"), Seq("id"))
    assert(state(fresh) == Set((9L, "z", 9.0)))
  }

  test("a batch whose column names differ only in CASE applies — Spark " +
    "resolution is case-insensitive, so the alignment gate must not " +
    "refuse it as both extra and missing (round-14); files land under " +
    "the table's canonical names") {
    val sink = mkSink("u12c")
    // upper-cased batch: the round-13 gate rejected ID/CAT/V outright
    sink.upsertMor(Seq((1L, "a", 11.0), (6L, "c", 60.0))
      .toDF("ID", "CAT", "V"), Seq("ID"))
    assert(state(sink) == Set((1L, "a", 11.0), (2L, "b", 20.0),
      (3L, "a", 30.0), (6L, "c", 60.0)))
    // written files carry the canonical lower-case names: a fresh read
    // keeps serving every column, nothing NULL-filled under a case twin
    assert(sink.read(spark).columns.toSet == Set("id", "cat", "v"))
    assert(sink.read(spark).filter($"v".isNull || $"cat".isNull).count() == 0)
    // a genuinely extra column still refuses with the evolve remedy
    val e = intercept[IllegalArgumentException](
      sink.upsertMor(Seq((1L, "a", 11.0, "x"))
        .toDF("id", "cat", "v", "extra"), Seq("id")))
    assert(e.getMessage.contains("schema is behind"), e.getMessage)
  }

  test("insert-only upsertMor commits a PLAIN append — no empty position " +
    "sidecar, reads stay on the fast no-pending-deletes path (round-13)") {
    val sink = mkSink("u14b")
    // no incoming key matches: the mutation is pure insert
    sink.upsertMor(Seq((7L, "c", 70.0), (8L, "c", 80.0))
      .toDF("id", "cat", "v"), Seq("id"))
    val head = sink.snapshotVersions().last
    assert(!sink.hasPendingDeletes(head),
      "an insert-only apply must not flip the pending-deletes bit — " +
        "every subsequent read would fold a useless empty anti-join and " +
        "SQL reads would degrade to the projected V1 bridge")
    val log = new java.io.File(s"$wh/u14b/_graft_log")
    assert(!log.listFiles().map(_.getName).exists(_.startsWith("dv-")),
      "no position sidecar may exist for an insert-only commit")
    assert(state(sink) == Set((1L, "a", 10.0), (2L, "b", 20.0),
      (3L, "a", 30.0), (7L, "c", 70.0), (8L, "c", 80.0)))
    // history intact and the changelog sees a plain append
    assert(sink.readChangelog(spark, head - 1, head)
      .select($"_change_type").distinct().as[String].collect().toSeq
      == Seq("insert"))
    // a MIXED batch on the same table still takes the sidecar shape
    sink.upsertMor(Seq((1L, "a", 11.0), (9L, "c", 90.0))
      .toDF("id", "cat", "v"), Seq("id"))
    assert(sink.hasPendingDeletes(sink.snapshotVersions().last))
    assert(state(sink) == Set((1L, "a", 11.0), (2L, "b", 20.0),
      (3L, "a", 30.0), (7L, "c", 70.0), (8L, "c", 80.0), (9L, "c", 90.0)))
  }

  test("CDC replication applies inserts through upsertMor: the replica " +
    "keeps its files and history across applies") {
    val sink = mkSink("u13")
    val dst = new TableSink(SinkConfig(tableName = "u13_dst",
      warehousePath = wh, versioned = true))
    val cursor = Fixtures.fresh("morupd_cursor13") + "/c"
    sink.replicateTo(spark, dst, Seq("id"), cursor)         // initial copy
    val dstFiles = dataFiles("u13_dst")
    val dstVs = dst.snapshotVersions().size
    sink.updateMor(spark, $"id" === 2L, Seq("v" -> lit(22.0))) // source change
    sink.append(Seq((5L, "c", 50.0)).toDF("id", "cat", "v"))
    sink.replicateTo(spark, dst, Seq("id"), cursor)         // incremental
    assert(state(dst) == state(sink),
      s"replica must track: ${state(dst)} vs ${state(sink)}")
    dstFiles.foreach { case (p, sz) =>
      assert(dataFiles("u13_dst").get(p).contains(sz),
        s"the MoR apply must not rewrite replica file $p")
    }
    assert(dst.snapshotVersions().size > dstVs,
      "the replica now KEEPS history across applies (MoR commits)")
  }

  test("removeOrphans sweeps a stranded pos-* sidecar (crashed MoR " +
    "mutation) and keeps the #pos-referenced live one") {
    import spark.implicits._
    val sink = mkSink("u14")
    sink.updateMor(spark, $"id" === 1L, Seq("v" -> lit(99.0)))
    // a hard JVM crash between the sidecar write and the claim strands
    // an unreferenced dv-* entry in the log — fake one (the in-process
    // failure paths clean up after themselves, so only a kill makes it)
    val stranded = s"$wh/u14/_graft_log/dv-deadbeef0000"
    Seq(("f", 0L)).toDF("file_path", "row_pos")
      .write.mode("overwrite").parquet(stranded)
    val live = new java.io.File(s"$wh/u14/_graft_log").listFiles()
      .map(_.getName).filter(_.startsWith("dv-")).toSet
    assert(live.size == 2)
    val removed = sink.removeOrphans(graceMs = 0L)
    assert(removed.exists(_.endsWith("dv-deadbeef0000")),
      s"the stranded sidecar must be swept: $removed")
    assert(!removed.exists(r => r.contains("dv-") &&
      !r.endsWith("dv-deadbeef0000")),
      "the live #pos-referenced sidecar must survive the sweep")
    // and the table still serves the update through the live sidecar
    assert(state(sink).contains((1L, "a", 99.0)))
  }

  test("SQL door: updateMode=mor routes UPDATE through the atomic MoR " +
    "commit and the catalog read serves through the pending sidecar") {
    spark.sql("CREATE TABLE gmu.su1 (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gmu.su1 VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    val sink = new TableSink(SinkConfig(tableName = "su1",
      warehousePath = wh, versioned = true))
    val before = sink.dataFilesRel().toSet
    try {
      spark.conf.set("spark.graft.sql.updateMode", "mor")
      spark.sql("UPDATE gmu.su1 SET v = v + 5.0 WHERE id <= 2")
    } finally spark.conf.unset("spark.graft.sql.updateMode")
    assert(before.subsetOf(sink.dataFilesRel().toSet),
      "mor mode must not rewrite pre-existing files")
    assert(spark.sql("SELECT v FROM gmu.su1 ORDER BY id")
      .as[Double].collect().toSeq == Seq(15.0, 25.0, 30.0))
    // history preserved: the pre-update snapshot is still readable
    assert(spark.sql("SELECT v FROM gmu.su1 VERSION AS OF 1 ORDER BY id")
      .as[Double].collect().toSeq == Seq(10.0, 20.0, 30.0))
    // a column named like a niladic function round-trips the rendering
    // (forced backtick quoting — the ADVICE regression)
    spark.sql("CREATE TABLE gmu.su2 (id BIGINT, `current_date` DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gmu.su2 VALUES (1, 1.0), (2, 2.0)")
    try {
      spark.conf.set("spark.graft.sql.updateMode", "mor")
      spark.sql("UPDATE gmu.su2 SET `current_date` = `current_date` + 1.0 " +
        "WHERE id = 1")
    } finally spark.conf.unset("spark.graft.sql.updateMode")
    assert(spark.sql("SELECT `current_date` FROM gmu.su2 ORDER BY id")
      .as[Double].collect().toSeq == Seq(2.0, 2.0))
  }
  test("upsertMor refuses NULL and duplicate key tuples BEFORE committing " +
    "(round-13): a NULL key re-inserts on every apply and a duplicate " +
    "lands both copies — silent replica corruption otherwise") {
    val sink = mkSink("u_keycontract")
    val nulled = Seq((Option(1L), "a", 11.0), (Option.empty[Long], "a", 99.0))
      .toDF("id", "cat", "v")
    val e1 = intercept[IllegalArgumentException](
      sink.upsertMor(nulled, Seq("id")))
    assert(e1.getMessage.contains("NULL key"), e1.getMessage)
    val dup = Seq((2L, "b", 21.0), (2L, "b", 22.0)).toDF("id", "cat", "v")
    val e2 = intercept[IllegalArgumentException](
      sink.upsertMor(dup, Seq("id")))
    assert(e2.getMessage.contains("unique within the batch"), e2.getMessage)
    // neither refusal committed anything: one snapshot, original state
    assert(sink.snapshotVersions().size == 1)
    assert(state(sink) ==
      Set((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)))
    // a clean batch still applies
    sink.upsertMor(Seq((1L, "a", 11.0), (4L, "b", 40.0))
      .toDF("id", "cat", "v"), Seq("id"))
    assert(state(sink) == Set((1L, "a", 11.0), (2L, "b", 20.0),
      (3L, "a", 30.0), (4L, "b", 40.0)))
  }
}
