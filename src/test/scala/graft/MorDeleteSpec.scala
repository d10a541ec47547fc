package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TableSink.deleteWhere]] — merge-on-read equality deletes: a delete is
  * a metadata-only commit (predicate sidecar, no file touched), readers
  * subtract matching rows at scan time, time travel preserves pre-delete
  * history, and compact materializes survivors and clears predicates. */
class MorDeleteSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = Fixtures.fresh("mor_wh")
  spark.conf.set("spark.sql.catalog.gmor", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.gmor.warehouse", wh)

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

  test("every delete flavor commits its sidecar ATOMICALLY inside the " +
    "claimed snapshot — a changelog consumer can never observe the " +
    "version without its delta (round-12)") {
    import org.apache.hadoop.fs.{Path => HPath}
    val sink = mkSink("m_atomic")
    val v2 = sink.deleteWhere("v < 15.0")
    val v3 = sink.deleteKeys(Seq(Tuple1(2L)).toDF("id"), Seq("id"))
    val v4 = sink.deletePositions(spark, "id = 3")
    // no post-claim std sidecar files exist — the references ride the
    // snapshots themselves (pre-round-12, a consumer reading the version
    // in the claim-to-sidecar window lost the delete forever)
    val log = s"$wh/m_atomic/_graft_log"
    Seq(f"v$v2%05d.deletes", f"v$v3%05d_keys", f"v$v4%05d_pos").foreach { n =>
      assert(!WarehouseIO.exists(new HPath(s"$log/$n")),
        s"std sidecar $n must not exist — the commit carries a reference")
    }
    val names = new java.io.File(log).listFiles().map(_.getName).toSet
    assert(names.exists(_.startsWith("del-")) &&
      names.exists(_.startsWith("keys-")) &&
      names.exists(_.startsWith("dv-")), s"referenced sidecars: $names")
    // semantics unchanged: reads subtract, the changelog replays each
    // delete against its pre-commit snapshot
    assert(sink.read(spark).count() == 0)
    val feed = sink.readChangelog(spark, 1, v4)
      .select($"id", $"_change_type", $"_change_version")
      .as[(Long, String, Long)].collect().toSet
    assert(feed == Set((1L, "delete", v2.toLong), (2L, "delete", v3.toLong),
      (3L, "delete", v4.toLong)), s"got: $feed")
    // time travel still scopes per version
    assert(sink.readVersion(spark, 1).count() == 3)
    assert(sink.readVersion(spark, v2).count() == 2)
    // consolidation folds referenced sidecars and stays correct
    val sink2 = mkSink("m_atomic2")
    sink2.deleteWhere("v < 15.0")
    sink2.deleteKeys(Seq(Tuple1(2L)).toDF("id"), Seq("id"))
    sink2.consolidateDeletes(spark)
    assert(sink2.read(spark).select($"id").as[Long].collect().toSeq
      == Seq(3L))
  }

  test("a delete that wins a version inside consolidateDeletes' " +
    "capture-to-claim window is RE-MERGED, not silently dropped with the " +
    "cleanup (round-13)") {
    val sink = mkSink("m_crace")
    sink.deleteWhere("id = 1")
    // a second writer on the same table lands a keys-delete exactly in
    // the consolidation's check-to-claim window — pre-round-13 its
    // sidecar was deleted UNMERGED by the cleanup (the delete lost)
    val interloper = new TableSink(sink.config)
    var fired = false
    sink.raceWindowCheckHook = () => if (!fired) {
      fired = true
      interloper.deleteKeys(Seq(Tuple1(3L)).toDF("id"), Seq("id"))
    }
    try {
      val vNext = sink.consolidateDeletes(spark)
      assert(fired, "the injection must have run")
      assert(sink.read(spark).select($"id").as[Long].collect().toSeq
        == Seq(2L),
        "the interloper's delete must survive consolidation")
      assert(sink.snapshotVersions() == Seq(vNext),
        "history below the merged commit is dropped")
    } finally sink.raceWindowCheckHook = () => ()
  }

  test("a crash in consolidateDeletes' claim-to-retract window (merged " +
    "commit claimed, interloper check/cleanup never ran) leaves every " +
    "read correct, and a re-run finishes the consolidation (round-13)") {
    val sink = mkSink("m_ccrash")
    sink.deleteWhere("id = 1")
    val interloper = new TableSink(sink.config)
    var fired = false
    sink.raceWindowCheckHook = () => if (!fired) {
      fired = true
      interloper.deleteKeys(Seq(Tuple1(3L)).toDF("id"), Seq("id"))
    }
    sink.consolidateClaimHook =
      () => throw new RuntimeException("boom: crash after the claim")
    try {
      val e = intercept[RuntimeException](sink.consolidateDeletes(spark))
      assert(e.getMessage.contains("boom"))
    } finally {
      sink.raceWindowCheckHook = () => ()
      sink.consolidateClaimHook = () => ()
    }
    // the table is in the crash state: merged head claimed, old versions
    // (incl. the interloper's) still listed. Reads must fold EVERY live
    // delete — the interloper's sidecar rides its still-listed version.
    assert(sink.read(spark).select($"id").as[Long].collect().toSeq
      == Seq(2L), "crash-state read must apply both deletes")
    // re-running completes: one consolidated head, same semantics
    val vNext = sink.consolidateDeletes(spark)
    assert(sink.snapshotVersions() == Seq(vNext))
    assert(sink.read(spark).select($"id").as[Long].collect().toSeq
      == Seq(2L))
  }

  test("deleteWhere is metadata-only and read subtracts at scan time") {
    val sink = mkSink("m1")
    val before = dataFiles("m1")
    val v2 = sink.deleteWhere("v < 15.0")
    assert(v2 == 2)
    // not one data file read, written, or removed
    assert(dataFiles("m1") == before, "deleteWhere must not touch data files")
    // live read and the delete-version read subtract the row
    assert(sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == Seq(2L, 3L))
    assert(sink.readVersion(spark, v2).count() == 2)
    // time travel BEFORE the delete still shows everything
    assert(sink.readVersion(spark, 1).count() == 3)
  }

  test("predicates are cumulative and survive further appends") {
    val sink = mkSink("m2")
    sink.deleteWhere("v < 15.0")
    sink.deleteWhere("cat = 'b'")
    sink.append(Seq((4L, "b", 40.0), (5L, "c", 50.0)).toDF("id", "cat", "v"))
    // the appended cat=b row is ALSO subtracted: predicates are
    // predicate-scoped, not file-scoped (Iceberg equality-delete semantics
    // apply to sequence numbers; this engine applies them to all rows at
    // or after the delete commit — documented, simpler, and what a
    // re-ingest pipeline wants for a poisoned key)
    assert(sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == Seq(3L, 5L))
  }

  test("compact materializes survivors and clears predicates") {
    val sink = mkSink("m3")
    sink.deleteWhere("v < 15.0")
    sink.compact(spark)
    assert(sink.deletePredicates(sink.snapshotVersions().last).isEmpty,
      "compact must clear merge-on-read predicates")
    assert(sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == Seq(2L, 3L))
    // materialized: the catalog serves the table again
    assert(spark.sql("SELECT count(*) FROM gmor.m3").as[Long].head() == 2)
  }

  test("catalog SERVES pending deletes through the library read — no " +
    "refusal, no resurrected rows, filters still effective") {
    val sink = mkSink("m4")
    sink.deleteWhere("v < 15.0")
    // pending predicate sidecar: the SQL read equals the library read
    // (the scan executes readVersion, which applies the sidecar) — the
    // SQL door no longer goes dark between a MoR delete and compaction
    assert(spark.sql("SELECT id FROM gmor.m4 ORDER BY id")
      .as[Long].collect().toSeq == Seq(2L, 3L))
    assert(spark.sql("SELECT id FROM gmor.m4 ORDER BY id")
      .as[Long].collect().toSeq ==
      sink.read(spark).select($"id").as[Long].collect().sorted.toSeq)
    // pushed predicates still work above the library frame
    assert(spark.sql("SELECT count(*) FROM gmor.m4 WHERE cat = 'a'")
      .as[Long].head() == 1)
    // pre-delete snapshots stay catalog-readable (no pending predicate ≤ 1)
    assert(spark.sql("SELECT count(*) FROM gmor.m4 VERSION AS OF 1")
      .as[Long].head() == 3)
    // VERSION AS OF at the delete commit serves its snapshot semantics
    assert(spark.sql("SELECT count(*) FROM gmor.m4 VERSION AS OF 2")
      .as[Long].head() == 2)
  }

  test("deleteKeys erases by anti-join, metadata-only, composable with predicates") {
    val sink = mkSink("m6")
    val before = dataFiles("m6")
    val keys = Seq(1L, 99L).toDF("id")          // 99 matches nothing
    val v2 = sink.deleteKeys(keys, Seq("id"))
    assert(v2 == 2)
    assert(dataFiles("m6") == before, "deleteKeys must not touch data files")
    assert(sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == Seq(2L, 3L))
    // composes with a predicate delete; time travel unaffected
    sink.deleteWhere("v > 25.0")
    assert(sink.read(spark).select($"id").as[Long].collect().toSeq == Seq(2L))
    assert(sink.readVersion(spark, 1).count() == 3)
    // catalog serves the key-list sidecar the same as a predicate
    assert(spark.sql("SELECT id FROM gmor.m6").as[Long].collect().toSeq
      == Seq(2L))
    // compact materializes both kinds and clears them
    sink.compact(spark)
    assert(!sink.hasPendingDeletes(sink.snapshotVersions().last))
    assert(sink.read(spark).select($"id").as[Long].collect().toSeq == Seq(2L))
    // bad arguments refuse loudly
    assert(intercept[IllegalArgumentException](
      sink.deleteKeys(keys, Seq("nope"))).getMessage.contains("nope"))
    assert(intercept[IllegalArgumentException](
      sink.deleteKeys(keys, Nil)).getMessage.contains("at least one"))
  }

  test("partition-scoped rewrites under pending sidecars do not resurrect") {
    // regression: upsert/delete into partition b while a sidecar still
    // subtracts rows from partition a — the dynamic-overwrite path leaves
    // a's files intact and expireSnapshots drops the sidecar, so without
    // the full-rewrite fallback the deleted row comes back at the head
    val sink = mkSink("m_resurrect")             // {(1,a),(2,b),(3,a)}
    sink.deleteKeys(Seq(3L).toDF("id"), Seq("id"))
    sink.upsert(Seq((4L, "b", 40.0)).toDF("id", "cat", "v"), Seq("id"))
    val afterUpsert = sink.read(spark).select($"id").as[Long]
      .collect().sorted.toSeq
    assert(afterUpsert == Seq(1L, 2L, 4L),
      s"upsert into b must not resurrect the deleted id=3 in a: $afterUpsert")
    // same shape for the copy-on-write delete()
    sink.deleteWhere("id = 1")
    assert(sink.delete(spark, col("id") === 4L) == 1L)
    val afterDelete = sink.read(spark).select($"id").as[Long]
      .collect().sorted.toSeq
    assert(afterDelete == Seq(2L),
      s"delete() in b must not resurrect the pending-deleted id=1: $afterDelete")
  }

  test("consolidateDeletes merges the sidecar layer without data rewrites") {
    val sink = mkSink("m_consol")                 // {(1,a),(2,b),(3,a)}
    sink.append(Seq((4L, "b", 40.0), (5L, "a", 50.0)).toDF("id", "cat", "v"))
    val filesBefore = dataFiles("m_consol")
    sink.deleteWhere("id = 1")                    // v3 predicate
    sink.deleteKeys(Seq(4L).toDF("id"), Seq("id")) // v4 erasure
    val before = sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
    assert(before == Seq(2L, 3L, 5L))
    val vNew = sink.consolidateDeletes(spark)
    assert(sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == before, "consolidation must not change the surviving row set")
    assert(sink.snapshotVersions() == Seq(vNew),
      "old history is dropped — one consolidated commit remains")
    assert(dataFiles("m_consol") == filesBefore,
      "minor compaction must not touch a single data file")
    // the delete-layer inventory collapses to one sidecar per flavor
    val inv = sink.metaDeletes(spark)
      .select($"version", $"flavor", $"n_entries")
      .as[(Long, String, Long)].collect().toSeq
    assert(inv == Seq((vNew.toLong, "keys", 1L), (vNew.toLong, "predicate", 1L)),
      s"metaDeletes after consolidation: $inv")
    // idempotent: a second call on the single-commit table is a no-op
    assert(sink.consolidateDeletes(spark) == vNew)
    // later appends still subtract under the merged predicate
    sink.append(Seq((1L, "a", 11.0)).toDF("id", "cat", "v"))
    assert(sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == Seq(2L, 3L, 5L), "merged predicate must stay live for re-inserts")
  }

  test("consolidateDeletes resets the generation and guards mixed keys") {
    val sink = mkSink("m_consol2")
    val cursor = s"$wh/m_consol2_cursor"
    val (_, c1) = sink.readChangelogSince(spark, cursor)
    c1()
    sink.deleteWhere("id = 1")
    sink.consolidateDeletes(spark)
    val e = intercept[IllegalArgumentException](
      sink.readChangelogSince(spark, cursor))
    assert(e.getMessage.contains("different table history"), e.getMessage)
    // mixed key-column erasure lists refuse (one merged list cannot
    // anti-join two schemas)
    val mixed = mkSink("m_consol3")
    mixed.deleteKeys(Seq(1L).toDF("id"), Seq("id"))
    mixed.deleteKeys(Seq("a").toDF("cat"), Seq("cat"))
    val em = intercept[IllegalArgumentException](
      mixed.consolidateDeletes(spark))
    assert(em.getMessage.contains("mixed key-column"), em.getMessage)
  }

  test("rollback removes newer delete sidecars of all three kinds") {
    val sink = mkSink("m7")
    sink.deleteKeys(Seq(1L).toDF("id"), Seq("id"))   // v2
    sink.deleteWhere("v > 25.0")                     // v3
    sink.deletePositions(spark, "cat = 'b'")         // v4
    sink.rollbackTo(1)
    assert(!sink.hasPendingDeletes(1))
    assert(sink.read(spark).count() == 3, "rollback must restore all rows")
  }

  test("deletePositions is metadata-only and pins physical rows, not the predicate") {
    val sink = mkSink("m8")
    val before = dataFiles("m8")
    val v2 = sink.deletePositions(spark, "v < 25.0")
    assert(v2 == 2)
    assert(dataFiles("m8") == before,
      "deletePositions must not touch data files")
    assert(sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == Seq(3L))
    // the SEMANTIC pin: a later append matching the same condition
    // survives — positions bind to physical rows at commit time, unlike
    // deleteWhere's forever-filtering predicate
    sink.append(Seq((4L, "a", 11.0)).toDF("id", "cat", "v"))
    assert(sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == Seq(3L, 4L))
    // time travel before the delete still shows everything
    assert(sink.readVersion(spark, 1).count() == 3)
    // catalog serves the position sidecar the same as the other kinds
    assert(spark.sql("SELECT id FROM gmor.m8 ORDER BY id")
      .as[Long].collect().toSeq == Seq(3L, 4L))
    // compact materializes and clears the sidecar
    sink.compact(spark)
    assert(!sink.hasPendingDeletes(sink.snapshotVersions().last))
    assert(sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == Seq(3L, 4L))
  }

  test("deletePositions composes with both other delete flavors") {
    val sink = mkSink("m9")
    sink.deletePositions(spark, "id = 1")            // v2: positional
    sink.deleteKeys(Seq(2L).toDF("id"), Seq("id"))   // v3: erasure list
    sink.append(Seq((4L, "c", 40.0), (5L, "c", 50.0)).toDF("id", "cat", "v"))
    sink.deleteWhere("v > 45.0")                     // v5: predicate
    assert(sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == Seq(3L, 4L))
    // deleting an already-deleted row is harmless (resolved against the
    // head snapshot's semantics — zero new coordinates for id=1)
    sink.deletePositions(spark, "id = 1 OR id = 3")
    assert(sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == Seq(4L))
    assert(sink.readVersion(spark, 1).count() == 3)
  }

  test("deletePositions refuses unversioned tables, live branches, and non-parquet") {
    val sink = mkSink("m10")
    sink.createBranch("audit")
    assert(intercept[IllegalArgumentException](
      sink.deletePositions(spark, "v < 15.0")).getMessage.contains("audit"))
    sink.dropBranch("audit")
    val unv = new TableSink(SinkConfig(tableName = "m10u", warehousePath = wh))
    unv.append(Seq((1L, "a", 1.0)).toDF("id", "cat", "v"))
    assert(intercept[IllegalArgumentException](
      unv.deletePositions(spark, "v < 15.0"))
      .getMessage.contains("versioned"))
    val orc = new TableSink(SinkConfig(tableName = "m10o", warehousePath = wh,
      versioned = true, fileFormat = "orc"))
    orc.append(Seq((1L, "a", 1.0)).toDF("id", "cat", "v"))
    assert(intercept[IllegalArgumentException](
      orc.deletePositions(spark, "v < 15.0"))
      .getMessage.contains("row_index"))
  }

  test("changelog replays all three delete flavors against pre-commit state") {
    val sink = mkSink("mor_chg")                                // v1: 1,2,3
    sink.append(Seq((4L, "b", 40.0), (5L, "a", 5.0)).toDF("id", "cat", "v")) // v2
    sink.deleteWhere("v < 10.0")                                // v3: row 5
    sink.deleteKeys(Seq(1L).toDF("id"), Seq("id"))              // v4: row 1
    sink.deletePositions(spark, "id = 4")                       // v5: row 4
    val chg = sink.readChangelog(spark, 0, 5)
      .select($"_change_version", $"_change_type", $"id")
      .as[(Long, String, Long)].collect().toSet
    assert(chg == Set(
      (1L, "insert", 1L), (1L, "insert", 2L), (1L, "insert", 3L),
      (2L, "insert", 4L), (2L, "insert", 5L),
      (3L, "delete", 5L),
      (4L, "delete", 1L),
      (5L, "delete", 4L)), s"got $chg")
    // a consumer folding the changelog reconstructs the head exactly
    val live = sink.read(spark).select($"id").as[Long].collect().toSet
    assert(live == Set(2L, 3L))
    // narrower windows slice the same stream
    val tail = sink.readChangelog(spark, 3, 5)
      .select($"_change_version", $"_change_type", $"id")
      .as[(Long, String, Long)].collect().toSet
    assert(tail == Set((4L, "delete", 1L), (5L, "delete", 4L)))
    // a row appended under a LIVE predicate never enters the changelog
    sink.append(Seq((6L, "a", 3.0), (7L, "b", 70.0)).toDF("id", "cat", "v")) // v6
    val v6 = sink.readChangelog(spark, 5, 6)
      .select($"_change_type", $"id").as[(String, Long)].collect().toSet
    assert(v6 == Set(("insert", 7L)),
      s"id=6 (v<10 matches the v3 predicate) was never visible: $v6")
  }

  test("SQL DELETE under spark.graft.sql.deleteMode=mor commits a " +
    "position sidecar: ZERO data files rewritten, reads stay correct") {
    val sink = mkSink("m_sqlmor")
    sink.append(Seq((4L, "c", 40.0)).toDF("id", "cat", "v"))
    val before = dataFiles("m_sqlmor")
    try {
      spark.conf.set("spark.graft.sql.deleteMode", "mor")
      spark.sql("DELETE FROM gmor.m_sqlmor WHERE v < 25.0")
      // the statement cost O(scan + matches), not O(data rewritten):
      // every pre-existing data file is byte-identical
      assert(dataFiles("m_sqlmor") == before,
        "MoR SQL DELETE must not rewrite or remove any data file")
      // ...and the SQL door reads straight through the pending sidecar
      assert(spark.sql("SELECT id FROM gmor.m_sqlmor ORDER BY id")
        .as[Long].collect().toSeq == Seq(3L, 4L))
      assert(sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
        == Seq(3L, 4L))
      // position semantics = SQL DELETE semantics: a later matching
      // insert is untouched
      // catalog schema orders the identity partition column last
      spark.sql("INSERT INTO gmor.m_sqlmor VALUES (5, 5.0, 'a')")
      assert(spark.sql("SELECT id FROM gmor.m_sqlmor ORDER BY id")
        .as[Long].collect().toSeq == Seq(3L, 4L, 5L))
      // compact materializes; the table serves identically afterwards
      sink.compact(spark)
      assert(!sink.hasPendingDeletes(sink.snapshotVersions().last))
      assert(spark.sql("SELECT id FROM gmor.m_sqlmor ORDER BY id")
        .as[Long].collect().toSeq == Seq(3L, 4L, 5L))
    } finally spark.conf.unset("spark.graft.sql.deleteMode")
  }

  test("mor delete mode falls back to copy-on-write where the position " +
    "flavor cannot serve (unversioned table)") {
    val unv = new TableSink(SinkConfig(tableName = "m_sqlmoru",
      warehousePath = wh))
    unv.append(Seq((1L, "a", 1.0), (2L, "b", 30.0)).toDF("id", "cat", "v"))
    try {
      spark.conf.set("spark.graft.sql.deleteMode", "mor")
      spark.sql("DELETE FROM gmor.m_sqlmoru WHERE v < 25.0")
      assert(spark.sql("SELECT id FROM gmor.m_sqlmoru").as[Long]
        .collect().toSeq == Seq(2L), "fallback must still delete correctly")
    } finally spark.conf.unset("spark.graft.sql.deleteMode")
  }

  test("a pending MoR sidecar does not disable scan-planning pruning: " +
    "the filter-aware library read narrows its candidate files") {
    val sink = new TableSink(SinkConfig(tableName = "m_prune",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("ts", Transform.Day))))
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    sink.append(Seq(
      (1L, ts("2024-01-01T05:00:00Z"), 10.0),
      (2L, ts("2024-01-02T05:00:00Z"), 20.0),
      (3L, ts("2024-01-03T05:00:00Z"), 30.0)).toDF("id", "ts", "v"))
    sink.deleteWhere("id = 2")                     // pending sidecar
    val head = sink.snapshotVersions().last
    def conj(sql: String) =
      org.apache.spark.sql.graft.Bridge.parseExpression(spark, sql)
    def dataFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.count(_.contains("ts_day="))
    val all = dataFiles(sink.readVersion(spark, head))
    val narrowed = sink.readVersionCandidates(spark, head, Seq(
      conj("ts >= TIMESTAMP '2024-01-03T00:00:00Z'")))
    assert(dataFiles(narrowed) < all,
      s"the day-window bound must prune derived directories " +
        s"(${dataFiles(narrowed)} vs $all files)")
    // correctness: pruning + sidecar subtraction compose
    assert(narrowed.select($"id").as[Long].collect().toSeq == Seq(3L))
    // end-to-end through the SQL door (the catalog's filter-aware MoR
    // serving path): day-window query on the pending-sidecar table
    assert(spark.sql("SELECT id FROM gmor.m_prune " +
        "WHERE ts >= TIMESTAMP '2024-01-02T00:00:00Z' ORDER BY id")
      .as[Long].collect().toSeq == Seq(3L),
      "SQL reads through a pending sidecar must stay correct under " +
        "pushed temporal bounds")
  }

  test("schema evolution composes with MoR serving: a widened column " +
    "and a pending sidecar read back together through SQL") {
    spark.sql("CREATE TABLE gmor.m_widemor (id BIGINT, n INT) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gmor.m_widemor VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql("ALTER TABLE gmor.m_widemor ALTER COLUMN n TYPE BIGINT")
    spark.sql("INSERT INTO gmor.m_widemor VALUES (4, 5000000000)")
    // pending sidecar on the evolved table: the MoR serving path must
    // CONFORM the library frame to the declared schema (upcast the
    // int32 generation) while applying the sidecar
    val sink = new TableSink(SinkConfig(tableName = "m_widemor",
      warehousePath = wh, versioned = true))
    sink.deleteWhere("id = 2")
    val got = spark.sql(
      "SELECT sum(n) AS s, count(*) AS c FROM gmor.m_widemor").head()
    assert(got.getLong(0) == 5000000040L && got.getLong(1) == 3,
      s"widen + sidecar must compose: $got")
    // time travel before the delete, still under the widened schema
    assert(spark.sql("SELECT sum(n) FROM gmor.m_widemor VERSION AS OF 2")
      .head().getLong(0) == 5000000060L)
  }

  test("sidecar COMMITS refuse while a branch is live; a branch over " +
    "EXISTING sidecars reads through them (round-12, refusal deleted)") {
    val sink = mkSink("m5")
    sink.createBranch("audit")
    assert(intercept[IllegalArgumentException](sink.deleteWhere("v < 15.0"))
      .getMessage.contains("audit"))
    sink.dropBranch("audit")
    sink.deleteWhere("v < 15.0")               // v2: subtracts id=1
    // a branch over the pending sidecar serves the SAME view main does
    sink.createBranch("b2")
    assert(sink.readBranch(spark, "b2").select($"id").as[Long]
      .collect().sorted.toSeq == Seq(2L, 3L))
    // staged appends audit through the branch; a staged row matching
    // the live predicate is subtracted exactly as it will be on main
    // after publish (row-scoped predicate semantics)
    sink.appendToBranch("b2",
      Seq((4L, "c", 40.0), (5L, "c", 5.0)).toDF("id", "cat", "v"))
    assert(sink.readBranch(spark, "b2").select($"id").as[Long]
      .collect().sorted.toSeq == Seq(2L, 3L, 4L),
      "branch audit view must preview the post-publish main semantics")
    // the SQL catalog serves the same view through VERSION AS OF 'b2'
    assert(spark.sql("SELECT id FROM gmor.m5 VERSION AS OF 'b2'")
      .as[Long].collect().sorted.toSeq == Seq(2L, 3L, 4L))
    // publish: main = survivors + staged, sidecars still in force
    sink.publishBranch("b2")
    sink.dropBranch("b2")
    assert(sink.read(spark).select($"id").as[Long]
      .collect().sorted.toSeq == Seq(2L, 3L, 4L))
    // main untouched pre-publish is covered above; time travel to the
    // pre-branch head still serves the pre-delete rows
    assert(sink.readVersion(spark, 1).count() == 3)
    // unversioned tables have no commit to attach a predicate to
    val unv = new TableSink(SinkConfig(tableName = "m5u", warehousePath = wh))
    unv.append(Seq((1L, "a", 1.0)).toDF("id", "cat", "v"))
    assert(intercept[IllegalArgumentException](unv.deleteWhere("v < 15.0"))
      .getMessage.contains("versioned"))
  }
  test("deleteKeys REFUSES a NULL-carrying erasure list (round-13): a " +
    "NULL tuple anti-joins nothing, so the erasure would silently never " +
    "happen") {
    val sink = mkSink("m_nullkeys")
    val e = intercept[IllegalArgumentException](sink.deleteKeys(
      Seq(Option(1L), Option.empty[Long]).toDF("id"), Seq("id")))
    assert(e.getMessage.contains("NULL"), e.getMessage)
    assert(sink.snapshotVersions().size == 1, "refusal must not commit")
    // the clean part of the list still erases once repaired
    sink.deleteKeys(Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    assert(sink.read(spark).select($"id").as[Long].collect().toSet
      == Set(2L, 3L))
  }
}
