package graft

import org.scalatest.funsuite.AnyFunSuite

/** The staged append commit protocol: a versioned append commits `head
  * manifest + exactly the files it wrote` WITHOUT walking the table
  * directory — O(added files) metadata per commit, flat in the table's
  * pre-existing file count. The [[TableSink.directoryWalks]] counter is
  * the witness: after the first commit (which may bootstrap the manifest
  * from a listing), appends must take ZERO table-wide walks. */
class AppendCommitSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = TestSpark.tmpDir("appendcommit_wh")

  test("mergeManifestLines: later chunk wins among stats-bearing " +
    "duplicates even when its line is SHORTER; bare never demotes stats") {
    // "longer wins" (the old rule) would keep the stale long entry when a
    // re-analyze legitimately shrinks the stats JSON (e.g. a column
    // dropped from the registry) — stale bounds can mis-prune.
    val older = Seq("a.parquet\t{\"n\":5,\"z\":{\"x\":[\"1\",\"9\"],\"y\":[\"0\",\"3\"]}}",
      "b.parquet\t{\"n\":2}")
    val newer = Seq("a.parquet\t{\"n\":5,\"z\":{\"x\":[\"2\",\"8\"]}}", // shorter!
      "b.parquet") // bare path: must NOT demote b's stats entry
    val merged = TableLog.mergeManifestLines(Seq(older, newer))
    assert(merged.contains("a.parquet\t{\"n\":5,\"z\":{\"x\":[\"2\",\"8\"]}}"),
      s"later stats entry must win regardless of length: $merged")
    assert(merged.contains("b.parquet\t{\"n\":2}"),
      s"a bare path must never demote an existing stats entry: $merged")
    assert(merged.size == 2)
  }

  private def mkSink(name: String): TableSink =
    new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))

  private def batch(ids: Long*) =
    ids.map(i => (i, if (i % 2 == 0) "a" else "b", i * 1.0))
      .toDF("id", "cat", "v")

  test("appends after the first commit never walk the table directory") {
    val sink = mkSink("ac_t1")
    sink.append(batch(1L, 2L))          // first commit may bootstrap-list
    val walksAfterFirst = sink.directoryWalks
    sink.append(batch(3L, 4L))
    sink.append(batch(5L, 6L))
    sink.append(batch(7L, 8L))
    assert(sink.directoryWalks == walksAfterFirst,
      "append commits after the first must be O(added files): no " +
        s"table-wide directory walk (took ${
          sink.directoryWalks - walksAfterFirst} extra walks)")
    assert(sink.read(spark).count() == 8)
    assert(sink.snapshotVersions() == Seq(1, 2, 3, 4))
    // each commit added exactly its own files: manifests strictly grow
    val sizes = sink.snapshotVersions()
      .map(v => sink.readVersion(spark, v).count())
    assert(sizes == Seq(2L, 4L, 6L, 8L))
  }

  test("commit records only this write's files — strays stay orphans") {
    val sink = mkSink("ac_t2")
    sink.append(batch(1L))
    // plant a foreign data-looking file the manifest must never absorb
    val stray = new org.apache.hadoop.fs.Path(
      s"$wh/ac_t2/cat=a/part-foreign-00000.parquet")
    WarehouseIO.writeString(stray, "not really parquet")
    sink.append(batch(2L, 3L))
    assert(sink.readVersion(spark, 2).count() == 3,
      "manifest = base + this write's rows only")
    val orphans = sink.removeOrphans(graceMs = 0L)
    assert(orphans == Seq("cat=a/part-foreign-00000.parquet"),
      s"the stray is referenced by no manifest; got $orphans")
  }

  test("branch appends use the same staged O(added) commit") {
    val sink = mkSink("ac_t3")
    sink.append(batch(1L, 2L))
    sink.createBranch("audit")
    val walksBefore = sink.directoryWalks
    sink.appendToBranch("audit", batch(3L, 4L))
    assert(sink.directoryWalks == walksBefore,
      "branch append must not walk the table directory")
    assert(sink.readBranch(spark, "audit").count() == 4)
    assert(sink.readVersion(spark, 1).count() == 2,
      "main head unmoved by the staged branch append")
    sink.publishBranch("audit")
    assert(sink.read(spark).count() == 4)
    sink.dropBranch("audit")
  }

  test("exclusive manifest create: one winner, loser merges the new head") {
    val sink = mkSink("ac_t5")
    sink.append(batch(1L))
    // a concurrent committer lands v2 between our base read and our claim
    val log = new org.apache.hadoop.fs.Path(s"$wh/ac_t5/_graft_log")
    val v2 = new org.apache.hadoop.fs.Path(log, "v00002.list")
    val v1Files = sink.readVersion(spark, 1).inputFiles.toSeq
    val v2Snapshot = TableLog.renderSnapshot(
      TableLog.snapshotManifestNames(
        new org.apache.hadoop.fs.Path(log, "v00001.list")) :+
        TableLog.writeManifestLines(log, Seq("cat=a/concurrent.parquet")))
    assert(WarehouseIO.writeStringIfAbsent(v2, v2Snapshot))
    assert(!WarehouseIO.writeStringIfAbsent(v2, "overwrite-attempt"),
      "exclusive create must refuse an existing version file")
    assert(WarehouseIO.readString(v2) == v2Snapshot,
      "losing claim must not clobber the winner's manifest")
    // our commit retries against the NEW head: v3 = v2's files + ours
    // (the file must physically exist — the commit now verifies its own
    // files were not swept by a racing rewrite)
    WarehouseIO.writeStringAtomic(
      new org.apache.hadoop.fs.Path(s"$wh/ac_t5/cat=b/mine.parquet"), "")
    val v = sink.commitAppendedFiles(Seq("cat=b/mine.parquet"))
    assert(v == 3)
    val m3 = TableLog.readSnapshotFiles(log,
      new org.apache.hadoop.fs.Path(log, "v00003.list")).toSet
    assert(m3.contains("cat=a/concurrent.parquet"),
      "stale-base overwrite would have lost the concurrent commit")
    assert(m3.contains("cat=b/mine.parquet"))
    assert(v1Files.nonEmpty)
  }

  test("a header-less version file is refused by name on read and append") {
    val sink = mkSink("ac_nohdr")
    sink.append(batch(1L))
    // an inline file list without the #manifests header: no writer
    // produces this shape, so readers refuse it instead of guessing
    WarehouseIO.writeString(new org.apache.hadoop.fs.Path(
      s"$wh/ac_nohdr/_graft_log/v00002.list"), "cat=b/x.parquet")
    val onRead = intercept[IllegalArgumentException](
      sink.read(spark).count())
    assert(onRead.getMessage.contains("v00002.list") &&
      onRead.getMessage.contains(TableLog.SnapshotHeader), onRead.getMessage)
    val onAppend = intercept[IllegalArgumentException](
      sink.append(batch(3L)))
    assert(onAppend.getMessage.contains("v00002.list") &&
      onAppend.getMessage.contains(TableLog.SnapshotHeader),
      onAppend.getMessage)
    assert(sink.snapshotVersions() == Seq(1, 2),
      "a refused append claims no version")
  }

  test("racing appends from multiple threads all survive in the head") {
    val sink = mkSink("ac_t6")
    sink.append(batch(0L))                      // v1
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val runs = (1 to 4).map { i =>
      Future { sink.append(batch(i * 10L, i * 10L + 1)) }
    }
    Await.result(Future.sequence(runs), 120.seconds)
    assert(sink.snapshotVersions() == Seq(1, 2, 3, 4, 5),
      "every racing append must claim its own version")
    val ids = sink.readVersion(spark, 5).select($"id").as[Long]
      .collect().sorted.toSeq
    assert(ids == Seq(0L, 10L, 11L, 20L, 21L, 30L, 31L, 40L, 41L),
      "no concurrent append's rows may be lost to a stale-base commit")
  }

  test("row lineage tags each row with its introducing commit") {
    val sink = mkSink("ac_lin")
    sink.append(batch(1L, 2L))                         // v1
    sink.append(batch(3L))                             // v2
    sink.deleteKeys(Seq(2L).toDF("id"), Seq("id"))     // v3: MoR delete
    val got = sink.readWithCommitVersion(spark)
      .select($"id", $"_commit_version").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L), (3L, 2L)),
      s"lineage must survive the delete anti-join and tag by commit: $got")
    // unversioned tables have no commit record to attribute
    val flat = new TableSink(SinkConfig("ac_lin_flat", wh))
    flat.append(batch(9L))
    intercept[IllegalArgumentException](flat.readWithCommitVersion(spark))
  }

  test("orphan grace window protects an in-flight committer's files") {
    val sink = mkSink("ac_t7")
    sink.append(batch(1L))
    // a racing staged write has renamed its file into place but not yet
    // claimed its version — to the sweeper it looks exactly like an orphan
    val inflight = new org.apache.hadoop.fs.Path(
      s"$wh/ac_t7/cat=a/part-inflight-00000.parquet")
    WarehouseIO.writeString(inflight, "racing committer's staged bytes")
    assert(sink.removeOrphans().isEmpty,  // default 24 h grace
      "a fresh unreferenced file must survive the default grace window")
    assert(WarehouseIO.isFile(inflight))
    // past the grace window the same file is crash debris
    assert(sink.removeOrphans(graceMs = 0L) ==
      Seq("cat=a/part-inflight-00000.parquet"))
    intercept[IllegalArgumentException](sink.removeOrphans(graceMs = -1L))
  }

  test("crashed staging directories are swept past the grace window") {
    val sink = mkSink("ac_t8")
    sink.append(batch(1L))
    val dead = new org.apache.hadoop.fs.Path(
      s"$wh/ac_t8/_staging/append-deadbeef0000")
    WarehouseIO.writeString(
      new org.apache.hadoop.fs.Path(dead, "cat=a/part-00000.parquet"),
      "killed writer's partial stage")
    assert(sink.removeOrphans().isEmpty,
      "a fresh staging dir may belong to a live writer — keep it")
    assert(WarehouseIO.isDir(dead))
    val swept = sink.removeOrphans(graceMs = 0L)
    assert(swept == Seq("_staging/append-deadbeef0000"), s"got $swept")
    assert(!WarehouseIO.exists(dead))
    assert(sink.read(spark).count() == 1, "committed data untouched")
  }

  test("no staging debris is left under the table after an append") {
    val sink = mkSink("ac_t4")
    sink.append(batch(1L, 2L, 3L))
    sink.append(batch(4L))
    val staging = new org.apache.hadoop.fs.Path(s"$wh/ac_t4/_staging")
    assert(TestSpark.childNames(staging).isEmpty,
      "every staged write cleans its staging dir")
  }

  test("a commit whose files were swept by a racing rewrite refuses loudly") {
    val sink = mkSink("ac_t9")
    sink.append(batch(1L, 2L))
    // simulate the append-vs-rewrite race: the appender renamed its files
    // into the table, a rewrite swapped the root (sweeping them), and the
    // appender now tries to claim its commit — it must refuse instead of
    // publishing a manifest that references deleted files
    val e = intercept[IllegalStateException] {
      sink.commitAppendedFiles(Seq("cat=a/part-race-swept.parquet"))
    }
    assert(e.getMessage.contains("raced a table rewrite"), e.getMessage)
    // the log is untouched: no phantom version was claimed
    assert(sink.snapshotVersions() == Seq(1))
  }

  // ----------------------------------------------- layered manifests
  import org.apache.hadoop.fs.{Path => HPath}

  private def logDir(name: String) = new HPath(s"$wh/$name/_graft_log")

  private def manifestNamesIn(name: String): Seq[String] =
    TestSpark.childNames(logDir(name))
      .filter(n => n.startsWith("m-") && n.endsWith(".mf")).sorted

  private def headManifestCount(name: String, v: Int): Int =
    TableLog.snapshotManifestNames(
      new HPath(logDir(name), f"v$v%05d.list")).size

  private def logBytes(name: String): Long =
    TestSpark.childNames(logDir(name))
      .filterNot(_.startsWith(".")) // checksum sidecars fluctuate
      .map(n => WarehouseIO.sizeOf(new HPath(logDir(name), n))).sum

  test("commit metadata bytes are O(added files), flat in table size") {
    // two tables whose PRE-EXISTING file counts differ 10×: the one-file
    // append's metadata write must cost the same on both — the layered
    // commit records `head manifest NAMES + own delta`, never re-writing
    // the table's file list
    def seeded(name: String, files: Int): TableSink = {
      val sink = mkSink(name)
      val df = (1L to files.toLong)
        .map(i => (i, f"c$i%03d", i * 1.0)).toDF("id", "cat", "v")
      sink.append(df) // one commit, `files` distinct partitions = files
      sink
    }
    val small = seeded("ac_small", 6)
    val big = seeded("ac_big", 60)
    assert(big.read(spark).inputFiles.length >=
      small.read(spark).inputFiles.length * 8,
      "fixture: big table must hold ~10x the files")
    def commitCost(sink: TableSink): Long = {
      val before = WarehouseIO.metaBytesWritten.get()
      sink.append(batch(999L)) // identical one-file append on both
      WarehouseIO.metaBytesWritten.get() - before
    }
    val costSmall = commitCost(small)
    val costBig = commitCost(big)
    assert(costBig <= costSmall + 64,
      s"append commit metadata must not grow with pre-existing file " +
        s"count: $costSmall bytes on 6 files vs $costBig bytes on 60")
    // and per-append LOG growth is flat too (snapshot history shares
    // manifests instead of storing K full copies)
    def appendGrowth(sink: TableSink, name: String): Long = {
      val before = logBytes(name)
      sink.append(batch(998L))
      logBytes(name) - before
    }
    val gSmall = appendGrowth(small, "ac_small")
    val gBig = appendGrowth(big, "ac_big")
    assert(gBig <= gSmall + 64,
      s"per-append log growth must be flat in table size: $gSmall vs $gBig")
  }

  test("compactManifests folds the head chain to one manifest; history " +
    "and reads are unaffected; expiry GCs the old deltas") {
    val sink = mkSink("ac_mc")
    (1L to 4L).foreach(i => sink.append(batch(i)))
    assert(headManifestCount("ac_mc", 4) == 4,
      "each commit contributes one delta manifest")
    val v5 = sink.compactManifests()
    assert(v5 == 5)
    assert(headManifestCount("ac_mc", 5) == 1,
      "the compacted head references exactly one merged manifest")
    assert(sink.readVersion(spark, 5).count() == 4)
    assert(sink.readVersion(spark, 2).count() == 2,
      "older snapshots keep reading through the original deltas")
    // appends chain off the merged manifest: head stays short
    sink.append(batch(9L))
    assert(headManifestCount("ac_mc", 6) == 2)
    // expiry drops the old snapshots → their now-unreferenced deltas go
    val before = manifestNamesIn("ac_mc").size
    sink.expireSnapshotsKeepLast(2)
    val after = manifestNamesIn("ac_mc").size
    assert(after == 2,
      s"only the merged manifest + the new delta survive (was $before, " +
        s"now $after)")
    assert(sink.read(spark).count() == 5, "data untouched by manifest ops")
  }

  test("merge-on-commit bounds the head's manifest count (amortized fold)") {
    val sink = new TableSink(SinkConfig(tableName = "ac_amc",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity)),
      manifestMergeThreshold = 4))
    (1L to 7L).foreach(i => sink.append(batch(i)))
    // commits 1-4 chain deltas (4 ≤ threshold); commit 5 would reference
    // 5 → folds the chain into ONE merged manifest; 6-7 chain again
    assert(headManifestCount("ac_amc", 4) == 4)
    assert(headManifestCount("ac_amc", 5) == 1,
      "the threshold-crossing commit folds the chain")
    assert(headManifestCount("ac_amc", 7) == 3)
    assert(sink.read(spark).count() == 7)
    assert(sink.readVersion(spark, 3).count() == 3,
      "pre-merge history keeps reading through the original deltas")
    // no debris: every surviving m-*.mf is referenced by SOME snapshot
    // (the merge commit deletes its own superseded delta)
    val referenced = (1 to 7).flatMap(v =>
      TableLog.snapshotManifestNames(
        new HPath(logDir("ac_amc"), f"v$v%05d.list"))).toSet
    assert(manifestNamesIn("ac_amc").toSet == referenced,
      "unreferenced manifest debris after merge-on-commit")
  }

  test("dropped branches GC their delta manifests; shared ones survive") {
    val sink = mkSink("ac_gc")
    sink.append(batch(1L, 2L))
    sink.createBranch("wip")
    sink.appendToBranch("wip", batch(3L))
    val withBranch = manifestNamesIn("ac_gc").size
    assert(withBranch == 2, "main delta + branch delta")
    sink.dropBranch("wip")
    assert(manifestNamesIn("ac_gc").size == 1,
      "the branch-only delta is GCed; main's survives")
    // the branch's DATA file is an orphan now (documented WAP contract:
    // reclaim via removeOrphans); the committed snapshot never saw it
    assert(sink.readVersion(spark, 1).count() == 2)
    sink.removeOrphans(graceMs = 0L)
    assert(sink.read(spark).count() == 2)
  }

  test("writeStringAtomic over a writeString-created file leaves no " +
    "stale checksum sidecar") {
    import org.apache.hadoop.fs.{Path => HPath}
    val p = new HPath(s"$wh/_crc_probe/state")
    // writeString goes through the checksummed LocalFileSystem and leaves
    // a .crc sidecar; the atomic overwrite moves the RAW file underneath
    // it — the sidecar must go with the old bytes or the next read throws
    // ChecksumException (hit in production by CREATE TABLE's schema file
    // followed by ALTER TABLE's atomic evolution)
    WarehouseIO.writeString(p, "schema-v1")
    WarehouseIO.writeStringAtomic(p, "schema-v2-evolved")
    assert(WarehouseIO.readString(p) == "schema-v2-evolved")
  }

  test("manifest GC spares moments-old unreferenced manifests (an " +
    "in-flight append's delta) until they age past the grace") {
    import org.apache.hadoop.fs.{Path => HPath}
    val sink = mkSink("ac_gcgrace")
    sink.append(batch(1L, 2L))
    sink.append(batch(3L, 4L))
    // an in-flight append's freshly-written, not-yet-claimed delta
    val inflight = new HPath(s"$wh/ac_gcgrace/_graft_log/m-inflight00.mf")
    WarehouseIO.writeString(inflight, "cat=a/part-inflight.parquet")
    val prev = WarehouseIO.manifestGcGraceMs
    try {
      WarehouseIO.manifestGcGraceMs = 60000L
      sink.expireSnapshotsKeepLast(1) // history-dropping op → runs GC
      assert(WarehouseIO.exists(inflight),
        "GC must not reap a young unreferenced manifest — a concurrent " +
          "append may be about to claim it")
      WarehouseIO.manifestGcGraceMs = 0L
      sink.append(batch(5L, 6L)) // gives the next expiry history to drop
      sink.expireSnapshotsKeepLast(1)
      assert(!WarehouseIO.exists(inflight),
        "past the grace the orphan is reclaimed")
    } finally WarehouseIO.manifestGcGraceMs = prev
    assert(sink.read(spark).count() == 6, "table data unaffected")
  }

  test("a rewrite landing INSIDE the commit window is detected and the " +
    "claimed manifest retracted") {
    import org.apache.hadoop.fs.{Path => HPath}
    val sink = mkSink("ac_t10")
    sink.append(batch(1L, 2L))
    // a real (renamed) file, so the PRE-claim existence check passes...
    val rel = "cat=a/part-inwindow-00000.parquet"
    WarehouseIO.writeString(new HPath(s"$wh/ac_t10/$rel"), "x")
    // ...then a simulated rewrite lands in the check-to-claim window:
    // sweeps the file and restarts the log generation
    sink.raceWindowCheckHook = () => {
      WarehouseIO.delete(new HPath(s"$wh/ac_t10/$rel"))
      WarehouseIO.delete(new HPath(s"$wh/ac_t10/_graft_log/generation"))
    }
    try {
      val e = intercept[IllegalStateException] {
        sink.commitAppendedFiles(Seq(rel))
      }
      assert(e.getMessage.contains("inside the commit window"), e.getMessage)
      // the post-claim verification retracted the phantom version file:
      // the durable log never keeps a manifest referencing swept files
      assert(sink.snapshotVersions() == Seq(1),
        "claimed manifest must be retracted on an in-window race")
    } finally sink.raceWindowCheckHook = () => ()
    assert(sink.read(spark).count() == 2, "table still reads clean")
  }
}
