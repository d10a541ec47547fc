package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized (seeded, deterministic) sequences over the maintenance
  * surface — the invariants hand-written cases can only spot-check:
  *  - [[TableSink.consolidateDeletes]] must preserve the surviving row
  *    set for ANY interleaving of appends and delete flavors;
  *  - a [[MaterializedView]] refreshed at arbitrary points must equal a
  *    direct recomputation of the final state.
  */
class MaintenancePropertySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = TestSpark.tmpDir("maintprop_wh")

  private def mkSink(name: String): TableSink = {
    val sink = new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append((1L to 10L).map(i => (i, s"c${i % 3}", i * 10.0))
      .toDF("id", "cat", "v"))
    sink
  }

  private def ids(sink: TableSink): Seq[Long] =
    sink.read(spark).select($"id").as[Long].collect().sorted.toSeq

  test("consolidateDeletes preserves reads over random op sequences") {
    val rnd = new scala.util.Random(42)
    (1 to 4).foreach { trial =>
      val sink = mkSink(s"prop_c$trial")
      // every sidecar is snapshot-referenced: no per-version
      // vNNNNN.deletes / vNNNNN_keys / vNNNNN_pos name is ever written
      def assertNoVersionNamedSidecars(): Unit = {
        val named = TestSpark.childNames(new org.apache.hadoop.fs.Path(
          sink.config.tablePath, "_graft_log"))
          .filter(_.matches("""v\d{5}(\.deletes|_keys|_pos)"""))
        assert(named.isEmpty, s"trial $trial: version-named sidecars $named")
      }
      var nextId = 11L
      (1 to 5).foreach { _ =>
        rnd.nextInt(3) match {
          case 0 =>
            sink.append(Seq(nextId, nextId + 1)
              .map(i => (i, s"c${i % 3}", i * 10.0)).toDF("id", "cat", "v"))
            nextId += 2
          case 1 =>
            sink.deleteWhere(s"id % ${2 + rnd.nextInt(5)} = 0")
          case 2 =>
            val victims = rnd.shuffle((1L until nextId).toList).take(2)
            sink.deleteKeys(victims.toDF("id"), Seq("id"))
        }
        assertNoVersionNamedSidecars()
      }
      val before = ids(sink)
      if (sink.snapshotVersions().lastOption.exists(sink.hasPendingDeletes)) {
        val vNew = sink.consolidateDeletes(spark)
        assert(ids(sink) == before,
          s"trial $trial: consolidation changed the surviving rows")
        assert(sink.snapshotVersions() == Seq(vNew),
          s"trial $trial: history must collapse to the merged commit")
        assertNoVersionNamedSidecars()
        // and the merged sidecars stay LIVE for later appends: re-adding
        // a deleted id under a still-live predicate keeps it invisible
        // (the same cumulative contract the per-version sidecars had)
        val after2 = ids(sink)
        sink.append(Seq((nextId, s"c${nextId % 3}", 1.0))
          .toDF("id", "cat", "v"))
        assert(ids(sink).filterNot(after2.contains).forall(_ == nextId),
          s"trial $trial: consolidation must not resurrect anything")
        nextId += 1
      }
    }
  }

  test("layered log: random append/merge/expire/rollback/WAP sequences " +
    "preserve every retained snapshot and leave zero manifest debris") {
    import org.apache.hadoop.fs.{Path => HPath}
    val rnd = new scala.util.Random(99)
    (1 to 3).foreach { trial =>
      val name = s"prop_log$trial"
      // tiny merge threshold so merge-on-commit fires INSIDE the random
      // sequence, interleaved with explicit merges, expiry, and rollback
      val sink = new TableSink(SinkConfig(tableName = name,
        warehousePath = wh, versioned = true,
        partitionSpec = Seq(PartitionField("cat", Transform.Identity)),
        manifestMergeThreshold = 3))
      var nextId = 1L
      var model = Map.empty[Int, Set[Long]] // version -> expected id set
      def headSet: Set[Long] =
        if (model.isEmpty) Set.empty else model(model.keys.max)
      def freshIds(): Seq[Long] = {
        val b = Seq(nextId, nextId + 1); nextId += 2; b
      }
      def df(b: Seq[Long]) =
        b.map(i => (i, s"c${i % 3}", i * 10.0)).toDF("id", "cat", "v")
      def appendBatch(): Unit = {
        val b = freshIds()
        sink.append(df(b))
        model += sink.snapshotVersions().last -> (headSet ++ b)
      }
      appendBatch()
      (1 to 8).foreach { _ =>
        rnd.nextInt(5) match {
          case 0 => appendBatch()
          case 1 =>
            val v = sink.compactManifests()
            model += v -> headSet
          case 2 if model.size > 1 =>
            val keep = 1 + rnd.nextInt(model.size)
            val dropped = sink.expireSnapshotsKeepLast(keep)
            model --= dropped
          case 3 if model.size > 1 =>
            val vs = model.keys.toSeq.sorted
            val target = vs(rnd.nextInt(vs.size - 1))
            sink.rollbackTo(target)
            model = model.filter(_._1 <= target)
          case _ =>
            val b = freshIds()
            sink.createBranch("wap")
            sink.appendToBranch("wap", df(b))
            val v = sink.publishBranch("wap")
            sink.dropBranch("wap")
            model += v -> (headSet ++ b)
        }
      }
      assert(sink.snapshotVersions().toSet == model.keys.toSet,
        s"trial $trial: retained versions diverge from the model")
      model.toSeq.sortBy(_._1).foreach { case (v, want) =>
        val got = sink.readVersion(spark, v)
          .select($"id").as[Long].collect().toSet
        assert(got == want,
          s"trial $trial v$v: snapshot reads ${got.toSeq.sorted}, " +
            s"model says ${want.toSeq.sorted}")
      }
      // zero debris: every on-disk manifest is referenced by a retained
      // snapshot, and every referenced manifest exists
      val log = new HPath(s"$wh/$name/_graft_log")
      val onDisk = TestSpark.childNames(log)
        .filter(n => n.startsWith("m-") && n.endsWith(".mf")).toSet
      val referenced = sink.snapshotVersions().flatMap(v =>
        TableLog.snapshotManifestNames(
          new HPath(log, f"v$v%05d.list"))).toSet
      assert(onDisk == referenced,
        s"trial $trial: manifest debris ${onDisk -- referenced} / " +
          s"dangling ${referenced -- onDisk}")
    }
  }

  test("materialized view equals recompute under random refresh points") {
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val sink = mkSink(s"prop_mv$trial")
      val mv = new MaterializedView(sink, s"$wh/prop_mv${trial}_view",
        Seq("cat"), Seq("v"))
      var nextId = 11L
      (1 to 6).foreach { _ =>
        rnd.nextInt(3) match {
          case 0 =>
            sink.append(Seq(nextId, nextId + 1)
              .map(i => (i, s"c${i % 3}", i * 10.0)).toDF("id", "cat", "v"))
            nextId += 2
          case 1 =>
            sink.deleteWhere(s"id % ${3 + rnd.nextInt(4)} = 1")
          case 2 => () // idle step: refresh cadence decoupled from commits
        }
        if (rnd.nextBoolean()) mv.refresh(spark)
      }
      mv.refresh(spark) // catch up to head
      val got = mv.read(spark)
        .select($"cat", $"n", $"sum_v".cast("string"))
        .as[(String, Long, String)].collect().sortBy(_._1).toSeq
      val want = sink.read(spark)
        .groupBy($"cat")
        .agg(count(lit(1)).as("n"),
          sum($"v".cast("decimal(38,2)")).cast("string").as("s"))
        .as[(String, Long, String)].collect().sortBy(_._1).toSeq
      assert(got == want,
        s"trial $trial: incremental view diverged from recompute")
    }
  }
}
