package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TableSink.expireSnapshotsKeepLast]] — retain-last snapshot expiry:
  * history shortens, the head is untouched, and the guards refuse any
  * expiry that would change live semantics instead of just history. */
class SnapshotExpirySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = Fixtures.fresh("expiry_wh")

  private def mkSink(name: String): TableSink = {
    val sink = new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, "a", 10.0)).toDF("id", "cat", "v"))
    sink.append(Seq((2L, "b", 20.0)).toDF("id", "cat", "v"))
    sink.append(Seq((3L, "a", 30.0)).toDF("id", "cat", "v"))
    sink
  }

  test("keepLast=1 drops old history, keeps the head byte-identical") {
    val sink = mkSink("e1")
    val headBefore = sink.read(spark).select($"id").as[Long]
      .collect().sorted.toSeq
    assert(sink.expireSnapshotsKeepLast(1) == Seq(1, 2))
    assert(sink.snapshotVersions() == Seq(3))
    assert(sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == headBefore)
    // append-only history: every old file is in the head manifest, so
    // expiry deletes manifests only — the data files all survive
    assert(sink.readVersion(spark, 3).count() == 3)
    // dropped versions now fail with the expired-snapshot error
    assert(intercept[IllegalArgumentException](sink.readVersion(spark, 1))
      .getMessage.contains("expired"))
    // history keeps moving: the next append commits as v4
    sink.append(Seq((4L, "c", 40.0)).toDF("id", "cat", "v"))
    assert(sink.snapshotVersions() == Seq(3, 4))
    assert(sink.read(spark).count() == 4)
  }

  test("olderThan drops the pre-cutoff prefix, never the head") {
    val sink = mkSink("e_age")
    // backdate v1 and v2 well before the cutoff; v3 stays young
    import org.apache.hadoop.fs.{Path => HPath}
    val log = s"$wh/e_age/_graft_log"
    val old = System.currentTimeMillis() - 10 * 24 * 3600 * 1000L
    Seq(1, 2).foreach { v =>
      WarehouseIO.fs(new HPath(log))
        .setTimes(new HPath(log, f"v$v%05d.list"), old, -1)
    }
    val cutoff = System.currentTimeMillis() - 7 * 24 * 3600 * 1000L
    assert(sink.expireSnapshotsOlderThan(cutoff) == Seq(1, 2))
    assert(sink.snapshotVersions() == Seq(3))
    assert(sink.read(spark).count() == 3, "head data untouched")
    // everything older than 'now + 1h': keepLast floor still saves the head
    val sink2 = mkSink("e_age2")
    val future = System.currentTimeMillis() + 3600 * 1000L
    assert(sink2.expireSnapshotsOlderThan(future) == Seq(1, 2))
    assert(sink2.snapshotVersions() == Seq(3))
  }

  test("changelog refuses a delete version whose predecessor was expired") {
    val sink = new TableSink(SinkConfig(tableName = "e_chg",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, "a", 10.0), (2L, "a", 20.0)).toDF("id", "cat", "v"))
    sink.deleteWhere("id = 1")                       // v2 carries a sidecar
    sink.append(Seq((3L, "b", 30.0)).toDF("id", "cat", "v")) // v3
    sink.expireSnapshotsKeepLast(2)                  // drops v1 (no sidecar)
    assert(sink.snapshotVersions() == Seq(2, 3))
    val e = intercept[IllegalArgumentException] {
      sink.readChangelog(spark, 0, 3).collect()
    }
    assert(e.getMessage.contains("pre-commit snapshot was expired"),
      e.getMessage)
    // a range that starts after the orphaned delete still replays
    val tail = sink.readChangelog(spark, 2, 3)
      .select($"id").as[Long].collect().toSeq
    assert(tail == Seq(3L))
  }

  test("vacuum composes expiry then the orphan sweep") {
    val sink = mkSink("e_vac")                                // v1..v3
    sink.append(Seq((4L, "b", 40.0)).toDF("id", "cat", "v"))  // v4
    sink.append(Seq((5L, "c", 50.0)).toDF("id", "cat", "v"))  // v5
    // a stray file the manifest never recorded
    WarehouseIO.writeString(new org.apache.hadoop.fs.Path(
      s"$wh/e_vac/cat=z/part-stray.parquet"), "stray")
    val (expired, removed) =
      sink.vacuum(cutoffMs = System.currentTimeMillis() + 1000,
        keepLast = 1, graceMs = 0L)
    assert(expired == Seq(1, 2, 3, 4), s"expired: $expired")
    assert(removed == Seq("cat=z/part-stray.parquet"), s"removed: $removed")
    assert(sink.snapshotVersions() == Seq(5))
    assert(sink.read(spark).count() == 5, "live data intact after vacuum")
  }

  test("keepLast >= history is a no-op; keepLast < 1 refuses") {
    val sink = mkSink("e2")
    assert(sink.expireSnapshotsKeepLast(3) == Nil)
    assert(sink.expireSnapshotsKeepLast(10) == Nil)
    assert(sink.snapshotVersions() == Seq(1, 2, 3))
    assert(intercept[IllegalArgumentException](
      sink.expireSnapshotsKeepLast(0)).getMessage.contains(">= 1"))
  }

  test("a tag pinning a to-be-dropped snapshot refuses; on the head it survives") {
    val sink = mkSink("e3")
    sink.createTag("old", Some(1))
    assert(intercept[IllegalArgumentException](
      sink.expireSnapshotsKeepLast(1)).getMessage.contains("old"))
    sink.dropTag("old")
    sink.createTag("head", Some(3))
    assert(sink.expireSnapshotsKeepLast(1) == Seq(1, 2))
    assert(sink.tagVersion("head") == 3)
    assert(sink.readTag(spark, "head").count() == 3)
  }

  test("pending delete sidecars in dropped history refuse (no resurrection)") {
    val sink = mkSink("e4")
    sink.deleteWhere("v < 15.0") // v4 sidecar
    sink.append(Seq((5L, "c", 50.0)).toDF("id", "cat", "v")) // v5
    // dropping v4 would orphan its predicate and resurrect id=1
    assert(intercept[IllegalArgumentException](
      sink.expireSnapshotsKeepLast(1)).getMessage.contains("resurrect"))
    // keeping v4 and newer is fine; the predicate still applies
    assert(sink.expireSnapshotsKeepLast(2) == Seq(1, 2, 3))
    assert(sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == Seq(2L, 3L, 5L))
  }

  test("files referenced only by dropped history are reclaimed after rollback") {
    val sink = mkSink("e5")
    sink.rollbackTo(2) // v3's file deleted by rollback itself
    sink.append(Seq((6L, "d", 60.0)).toDF("id", "cat", "v")) // new v3
    // v1/v2 manifests drop; all their files are still in the head
    assert(sink.expireSnapshotsKeepLast(1) == Seq(1, 2))
    assert(sink.read(spark).select($"id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 6L))
    assert(sink.removeOrphans().isEmpty,
      "expiry must leave no orphan files behind")
  }
}
