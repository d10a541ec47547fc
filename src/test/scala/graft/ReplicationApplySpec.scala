package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** [[TableSink.replicateTo]]'s apply reads the facts it needs off the two
  * pins it already runs (the consumed versions, the net-change counts,
  * the NULL-key counts and the insert winners' key envelope), so a
  * steady-state apply launches a bounded number of Spark jobs. The
  * batches it cannot prove keyed still reach the public entries' checks
  * and refusal messages. */
class ReplicationApplySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = Fixtures.fresh("replapply_wh")

  private def mkSink(name: String): TableSink =
    new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))

  private def mkReplica(name: String): TableSink =
    new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true))

  private def rows(ids: Range, v: Double) =
    ids.map(i => (i.toLong, if (i % 2 == 0) "a" else "b", v + i)).toDF("id", "cat", "v")

  private def state(sink: TableSink): Set[(Long, String, Double)] =
    sink.read(spark).select($"id", $"cat", $"v")
      .as[(Long, String, Double)].collect().toSet

  private def hasPendingAtHead(sink: TableSink): Boolean =
    sink.hasPendingDeletes(sink.snapshotVersions().last)

  test("a steady-state apply and a retraction apply stay under their " +
    "job ceilings and land the source state") {
    val src = mkSink("steady")
    val replica = mkReplica("steady_rep")
    val cursor = s"$wh/steady_cursor"
    src.append(rows(1 to 40, 0.0))
    src.replicateTo(spark, replica, Seq("id"), cursor) // initial copy
    // updates of live keys plus new keys: the replica now holds a
    // pending position list at its head
    src.updateMor(spark, $"id" <= 5L, Seq("v" -> ($"v" + 100.0)))
    src.append(rows(41 to 45, 0.0))
    src.replicateTo(spark, replica, Seq("id"), cursor)
    assert(hasPendingAtHead(replica))
    assert(state(replica) == state(src))
    // the measured steady apply: updates and new keys in one batch
    src.updateMor(spark, $"id" > 5L && $"id" <= 10L,
      Seq("v" -> ($"v" + 200.0)))
    src.append(rows(46 to 50, 0.0))
    var applied: Seq[Long] = Nil
    val steady = TestSpark.jobsDuring {
      applied = src.replicateTo(spark, replica, Seq("id"), cursor)
    }
    assert(applied == Seq(4L, 5L), s"applied source versions: $applied")
    assert(state(replica) == state(src))
    assert(steady.size <= SteadyApplyJobs,
      s"steady apply ran ${steady.size} jobs (ceiling $SteadyApplyJobs): " +
        steady.mkString("; "))
    // a retraction: one delete-only batch
    src.deleteKeys(Seq(1L, 2L, 3L).toDF("id"), Seq("id"))
    val retraction = TestSpark.jobsDuring {
      src.replicateTo(spark, replica, Seq("id"), cursor)
    }
    assert(state(replica) == state(src))
    assert(!state(replica).exists(_._1 <= 3L))
    assert(retraction.size <= RetractionApplyJobs,
      s"retraction apply ran ${retraction.size} jobs (ceiling " +
        s"$RetractionApplyJobs): " + retraction.mkString("; "))
  }

  /** Measured on this design: 10 and 7. The apply that re-derived these
    * facts in jobs of their own ran 21 and 13 on the same batches. */
  private val SteadyApplyJobs = 10
  private val RetractionApplyJobs = 7

  test("a call with no new commits returns Nil and commits nothing") {
    val src = new TableSink(mkSink("idle").config.copy(
      tableSchema = Some(rows(1 to 1, 0.0).schema)))
    val replica = mkReplica("idle_rep")
    val cursor = s"$wh/idle_cursor"
    // before the source's first commit: an empty declared-schema batch;
    // the cursor it commits continues once the log starts
    assert(src.replicateTo(spark, replica, Seq("id"), cursor) == Nil)
    assert(replica.snapshotVersions().isEmpty)
    src.append(rows(1 to 4, 0.0))
    assert(src.replicateTo(spark, replica, Seq("id"), cursor) == Seq(1L))
    val head = replica.snapshotVersions()
    assert(src.replicateTo(spark, replica, Seq("id"), cursor) == Nil)
    assert(replica.snapshotVersions() == head)
  }

  test("one call over several source commits returns each version once") {
    val src = mkSink("multi")
    val replica = mkReplica("multi_rep")
    val cursor = s"$wh/multi_cursor"
    src.append(rows(1 to 3, 0.0))
    src.replicateTo(spark, replica, Seq("id"), cursor)
    src.deleteWhere("id = 2")
    src.append(rows(4 to 5, 0.0))
    val applied = src.replicateTo(spark, replica, Seq("id"), cursor)
    assert(applied == Seq(2L, 3L), s"applied source versions: $applied")
    assert(state(replica) == state(src))
  }

  test("an all-new-keys apply commits a plain append: no pending " +
    "deletes at the replica head") {
    val src = mkSink("fresh")
    val replica = mkReplica("fresh_rep")
    val cursor = s"$wh/fresh_cursor"
    src.append(rows(1 to 10, 0.0))
    src.replicateTo(spark, replica, Seq("id"), cursor)
    src.append(rows(11 to 20, 0.0))
    src.replicateTo(spark, replica, Seq("id"), cursor)
    assert(!hasPendingAtHead(replica),
      "an empty position list must not be committed")
    assert(state(replica) == state(src))
  }

  test("a duplicate key tuple within a source commit is still refused " +
    "with upsertMor's key contract") {
    val src = mkSink("dup")
    val replica = mkReplica("dup_rep")
    val cursor = s"$wh/dup_cursor"
    src.append(rows(1 to 3, 0.0))
    src.replicateTo(spark, replica, Seq("id"), cursor)
    src.append(Seq((7L, "a", 1.0), (7L, "a", 2.0)).toDF("id", "cat", "v"))
    val e = intercept[IllegalArgumentException](
      src.replicateTo(spark, replica, Seq("id"), cursor))
    assert(e.getMessage.contains("upsertMor key contract violated"),
      s"got: ${e.getMessage}")
    assert(e.getMessage.contains("(7)×2"), s"got: ${e.getMessage}")
  }

  test("a NULL-key insert is still refused with upsertMor's key contract") {
    val src = mkSink("nullins")
    val replica = mkReplica("nullins_rep")
    val cursor = s"$wh/nullins_cursor"
    src.append(Seq((Some(1L), "a", 1.0)).toDF("id", "cat", "v"))
    src.replicateTo(spark, replica, Seq("id"), cursor)
    src.append(Seq((None: Option[Long], "a", 2.0)).toDF("id", "cat", "v"))
    val e = intercept[IllegalArgumentException](
      src.replicateTo(spark, replica, Seq("id"), cursor))
    assert(e.getMessage.contains("upsertMor key contract violated"),
      s"got: ${e.getMessage}")
    assert(e.getMessage.contains("(null)×1"), s"got: ${e.getMessage}")
  }

  /** A key deleted at the source and later re-inserted shows again at
    * the replica, and one apply carrying a delete, an update and a new
    * key is one replica commit. `delete` removes one key at the source;
    * `apply` replicates everything committed so far; the replica is
    * written in `format`. */
  private def deleteThenReinsert(name: String, format: String = "parquet")(
      delete: (TableSink, Long) => Unit)(
      apply: (TableSink, TableSink) => Unit): Unit = {
    val src = mkSink(name)
    val replica = new TableSink(
      mkReplica(s"${name}_rep").config.copy(fileFormat = format))
    def step(change: => Unit): Int = {
      change
      val before = replica.snapshotVersions().lastOption.getOrElse(0)
      apply(src, replica)
      assert(state(replica) == state(src),
        s"replica ${state(replica)} vs source ${state(src)}")
      replica.snapshotVersions().last - before
    }
    step(src.append(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "cat", "v")))
    step(delete(src, 1L))
    step(src.append(Seq((1L, "a", 10.0)).toDF("id", "cat", "v")))
    assert(state(replica) == Set((1L, "a", 10.0), (2L, "b", 2.0)))
    val added = step {
      delete(src, 2L)
      src.updateMor(spark, $"id" === 1L, Seq("v" -> lit(11.0)))
      src.append(Seq((3L, "b", 3.0)).toDF("id", "cat", "v"))
    }
    // a merge-on-read replica adds one snapshot; a copy-on-write one
    // rewrites once, which expires its history to one snapshot
    if (format == "parquet")
      assert(added == 1, s"a mixed apply added $added replica snapshots")
    else assert(replica.snapshotVersions() == Seq(1))
    assert(state(replica) == Set((1L, "a", 11.0), (3L, "b", 3.0)))
  }

  private def replicate(name: String): (TableSink, TableSink) => Unit = {
    val cursor = s"$wh/${name}_cursor"
    (src, replica) => { src.replicateTo(spark, replica, Seq("id"), cursor); () }
  }

  test("replicateTo: a key deleted by position and re-inserted at the " +
    "source shows again at the replica") {
    deleteThenReinsert("reins")((src, id) => {
      src.deletePositions(spark, s"id = $id"); () })(replicate("reins"))
  }

  test("replicateTo: a key deleted by SQL DELETE (deleteMode=mor) and " +
    "re-inserted at the source shows again at the replica") {
    spark.conf.set("spark.sql.catalog.grepl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grepl.warehouse", wh)
    deleteThenReinsert("reins_sql")((_, id) => {
      spark.conf.set("spark.graft.sql.deleteMode", "mor")
      try spark.sql(s"DELETE FROM grepl.reins_sql WHERE id = $id")
      finally spark.conf.unset("spark.graft.sql.deleteMode")
      ()
    })(replicate("reins_sql"))
  }

  test("replicateTo: a copy-on-write (ORC) replica takes the net deletes " +
    "in its one upsert rewrite") {
    deleteThenReinsert("reins_orc", "orc")((src, id) => {
      src.deletePositions(spark, s"id = $id"); () })(replicate("reins_orc"))
  }

  test("startReplication: a key deleted and re-inserted at the source " +
    "shows again at the replica") {
    val cp = Fixtures.fresh("reins_stream_cp")
    // each apply restarts the stream from its checkpoint, so everything
    // committed since the last one arrives as one micro-batch
    deleteThenReinsert("reins_stream")((src, id) => {
      src.deletePositions(spark, s"id = $id"); () }) { (src, replica) =>
      val q = src.startReplication(spark, replica, Seq("id"), cp,
        intervalSeconds = 1)
      try q.processAllAvailable() finally q.stop()
    }
  }

  test("a NULL-key net delete is still refused with deleteKeys' message") {
    val src = mkSink("nulldel")
    val replica = mkReplica("nulldel_rep")
    val cursor = s"$wh/nulldel_cursor"
    src.append(Seq((Some(1L), "a", 1.0), (None: Option[Long], "b", 2.0))
      .toDF("id", "cat", "v"))
    // the replica refuses the NULL-key insert, so it starts from the
    // keyed rows and the cursor starts past the first commit
    replica.append(Seq((1L, "a", 1.0)).toDF("id", "cat", "v"))
    src.readChangelogSince(spark, cursor)._2()
    src.deleteWhere("id IS NULL")
    val head = replica.snapshotVersions()
    val e = intercept[IllegalArgumentException](
      src.replicateTo(spark, replica, Seq("id"), cursor))
    assert(e.getMessage.contains("deleteKeys list carries NULL"),
      s"got: ${e.getMessage}")
    assert(replica.snapshotVersions() == head, "refused before any commit")
  }
}
