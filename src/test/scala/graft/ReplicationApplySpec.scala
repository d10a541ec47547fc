package graft

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

  private val wh = TestSpark.tmpDir("replapply_wh")

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
    val e = intercept[IllegalArgumentException](
      src.replicateTo(spark, replica, Seq("id"), cursor))
    assert(e.getMessage.contains("deleteKeys list carries NULL"),
      s"got: ${e.getMessage}")
  }
}
