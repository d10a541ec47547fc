package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TableSink.readChangelogSince]] — durable-cursor incremental CDC
  * consumption: the cursor advances only on the caller's commit thunk
  * (at-least-once), an uncommitted batch replays verbatim, a committed
  * batch never reappears, and the cursor survives sink instances. */
class ChangelogCursorSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = Fixtures.fresh("chgcursor_wh")

  private def mkSink(name: String): TableSink =
    new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))

  private def changes(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.select($"id", $"_change_type").as[(Long, String)]
      .collect().sortBy(r => (r._1, r._2)).toSeq

  test("cursor advances only on commit; uncommitted batches replay") {
    val sink = mkSink("cc1")
    val cursor = s"$wh/cc1_cursor"
    sink.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "cat", "v"))
    val (b1, commit1) = sink.readChangelogSince(spark, cursor)
    assert(changes(b1) == Seq((1L, "insert"), (2L, "insert")))
    // crash before commit: the SAME batch comes back
    val (replay, commitR) = sink.readChangelogSince(spark, cursor)
    assert(changes(replay) == Seq((1L, "insert"), (2L, "insert")),
      "uncommitted batch must replay — at-least-once")
    commitR()
    val (empty, _) = sink.readChangelogSince(spark, cursor)
    assert(empty.count() == 0, "committed batch must never reappear")
    assert(commit1 != null) // thunk from the first read is simply unused
  }

  test("next batch holds exactly the delta, including delete change rows") {
    val sink = mkSink("cc2")
    val cursor = s"$wh/cc2_cursor"
    sink.append(Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "cat", "v"))
    val (b1, c1) = sink.readChangelogSince(spark, cursor)
    assert(b1.count() == 3)
    c1()
    sink.append(Seq((4L, "b", 40.0)).toDF("id", "cat", "v"))
    sink.deleteWhere("id = 2")
    val (b2, c2) = sink.readChangelogSince(spark, cursor)
    assert(changes(b2) == Seq((2L, "delete"), (4L, "insert")),
      "second batch = exactly the post-cursor commits")
    c2()
    // a fresh sink instance sees the same durable cursor
    val (b3, _) = mkSink("cc2").readChangelogSince(spark, cursor)
    assert(b3.count() == 0, "cursor must be durable across sink instances")
  }

  test("replicateTo applies inserts and deletes in source commit order") {
    val src = mkSink("rp1")
    val replica = mkSink("rp1_replica")
    val cursor = s"$wh/rp1_cursor"
    src.append(Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "cat", "v"))
    src.replicateTo(spark, replica, Seq("id"), cursor)
    assert(replica.read(spark).count() == 3)
    // a delete and a later append in one batch: the replica must land on
    // the SOURCE's semantics — and this engine's delete sidecars are
    // cumulative (a row re-appended under a live predicate stays
    // invisible until compact), so id=2's re-insert shows up NOWHERE
    src.deleteWhere("id = 2")
    src.append(Seq((2L, "a", 22.0), (4L, "b", 40.0)).toDF("id", "cat", "v"))
    val applied = src.replicateTo(spark, replica, Seq("id"), cursor)
    assert(applied == Seq(2L, 3L), s"applied source versions: $applied")
    val got = replica.read(spark).select($"id", $"v").as[(Long, Double)]
      .collect().sortBy(_._1).toSeq
    val atSource = src.read(spark).select($"id", $"v").as[(Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(atSource == Seq((1L, 10.0), (3L, 30.0), (4L, 40.0)),
      s"fixture sanity — cumulative predicate hides the re-insert: $atSource")
    assert(got == atSource, s"replica must mirror the source: $got")
  }

  test("crash-replay of an applied batch converges (idempotent apply)") {
    val src = mkSink("rp2")
    val replica = mkSink("rp2_replica")
    val cursor = s"$wh/rp2_cursor"
    src.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "cat", "v"))
    src.replicateTo(spark, replica, Seq("id"), cursor)
    src.deleteWhere("id = 1")
    // simulate apply-then-crash-before-cursor-commit: run the batch's ops
    // by hand, leaving the cursor where it was
    val (batch, _) = src.readChangelogSince(spark, cursor)
    val keys = batch.filter($"_change_type" === "delete").select($"id")
    replica.deleteKeys(keys, Seq("id"))
    // the recovering job replays the same batch through the normal path
    src.replicateTo(spark, replica, Seq("id"), cursor)
    val got = replica.read(spark).select($"id").as[Long].collect().toSeq
    assert(got == Seq(2L), s"double-applied delete must converge: $got")
    // and the cursor is now committed: nothing replays a third time
    val (empty, _2) = src.readChangelogSince(spark, cursor)
    assert(empty.count() == 0)
  }

  test("replicateTo guards: unversioned replica, self-replication") {
    val src = mkSink("rp3")
    src.append(Seq((1L, "a", 1.0)).toDF("id", "cat", "v"))
    val flat = new TableSink(SinkConfig("rp3_flat", wh))
    val e1 = intercept[IllegalArgumentException](
      src.replicateTo(spark, flat, Seq("id"), s"$wh/rp3_c1"))
    assert(e1.getMessage.contains("versioned"))
    val e2 = intercept[IllegalArgumentException](
      src.replicateTo(spark, src, Seq("id"), s"$wh/rp3_c2"))
    assert(e2.getMessage.contains("itself"))
  }

  test("a long run of delete-only batches keeps replica read cost " +
    "BOUNDED: sidecars auto-consolidate past the threshold") {
    import org.apache.hadoop.fs.{Path => HPath}
    val src = mkSink("rp_vac")
    val threshold = 3
    val replica = new TableSink(SinkConfig("rp_vac_dst", wh,
      versioned = true, deleteConsolidateThreshold = threshold))
    val cursor = s"$wh/rp_vac_cursor"
    val n = 10
    src.append((1 to n).map(i => (i.toLong, "a", i * 1.0))
      .toDF("id", "cat", "v"))
    src.replicateTo(spark, replica, Seq("id"), cursor)
    def pendingSidecars(): Int = {
      val logDir = new HPath(s"${replica.config.tablePath}/_graft_log")
      // the snapshot-referenced `del-`/`keys-`/`dv-` sidecars
      TestSpark.childNames(logDir).count(nm =>
        nm.startsWith("del-") || nm.startsWith("keys-") ||
          nm.startsWith("dv-"))
    }
    // one delete-only source commit per cycle -> one deletion vector
    // per apply; without consolidation the replica would accumulate
    // `cycles` sidecars and every read would fold them all
    var maxPending = 0
    (1 to 8).foreach { i =>
      src.deleteKeys(Seq(i.toLong).toDF("id"), Seq("id"))
      src.replicateTo(spark, replica, Seq("id"), cursor)
      maxPending = math.max(maxPending, pendingSidecars())
    }
    assert(maxPending <= threshold + 1,
      s"pending sidecars must stay bounded by the threshold " +
        s"(+1 transient), saw $maxPending")
    // the replica still equals the source's survivors exactly
    val got = replica.read(spark).select($"id").as[Long].collect().toSet
    assert(got == (9 to n).map(_.toLong).toSet,
      s"auto-consolidation must never change replica state: $got")
    // threshold 0 disables: nothing consolidates behind the user's back
    val replica0 = new TableSink(SinkConfig("rp_vac_dst0", wh,
      versioned = true, deleteConsolidateThreshold = 0))
    val cursor0 = s"$wh/rp_vac_cursor0"
    val src0 = mkSink("rp_vac0")
    src0.append((1 to 6).map(i => (i.toLong, "a", i * 1.0))
      .toDF("id", "cat", "v"))
    src0.replicateTo(spark, replica0, Seq("id"), cursor0)
    (1 to 4).foreach { i =>
      src0.deleteKeys(Seq(i.toLong).toDF("id"), Seq("id"))
      src0.replicateTo(spark, replica0, Seq("id"), cursor0)
    }
    val logDir0 = new HPath(s"${replica0.config.tablePath}/_graft_log")
    assert(TestSpark.childNames(logDir0)
      .count(_.startsWith("dv-")) == 4,
      "threshold 0 must leave every sidecar in place")
    assert(replica0.read(spark).select($"id").as[Long].collect().toSet
      == Set(5L, 6L))
  }

  test("changelog across an ALTER TABLE ADD/DROP boundary: the declared " +
    "schema NULL-fills pre-evolution rows; an undeclared sink refuses " +
    "precisely (round-13)") {
    spark.conf.set("spark.sql.catalog.gcev", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcev.warehouse", wh)
    spark.sql("CREATE TABLE gcev.ev1 (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gcev.ev1 VALUES (1, 10.0), (2, 20.0)")  // v1
    spark.sql("ALTER TABLE gcev.ev1 ADD COLUMNS (score DOUBLE)")
    spark.sql(
      "INSERT INTO gcev.ev1 VALUES (3, 30.0, 0.3), (4, 40.0, 0.4)") // v2
    // MoR delete AFTER the evolution: its replay re-reads the
    // pre-commit snapshot, which mixes pre- and post-evolution files
    val sink = new TableSink(SinkConfig(tableName = "ev1",
      warehousePath = wh, versioned = true))
    sink.deleteWhere("v = 20.0")                                   // v3
    // SQL door: the full changelog comes out under the HEAD schema,
    // pre-evolution rows NULL-filled in the added column
    val feed = spark.sql("SELECT id, score, _change_type, " +
      "_change_version FROM gcev.ev1.changes")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1.0 else r.getDouble(1),
        r.getString(2), r.getLong(3))).toSet
    assert(feed == Set(
      (1L, -1.0, "insert", 1L), (2L, -1.0, "insert", 1L),
      (3L, 0.3, "insert", 2L), (4L, 0.4, "insert", 2L),
      (2L, -1.0, "delete", 3L)), s"got: $feed")
    // a library sink with the declared head schema agrees
    val declared = new TableSink(SinkConfig(tableName = "ev1",
      warehousePath = wh, versioned = true,
      tableSchema = Some(spark.table("gcev.ev1").schema)))
    assert(declared.readChangelog(spark, 0, 3).count() == 5)
    // a sink with NO explicit schema picks up the table's own
    // ALTER-declared schema (`_graft_schema` sidecar fallback,
    // round-14) and conforms the boundary the same way — the round-13
    // refusal now applies only to tables with no declared layer at all
    assert(sink.readChangelog(spark, 0, 3).count() == 5)
    // ... which is exactly the LIBRARY-evolved shape: appends that grew
    // the schema via mergeSchema, no ALTER ever run — each version
    // infers its own shape and the precise refusal still stands
    val libT = new TableSink(SinkConfig(tableName = "ev1_lib",
      warehousePath = wh, versioned = true))
    libT.append(Seq((1L, 10.0)).toDF("id", "v"))                    // v1
    libT.append(Seq((2L, 20.0, 0.2)).toDF("id", "v", "score"))      // v2
    val e = intercept[IllegalArgumentException](
      libT.readChangelog(spark, 0, 2).collect())
    assert(e.getMessage.contains("schema-evolution boundary"),
      s"got: ${e.getMessage}")
    // DROP COLUMN mid-history: the changelog replays under the shrunken
    // declared schema — the dropped column does not resurrect from old
    // files that still physically carry it
    spark.sql("ALTER TABLE gcev.ev1 DROP COLUMN score")
    val cols = spark.table("gcev.ev1.changes").columns.toSet
    assert(!cols.contains("score"), s"dropped column resurrected: $cols")
    assert(spark.table("gcev.ev1.changes").count() == 5)
  }

  test("changelog across an ALTER TABLE RENAME COLUMN boundary: " +
    "pre-rename rows carry their VALUES under the new name, and a MoR " +
    "delete predicate on the new name replays against them (round-13)") {
    spark.conf.set("spark.sql.catalog.gcrn", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcrn.warehouse", wh)
    spark.sql("CREATE TABLE gcrn.rn1 (id BIGINT, amount DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gcrn.rn1 VALUES (1, 10.0), (2, 20.0)")   // v1
    spark.sql("ALTER TABLE gcrn.rn1 RENAME COLUMN amount TO total")
    spark.sql("INSERT INTO gcrn.rn1 VALUES (3, 30.0)")              // v2
    // MoR delete on the RENAMED name: its replay re-reads the pre-commit
    // snapshot, whose v1 files only carry the old PHYSICAL name — the
    // rename fold must run before the predicate does
    val sink = new TableSink(SinkConfig(tableName = "rn1",
      warehousePath = wh, versioned = true))
    sink.deleteWhere("total = 10.0")                                // v3
    val feed = spark.sql("SELECT id, total, _change_type, " +
      "_change_version FROM gcrn.rn1.changes").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        r.getLong(3))).toSet
    assert(feed == Set(
      (1L, 10.0, "insert", 1L), (2L, 20.0, "insert", 1L),
      (3L, 30.0, "insert", 2L), (1L, 10.0, "delete", 3L)), s"got: $feed")
    // live read agrees with the replayed net state
    assert(spark.sql("SELECT id FROM gcrn.rn1 ORDER BY id")
      .as[Long].collect().toSeq == Seq(2L, 3L))
  }

  test("replicateTo across a source ALTER ADD boundary refuses precisely " +
    "instead of silently dropping the new column; declaring the evolved " +
    "schema on the replica converges (round-13)") {
    spark.conf.set("spark.sql.catalog.gcev2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcev2.warehouse", wh)
    spark.sql("CREATE TABLE gcev2.rsrc (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gcev2.rsrc VALUES (1, 10.0), (2, 20.0)")  // v1
    val srcV1 = new TableSink(SinkConfig(tableName = "rsrc",
      warehousePath = wh, versioned = true,
      tableSchema = Some(spark.table("gcev2.rsrc").schema)))
    val replica = new TableSink(SinkConfig(tableName = "rsrc_replica",
      warehousePath = wh, versioned = true))
    val cursor = s"$wh/rsrc_cursor"
    srcV1.replicateTo(spark, replica, Seq("id"), cursor)      // initial copy
    assert(replica.read(spark).count() == 2)
    spark.sql("ALTER TABLE gcev2.rsrc ADD COLUMNS (score DOUBLE)")
    spark.sql("INSERT INTO gcev2.rsrc VALUES (3, 30.0, 0.3)") // v2
    val srcEvolved = new TableSink(SinkConfig(tableName = "rsrc",
      warehousePath = wh, versioned = true,
      tableSchema = Some(spark.table("gcev2.rsrc").schema)))
    // the replica's files lack `score`: the apply must refuse (the old
    // behavior projected the batch onto the replica's columns — the new
    // column's values silently vanished from the replica forever)
    val e = intercept[IllegalArgumentException](
      srcEvolved.replicateTo(spark, replica, Seq("id"), cursor))
    assert(e.getMessage.contains("schema is behind"), s"got: ${e.getMessage}")
    // the refused apply moved no cursor: the batch replays after the
    // remedy — declare the evolved head schema on the replica
    val replicaEvolved = new TableSink(replica.config.copy(
      tableSchema = Some(spark.table("gcev2.rsrc").schema)))
    srcEvolved.replicateTo(spark, replicaEvolved, Seq("id"), cursor)
    val got = replicaEvolved.read(spark)
      .selectExpr("id", "v", "coalesce(score, -1.0) AS score")
      .as[(Long, Double, Double)].collect().toSet
    assert(got == Set((1L, 10.0, -1.0), (2L, 20.0, -1.0),
      (3L, 30.0, 0.3)), s"got: $got")
  }

  test("replicateTo across a source RENAME COLUMN boundary: the apply " +
    "refuses the misaligned batch, and running the SAME rename on the " +
    "replica converges — old replica files serve values under the new " +
    "name (round-13)") {
    spark.conf.set("spark.sql.catalog.gcrn2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcrn2.warehouse", wh)
    spark.sql("CREATE TABLE gcrn2.rnsrc (id BIGINT, amount DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gcrn2.rnsrc VALUES (1, 10.0), (2, 20.0)")
    spark.sql("CREATE TABLE gcrn2.rnrep (id BIGINT, amount DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    val src1 = new TableSink(SinkConfig(tableName = "rnsrc",
      warehousePath = wh, versioned = true,
      tableSchema = Some(spark.table("gcrn2.rnsrc").schema)))
    val rep1 = new TableSink(SinkConfig(tableName = "rnrep",
      warehousePath = wh, versioned = true,
      tableSchema = Some(spark.table("gcrn2.rnrep").schema)))
    val cursor = s"$wh/rn_cursor"
    src1.replicateTo(spark, rep1, Seq("id"), cursor)
    assert(rep1.read(spark).count() == 2)
    spark.sql("ALTER TABLE gcrn2.rnsrc RENAME COLUMN amount TO total")
    spark.sql("INSERT INTO gcrn2.rnsrc VALUES (3, 30.0)")
    val src2 = new TableSink(SinkConfig(tableName = "rnsrc",
      warehousePath = wh, versioned = true,
      tableSchema = Some(spark.table("gcrn2.rnsrc").schema)))
    // the batch now carries `total`; the replica's head still says
    // `amount` — the apply must refuse (projecting the batch onto the
    // replica's columns would silently drop every post-rename value)
    val e = intercept[IllegalArgumentException](
      src2.replicateTo(spark, rep1, Seq("id"), cursor))
    assert(e.getMessage.contains("schema is behind"), s"got: ${e.getMessage}")
    // the WORKING remedy is the SAME rename on the replica (declaring
    // the head schema alone would NULL the old files' values — only the
    // replica's own _graft_renames mapping carries them over)
    spark.sql("ALTER TABLE gcrn2.rnrep RENAME COLUMN amount TO total")
    val rep2 = new TableSink(SinkConfig(tableName = "rnrep",
      warehousePath = wh, versioned = true,
      tableSchema = Some(spark.table("gcrn2.rnrep").schema)))
    // the refused apply left the cursor unmoved: the batch replays
    src2.replicateTo(spark, rep2, Seq("id"), cursor)
    val got = spark.sql("SELECT id, total FROM gcrn2.rnrep ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)), s"got: $got")
  }

  test("cursor refuses after a source rewrite restarts the history") {
    val src = mkSink("cc_gen")
    val cursor = s"$wh/cc_gen_cursor"
    src.append(Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0))
      .toDF("id", "cat", "v"))
    src.append(Seq((4L, "b", 40.0)).toDF("id", "cat", "v"))
    src.append(Seq((5L, "b", 50.0)).toDF("id", "cat", "v"))   // head v3
    val (_, c1) = src.readChangelogSince(spark, cursor)
    c1()                                                      // cursor at v3
    // a rewriting op expires the log and restarts numbering; two appends
    // bring the NEW history back to v3 — the version alone is ambiguous
    src.upsert(Seq((1L, "a", 11.0)).toDF("id", "cat", "v"), Seq("id")) // new v1
    src.append(Seq((6L, "c", 60.0)).toDF("id", "cat", "v"))   // new v2
    src.append(Seq((7L, "c", 70.0)).toDF("id", "cat", "v"))   // new v3
    val e = intercept[IllegalArgumentException](
      src.readChangelogSince(spark, cursor))
    assert(e.getMessage.contains("different table history"), e.getMessage)
  }

  test("empty source with a declared schema yields a typed empty batch") {
    val sink = new TableSink(SinkConfig(tableName = "cc_empty",
      warehousePath = wh, versioned = true,
      tableSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, cat STRING, v DOUBLE"))))
    val (batch, commit) = sink.readChangelogSince(spark, s"$wh/cc_empty_cur")
    assert(batch.count() == 0)
    assert(batch.columns.toSeq ==
      Seq("id", "cat", "v", "_change_type", "_change_version"))
    commit() // committing an empty batch is legal and idempotent
  }

  test("startingTimestamp floors a FRESH cursor at the commit clock and " +
    "is ignored once the cursor exists") {
    import spark.implicits._
    val sink = mkSink("cc_ts")
    sink.append(Seq((1L, "a", 10.0)).toDF("id", "cat", "v"))   // v1
    Thread.sleep(30)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(30)
    sink.append(Seq((2L, "b", 20.0)).toDF("id", "cat", "v"))   // v2
    sink.append(Seq((3L, "c", 30.0)).toDF("id", "cat", "v"))   // v3
    val cursor = s"$wh/cc_ts_cursor"
    // fresh cursor + ts between v1 and v2: exactly the commits at or
    // after the instant — v2 and v3, never v1
    val (b1, c1) = sink.readChangelogSince(spark, cursor, Some(betweenMs))
    assert(b1.select($"id").as[Long].collect().toSet == Set(2L, 3L))
    c1()
    sink.append(Seq((4L, "a", 40.0)).toDF("id", "cat", "v"))   // v4
    // the cursor exists now: the option is ignored (a pre-history
    // instant here would otherwise replay everything)
    val (b2, c2) = sink.readChangelogSince(spark, cursor, Some(1000L))
    assert(b2.select($"id").as[Long].collect().toSet == Set(4L))
    c2()
    // a pre-history instant on a FRESH cursor = no floor = full replay
    val (b3, c3) = sink.readChangelogSince(spark, s"$wh/cc_ts_cursor2",
      Some(1000L))
    assert(b3.filter($"_change_type" === "insert")
      .select($"id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    c3()
  }

  test("cursor past the head refuses with the restart remedy") {
    val sink = mkSink("cc3")
    sink.append(Seq((1L, "a", 10.0)).toDF("id", "cat", "v"))
    val cursor = s"$wh/cc3_cursor"
    WarehouseIO.writeString(new org.apache.hadoop.fs.Path(cursor),
      s"${sink.logGeneration()}:9")
    val e = intercept[IllegalArgumentException](
      sink.readChangelogSince(spark, cursor))
    assert(e.getMessage.contains("delete the cursor"), e.getMessage)
  }

  test("a bare-integer cursor is refused as unreadable") {
    val sink = mkSink("cc_bare")
    sink.append(Seq((1L, "a", 10.0)).toDF("id", "cat", "v"))
    val cursor = s"$wh/cc_bare_cursor"
    WarehouseIO.writeString(new org.apache.hadoop.fs.Path(cursor), "1")
    val e = intercept[RuntimeException](
      sink.readChangelogSince(spark, cursor))
    assert(e.getMessage.contains("unreadable changelog cursor"),
      e.getMessage)
  }
}
