package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TableSink.metaSnapshots]] / [[TableSink.metaFiles]] — the Iceberg
  * metadata-table analogues: commit history and the live file inventory as
  * DataFrames, consistent with the manifests and the data they describe —
  * and the catalog's metadata tables over them, whose queries answer on
  * the driver with the rows Spark computes over the same frames. */
class MetaTablesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = Fixtures.fresh("meta_wh")

  /** The data-file scans in `df`'s physical plan (v1 or v2 file sources). */
  private def dataFileScans(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if s.scan.isInstanceOf[
            org.apache.spark.sql.execution.datasources.v2.FileScan] => s
    }

  private def mkSink(name: String): TableSink = {
    val sink = new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "cat", "v"))
    sink.append(Seq((4L, "b", 40.0), (5L, "c", 50.0)).toDF("id", "cat", "v"))
    sink
  }

  test("metaSnapshots mirrors the manifest log: lineage, counts, monotonic clock") {
    val sink = mkSink("ms1")
    val rows = sink.metaSnapshots(spark)
      .orderBy($"version")
      .select($"version", $"parent_version", $"n_files", $"n_added_files",
        $"n_removed_files")
      .as[(Long, Option[Long], Long, Long, Long)].collect().toSeq
    assert(rows.map(_._1) == Seq(1L, 2L))
    assert(rows.map(_._2) == Seq(None, Some(1L)))
    // appends only add files: n_files is cumulative, nothing removed
    assert(rows.forall(_._5 == 0L), "append snapshots remove no files")
    assert(rows(0)._3 == rows(0)._4, "v1 adds exactly its file set")
    assert(rows(1)._3 == rows(0)._3 + rows(1)._4)
    // the clock is monotonic non-decreasing in version order
    val times = sink.metaSnapshots(spark).orderBy($"version")
      .select($"committed_at".cast("long")).as[Long].collect().toSeq
    assert(times == times.sorted)
  }

  test("metaFiles agrees with the data: counts sum to the table, sizes positive") {
    val sink = mkSink("ms2")
    val files = sink.metaFiles(spark)
    assert(files.agg(sum($"record_count")).as[Long].head() == 5L,
      "per-file record counts must sum to the live row count")
    assert(files.filter($"size_bytes" <= 0).count() == 0)
    // one inventory row per manifest entry at the head snapshot
    assert(files.count() ==
      sink.metaSnapshots(spark).orderBy($"version".desc)
        .select($"n_files").as[Long].head())
    // answered from the manifest: the plan scans no data file
    assert(dataFileScans(files).isEmpty,
      s"metaFiles must not scan data files, got:\n" +
        files.queryExecution.sparkPlan)
  }

  test("metaFiles serves a head manifest mixing entries with and without " +
    "recorded facts: per-file counts equal count(*) per file") {
    val sink = mkSink("ms2mix")
    // a partition value Spark escapes in the directory name: file_path
    // must keep the scan's percent-encoded rendering
    sink.append(Seq((6L, "a", 60.0), (7L, "d e:f%g", 70.0))
      .toDF("id", "cat", "v"))
    // rewrite the oldest manifest as a table written before commits
    // recorded per-file facts: bare paths, and one column-stats-only entry
    val logDir =
      new org.apache.hadoop.fs.Path(sink.config.tablePath, "_graft_log")
    val head = sink.snapshotVersions().last
    val names = TableLog.snapshotManifestNames(
      new org.apache.hadoop.fs.Path(logDir, f"v$head%05d.list"))
    val old = TableLog.manifestLinesOf(logDir, names.head)
    val stripped = old.map(TableLog.manifestLinePath)
    WarehouseIO.writeString(new org.apache.hadoop.fs.Path(logDir, names.head),
      (s"${stripped.head}\t{\"n\":${TableLog.entryFacts(old.head).get.rows}}"
        +: stripped.tail).mkString("\n"))
    val lines = names.flatMap(TableLog.manifestLinesOf(logDir, _))
    assert(lines.exists(TableLog.entryFacts(_).isEmpty) &&
      lines.exists(TableLog.entryFacts(_).isDefined),
      s"the head must mix entries with and without facts: $lines")
    val served = sink.metaFiles(spark)
      .select($"file_path", $"record_count").as[(String, Long)]
      .collect().toMap
    val counted = sink.read(spark)
      .groupBy(col("_metadata.file_path")).count()
      .as[(String, Long)].collect().toMap
    assert(served == counted)
    assert(dataFileScans(sink.metaFiles(spark)).isEmpty)
  }

  test("metaFiles tracks the head snapshot, not stale history") {
    val sink = mkSink("ms3")
    val before = sink.metaFiles(spark).count()
    sink.append(Seq((6L, "d", 60.0)).toDF("id", "cat", "v"))
    val after = sink.metaFiles(spark)
    assert(after.count() > before)
    assert(after.agg(sum($"record_count")).as[Long].head() == 6L)
  }

  test("metaPartitions rolls up the file inventory by partition path") {
    val sink = mkSink("ms5")
    val parts = sink.metaPartitions(spark).cache()
    // the partition spine is the identity-transform directory names
    assert(parts.select($"partition").as[String].collect().toSet ==
      Set("cat=a", "cat=b", "cat=c"))
    // record counts agree with the data per partition value
    val expected = sink.read(spark).groupBy($"cat").count()
      .as[(String, Long)].collect().toMap
    parts.select($"partition", $"record_count").as[(String, Long)].collect()
      .foreach { case (p, n) => assert(n == expected(p.stripPrefix("cat="))) }
    // file-level invariants: counts and sizes consistent with metaFiles
    assert(parts.agg(sum($"file_count")).as[Long].head() ==
      sink.metaFiles(spark).count())
    assert(parts.filter($"size_bytes" <= 0 || $"file_count" < 1).count() == 0)
    // answered from the manifest here too: no data-file scan
    val mp = sink.metaPartitions(spark)
    assert(dataFileScans(mp).isEmpty,
      s"metaPartitions must not scan data files, got:\n" +
        mp.queryExecution.sparkPlan)
  }

  test("metaPartitions reports one '' partition for unpartitioned tables") {
    val unv = new TableSink(SinkConfig(tableName = "ms6u", warehousePath = wh,
      versioned = true))
    unv.append(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "cat", "v"))
    val parts = unv.metaPartitions(spark).collect()
    assert(parts.length == 1 && parts(0).getString(0) == "")
    assert(parts(0).getLong(1) == 2L)
  }

  test("metaSnapshots exposes the manifest layer: per-commit chain " +
    "growth, fold to 1 on compaction, txn line for streaming commits") {
    val sink = mkSink("ms_mf")                       // 2 append commits
    assert(sink.metaSnapshots(spark).orderBy($"version")
      .select($"n_manifests").as[Long].collect().toSeq == Seq(1L, 2L),
      "each append chains one delta manifest")
    val v3 = sink.compactManifests()
    val afterFold = sink.metaSnapshots(spark).orderBy($"version")
      .select($"version", $"n_manifests", $"n_added_files",
        $"n_removed_files").as[(Long, Long, Long, Long)].collect().toSeq
    assert(afterFold.last == ((v3.toLong, 1L, 0L, 0L)),
      s"a manifest fold is metadata-only: 1 manifest, no file churn — " +
        s"got $afterFold")
    // streaming commits surface their exactly-once txn line
    sink.appendStreamBatch(
      Seq((9L, "c0", 9.0)).toDF("id", "cat", "v"), "obs-stream", 7L)
    val txns = sink.metaSnapshots(spark).orderBy($"version")
      .select($"txn").as[Option[String]].collect().toSeq
    assert(txns.last.contains("obs-stream#7"), s"got $txns")
    assert(txns.init.forall(_.isEmpty), "plain commits carry no txn")
  }

  test("metaSnapshots accounting is DISTRIBUTED: no manifest file list " +
    "ever materializes on the driver") {
    val sink = mkSink("ms_dist")                     // 2 append commits
    sink.deleteWhere("cat = 'c'")                    // MoR delete commit
    sink.compact(spark)                              // rewrite: fresh v1
    sink.append(Seq((7L, "d", 70.0)).toDF("id", "cat", "v"))
    val before = TableLog.manifestContentReads.get()
    val rows = sink.metaSnapshots(spark)
      .orderBy($"version")
      .select($"version", $"n_files", $"n_added_files", $"n_removed_files")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(TableLog.manifestContentReads.get() == before,
      "metaSnapshots must not read any manifest's file list on the " +
        "driver — per-version added/removed is a distributed job")
    // counts still exact: cross-check against the driver-side resolver
    val logDir =
      new org.apache.hadoop.fs.Path(sink.config.tablePath, "_graft_log")
    val expect = sink.snapshotVersions().map(v =>
      TableLog.readSnapshotFiles(logDir,
        new org.apache.hadoop.fs.Path(logDir, f"v$v%05d.list"))
        .length.toLong)
    assert(rows.map(_._2) == expect,
      s"n_files must equal each snapshot's actual file count: $rows")
    assert(rows.map(r => r._3 - r._4) ==
      (rows.map(_._2).head +: rows.map(_._2).sliding(2).map(p =>
        p(1) - p(0)).toSeq),
      s"added/removed must telescope to the per-version file deltas: $rows")
  }

  test("metaSnapshots refuses unversioned tables; metaFiles still serves them") {
    val unv = new TableSink(SinkConfig(tableName = "ms4u", warehousePath = wh))
    unv.append(Seq((1L, "a", 1.0)).toDF("id", "cat", "v"))
    assert(intercept[IllegalArgumentException](unv.metaSnapshots(spark))
      .getMessage.contains("versioned"))
    assert(unv.metaFiles(spark).agg(sum($"record_count")).as[Long].head() == 1L)
  }

  test("ORC commits record per-file facts too: the inventory is exact " +
    "without a data-file scan") {
    val orc = new TableSink(SinkConfig(tableName = "ms_orc", warehousePath = wh,
      versioned = true, fileFormat = "orc",
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    orc.append(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
      .toDF("id", "cat", "v"))
    val logDir =
      new org.apache.hadoop.fs.Path(orc.config.tablePath, "_graft_log")
    val lines = TableLog.readSnapshotLines(logDir,
      new org.apache.hadoop.fs.Path(logDir, "v00001.list"))
    assert(lines.nonEmpty && lines.forall(TableLog.entryFacts(_).isDefined),
      s"every entry records its facts: $lines")
    val parts = orc.metaPartitions(spark)
      .select($"partition", $"record_count").as[(String, Long)].collect().toMap
    assert(parts == Map("cat=a" -> 2L, "cat=b" -> 1L))
    assert(dataFileScans(orc.metaFiles(spark)).isEmpty)
  }

  test("metaFiles/metaPartitions serve MIXED-SPINE (partition-spec-" +
    "evolved) tables: the inventory comes from per-relation capture, " +
    "never an unresolvable `_metadata` on the generation union (round-14)") {
    val gen1 = SinkConfig(tableName = "ms_mixed", warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity)))
    new TableSink(gen1).append(
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "cat", "v")) // v1
    val s2 = new TableSink(gen1.copy(partitionSpec = Nil))
    s2.append(Seq((3L, "c", 30.0), (4L, "c", 40.0))
      .toDF("id", "cat", "v"))                                      // v2
    // files: every generation's files inventoried, counts exact
    val files = s2.metaFiles(spark)
    assert(files.agg(sum($"record_count")).as[Long].head() == 4L,
      "counts must sum across BOTH spine generations")
    assert(files.filter($"size_bytes" <= 0).count() == 0)
    // partitions: gen-1 rows report their cat= spine, gen-2 report ''
    val parts = s2.metaPartitions(spark)
      .select($"partition", $"record_count")
      .as[(String, Long)].collect().toMap
    assert(parts.getOrElse("cat=a", 0L) == 1L, s"got: $parts")
    assert(parts.getOrElse("cat=b", 0L) == 1L, s"got: $parts")
    assert(parts.getOrElse("", 0L) == 2L,
      s"unpartitioned generation must roll up under '': $parts")
  }

  // ------------------------------------------------------------------
  // The catalog's metadata tables answer on the driver: a query over a
  // driver-built frame plans as one evaluated LocalTableScanExec and runs
  // no Spark job, with the same rows as the library frame through Spark.

  spark.conf.set("spark.sql.catalog.gmeta", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.gmeta.warehouse", wh)

  /** `df` served through a [[GraftMetaTable]], as the catalog serves a
    * metadata table. */
  private def metaTableOf(df: org.apache.spark.sql.DataFrame) =
    org.apache.spark.sql.graft.Bridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(new GraftMetaTable("synthetic", () => df), None, None))

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def driverPlanned(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]

  /** `query` over the served table `served` equals it over `lib` through
    * Spark, and runs no Spark job. */
  private def agrees(served: org.apache.spark.sql.DataFrame,
      lib: org.apache.spark.sql.DataFrame, query: String): Unit = {
    served.createOrReplaceTempView("meta_served")
    lib.createOrReplaceTempView("meta_lib")
    val got = spark.sql(query.format("meta_served"))
    val want = spark.sql(query.format("meta_lib"))
    assert(driverPlanned(got), s"$query planned as\n${got.queryExecution.executedPlan}")
    var rows = Seq.empty[String]
    assert(TestSpark.jobsDuring { rows = sorted(got) }.isEmpty, query)
    assert(rows == sorted(want), query)
  }

  test("metadata-table queries answer on the driver with Spark's rows: " +
    "aggregates, SELECT *, WHERE, GROUP BY, avg and timestamp min/max") {
    val sink = mkSink("ms_local")
    sink.append(Seq((6L, "a", 60.0)).toDF("id", "cat", "v"))
    sink.deletePositions(spark, "id = 2")
    val files = spark.table("gmeta.ms_local.files")
    Seq(
      "SELECT count(*), sum(record_count), sum(size_bytes) FROM %s",
      "SELECT * FROM %s",
      "SELECT count(*), sum(record_count) FROM %s WHERE record_count > 1",
      "SELECT file_path FROM %s WHERE file_path LIKE '%%cat=a%%'",
      "SELECT avg(record_count), avg(size_bytes), min(modified_at), " +
        "max(modified_at) FROM %s"
    ).foreach(agrees(files, sink.metaFiles(spark), _))
    agrees(spark.table("gmeta.ms_local.partitions"), sink.metaPartitions(spark),
      "SELECT partition = 'cat=a' AS a, sum(file_count), sum(record_count), " +
        "max(size_bytes) FROM %s GROUP BY 1")
    agrees(spark.table("gmeta.ms_local.deletes"), sink.metaDeletes(spark),
      "SELECT * FROM %s")
    agrees(spark.table("gmeta.ms_local.snapshots"), sink.metaSnapshots(spark),
      "SELECT max(version), sum(n_added_files), count(txn) FROM %s")
  }

  test("an empty inventory: a global aggregate returns one (0, NULL) row, " +
    "a GROUP BY returns none") {
    val sink = mkSink("ms_empty")
    sink.delete(spark, lit(true))
    assert(sink.metaFiles(spark).isEmpty)
    val files = spark.table("gmeta.ms_empty.files")
    agrees(files, sink.metaFiles(spark),
      "SELECT count(*), sum(record_count) FROM %s")
    assert(sorted(spark.sql("SELECT count(*), sum(record_count) FROM " +
      "gmeta.ms_empty.files")) == Seq("0|null"))
    agrees(files, sink.metaFiles(spark),
      "SELECT file_path, count(*) FROM %s GROUP BY file_path")
    assert(spark.sql("SELECT file_path, count(*) FROM gmeta.ms_empty.files " +
      "GROUP BY file_path").collect().isEmpty)
  }

  test("NULLs keep Spark's semantics in driver-side aggregates and keys") {
    val lib = Seq(("a", 1L, Some(10L)), ("b", 2L, None), ("c", 3L, None))
      .toDF("file_path", "record_count", "size_bytes")
    val served = metaTableOf(lib)
    Seq(
      "SELECT count(size_bytes), sum(size_bytes), avg(size_bytes), " +
        "min(size_bytes), max(size_bytes), count(*) FROM %s",
      "SELECT size_bytes, count(*), sum(record_count) FROM %s " +
        "GROUP BY size_bytes",
      "SELECT file_path FROM %s WHERE size_bytes IS NULL OR size_bytes > 5",
      "SELECT sum(size_bytes) FROM %s WHERE size_bytes IS NULL"
    ).foreach(agrees(served, lib, _))
  }

  test("a non-deterministic filter, DISTINCT or FILTER clause falls back to " +
    "Spark's plan with the same rows") {
    val sink = mkSink("ms_fallback")
    val n = sink.metaFiles(spark).count()
    Seq(
      "SELECT count(*) FROM gmeta.ms_fallback.files " +
        "WHERE record_count + rand() > 0",
      "SELECT count(DISTINCT record_count) + 0 * count(*) FROM " +
        "gmeta.ms_fallback.files WHERE record_count < 0",
      "SELECT count(*) FILTER (WHERE record_count >= 0) FROM " +
        "gmeta.ms_fallback.files"
    ).foreach { q =>
      val df = spark.sql(q)
      assert(!driverPlanned(df), s"$q must fall back")
      val want = if (q.contains("DISTINCT")) 0L else n
      assert(df.collect().head.getLong(0) == want, q)
    }
  }

  test("ANSI sum overflow still raises when a local scan aggregates on " +
    "the driver") {
    val key = "spark.sql.ansi.enabled"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val lib = Seq(Long.MaxValue, 1L).toDF("n")
      val served = metaTableOf(lib)
      assert(driverPlanned(served.agg(count("n"))))
      intercept[ArithmeticException](lib.agg(sum("n")).collect())
      // raised by the driver-side evaluation: no job ran
      assert(TestSpark.jobsDuring(
        intercept[ArithmeticException](served.agg(sum("n")).collect())).isEmpty)
    } finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the changes metadata table keeps its distributed scan") {
    val sink = mkSink("ms_changes")
    val df = spark.sql("SELECT count(*) FROM gmeta.ms_changes.changes")
    assert(!driverPlanned(df))
    var n = 0L
    assert(TestSpark.jobsDuring { n = df.collect().head.getLong(0) }.nonEmpty)
    assert(n == sink.readChangelogAll(spark).count())
  }
}
