package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpWarehouse(): String = TestSpark.tmpDir("graft_layout")

  test("zvalue interleaves bits LSB-first, dimension i at position b*n+i") {
    // x=3 (011), y=5 (101), 3 bits, spans 0..7 -> identity normalization:
    // z bits: b0: x0=1@0, y0=1@1; b1: x1=1@2, y1=0@3; b2: x2=0@4, y2=1@5
    // z = 1 + 2 + 4 + 32 = 39
    val df = Seq((3L, 5L)).toDF("x", "y")
    val z = df.select(ZOrder.zvalue(Seq(("x", 0L, 7L), ("y", 0L, 7L)),
      bits = 3).as("z")).head().getLong(0)
    assert(z == 39L)
  }

  test("zvalue normalization is exact integer math beyond 2^53") {
    // a double detour would round (v - mn) * 65535 for microsecond epochs;
    // two adjacent micros must map to the exact div results
    val mn = 1704067200000000L // 2024-01-01 in micros
    val mx = mn + 2592000000000L // +30 days
    val df = Seq(mn + 1234567890123L, mn + 1234567890124L).toDF("x")
    val norms = df.select(
      ZOrder.zvalue(Seq(("x", mn, mx)), bits = 16).as("z"))
      .as[Long].collect()
    val expect = df.as[Long].collect()
      .map(v => (v - mn) * 65535L / (mx - mn))
    // 1-D z-value with LSB-first interleave is the normalized value itself
    assert(norms.toSeq == expect.toSeq)
  }

  test("zvalue guards: degenerate span, bit budget") {
    val df = Seq((7L, 7L)).toDF("x", "y")
    // mn == mx: normalizes to 0, no division by zero
    assert(df.select(ZOrder.zvalue(Seq(("x", 7L, 7L)), 16).as("z"))
      .head().getLong(0) == 0L)
    intercept[IllegalArgumentException] {
      ZOrder.zvalue(Seq(("x", 0L, 1L), ("y", 0L, 1L)), bits = 32)
    }
  }

  test("hilbert walk is a bijection onto 0..2^(2b)-1 with unit-step adjacency") {
    // the defining curve property: consecutive indexes are grid neighbors
    // (|dx| + |dy| = 1) — morton interleave fails this at every power-of-2
    // boundary, which is exactly why hilbert files are tighter rectangles
    val bits = 3
    val n = 1 << bits
    val grid = (0 until n).flatMap(x => (0 until n).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    val walked = Hilbert.withHilbert(grid, "x", "y", bits = bits)
      .select($"hval", $"x", $"y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(walked.map(_._1).toSeq == (0L until (n.toLong * n)).toSeq,
      "every cell gets a distinct index covering the full range")
    walked.sliding(2).foreach { case Array((_, x1, y1), (_, x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"consecutive cells ($x1,$y1)->($x2,$y2) must be grid-adjacent")
    }
  }

  test("hilbert cluster yields tighter per-file rectangles than a random layout") {
    val n = 32
    val pts = (0 until n).flatMap(x => (0 until n).map(y =>
      (x.toLong * 1000 + y, x.toLong, y.toLong))).toDF("id", "x", "y")
    val clustered = Hilbert.cluster(pts, ("x", 0L, n - 1L), ("y", 0L, n - 1L),
      nRanges = 16, bits = 5)
    // per-partition bounding boxes: hilbert ranges of 64 cells must be
    // far tighter than the full 32x32 domain
    val spans = clustered.withColumn("pid", spark_partition_id())
      .groupBy($"pid")
      .agg((max($"x") - min($"x")).as("sx"), (max($"y") - min($"y")).as("sy"))
      .collect().map(r => (r.getLong(1) + 1) * (r.getLong(2) + 1))
    assert(spans.length == 16)
    assert(spans.max <= 4 * 64,
      s"a 64-cell hilbert range must span a bounded rectangle, got ${spans.max}")
  }

  test("z-order + zone maps: 2-D rectangle reads few files, loses no rows") {
    val n = 20000
    val df = spark.range(n).select(
      $"id".as("event_id"),
      ($"id" % 1000).as("x"), // uniform grid over both dims
      (($"id" * 131) % 1000).as("y"),
      concat(lit("p"), $"id").as("payload"))
    val sink = new TableSink(SinkConfig("grid_z", tmpWarehouse()))
    val b = ZOrder.boundsOf(df, Seq("x", "y"))
    sink.appendClustered(ZOrder.cluster(df,
      Seq(("x", b("x")._1, b("x")._2), ("y", b("y")._1, b("y")._2)),
      nRanges = 32))
    val zm = new ZoneMaps(sink)
    zm.analyze(spark, Seq("x", "y"))

    val total = sink.read(spark).inputFiles.length
    assert(total >= 32, s"expected >=32 range files, got $total")
    val pruned = zm.readBetween(spark,
      ("x", lit(100L), lit(199L)), ("y", lit(100L), lit(199L)))
    val kept = pruned.inputFiles.length
    assert(kept < total / 2,
      s"a 1% rectangle kept $kept of $total files — zone maps not engaging")

    val expect = sink.read(spark)
      .filter($"x".between(100, 199) && $"y".between(100, 199))
      .select("event_id").as[Long].collect().toSet
    val got = pruned
      .filter($"x".between(100, 199) && $"y".between(100, 199))
      .select("event_id").as[Long].collect().toSet
    assert(got == expect, "pruned read lost or invented rows")
  }

  test("in-plan skipping matches readBetween with zero driver path handoff") {
    val n = 20000
    val df = spark.range(n).select(
      $"id".as("event_id"),
      ($"id" % 1000).as("x"),
      (($"id" * 131) % 1000).as("y"),
      concat(lit("p"), $"id").as("payload"))
    val sink = new TableSink(SinkConfig("grid_inplan", tmpWarehouse()))
    val b = ZOrder.boundsOf(df, Seq("x", "y"))
    sink.appendClustered(ZOrder.cluster(df,
      Seq(("x", b("x")._1, b("x")._2), ("y", b("y")._1, b("y")._2)),
      nRanges = 32))
    val zm = new ZoneMaps(sink)
    zm.analyze(spark, Seq("x", "y"))
    val bounds = Seq(("x", lit(100L), lit(199L)), ("y", lit(100L), lit(199L)))
    val inPlan = zm.readBetweenInPlan(spark, bounds: _*)
    // the pruned-set handoff stays inside the plan: a broadcast LEFT ANTI
    // join against the stats scan, no collected path list anywhere
    val plan = inPlan.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"),
      s"in-plan variant must anti-join the pruned set:\n$plan")
    assert(plan.toLowerCase.contains("broadcast"),
      s"pruned set must broadcast, not shuffle the table:\n$plan")
    val expect = zm.readBetween(spark, bounds: _*)
      .filter($"x".between(100, 199) && $"y".between(100, 199))
      .select("event_id").as[Long].collect().toSet
    val got = inPlan
      .filter($"x".between(100, 199) && $"y".between(100, 199))
      .select("event_id").as[Long].collect().toSet
    assert(got == expect, "in-plan skip disagreed with readBetween")
    // unanalyzed late append survives the anti-join automatically
    sink.append(Seq((99999L, 5000L, 5000L, "late"))
      .toDF("event_id", "x", "y", "payload"))
    val late = zm.readBetweenInPlan(spark,
        ("x", lit(4000L), lit(6000L)), ("y", lit(4000L), lit(6000L)))
      .filter($"x" === 5000L).select("event_id").as[Long].collect()
    assert(late.toSeq == Seq(99999L))
  }

  test("in-plan skipping composes with merge-on-read delete anti-joins") {
    // regression: _metadata is unresolvable after a key-list anti-join,
    // so the scan path must be captured inside the sink's read
    val sink = new TableSink(SinkConfig(tableName = "inplan_mor",
      warehousePath = tmpWarehouse(), versioned = true))
    sink.append((1L to 40L).map(i => (i, i * 10L)).toDF("id", "v"))
    val zm = new ZoneMaps(sink)
    zm.analyze(spark, Seq("v"))
    sink.deleteKeys(Seq(7L).toDF("id"), Seq("id"))
    val got = zm.readBetweenInPlan(spark, ("v", lit(50L), lit(100L)))
      .filter($"v".between(50L, 100L)).select("id").as[Long]
      .collect().sorted.toSeq
    assert(got == Seq(5L, 6L, 8L, 9L, 10L),
      s"deleted id=7 must stay deleted through the in-plan skip: $got")
  }

  test("files appended after analyze are conservatively always read") {
    val sink = new TableSink(SinkConfig("late_append", tmpWarehouse()))
    val early = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    sink.append(early)
    new ZoneMaps(sink).analyze(spark, Seq("v"))
    // this row's v=999 is outside the stats' only zone [10,20] — but its
    // file postdates the stats, so it must still be read
    sink.append(Seq((3L, 999L)).toDF("id", "v"))
    val zm = new ZoneMaps(sink)
    val got = zm.readBetween(spark, ("v", lit(900L), lit(1000L)))
      .filter($"v".between(900L, 1000L)).select("id").as[Long].collect()
    assert(got.toSeq == Seq(3L))
  }

  test("versioned appends keep zone maps FRESH: post-analyze files prune") {
    val sink = new TableSink(
      SinkConfig("fresh_zm", tmpWarehouse(), versioned = true))
    sink.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    val zm = new ZoneMaps(sink)
    zm.analyze(spark, Seq("v"))
    // the versioned append computes this file's zone ([999,999]) itself —
    // O(added files) upkeep, no re-analyze
    sink.append(Seq((3L, 999L)).toDF("id", "v"))
    // a range excluding the new zone now PRUNES the new file; without
    // upkeep it would be an always-read unanalyzed candidate
    val (files, pruned) = zm.candidates(spark, Seq(("v", lit(0L), lit(30L))))
    assert(pruned == 1,
      s"the appended file's fresh zone must prune (kept: $files)")
    // and reads targeting the new zone still find it (stats are correct,
    // not just present)
    val got = zm.readBetween(spark, ("v", lit(900L), lit(1000L)))
      .filter($"v".between(900L, 1000L)).select("id").as[Long].collect()
    assert(got.toSeq == Seq(3L))
  }

  test("versioned appends keep bloom signatures fresh under the " +
    "persisted stamps") {
    val sink = new TableSink(
      SinkConfig("fresh_bf", tmpWarehouse(), versioned = true))
    sink.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    val bf = new BloomSkip(sink)
    bf.analyze(spark, Seq("k"))
    sink.append(Seq((99L, 990L)).toDF("k", "v"))
    // a value in NO file prunes the fresh file too (it has a signature)
    val (_, pruned) = bf.candidates(spark, Seq(("k", lit(12345L))))
    assert(pruned == 2,
      "both files carry signatures and neither admits the probe")
    // the fresh file's own value is admitted and read
    val got = bf.readEquals(spark, ("k", lit(99L)))
      .filter($"k" === 99L).select("v").as[Long].collect()
    assert(got.toSeq == Seq(990L))
  }

  test("empty candidate set returns an empty frame with the table schema") {
    val sink = new TableSink(SinkConfig("all_pruned", tmpWarehouse()))
    sink.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    val zm = new ZoneMaps(sink)
    zm.analyze(spark, Seq("v"))
    val out = zm.readBetween(spark, ("v", lit(500L), lit(600L)))
    assert(out.count() == 0)
    assert(out.columns.toSet == Set("id", "v"))
  }

  test("unanalyzed table: everything is a candidate, nothing pruned") {
    val sink = new TableSink(SinkConfig("no_stats", tmpWarehouse()))
    sink.append(Seq((1L, 10L)).toDF("id", "v"))
    val (files, prunedN) =
      new ZoneMaps(sink).candidates(spark, Seq(("v", lit(0L), lit(1L))))
    assert(files.nonEmpty && prunedN == 0)
  }

  test("many-file table: candidates collects only survivors, exact prune count") {
    // 64 range-clustered files over a 0..63 key, a 2-key bound, plus one
    // post-analyze (unanalyzed) file. The stats read filters IN SPARK, so
    // the driver-side result is exactly the survivor list: the files whose
    // zones intersect [8,9] plus the unanalyzed straggler — everything else
    // pruned. Guards the O(kept + unanalyzed) collect contract.
    val df = spark.range(65536).select($"id", ($"id" % 64).as("k"))
    val sink = new TableSink(SinkConfig("many_files", tmpWarehouse()))
    sink.appendClustered(ZOrder.cluster(df, Seq(("k", 0L, 63L)), nRanges = 64))
    val zm = new ZoneMaps(sink)
    zm.analyze(spark, Seq("k"))
    val analyzed = sink.read(spark).inputFiles.length
    assert(analyzed >= 40, s"expected a many-file table, got $analyzed")
    sink.append(Seq((999999L, 999L)).toDF("id", "k")) // unanalyzed straggler
    val total = sink.read(spark).inputFiles.length
    assert(total == analyzed + 1)
    val (files, prunedN) =
      zm.candidates(spark, Seq(("k", lit(8L), lit(9L))))
    assert(files.size + prunedN == total, "partition of the live set")
    assert(files.size <= 5,
      s"a 2/64-key bound + 1 straggler should keep <=5 files, kept ${files.size}")
    // correctness on top: the pruned read still returns every matching row
    val got = zm.readBetween(spark, ("k", lit(8L), lit(9L)))
      .filter($"k".between(8L, 9L)).count()
    assert(got == 65536L / 64 * 2, s"pruned read lost rows: $got")
  }

  test("bloom skipping: hash-clustered point lookup prunes, never drops") {
    val sink = new TableSink(SinkConfig("bloom1", tmpWarehouse()))
    // 64 keys hash-clustered into 16 files: every file's key min/max spans
    // the domain (zone maps prune nothing) but each key lives in ONE file
    val df = spark.range(4096).select(($"id" % 64).as("k"), $"id".as("v"))
    sink.appendClustered(df.repartition(16, $"k"))
    val bf = new BloomSkip(sink)
    bf.analyze(spark, Seq("k"))
    val zm = new ZoneMaps(sink)
    zm.analyze(spark, Seq("k"))
    val (_, zonePruned) = zm.candidates(spark, Seq(("k", lit(7L), lit(7L))))
    val (files, pruned) = bf.candidates(spark, Seq(("k", lit(7L))))
    // range zones only prune the files whose FEW keys happen to all land
    // on one side of 7; the bloom sees exact membership and must beat them
    assert(pruned > zonePruned,
      s"bloom ($pruned) must out-prune range zones ($zonePruned) on " +
        "hash-clustered keys")
    assert(files.nonEmpty)
    // one-sidedness: every k=7 row must survive the pruned read
    val got = bf.readEquals(spark, ("k", lit(7L)))
      .filter($"k" === 7L).count()
    assert(got == 4096L / 64, s"bloom skipping lost rows: $got")
    // in-plan variant returns the identical row set
    val inPlan = bf.readEqualsInPlan(spark, ("k", lit(7L)))
      .filter($"k" === 7L).count()
    assert(inPlan == got)
  }

  test("bloom: unanalyzed and late-appended files are always candidates") {
    val sink = new TableSink(SinkConfig("bloom2", tmpWarehouse()))
    sink.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    val bf = new BloomSkip(sink)
    val (all, pruned0) = bf.candidates(spark, Seq(("k", lit(99L))))
    assert(pruned0 == 0 && all.nonEmpty, "no stats: everything survives")
    bf.analyze(spark, Seq("k"))
    // k=99 only exists in a file appended AFTER analyze — must be read
    sink.append(Seq((99L, 990L)).toDF("k", "v"))
    val got = bf.readEquals(spark, ("k", lit(99L)))
      .filter($"k" === 99L).select("v").as[Long].collect()
    assert(got.toSeq == Seq(990L))
    // null probe values can never match; all-null files prune safely
    val sinkN = new TableSink(SinkConfig("bloom3", tmpWarehouse()))
    sinkN.append(Seq((Option.empty[java.lang.Long], 1L),
      (Option.empty[java.lang.Long], 2L)).toDF("k", "v"))
    val bfN = new BloomSkip(sinkN)
    bfN.analyze(spark, Seq("k"))
    assert(bfN.readEquals(spark, ("k", lit(5L)))
      .filter($"k" === 5L).count() == 0)
  }

  test("driver-variant pruned reads subtract pending merge-on-read deletes") {
    // regression: readEquals/readBetween load candidate files directly;
    // without applyHeadDeletes a pending sidecar's rows would resurrect
    val sink = new TableSink(SinkConfig(tableName = "pruned_mor",
      warehousePath = tmpWarehouse(), versioned = true))
    sink.append((1L to 40L).map(i => (i % 8, i)).toDF("k", "v"))
    val bf = new BloomSkip(sink)
    bf.analyze(spark, Seq("k"))
    val zm = new ZoneMaps(sink)
    zm.analyze(spark, Seq("v"))
    sink.deleteKeys(Seq(15L).toDF("v"), Seq("v"))   // k=7, v=15
    val eq = bf.readEquals(spark, ("k", lit(7L)))
      .filter($"k" === 7L).select("v").as[Long].collect().sorted.toSeq
    assert(eq == Seq(7L, 23L, 31L, 39L),
      s"readEquals resurrected the deleted v=15: $eq")
    val bw = zm.readBetween(spark, ("v", lit(10L), lit(20L)))
      .filter($"v".between(10L, 20L)).select("v").as[Long]
      .collect().sorted.toSeq
    assert(bw == Seq(10L, 11L, 12L, 13L, 14L, 16L, 17L, 18L, 19L, 20L),
      s"readBetween resurrected the deleted v=15: $bw")
  }

  test("bloom probes hash under the persisted type and parameters") {
    val sink = new TableSink(SinkConfig("bloom_type", tmpWarehouse()))
    // INT column: a LONG probe literal must still find the row (xxhash64
    // is type-sensitive — the probe casts to the persisted column type)
    sink.append(spark.range(64)
      .select(($"id" % 16).cast("int").as("k"), $"id".as("v"))
      .repartition(8, $"k"))
    val bf = new BloomSkip(sink)
    bf.analyze(spark, Seq("k"))
    val got = bf.readEquals(spark, ("k", lit(7L)))   // LONG 7 vs INT column
      .filter($"k" === 7).count()
    assert(got == 4, s"type-mismatched probe must not lose rows: $got")
    // a reader instantiated with different bits/k uses the stats' stamps
    val other = new BloomSkip(sink, bits = 8192, k = 3)
    assert(other.readEquals(spark, ("k", lit(7))).filter($"k" === 7)
      .count() == 4, "mismatched reader parameters must not lose rows")
  }

  test("bloom in-plan skip composes with merge-on-read deletes") {
    val sink = new TableSink(SinkConfig(tableName = "bloom_mor",
      warehousePath = tmpWarehouse(), versioned = true))
    sink.append((1L to 40L).map(i => (i % 8, i)).toDF("k", "v"))
    val bf = new BloomSkip(sink)
    bf.analyze(spark, Seq("k"))
    sink.deleteKeys(Seq(15L).toDF("v"), Seq("v"))  // k=7, v=15 deleted
    val got = bf.readEqualsInPlan(spark, ("k", lit(7L)))
      .filter($"k" === 7L).select("v").as[Long].collect().sorted.toSeq
    assert(got == Seq(7L, 23L, 31L, 39L),
      s"deleted v=15 must stay deleted through the bloom skip: $got")
  }

  test("in-plan skips execute as broadcast anti-joins, no driver paths") {
    val sink = new TableSink(SinkConfig("bloom_plan", tmpWarehouse()))
    sink.append(spark.range(256).select(($"id" % 8).as("k"), $"id".as("v"))
      .repartition(4, $"k"))
    val bf = new BloomSkip(sink)
    bf.analyze(spark, Seq("k"))
    val plan = bf.readEqualsInPlan(spark, ("k", lit(3L)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"pruned set must broadcast into an anti-join, got:\n$plan")
    val zm = new ZoneMaps(sink)
    zm.analyze(spark, Seq("v"))
    val zplan = zm.readBetweenInPlan(spark, ("v", lit(0L), lit(10L)))
      .queryExecution.executedPlan.toString
    assert(zplan.contains("BroadcastHashJoin") && zplan.contains("LeftAnti"),
      s"zone-map in-plan skip must broadcast anti-join, got:\n$zplan")
  }

  test("clusterBy rewrites in place: rows exact, zones disjoint, MoR folds") {
    val sink = new TableSink(SinkConfig(tableName = "clusterby",
      warehousePath = tmpWarehouse(), versioned = true, numPartitions = 4))
    sink.append(spark.range(4096)
      .select($"id", (($"id" * 2654435761L) % 997).as("k")))
    sink.deleteKeys(Seq(5L).toDF("id"), Seq("id"))
    sink.clusterBy(spark, Seq("k"), nRanges = 8)
    val got = sink.read(spark)
    assert(got.count() == 4095, "clusterBy must materialize the MoR delete")
    assert(got.filter($"id" === 5L).count() == 0)
    assert(sink.snapshotVersions().size == 1, "rewrite expires history")
    // each file covers a disjoint k-range after the rewrite — zones now
    // read from the MANIFEST entries (versioned analyze folds them in)
    new ZoneMaps(sink).analyze(spark, Seq("k"))
    val zones = sink.manifestStatsDf(spark).get
      .select(element_at($"z", "k").getItem(0).cast("long"),
        element_at($"z", "k").getItem(1).cast("long"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(zones.length >= 8)
    zones.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2,
        s"file zones overlap after clusterBy: $hi1 > $lo2")
      case _ =>
    }
  }

  test("clusterByHilbert rewrites in place: rows exact, MoR folds, guards") {
    val sink = new TableSink(SinkConfig(tableName = "hilbertby",
      warehousePath = tmpWarehouse(), versioned = true, numPartitions = 4))
    sink.append(spark.range(2048)
      .select($"id", (($"id" * 2654435761L) % 509).as("x"),
        (($"id" * 40503L) % 509).as("y")))
    sink.deleteKeys(Seq(5L).toDF("id"), Seq("id"))
    sink.clusterByHilbert(spark, "x", "y", nRanges = 8)
    val got = sink.read(spark)
    assert(got.count() == 2047, "rewrite must materialize the MoR delete")
    assert(got.filter($"id" === 5L).count() == 0)
    assert(sink.snapshotVersions().size == 1, "rewrite expires history")
    assert(got.inputFiles.length >= 8, "range files written")
    // guards shared with clusterBy: Hilbert's OWN temp columns count too
    val clash = new TableSink(SinkConfig("hilbert_g", tmpWarehouse()))
    clash.append(Seq((1L, 2L, 3L)).toDF("__nx0", "x", "y"))
    val e = intercept[IllegalArgumentException](
      clash.clusterByHilbert(spark, "x", "y"))
    assert(e.getMessage.contains("__nx0"), e.getMessage)
  }

  test("clusterBy guards: temp-column clash, all-null dimension") {
    val sink = new TableSink(SinkConfig("clusterby_g", tmpWarehouse()))
    sink.append(Seq((1L, 2L)).toDF("__zd_0", "v"))
    val e = intercept[IllegalArgumentException](
      sink.clusterBy(spark, Seq("v")))
    assert(e.getMessage.contains("__zd_0"), e.getMessage)
    val sink2 = new TableSink(SinkConfig("clusterby_n", tmpWarehouse()))
    sink2.append(Seq((1L, "x")).toDF("id", "s"))
    val en = intercept[IllegalArgumentException](
      sink2.clusterBy(spark, Seq("try_cast(s AS LONG)")))
    assert(en.getMessage.contains("NULL for every row"), en.getMessage)
  }

  test("manifest-entry stats: one metadata source, upkeep IS the commit, " +
    "stats survive manifest folds and die with expired history") {
    import org.apache.hadoop.fs.{Path => HPath}
    val sink = new TableSink(SinkConfig(tableName = "mfstats",
      warehousePath = tmpWarehouse(), versioned = true))
    sink.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    new ZoneMaps(sink).analyze(spark, Seq("v"))
    new BloomSkip(sink).analyze(spark, Seq("id"))
    val root = sink.config.tablePath
    // no sidecar layer exists for a versioned table — the manifest entry
    // is the single source of truth
    assert(!WarehouseIO.exists(new HPath(s"$root/_graft_stats")) &&
      !WarehouseIO.exists(new HPath(s"$root/_graft_bloom")),
      "versioned analyze must not create parquet sidecars")
    val logDir = new HPath(s"$root/_graft_log")
    def statsLines(): Int = TestSpark.childNames(logDir)
      .filter(n => n.startsWith("m-") && n.endsWith(".mf"))
      .map(n => TableLog.manifestLinesOf(logDir, n)
        .count(_.contains('\t'))).sum
    assert(statsLines() >= 1, "analyze folds stats INTO manifest entries")
    // upkeep is part of the commit: the append's own delta manifest
    // carries its files' stats — no separate maintenance step ran
    sink.append(Seq((3L, 999L)).toDF("id", "v"))
    val zm = new ZoneMaps(sink)
    val (_, zPruned) = zm.candidates(spark, Seq(("v", lit(0L), lit(30L))))
    assert(zPruned == 1, "the appended file's fresh zone must prune")
    val bf = new BloomSkip(sink)
    val (_, bPruned) = bf.candidates(spark, Seq(("id", lit(777L))))
    assert(bPruned == 2, "both files' bloom entries reject the probe")
    // stats survive a manifest fold (line-preserving merge)
    sink.compactManifests()
    assert(zm.candidates(spark, Seq(("v", lit(0L), lit(30L))))._2 == 1,
      "zone stats must survive manifest compaction")
    assert(bf.candidates(spark, Seq(("id", lit(777L))))._2 == 2,
      "bloom stats must survive manifest compaction")
    // expiry drops superseded manifests — their stats die with them,
    // with no separate stats GC to run or forget
    val before = TestSpark.childNames(logDir)
      .count(n => n.startsWith("m-") && n.endsWith(".mf"))
    sink.expireSnapshotsKeepLast(1)
    val after = TestSpark.childNames(logDir)
      .count(n => n.startsWith("m-") && n.endsWith(".mf"))
    assert(after < before, "expiry reclaims superseded stats-bearing " +
      s"manifests ($before -> $after)")
    assert(sink.read(spark).count() == 3)
  }

  test("TIMESTAMP zone bounds persist as epoch micros: a reader in a " +
    "different session timezone prunes correctly, never drops rows") {
    import org.apache.hadoop.fs.{Path => HPath}
    // ADVICE r10: cast-to-string bounds were rendered in the WRITER's
    // session timezone with no designator, and the probe parsed them in
    // the READER's — shifted bounds could prune a file containing
    // matching rows. Epoch micros parse identically everywhere.
    val sink = new TableSink(SinkConfig(tableName = "tzstats",
      warehousePath = tmpWarehouse(), versioned = true))
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    // two files: one entirely in March, one entirely in June
    sink.append(Seq((1L, ts("2024-03-10T05:00:00Z")),
      (2L, ts("2024-03-20T23:30:00Z"))).toDF("id", "t"))
    sink.append(Seq((3L, ts("2024-06-10T05:00:00Z")),
      (4L, ts("2024-06-20T23:30:00Z"))).toDF("id", "t"))
    new ZoneMaps(sink).analyze(spark, Seq("t"))
    // the persisted bounds are pure digits (epoch micros), not rendered
    val logDir = new HPath(s"${sink.config.tablePath}/_graft_log")
    val statLines = TestSpark.childNames(logDir)
      .filter(n => n.startsWith("m-") && n.endsWith(".mf"))
      .flatMap(n => TableLog.manifestLinesOf(logDir, n))
      // entries carrying zone bounds (every entry also records per-file
      // facts, so a stats TAB alone no longer marks a zone entry)
      .filter(_.contains("\"z\":"))
    assert(statLines.nonEmpty)
    val micros = "\"t\":\\[\"(-?\\d+)\",\"(-?\\d+)\"\\]".r
    assert(statLines.forall(l => micros.findFirstIn(l).isDefined),
      s"timestamp bounds must persist as epoch micros: $statLines")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      // probe from a UTC+9 session: bounds that keep only the March file
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val zm = new ZoneMaps(sink)
      val bounds = Seq(("t",
        lit("2024-03-01T00:00:00Z").cast("timestamp"),
        lit("2024-03-31T00:00:00Z").cast("timestamp")))
      val (files, pruned) = zm.candidates(spark, bounds)
      assert(pruned == 1 && files.size == 1,
        s"the June file must prune, the March file must survive " +
          s"(pruned=$pruned files=${files.size})")
      val rows = zm.readBetween(spark, bounds: _*)
        .select("id").as[Long].collect().toSet
      assert(rows == Set(1L, 2L), s"no matching row may be lost: $rows")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("a LEGACY session-rendered timestamp zone entry is unparseable-" +
    "absolutely and must KEEP its file, never prune it") {
    import org.apache.hadoop.fs.{Path => HPath}
    val sink = new TableSink(SinkConfig(tableName = "tzlegacy",
      warehousePath = tmpWarehouse(), versioned = true))
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    sink.append(Seq((1L, ts("2024-03-10T05:00:00Z"))).toDF("id", "t"))
    new ZoneMaps(sink).analyze(spark, Seq("t"))
    // rewrite the manifest entry into the PRE-fix rendered form
    val logDir = new HPath(s"${sink.config.tablePath}/_graft_log")
    TestSpark.childNames(logDir)
      .filter(n => n.startsWith("m-") && n.endsWith(".mf")).foreach { n =>
        val p = new HPath(logDir, n)
        val rewritten = WarehouseIO.readString(p)
          .replaceAll("\"t\":\\[\"-?\\d+\",\"-?\\d+\"\\]",
            "\"t\":[\"2024-03-10 05:00:00\",\"2024-03-10 05:00:00\"]")
        WarehouseIO.writeStringAtomic(p, rewritten)
      }
    val zm = new ZoneMaps(sink)
    // bounds that DO contain the row: the legacy entry must not prune it
    val (files, pruned) = zm.candidates(spark,
      Seq(("t", lit("2024-03-01T00:00:00Z").cast("timestamp"),
        lit("2024-03-31T00:00:00Z").cast("timestamp"))))
    assert(pruned == 0 && files.size == 1,
      "a legacy-rendered bound is not absolutely parseable — the file " +
        "must read as unanalyzed (kept), not be pruned on a guessed zone")
    assert(zm.readBetween(spark,
      ("t", lit("2024-03-01T00:00:00Z").cast("timestamp"),
        lit("2024-03-31T00:00:00Z").cast("timestamp")))
      .count() == 1)
  }

  test("appendClustered preserves the range layout the normal append undoes") {
    val df = spark.range(4096).select($"id", ($"id" % 64).as("k"))
    val clustered = ZOrder.cluster(df, Seq(("k", 0L, 63L)), nRanges = 8)
    val a = new TableSink(SinkConfig("clustered", tmpWarehouse()))
    a.appendClustered(clustered)
    assert(a.read(spark).inputFiles.length >= 8)
    // each file covers a disjoint k-range: max total overlap == 0
    new ZoneMaps(a).analyze(spark, Seq("k"))
    val zones = spark.read.parquet(s"${a.config.tablePath}/_graft_stats")
      .select("min_k", "max_k").as[(Long, Long)].collect().sortBy(_._1)
    zones.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2,
        s"file zones overlap: $hi1 > $lo2 — layout not preserved")
      case _ =>
    }
  }
}
