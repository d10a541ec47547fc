package graft
import scala.util.control.NonFatal

/** Benchmark runner. Round-14 redesign — the gate signal must survive a
  * steal-prone shared host (rounds 12-13: four cooled wall-clock runs
  * produced four DISJOINT spike sets; worktree A/Bs showed the code
  * equal-or-faster while the wall-clock record breached the bar):
  *
  *  - PRIMARY per-query signal = the MIN across `SPARK_GRAFT_BENCH_RUNS`
  *    (default 2) timed runs, after one untimed warm-up. The min-envelope
  *    is the estimator the round-13 forensics proved (four runs tightened
  *    monotonically); independent steal bursts inflate individual
  *    samples, never deflate them.
  *  - Per-query EXECUTOR CPU TIME rides alongside (SparkListener task
  *    metrics): CPU-seconds are immune to involuntary-wait steal, so a
  *    wall spike with flat CPU is host noise, a CPU move is code.
  *  - The FULL record (wall min/cpu min per query, per-run walls) goes to
  *    target/bench.json; stdout's final line carries totals plus a fixed
  *    HEADLINE subset small enough to survive the driver's bounded
  *    stdout tail (the full 247-query map truncated it to
  *    `"parsed": null` in rounds 12-13).
  */
object Bench {
  /** Fixed headline subset for the driver-parsable line: the 22 TPC-H
    * parity queries plus one flagship per major subsystem. */
  private val Headline: Seq[String] = Seq(
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_order_priority", "q5_local_revenue", "q6_forecast_revenue",
    "q7_nation_volume", "q8_market_share", "q9_product_profit",
    "q10_returned_revenue", "q11_important_stock", "q12_ship_priority",
    "q13_order_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_supplier_count", "q17_small_qty_revenue", "q18_large_orders",
    "q19_disjunctive_revenue", "q20_dominant_suppliers",
    "q21_late_suppliers", "q22_idle_customers",
    "dedup_minhash", "dedup_exact", "sim_topk", "q_sink_roundtrip",
    "q_stream_versioned", "q_merge_upsert", "q_time_travel",
    "q_changelog_replicate")

  /** One query's record: an untimed `warmUp`, then `runs` timed
    * `sample`s (each returns wall, executor CPU and task run seconds),
    * kept as (wall min, CPU min, run min, every wall). None when any of
    * them throws (NonFatal only: OOM/LinkageError must abort): a FAILED
    * query gets no timing. */
  private[graft] def measure(name: String, runs: Int)(warmUp: => Unit)(
      sample: => (Double, Double, Double))
      : Option[(Double, Double, Double, Seq[Double])] =
    try {
      warmUp
      val s = (1 to runs).map(_ => sample)
      Some((s.map(_._1).min, s.map(_._2).min, s.map(_._3).min, s.map(_._1)))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"WARN bench query $name failed: $e")
        None
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(2)
    val spark = GraftSession.local(cpus.toInt)
    // Fixture hygiene: every fixture query stamps a UUID warehouse under
    // target/tmp (Fixtures); a JVM deletes its own at exit, but a killed
    // one strands them, and thousands of stranded dirs and GBs were
    // measured to skew fixture-heavy queries via directory-op and
    // page-cache pressure, so records start clean.
    // AGE-GUARDED (round-14 advice): only entries idle > 20 min are
    // swept, so a concurrently running correctness/scratch session's
    // live warehouses and checkpoints survive. SPARK_GRAFT_BENCH_CLEAN:
    // 'all' sweeps everything, 'off' skips the sweep.
    val cleanMode = sys.env.getOrElse("SPARK_GRAFT_BENCH_CLEAN", "aged")
    val tmp = Fixtures.base
    if (cleanMode != "off" && java.nio.file.Files.isDirectory(tmp)) {
      import scala.jdk.CollectionConverters._
      val cutoff = System.currentTimeMillis() - 20L * 60 * 1000
      val s = java.nio.file.Files.list(tmp)
      try s.iterator().asScala.foreach { p =>
        val idle = cleanMode == "all" ||
          (try java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff
          catch { case NonFatal(_) => false })
        if (idle) {
          try org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
          catch { case NonFatal(_) =>
            try java.nio.file.Files.deleteIfExists(p)
            catch { case NonFatal(_) => () } }
        }
      } finally s.close()
    }
    // per-task executor metrics accumulate here; reset around each timed
    // run and read after a listener-bus drain (the bus is async)
    val taskCpuNs = new java.util.concurrent.atomic.AtomicLong
    val taskRunMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            taskCpuNs.addAndGet(m.executorCpuTime)
            taskRunMs.addAndGet(m.executorRunTime)
          }
        }
      })
    def drain(): Unit =
      org.apache.spark.sql.graft.Bridge.drainListeners(spark)
    // Warm-of-N: the first (untimed) run absorbs session JIT, whole-stage
    // codegen compilation, and each custom kernel family's first-use
    // cost; timed runs then sample the plan-faithful warm time and the
    // MIN is recorded. A query that throws in any run is FAILED: it
    // stays out of the totals (recording the time it took to fail would
    // make it look fast) and both stdout lines list it.
    // System.gc() between queries keeps a shuffle-heavy query's garbage
    // debt from being billed inside its neighbors; blocking unpersist
    // evicts leaked caches/localCheckpoints (the ContextCleaner is
    // async) so storage debt never shrinks later queries' memory.
    def evict(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
    val outcomes = SparkEntry.queries.map { case (name, fn) =>
      evict()
      name -> measure(name, runs)(fn(spark, sfDir).count()) {
        evict()
        drain()
        val cpu0 = taskCpuNs.get(); val run0 = taskRunMs.get()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        drain()
        (wall, (taskCpuNs.get() - cpu0) / 1e9, (taskRunMs.get() - run0) / 1e3)
      }
    }
    val results = outcomes.collect { case (k, Some(v)) => k -> v }
    val failed = outcomes.collect { case (k, None) => k }.toSeq.sorted
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def f4(v: Double): String = String.format(java.util.Locale.ROOT,
      "%.4f", Double.box(v)) // ROOT locale: '.' decimal point, valid JSON
    def jmap(kv: Iterable[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + f4(v) }
        .mkString("{", ",", "}")
    val wallTotal = results.values.map(_._1).sum
    val cpuTotal = results.values.map(_._2).sum
    val runTotal = results.values.map(_._3).sum
    val timing = s"min_of_${runs}_warm"
    // FULL record: every query's wall/cpu/run min + raw per-run walls
    val fullJson =
      s"""{"metric":"total","value":${f4(wallTotal)},"unit":"sec",""" +
      s""""cpu_sec":${f4(cpuTotal)},"run_sec":${f4(runTotal)},""" +
      s""""timing":"$timing","sf":"$sfDir","failed":$failedJson,""" +
      s""""queries":${jmap(results.map { case (k, v) => k -> v._1 })},""" +
      s""""queries_cpu":${jmap(results.map { case (k, v) => k -> v._2 })},""" +
      s""""queries_runs":${results.map { case (k, v) =>
        "\"" + k + "\":[" + v._4.map(f4).mkString(",") + "]"
      }.mkString("{", ",", "}")}}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "target/bench.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), fullJson)
    catch { case NonFatal(e) =>
      System.err.println(s"WARN could not write bench record to $out: $e") }
    // stdout carries BOTH records: first the FULL per-query line (the
    // complete `queries` map — nothing removed vs earlier rounds; if the
    // driver's bounded tail truncates it, target/bench.json holds the
    // same bytes), then LAST a compact headline line small enough to
    // survive that tail intact so the driver can parse totals + the
    // fixed subset (rounds 12-13 recorded `"parsed": null` because the
    // full line alone never fit).
    println(fullJson)
    val head = Headline.flatMap(n => results.get(n).map(n -> _._1))
    // r15 (VERDICT r14 #2, additions only): per-query executor CPU for
    // the same fixed headline subset rides on the compact line — the
    // steal-immune signal next to each wall number
    val headCpu = Headline.flatMap(n => results.get(n).map(n -> _._2))
    val json =
      s"""{"metric":"total","value":${f4(wallTotal)},"unit":"sec",""" +
      s""""cpu_sec":${f4(cpuTotal)},"nq":${results.size},""" +
      s""""timing":"$timing","sf":"$sfDir","full":"$out",""" +
      s""""failed":$failedJson,""" +
      s""""queries":${jmap(head)},"queries_cpu":${jmap(headCpu)}}"""
    println(json)
    spark.stop()
  }
}
