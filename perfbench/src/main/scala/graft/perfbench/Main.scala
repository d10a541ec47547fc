package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir>`.
  *
  * Prints a record line (`{"record": ...}`: workload-named metrics, sample
  * counts, tail percentiles, checks, heap size, host calibration and, when
  * traced, the per-span breakdown), then as its last line the result
  * object: `correct`, `attempted`, `failed` and `metrics` — the end-to-end
  * metrics untraced, the per-layer metrics traced. Exits 1 without a
  * result when the run itself breaks. */
object Main {
  val Workloads: Map[String, Workload] =
    Seq(StreamCdc, LlmCuration).map(w => w.name -> w).toMap
  /** Setup repetitions; setup_s reports their median. */
  val SetupReps = 3
  /** The end-to-end metrics every workload reports, with units. */
  val EndToEnd: Map[String, String] = Map("setup_s" -> "s", "peak_rss_mb" -> "MB",
    "visible_p50_ms" -> "ms", "rows_per_s" -> "1/s", "read_p50_ms" -> "ms",
    "op_cpu_ms" -> "ms", "bytes_per_row" -> "B")

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, root: java.io.File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (${Workloads.keys.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new java.io.File(need("root")))
  }

  /** Fixed single-thread integer kernel; its wall time tracks the host's
    * speed at the moment of the run (not gated, recorded for drift). */
  def calibrationMs(): Double = {
    val t = System.nanoTime()
    var x = 0L
    var i = 0L
    while (i < 60000000L) { x = Gen.mix64(x + i); i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t) / 1e6
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def session(root: java.io.File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = graft.GraftSession.builder("perfbench", Some(s"local[$cores]"), cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(root, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(root, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads(a.workload)
    val calibration = calibrationMs()
    val t0 = System.nanoTime()
    val spark = session(a.root)
    spark.range(1000).selectExpr("sum(id)").head()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, a.trace)
    val r = new Run(spark, tracer, a.root, a.seed, a.seconds)

    val setupS = (1 to SetupReps).map { _ =>
      val s = System.nanoTime()
      val st = wl.setup(r)
      ((System.nanoTime() - s) / 1e9, st)
    }
    val state = setupS.last._2.asInstanceOf[wl.S]
    val w0 = System.nanoTime()
    wl.warmup(r, state)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupMedian = sessionS + Stats.median(setupS.map(_._1)) + warmupS

    tracer.attribution.foreach(_.counting = true)
    val windowStart = System.currentTimeMillis()
    val out = wl.measure(r, state)
    tracer.drain()

    val rssMb = peakRssMb()
    val e2e = out.e2e + ("setup_s" -> setupMedian) + ("peak_rss_mb" -> rssMb)
    require(e2e.keySet == EndToEnd.keySet,
      s"${a.workload} reports ${e2e.keySet} instead of ${EndToEnd.keySet}")
    val layers = Layers.summarise(r, out, calibration, windowStart)
    val heap = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .find(_.startsWith("-Xmx")).getOrElse("default")

    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> Runtime.getRuntime.availableProcessors(),
      "xmx" -> heap, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "host_calibration_ms" -> calibration,
      "session_start_s" -> sessionS, "setup_reps_s" -> setupS.map(_._1),
      "warmup_s" -> warmupS,
      "failed_share" -> r.failedShare,
      "errors" -> r.errors.toSeq,
      "checks" -> r.checks.map { case (n, ok, d) => Map("check" -> n, "ok" -> ok, "detail" -> d) },
      "end_to_end" -> e2e.map { case (k, v) => k -> Map("value" -> v, "unit" -> EndToEnd(k)) },
      "workload_metrics" -> (out.named + ("setup_s" -> (setupMedian, "s")))
        .map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "timings" -> out.samples.map { case (k, xs) => k -> (Stats.timing(xs) + ("samples" -> xs)) },
      "detail" -> out.record) ++
      (if (a.trace) Map("spans" -> layers.spans,
        "span_log" -> tracer.spans.filter(_.startMs >= windowStart).map(s => Map(
          "id" -> s.id, "trace" -> s.trace, "parent" -> s.parent, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      else Map.empty)
    println(Json(Map("record" -> record)))

    val metrics =
      if (a.trace) layers.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      else e2e.map { case (k, v) => k -> Map("value" -> v, "unit" -> EndToEnd(k)) }
    println(Json(Map("correct" -> r.correct, "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> metrics)))
    spark.stop()
  }
}
