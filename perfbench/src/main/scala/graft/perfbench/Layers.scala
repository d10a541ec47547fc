package graft.perfbench

import scala.jdk.CollectionConverters._

/** Per-layer numbers from a traced run: each span's own work (wall,
  * Spark jobs/CPU/shuffle/spill through its job group, driver-only time,
  * pinned bytes after the call, GC, warehouse metadata IO), summarised per
  * span name, plus the per-layer metrics the result line carries. */
object Layers {

  final case class Summary(spans: Map[String, Map[String, Double]],
      metrics: Map[String, (Double, String)])

  private final case class Row(name: String, ms: Double, jobs: Long, cpuMs: Double,
      driverOnlyMs: Double, shuffle: Long, spill: Long, pin: Long, gcMs: Long,
      input: Long, listings: Long, reads: Long, metaBytes: Long)

  /** Spans that call into the TableSink layer (a refused replay does no
    * sink work and would dilute the per-call figures). */
  def isSink(name: String): Boolean =
    name.startsWith("TableSink.") && !name.endsWith(".replay")
  def isRead(name: String): Boolean = name.startsWith("read.")

  def summarise(r: Run, out: Outcome, calibrationMs: Double, windowStartMs: Long): Summary = {
    val tr = r.tracer
    val att = tr.attribution
    if (att.isEmpty) return Summary(Map.empty, Map.empty)
    val by = att.get.bySpan.asScala
    val window = tr.spans.filter(_.startMs >= windowStartMs)
    val rows = window.map { s =>
      val w = by.getOrElse(s.id, new SparkWork)
      val covered = Trace.covered(s.startMs, s.endMs, w.taskIntervals)
      Row(s.name, s.ms, w.jobs, w.cpuNs / 1e6,
        math.max(0.0, s.ms - covered), w.shuffleBytes, w.spillBytes, s.pinBytes,
        s.gcMs, w.inputRecords, s.dirListings, s.metaReads, s.metaBytesWritten)
    }.toSeq
    val spans = rows.groupBy(_.name).map { case (n, rs) =>
      n -> Map(
        "calls" -> rs.size.toDouble,
        "ms" -> Stats.median(rs.map(_.ms)),
        "ms_total" -> rs.map(_.ms).sum,
        "spark.jobs" -> rs.map(_.jobs).sum.toDouble,
        "spark.executor_cpu_ms" -> rs.map(_.cpuMs).sum,
        "spark.driver_only_ms" -> rs.map(_.driverOnlyMs).sum,
        "spark.shuffle_bytes" -> rs.map(_.shuffle).sum.toDouble,
        "spark.spill_bytes" -> rs.map(_.spill).sum.toDouble,
        "pin.bytes" -> rs.map(_.pin).max.toDouble,
        "jvm.gc_ms" -> rs.map(_.gcMs).sum.toDouble,
        "spark.input_records" -> rs.map(_.input).sum.toDouble,
        "WarehouseIO.dirListings" -> rs.map(_.listings).sum.toDouble,
        "WarehouseIO.metaReads" -> rs.map(_.reads).sum.toDouble,
        "WarehouseIO.metaBytesWritten" -> rs.map(_.metaBytes).sum.toDouble)
    }

    def med(rs: Seq[Row], f: Row => Double) = if (rs.isEmpty) 0.0 else Stats.median(rs.map(f))
    def per(rs: Seq[Row], f: Row => Double) = if (rs.isEmpty) 0.0 else rs.map(f).sum / rs.size
    val sink = rows.filter(x => isSink(x.name))
    val reads = rows.filter(x => isRead(x.name))
    val total = att.get.totalCpuNs
    val rowsReturned = out.layers.getOrElse("read.rows_returned", 0.0)
    val m = Map[String, (Double, String)](
      "TableSink.call_ms" -> (med(sink, _.ms), "ms"),
      "TableSink.calls" -> (sink.size.toDouble, "count"),
      "TableSink.executor_cpu_ms" -> (sink.map(_.cpuMs).sum, "ms"),
      "TableSink.driver_only_ms" -> (sink.map(_.driverOnlyMs).sum, "ms"),
      "WarehouseIO.dirListings_per_sink_call" -> (per(sink, _.listings.toDouble), "count"),
      "WarehouseIO.metaReads_per_sink_call" -> (per(sink, _.reads.toDouble), "count"),
      "WarehouseIO.metaBytesWritten_per_sink_call" -> (per(sink, _.metaBytes.toDouble), "B"),
      "WarehouseIO.dirListings_per_read" -> (per(reads, _.listings.toDouble), "count"),
      "WarehouseIO.metaReads_per_read" -> (per(reads, _.reads.toDouble), "count"),
      "read.sql_ms" -> (med(reads, _.ms), "ms"),
      "read.sql_head_ms" -> (med(reads.filter(_.name == "read.sql_head"), _.ms), "ms"),
      "read.sql_time_travel_ms" -> (med(reads.filter(_.name == "read.sql_time_travel"), _.ms), "ms"),
      "read.meta_files_ms" -> (med(reads.filter(_.name == "read.meta_files"), _.ms), "ms"),
      "read.executor_cpu_ms" -> (reads.map(_.cpuMs).sum, "ms"),
      "read.driver_only_ms" -> (reads.map(_.driverOnlyMs).sum, "ms"),
      "spark.input_records_per_row_returned" ->
        (if (rowsReturned > 0) reads.map(_.input).sum / rowsReturned else 0.0, "ratio"),
      "spark.jobs" -> (rows.map(_.jobs).sum.toDouble, "count"),
      "spark.executor_cpu_ms" -> (rows.map(_.cpuMs).sum, "ms"),
      "spark.driver_only_ms" -> (rows.map(_.driverOnlyMs).sum, "ms"),
      "spark.shuffle_bytes" -> (rows.map(_.shuffle).sum.toDouble, "B"),
      "spark.spill_bytes" -> (rows.map(_.spill).sum.toDouble, "B"),
      "spark.attributed_cpu_share" ->
        (if (total > 0) att.get.attributedCpuNs.toDouble / total else 1.0, "ratio"),
      "pin.bytes" -> (if (rows.isEmpty) 0.0 else rows.map(_.pin).max.toDouble, "B"),
      "jvm.gc_ms" -> (rows.map(_.gcMs).sum.toDouble, "ms"),
      "host.calibration_ms" -> (calibrationMs, "ms"))
    val workload = Defaults ++ out.layers.filter(_._1 != "read.rows_returned")
    Summary(spans, m ++ workload.map { case (k, v) => k -> (v, LayerUnits(k)) })
  }

  /** Workload-specific layer metrics, as reported by a workload that does
    * not exercise the layer: no work counted, and recall/precision
    * vacuously 1 (nothing planted, nothing missed, nothing wrongly paired). */
  val Defaults: Map[String, Double] = Map(
    "catalog.plan_ms" -> 0.0, "sink.data_files_per_commit" -> 0.0,
    "sink.head_manifests" -> 0.0, "TableSink.rows_per_commit" -> 0.0,
    "replica.pending_delete_versions" -> 0.0, "replica.consolidating_applies" -> 0.0,
    "dedup.minhash_recall" -> 1.0, "dedup.minhash_precision" -> 1.0)

  val LayerUnits: Map[String, String] = Map(
    "dedup.minhash_recall" -> "ratio", "dedup.minhash_precision" -> "ratio",
    "catalog.plan_ms" -> "ms", "sink.data_files_per_commit" -> "count",
    "sink.head_manifests" -> "count", "TableSink.rows_per_commit" -> "count",
    "replica.pending_delete_versions" -> "count",
    "replica.consolidating_applies" -> "count")
}
