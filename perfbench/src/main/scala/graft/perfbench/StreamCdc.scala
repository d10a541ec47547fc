package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{PartitionField, SinkConfig, TableSink, Transform}

/** `stream_cdc`: the connector's streaming sink feeding CDC replication,
  * driven by one closed-loop client. Each cycle
  *
  *  1. commits one micro-batch of keyed change events (Zipf-skewed updates
  *     of live keys plus new keys, events.parquet shape) to the versioned
  *     bronze table with `TableSink.appendStreamBatch` — the body of
  *     `startStreamVersioned`'s foreachBatch without trigger quantisation —
  *     and every RetractEvery-th cycle erases a few keys with `deleteKeys`;
  *     every ReplayEvery-th cycle, from the first, it also replays the
  *     previous batch id, which must be refused;
  *  2. runs `bronze.replicateTo(replica, ...)`: changelog read, net-change
  *     fold, merge-on-read apply and, past ConsolidateThreshold pending
  *     delete versions, sidecar consolidation;
  *  3. refreshes a dashboard on the replica through the SQL catalog.
  *
  * Visible latency runs from handing the batch to the sink until
  * `replicateTo` returns, i.e. until the replica reflects it. */
object StreamCdc extends Workload {
  val name = "stream_cdc"
  val InitialKeys = 20000
  val UpdatesPerCycle = 400
  val NewPerCycle = 100
  val RetractEvery = 3
  val RetractPerCycle = 50
  val ReplayEvery = 3
  /** Every apply adds a pending delete version (the MoR upsert's position
    * sidecar) and a retraction cycle a second (the key list), so the
    * replica consolidates on every retraction cycle after the first and a
    * three-cycle run crosses one consolidation. At the default of 16 a run
    * would need about ten cycles (~70 s) to reach the first. */
  val ConsolidateThreshold = 2
  /** One cycle plus its dashboard refresh on a 4-core host. */
  val NominalOpSeconds = 7.0
  val StreamId = "bench-stream"
  val Keys = Seq("event_id")

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  final class State(val bronze: TableSink, val replica: TableSink,
      val stream: Gen.ChangeStream, val cursor: String, val dash: Dashboard) {
    var nextBatch = 0L
    var lastBatch: DataFrame = _
    var bronzeRows = 0L
    var initial: Seq[(Long, Long)] = Nil
  }
  type S = State

  private def frame(r: Run, rows: Seq[(Long, Long)], cycle: Int): DataFrame =
    r.spark.createDataFrame(rows.map { case (k, cents) =>
      val e = Gen.event(r.seed, k, cents, cycle)
      Row(e.key, new java.sql.Timestamp(e.tsMicros / 1000L), e.userId, e.eventType,
        e.value, e.props)
    }.asJava, schema)

  private def keyFrame(r: Run, keys: Seq[Long]): DataFrame =
    r.spark.createDataFrame(keys.map(Row(_)).asJava,
      StructType(Seq(StructField("event_id", LongType, nullable = false))))

  /** Fresh warehouse and the generated initial key set. */
  def setup(r: Run): State = {
    val wh = r.dir("warehouse")
    graft.GraftSession.registerCatalog(r.spark, wh, Dashboard.Catalog)
    val dash = new Dashboard(r, "replica",
      s"SELECT event_type, count(*), sum(CAST(round(value * 100) AS BIGINT)) " +
        s"FROM ${Dashboard.Catalog}.replica GROUP BY event_type",
      v => s"SELECT count(*), sum(value) FROM ${Dashboard.Catalog}.replica VERSION AS OF $v")
    val st = new State(
      new TableSink(SinkConfig("bronze", wh, versioned = true,
        partitionSpec = Seq(PartitionField("ts", Transform.Day, Some("event_date")),
          PartitionField("event_type", Transform.Identity)))),
      new TableSink(SinkConfig("replica", wh, versioned = true,
        deleteConsolidateThreshold = ConsolidateThreshold)),
      new Gen.ChangeStream(r.seed, InitialKeys, UpdatesPerCycle, NewPerCycle,
        RetractEvery, RetractPerCycle),
      s"$wh/replica_cursor", dash)
    st.initial = st.stream.initial()
    st
  }

  /** The initial bronze load (batch 0), the replica's initial copy, one
    * cycle and one dashboard refresh. */
  def warmup(r: Run, st: State): Unit = {
    commit(r, st, frame(r, st.initial, 0))
    st.bronzeRows += st.initial.size
    st.bronze.replicateTo(r.spark, st.replica, Keys, st.cursor)
    cycle(r, st)
    st.dash.refresh(travelTarget(st))
  }

  private def commit(r: Run, st: State, df: DataFrame): Unit = {
    val ok = r.tracer.span("TableSink.appendStreamBatch") {
      st.bronze.appendStreamBatch(df, StreamId, st.nextBatch)
    }
    if (!ok) throw new IllegalStateException(s"fresh batch id ${st.nextBatch} was refused")
    st.nextBatch += 1
    st.lastBatch = df
  }

  /** Oldest retained replica version at most three commits behind head. */
  private def travelTarget(st: State): Int = {
    val vs = st.replica.snapshotVersions()
    vs(math.max(0, vs.size - 4))
  }

  private def pendingDeleteVersions(st: State): Int =
    st.replica.snapshotVersions().count(st.replica.hasPendingDeletes)

  /** One cycle: commit, optional retraction, replicate. Returns the
    * commit's and the whole cycle's milliseconds and the changed rows. */
  private def cycle(r: Run, st: State): (Double, Double, Int) = {
    val ch = st.stream.next() // the input, generated before the clock starts
    val up = frame(r, ch.upserts, ch.cycle)
    val retract = if (ch.retract.isEmpty) None else Some(keyFrame(r, ch.retract))
    val t0 = System.nanoTime()
    commit(r, st, up)
    val t1 = System.nanoTime()
    retract.foreach(k => r.tracer.span("TableSink.deleteKeys")(st.bronze.deleteKeys(k, Keys)))
    r.tracer.span("TableSink.replicateTo") {
      st.bronze.replicateTo(r.spark, st.replica, Keys, st.cursor)
    }
    st.bronzeRows += ch.upserts.size
    ((t1 - t0) / 1e6, (System.nanoTime() - t0) / 1e6, ch.upserts.size + ch.retract.size)
  }

  def measure(r: Run, st: State): Outcome = {
    st.dash.reset()
    val visibleMs = mutable.ArrayBuffer[Double]()
    val commitMs = mutable.ArrayBuffer[Double]()
    val rate = mutable.ArrayBuffer[Double]()
    val visibleCpu = mutable.ArrayBuffer[Double]()
    val readCpu = mutable.ArrayBuffer[Double]()
    val readMs = mutable.ArrayBuffer[Double]()
    val pending = mutable.ArrayBuffer[Int]()
    val consolidateMs = mutable.ArrayBuffer[Double]()
    var replays = 0
    var replaysMinted = 0
    var lastHead: Array[Row] = Array.empty
    var cycles = 0
    val ops = r.opCount(NominalOpSeconds)
    r.openWindow()
    while (cycles < ops && !r.overtime) {
      cycles += 1
      r.tracer.operation()
      val before = if (r.tracer.enabled) pendingDeleteVersions(st) else 0
      val cpu0 = r.cpuNs()
      r.attempt(cycle(r, st)).foreach { case (ms, visible, n) =>
        visibleCpu += (r.cpuNs() - cpu0) / 1e6
        visibleMs += visible; commitMs += ms; rate += n / (visible / 1e3)
        if (r.tracer.enabled) {
          val after = pendingDeleteVersions(st)
          pending += after
          if (after < before) consolidateMs += visible
        }
      }
      if (cycles % ReplayEvery == 1) {
        val n0 = st.bronze.snapshotVersions().size
        r.attempt(r.tracer.span("TableSink.appendStreamBatch.replay") {
          st.bronze.appendStreamBatch(st.lastBatch, StreamId, st.nextBatch - 1)
        }).foreach { minted =>
          replays += 1
          if (minted || st.bronze.snapshotVersions().size != n0) replaysMinted += 1
        }
      }
      val travel = travelTarget(st)
      val a = System.nanoTime()
      val cpu1 = r.cpuNs()
      r.attempt(st.dash.refresh(travel)).foreach { h =>
        readMs += (System.nanoTime() - a) / 1e6; lastHead = h
        readCpu += (r.cpuNs() - cpu1) / 1e6
      }
    }
    r.closeWindow()

    // ---- output checks (outside timing) ----
    val expected = st.stream.state.asScala
    val got = st.replica.read(r.spark)
      .select(col("event_id"), round(col("value") * 100).cast("long")).collect()
      .map(x => x.getLong(0) -> x.getLong(1))
    def rowHash(kv: Iterable[(Long, Long)]): Long =
      kv.iterator.map { case (k, v) => Gen.mix64(k * 0x9E3779B97F4A7C15L ^ v) }.sum
    r.check("replica head equals the independently folded change stream")(
      (got.length == expected.size && got.map(_._2).sum == expected.values.sum &&
        rowHash(got) == rowHash(expected) && got.toMap == expected,
        s"replica ${got.length} rows / ${got.map(_._2).sum} cents vs folded " +
          s"${expected.size} / ${expected.values.sum}"))
    r.check("dashboard head matches the folded state")(
      (lastHead.map(_.getLong(1)).sum == expected.size &&
        lastHead.map(_.getLong(2)).sum == expected.values.sum,
        s"head ${lastHead.map(_.getLong(1)).sum} rows vs ${expected.size}"))
    val bronzeKeys = st.bronze.read(r.spark).agg(countDistinct(col("event_id"))).head().getLong(0)
    r.check("bronze holds every live key once retractions apply")(
      (bronzeKeys == expected.size, s"bronze $bronzeKeys distinct keys vs ${expected.size}"))
    r.check("every replayed batch id is refused and mints no version")(
      (replays > 0 && replaysMinted == 0, s"$replays replays, $replaysMinted minted"))

    val bronzeBytes = Files.treeBytes(new java.io.File(st.bronze.config.tablePath)).toDouble
    val replicaBytes = Files.treeBytes(new java.io.File(st.replica.config.tablePath)).toDouble
    val p50 = Stats.median(visibleMs)
    val readP50 = Stats.median(readMs)
    val rowsPerS = Stats.median(rate)
    val bytesPerRow = replicaBytes / expected.size
    val sinkLayers =
      if (!r.tracer.enabled) Map.empty[String, Double]
      else {
        val snaps = st.bronze.metaSnapshots(r.spark)
          .select("n_added_files", "n_manifests", "txn").collect()
        val streamed = snaps.filter(x => !x.isNullAt(2))
        Map(
          "sink.data_files_per_commit" -> streamed.map(_.getLong(0)).sum.toDouble / streamed.length,
          "sink.head_manifests" -> snaps.last.getLong(1).toDouble,
          "TableSink.rows_per_commit" -> (UpdatesPerCycle + NewPerCycle).toDouble,
          "replica.pending_delete_versions" ->
            (if (pending.isEmpty) 0.0 else pending.sum.toDouble / pending.size),
          "replica.consolidating_applies" -> consolidateMs.size.toDouble)
      }
    Outcome(
      e2e = Map("visible_p50_ms" -> p50, "rows_per_s" -> rowsPerS,
        "read_p50_ms" -> readP50, "bytes_per_row" -> bytesPerRow,
        "op_cpu_ms" -> Stats.median(visibleCpu)),
      named = Map(
        "cdc_change_latency_p50_ms" -> (p50, "ms"),
        "cdc_change_cpu_ms" -> (Stats.median(visibleCpu), "ms"),
        "cdc_read_cpu_ms" -> (Stats.median(readCpu), "ms"),
        "ingest_commit_p50_ms" -> (Stats.median(commitMs), "ms"),
        "cdc_read_p50_ms" -> (readP50, "ms"),
        "cdc_changed_rows_per_s" -> (rowsPerS, "rows/s"),
        "cdc_replica_bytes_per_row" -> (bytesPerRow, "B"),
        "ingest_bytes_per_row" -> (bronzeBytes / st.bronzeRows, "B")),
      samples = Map("cdc_change_latency_ms" -> visibleMs.toSeq,
        "cdc_change_cpu_ms" -> visibleCpu.toSeq, "cdc_read_cpu_ms" -> readCpu.toSeq,
        "ingest_commit_ms" -> commitMs.toSeq, "cdc_read_ms" -> readMs.toSeq),
      record = Map(
        "cycles" -> cycles,
        "window_s" -> r.windowSeconds,
        "replays" -> replays,
        "replica_rows" -> expected.size,
        "bronze_rows_appended" -> st.bronzeRows,
        "replica_versions" -> st.replica.snapshotVersions().size,
        "consolidate_apply_ms" -> consolidateMs.toSeq,
        "pending_delete_versions" -> pending.toSeq),
      layers = st.dash.layers ++ sinkLayers)
  }
}
