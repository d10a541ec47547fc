package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. `trace` groups the spans of one workload
  * operation (a micro-batch, a CDC cycle, a curation pass). */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    gcMs: Long, pinBytes: Long, dirListings: Long, metaReads: Long,
    metaBytesWritten: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span through its job group. */
final class SparkWork {
  var jobs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  /** Task (launch, finish) epoch-ms intervals, for driver-only time. */
  val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** Span recorder. Disabled, `span` only runs its body: no job-group tag,
  * no listener, no bookkeeping — the untraced end-to-end runs pay nothing.
  * Enabled, every span tags the Spark jobs its body starts with
  * `setJobGroup(spanId)` so [[Attribution]] can charge jobs, tasks, CPU,
  * shuffle, spill and covered task time to exactly that span. Spans stay in
  * memory until the run ends. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private var currentTrace = 0L
  private var stack = List.empty[Long]
  val attribution: Option[Attribution] =
    if (enabled) Some(new Attribution) else None
  attribution.foreach(sc.addSparkListener)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** The warehouse metadata IO counters (listings, reads, bytes written). */
  private def ioCounters(): (Long, Long, Long) = (
    graft.WarehouseIO.dirListings.get, graft.WarehouseIO.metaReads.get,
    graft.WarehouseIO.metaBytesWritten.get)

  /** Storage held by persisted or checkpointed blocks right now. */
  private def pinnedBytes(): Long =
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Start a new operation: later spans share its trace id. */
  def operation(): Unit = if (enabled) { currentTrace = nextId; nextId += 1 }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    val gc0 = gcMs()
    val io0 = ioCounters()
    val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
    try body
    finally {
      val (s1, m1) = (System.nanoTime(), System.currentTimeMillis())
      val gc = gcMs() - gc0
      val io1 = ioCounters()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.toString, "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, currentTrace, parent, name, s0, s1, m0, m1, gc,
        pinnedBytes(), io1._1 - io0._1, io1._2 - io0._2, io1._3 - io0._3)
    }
  }

  /** Flush the listener bus so every finished task is attributed. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

/** Listener side of the tracer: jobs map to spans by job group, stages to
  * the span whose job submitted them, tasks to their stage's span. Work
  * outside any span is kept under span id 0, so attributed and total
  * executor CPU can be compared. */
final class Attribution extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Integer, java.lang.Long]()
  val bySpan = new ConcurrentHashMap[Long, SparkWork]()
  @volatile var counting = false

  private def work(span: Long): SparkWork =
    bySpan.computeIfAbsent(span, _ => new SparkWork)

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (counting) {
    val s = spanOf(e.properties)
    e.stageIds.foreach(st => stageSpan.putIfAbsent(st, s))
    val w = work(s)
    w.synchronized(w.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (counting) stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    if (s == null) return // stage began while the run was not counting
    val w = work(s)
    val m = e.taskMetrics
    w.synchronized {
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.inputRecords += m.inputMetrics.recordsRead
      }
      w.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  def totalCpuNs: Long = bySpan.values.asScala.map(_.cpuNs).sum
  def attributedCpuNs: Long =
    bySpan.asScala.collect { case (s, w) if s != 0L => w.cpuNs }.sum
}

object Trace {
  /** Milliseconds of [s, e] covered by the union of `intervals`. */
  def covered(s: Long, e: Long, intervals: Iterable[(Long, Long)]): Long = {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (a, b) =>
      if (a > curE) { total += math.max(0L, curE - curS); curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    total + math.max(0L, curE - curS)
  }
}
