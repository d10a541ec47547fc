package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** State one workload run shares with the harness: operation accounting,
  * output checks, the tracer, and the run's own warehouse root. */
final class Run(val spark: SparkSession, val tracer: Tracer,
    val root: java.io.File, val seed: Long, val seconds: Int) {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (driver, executor threads, GC, JIT). */
  def cpuNs(): Long = os.getProcessCpuTime

  /** One operation: counted as attempted; a throw counts as failed and
    * yields None, so the caller records no timing for it. */
  def attempt[T](body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        if (errors.size < 5) errors += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
  }

  /** An output check, run outside timing. A check that throws fails. */
  def check(name: String)(body: => (Boolean, String)): Unit = {
    val (ok, detail) =
      try body catch { case NonFatal(e) => (false, s"threw ${e.getMessage}".take(300)) }
    checks += ((name, ok, detail))
  }

  private var windowStart = 0L

  def openWindow(): Unit = windowStart = System.nanoTime()

  def windowSeconds: Double = (System.nanoTime() - windowStart) / 1e9

  /** Operations a run measures: `seconds` of work at the workload's
    * nominal operation length on a 4-core host, at least three. A fixed
    * count per run keeps every run's median over the same mix (the first,
    * coldest operation included), so run-to-run spread is the host's, not
    * a changing sample count's. */
  def opCount(nominalOpSeconds: Double): Int =
    math.max(3, math.round(seconds / nominalOpSeconds).toInt)

  /** Stop early when a slow host stretches the window past 2.5 × seconds. */
  def overtime: Boolean = windowSeconds > 2.5 * seconds

  /** End of the measured window: later Spark work (the output checks) is
    * no longer counted against the spans. */
  def closeWindow(): Unit = tracer.attribution.foreach(_.counting = false)

  def failedShare: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted

  def correct: Boolean = checks.nonEmpty && checks.forall(_._2)

  /** A fresh directory under the run root. */
  def dir(name: String): String = {
    val d = new java.io.File(root, name)
    Files.deleteTree(d)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** What a workload hands back: its end-to-end metrics (generic names every
  * workload reports), the same numbers under the workload's own names, the
  * raw timing samples (ms), extra record fields, and workload-specific
  * per-layer numbers. */
final case class Outcome(e2e: Map[String, Double],
    named: Map[String, (Double, String)], samples: Map[String, Seq[Double]],
    record: Map[String, Any], layers: Map[String, Double] = Map.empty)

/** A workload: `setup` generates its inputs and loads them into a fresh
  * warehouse (the harness repeats and times it); `warmup` runs one
  * operation of each kind on the last setup's state (once: JIT warm-up
  * does not repeat); `measure` runs for the run's seconds, then checks. */
trait Workload {
  type S
  def name: String
  def setup(r: Run): S
  def warmup(r: Run, s: S): Unit
  def measure(r: Run, s: S): Outcome
}

object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()
}

/** Minimal JSON writer for the result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case p: Product if p.productArity == 2 =>
      apply(Seq(p.productElement(0), p.productElement(1)))
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
