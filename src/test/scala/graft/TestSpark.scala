package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.jdk.CollectionConverters._

/** One shared local session for all suites, built the way the engine's
  * own entry points build theirs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", Some("local[4]"), 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // specs assert exact on-disk ≡ referenced manifest parity after
    // maintenance ops; the production GC grace (protecting in-flight
    // appends' moments-old manifests) would leave young orphans behind.
    // The grace path itself is covered by a dedicated AppendCommitSpec
    // case that raises it back temporarily.
    WarehouseIO.manifestGcGraceMs = 0L
    s
  }
  val sfDir = "/root/testdata/sf0.001"
  /** Immediate child names of `dir` (empty when absent), from one
    * [[WarehouseIO.listing]]. */
  def childNames(dir: org.apache.hadoop.fs.Path): Seq[String] =
    WarehouseIO.listing(dir).getOrElse(Nil).map(_.getPath.getName)

  /** Each Spark job started while `body` runs, named by the action of its
    * SQL execution (adaptive execution submits shuffle stages from a pool
    * thread, so a stage's own call site names no caller) or else its last
    * stage. The listener bus is drained on both sides, so the list holds
    * exactly `body`'s jobs. */
  def jobsDuring(body: => Unit): Seq[String] = {
    val jobs = new ConcurrentLinkedQueue[String]()
    val actions = new ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          actions.put(s.executionId, s.description); ()
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val action = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(actions.get(id.toLong)))
        jobs.add(action.orElse(e.stageInfos.lastOption.map(_.name))
          .getOrElse("?")); ()
      }
    }
    org.apache.spark.sql.graft.Bridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graft.Bridge.drainListeners(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.asScala.toSeq
  }
}
