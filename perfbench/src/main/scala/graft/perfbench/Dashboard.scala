package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** The downstream reader every workload runs against its output table: one
  * refresh is a head aggregate, a `VERSION AS OF` aggregate a few commits
  * back, and the `files` metadata table, all through the SQL catalog. */
final class Dashboard(r: Run, table: String, headSql: String,
    travelSql: Int => String) {

  /** Planning (analysis + optimisation + planning) ms per SQL read. */
  val planMs = scala.collection.mutable.ArrayBuffer[Double]()
  var rowsReturned = 0L

  private def query(span: String, sql: String): Array[Row] =
    r.tracer.span(span) {
      val df: DataFrame = r.spark.sql(sql)
      val rows = df.collect()
      if (r.tracer.enabled) {
        val ph = df.queryExecution.tracker.phases
        planMs += Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(_.durationMs.toDouble).sum
        rowsReturned += rows.length
      }
      rows
    }

  /** Forget what setup's refreshes recorded. */
  def reset(): Unit = { planMs.clear(); rowsReturned = 0L }

  /** Per-layer numbers for the result line. */
  def layers: Map[String, Double] = Map(
    "catalog.plan_ms" -> (if (planMs.isEmpty) 0.0 else Stats.median(planMs)),
    "read.rows_returned" -> rowsReturned.toDouble)

  /** One refresh; returns the head aggregate's rows. */
  def refresh(travelTo: Int): Array[Row] = {
    val head = query("read.sql_head", headSql)
    query("read.sql_time_travel", travelSql(travelTo))
    query("read.meta_files",
      s"SELECT count(*), sum(record_count), sum(size_bytes) FROM ${Dashboard.Catalog}.$table.files")
    head
  }
}

object Dashboard {
  val Catalog = "bench"
}
