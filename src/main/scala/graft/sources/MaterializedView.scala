package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized aggregate view over a versioned
  * table — classic IVM (incremental view maintenance) for the
  * self-maintainable aggregates: per-group `count` and decimal `sum`s.
  * Inserts ADD and deletes SUBTRACT, both read from the source's
  * row-level changelog ([[TableSink.readChangelog]]), so a refresh costs
  * O(changed rows) + O(view groups) — never a base-table rescan. A group
  * whose count reaches zero vanishes from the view (the multiset
  * semantics a recomputation would produce).
  *
  * Crash safety WITHOUT a separate cursor commit: the source version the
  * state reflects is a `_mv_reflects` marker INSIDE the state directory,
  * so state and cursor advance in the SAME atomic directory swap
  * ([[TableSink]]'s rewrite-swap protocol: stage, move current aside,
  * move staging in, recover on open). There is no window where data and
  * cursor disagree — a crashed refresh either never swapped (marker
  * still old, refresh replays the same delta against the OLD state) or
  * fully swapped (marker new, replay is a no-op). Contrast a
  * cursor-after-write design, where the crash window double-applies.
  *
  * Sums are maintained in DECIMAL(38,2): refresh order must not change
  * the stored state bit-for-bit, and float addition is not associative.
  * Min/max are NOT self-maintainable under deletes (a deleted extremum
  * needs a rescan to re-derive) and are deliberately out of scope —
  * the same line every IVM system draws.
  */
final class MaterializedView(source: TableSink, path: String,
    groupCols: Seq[String], sumCols: Seq[String]) {
  require(groupCols.nonEmpty, "a materialized view needs group columns")
  require(source.config.versioned,
    "incremental maintenance needs a versioned source (the changelog)")

  private def statePath = new HPath(path, "state")
  private def stagingPath = new HPath(path, "_staging_state")
  private def prevPath = new HPath(path, "_prev_state")
  private def reflectsFile(dir: HPath) = new HPath(dir, "_mv_reflects")

  /** Marker content `<generation>:<version>`: the source (generation,
    * version) the state reflects — `(currentGen, 0)` when never
    * refreshed. Version numbers restart after a source rewrite expires
    * the log, so the generation pin is what turns silent divergence into
    * [[refresh]]'s loud refusal. Runs crash recovery first — a
    * half-swapped state must never read as "never refreshed". */
  private def reflectsMark(): (String, Int) = {
    recover()
    if (!WarehouseIO.isFile(reflectsFile(statePath)))
      (source.logGeneration(), 0)
    else WarehouseIO.readString(reflectsFile(statePath)).trim
      .split(':') match {
        case Array(g, v) => (g, v.toInt)
        case other => sys.error(s"unreadable view marker: ${other.mkString(":")}")
      }
  }

  /** Source version the current state reflects (0 = never refreshed). */
  def reflects: Int = reflectsMark()._2

  /** Crash recovery, run before every read/refresh: a kill between the
    * two swap renames leaves the state in `_prev_state` with no `state`
    * dir — restore it; any other leftover is droppable staging debris. */
  private def recover(): Unit = {
    if (WarehouseIO.exists(prevPath)) {
      if (!WarehouseIO.exists(statePath))
        WarehouseIO.rename(prevPath, statePath)
      else WarehouseIO.delete(prevPath, recursive = true)
    }
    if (WarehouseIO.exists(stagingPath))
      WarehouseIO.delete(stagingPath, recursive = true)
  }

  private def sumCol(c: String) = s"sum_$c"

  /** The view state: one row per live group — `groupCols…, n,
    * sum_<c>…` (sums as DECIMAL(38,2)). Empty-but-typed before the
    * first refresh. */
  def read(spark: SparkSession): DataFrame = {
    recover()
    if (WarehouseIO.isDir(statePath)) spark.read.parquet(statePath.toString)
    else {
      val base = source.read(spark).limit(0)
      base.groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("n"),
          sumCols.map(c =>
            sum(col(c).cast("decimal(38,2)")).as(sumCol(c))): _*)
    }
  }

  /** Fold the source changelog since [[reflects]] into the state and swap
    * it in atomically (with the new marker). Returns `(from, to)` source
    * versions; `from == to` means the view was already current. */
  def refresh(spark: SparkSession): (Int, Int) = {
    recover()
    val (gen, from) = reflectsMark()
    val (curGen, head) = source.streamHead()
    require(gen == curGen,
      s"view at $path reflects generation $gen but the source history " +
        s"is now generation $curGen: a rewriting op expired and " +
        "restarted the snapshot log, so the un-folded changes are " +
        "unrecoverable — drop the view state to rebuild from a full read")
    require(from <= head,
      s"view at $path reflects v$from but the source head is v$head — " +
        "source history was rolled back; drop the view state to rebuild")
    if (from == head) return (from, head)
    val changes = source.readChangelog(spark, from, head)
    val sign = when(col("_change_type") === "insert", lit(1L))
      .otherwise(lit(-1L))
    val delta = changes
      .groupBy(groupCols.map(col): _*)
      .agg(sum(sign).as("n"),
        sumCols.map(c => sum(col(c).cast("decimal(38,2)") * sign)
          .cast("decimal(38,2)").as(sumCol(c))): _*)
    val cur = read(spark)
    def both(name: String): Column =
      (coalesce(cur(name), lit(0)) + coalesce(delta(name), lit(0)))
    val merged = cur.join(delta, groupCols, "full_outer")
      .select((groupCols.map(col) :+ both("n").as("n")) ++
        sumCols.map(c =>
          both(sumCol(c)).cast("decimal(38,2)").as(sumCol(c))): _*)
      .filter(col("n") > 0) // a zero-count group has vanished
    merged.coalesce(1).write.mode("overwrite").parquet(stagingPath.toString)
    WarehouseIO.writeString(reflectsFile(stagingPath), s"$curGen:$head")
    // atomic-enough swap, same shape as TableSink.rewriteSwap: the only
    // crash window leaves _prev_state for recover() to restore
    if (WarehouseIO.exists(statePath)) WarehouseIO.rename(statePath, prevPath)
    WarehouseIO.rename(stagingPath, statePath)
    if (WarehouseIO.exists(prevPath))
      WarehouseIO.delete(prevPath, recursive = true)
    (from, head)
  }
}
