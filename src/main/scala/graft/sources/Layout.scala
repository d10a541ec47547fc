package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering so that a
  * range predicate on ANY clustered dimension touches few files — the
  * standard lakehouse answer (Delta `OPTIMIZE ZORDER BY`, Iceberg
  * `rewrite_data_files(sort_order => zorder(...))`) to the problem the
  * reference's single-column partition transforms cannot solve: a table
  * partitioned by day still scans every file of every matching day when
  * filtered by a second column.
  *
  * All arithmetic is 64-bit integer (integer `div`, shifts, masks) — no
  * floating point — so the z-value is bit-reproducible across engines and
  * safely usable as a persisted layout key.
  *
  * Scale shape: computing z-values is a codegen'd per-row expression (no
  * shuffle); `cluster` adds exactly one range-repartition shuffle — the
  * same cost as any clustered rewrite — and the payoff is read-side: with
  * [[ZoneMaps]] stats, a 2-D rectangle predicate reads O(perimeter) files
  * instead of O(table).
  */
object ZOrder {

  /** Interleaved z-value over integer dimensions given as
    * `(columnName, globalMin, globalMax)`. Each dimension is normalized to
    * `bits` bits by exact integer arithmetic
    * `((v - min) * (2^bits - 1)) div max(max - min, 1)` and the bits are
    * interleaved LSB-first (dimension i owns bit positions
    * `b * nDims + i`). Maximum `bits * nDims` is 63 (signed long).
    *
    * Column names (not Columns) because integer division must not detour
    * through doubles — `(x * 65535)` exceeds 2^53 for microsecond
    * timestamps — and the exact `div` operator is only reachable through
    * the SQL parser.
    */
  def zvalue(dims: Seq[(String, Long, Long)], bits: Int = 16): Column = {
    require(dims.nonEmpty, "zvalue needs at least one dimension")
    require(bits * dims.size <= 63,
      s"bits ($bits) * dims (${dims.size}) must fit a signed long")
    val m = (1L << bits) - 1
    val norms = dims.map { case (name, mn, mx) =>
      val span = math.max(mx - mn, 1L)
      expr(s"((($name) - ${mn}L) * ${m}L) div ${span}L")
    }
    (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      norms.zipWithIndex.foldLeft(acc) { case (a, (norm, i)) =>
        a.bitwiseOR(shiftleft(
          shiftright(norm, b).bitwiseAND(lit(1L)), b * dims.size + i))
      }
    }
  }

  /** Global (min, max) per dimension column — the one bounded aggregate a
    * z-order rewrite needs (2 longs per dimension on the driver). */
  def boundsOf(df: DataFrame, cols: Seq[String]): Map[String, (Long, Long)] = {
    val (b, n) = boundsAndCount(df, cols)
    // preserve the pre-r15 contract: an empty frame reports the same
    // named no-bounds error an all-NULL dimension does
    require(n > 0L,
      s"dimension '${cols.head}' is NULL for every row — no bounds to " +
        "cluster by")
    b
  }

  /** [[boundsOf]] plus the row count from the SAME aggregate — so a
    * clustered rewrite's count-verification seed does not pay a second
    * full scan (guide §2.4: one pass, not two). An empty frame returns
    * (empty map, 0) instead of the all-NULL-dimension error: callers
    * short-circuit on 0 before using bounds. */
  def boundsAndCount(df: DataFrame,
      cols: Seq[String]): (Map[String, (Long, Long)], Long) = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long"))) :+
      count(lit(1))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(2 * cols.size)
    if (n == 0L) return (Map.empty, 0L)
    (cols.zipWithIndex.map { case (c, i) =>
      // an all-NULL dimension has no bounds — name the column instead of
      // surfacing a bare NPE from getLong (reachable from the public
      // clusterBy with e.g. a try_cast dimension expression)
      require(!row.isNullAt(2 * i),
        s"dimension '$c' is NULL for every row — no bounds to cluster by")
      c -> (row.getLong(2 * i), row.getLong(2 * i + 1))
    }.toMap, n)
  }

  /** Range-cluster `df` by z-value into `nRanges` contiguous z-intervals,
    * sorted by z within each — written as-is (one file per range via
    * [[TableSink.appendClustered]]) this yields files whose per-dimension
    * min/max zones are tight rectangles, which is what makes [[ZoneMaps]]
    * pruning effective on every clustered dimension at once. */
  def cluster(df: DataFrame, dims: Seq[(String, Long, Long)],
      nRanges: Int, bits: Int = 16): DataFrame =
    df.withColumn("__z", zvalue(dims, bits))
      .repartitionByRange(nRanges, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
}

/** Hilbert-curve clustering — the space-filling curve successor to
  * [[ZOrder]] (Databricks liquid clustering, Iceberg's planned hilbert
  * sort order): unlike Morton interleave, consecutive Hilbert indexes are
  * always grid-adjacent, so range files cut from the curve are tighter
  * rectangles and a 2-D predicate touches fewer files at the same file
  * count.
  *
  * Same engine discipline as [[ZOrder.zvalue]]: pure 64-bit integer
  * arithmetic (shifts, masks, xor, the exact same normalization `div`),
  * fully codegen'd per-row expressions, no shuffle to compute the key —
  * so the index is bit-reproducible across engines and safe as a
  * persisted layout key. The classic xy2d walk is unrolled `bits` levels,
  * one projection per level; every level's (x, y, d) references only the
  * previous level's ATTRIBUTES, so the plan stays linear in `bits`, never
  * exponential in expression size.
  */
object Hilbert {

  /** Append Hilbert index `outCol` over two dimension columns already
    * normalized to `[0, 2^bits)` (use [[ZOrder.boundsOf]] + the same
    * `((v - min) * m) div span` normalization to get there). bits=8 →
    * 65 536 cells, plenty for range-clustering into files while keeping
    * the unrolled walk short. */
  def withHilbert(df: DataFrame, xName: String, yName: String,
      bits: Int = 8, outCol: String = "hval"): DataFrame = {
    require(bits >= 1 && 2 * bits <= 62, "need 1 <= bits and 2*bits <= 62")
    val tmp = Set("__hx", "__hy", "__hd")
    require(!tmp.exists(df.columns.contains), "reserved __h* column present")
    var cur = df.select(df.columns.map(col) :+
      col(xName).cast("long").as("__hx") :+
      col(yName).cast("long").as("__hy") :+
      lit(0L).as("__hd"): _*)
    for (lvl <- (bits - 1) to 0 by -1) {
      val s = 1L << lvl
      val rx = shiftright(col("__hx"), lvl).bitwiseAND(lit(1L))
      val ry = shiftright(col("__hy"), lvl).bitwiseAND(lit(1L))
      // ry=0 quadrants rotate: flip both coords when rx=1, then swap
      val nx = when(ry === 0,
        when(rx === 1, lit(s - 1) - col("__hy")).otherwise(col("__hy")))
        .otherwise(col("__hx"))
      val ny = when(ry === 0,
        when(rx === 1, lit(s - 1) - col("__hx")).otherwise(col("__hx")))
        .otherwise(col("__hy"))
      val nd = col("__hd") + lit(s * s) * (rx * 3).bitwiseXOR(ry)
      val others = cur.columns.filterNot(tmp).map(col)
      cur = cur.select(others :+ nx.as("__hx") :+ ny.as("__hy") :+
        nd.as("__hd"): _*)
    }
    val others = cur.columns.filterNot(tmp).map(col)
    cur.select(others :+ col("__hd").as(outCol): _*)
  }

  /** Range-cluster by Hilbert index — drop-in alternative to
    * [[ZOrder.cluster]] with the same one-shuffle cost and tighter file
    * rectangles. Dimensions are normalized exactly as [[ZOrder.zvalue]]
    * normalizes, then walked with [[withHilbert]]. */
  def cluster(df: DataFrame, xDim: (String, Long, Long),
      yDim: (String, Long, Long), nRanges: Int, bits: Int = 8): DataFrame = {
    val m = (1L << bits) - 1
    def norm(d: (String, Long, Long)): Column = {
      val span = math.max(d._3 - d._2, 1L)
      expr(s"(((${d._1}) - ${d._2}L) * ${m}L) div ${span}L")
    }
    val withN = df.withColumn("__nx0", norm(xDim)).withColumn("__ny0", norm(yDim))
    withHilbert(withN, "__nx0", "__ny0", bits, "__h")
      .repartitionByRange(nRanges, col("__h"))
      .sortWithinPartitions("__h")
      .drop("__nx0", "__ny0", "__h")
  }
}

/** The parquet stats an unversioned table's analyze writes under an
  * `_`-prefixed directory ([[ZoneMaps]], [[BloomSkip]]). */
private object StatsSidecar {

  /** The rows of the stats directory `dir`, read from its listed part
    * files: Spark's reader treats the `_`-prefixed directory itself as a
    * hidden path. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(WarehouseIO.dataFileStatuses(
      new org.apache.hadoop.fs.Path(dir)).map(_._2.getPath.toString).toSeq: _*)
}

/** File-level zone maps (per-file column min/max) + data-skipping reads —
  * the Iceberg/Delta manifest-stats idea for a path-based table: skip
  * files by METADATA, before any footer or row is touched. At 100 TB the
  * win is not just I/O: a scan that opens 1M parquet footers to prune
  * row-groups still pays 1M object-store requests; zone maps cut the file
  * LIST itself to the candidate set.
  *
  * Correctness contract: pruning is candidate SELECTION, never filtering —
  * [[readBetween]] returns every row of every file whose zone intersects
  * the bounds (plus all unanalyzed files, conservatively), and the caller
  * applies the actual predicate on top. A file is skipped only when its
  * zone proves no row can match (`max < lo` or `min > hi`, null-safe: an
  * all-null zone cannot satisfy a range predicate).
  *
  * Stats live under `<table>/_graft_stats` (underscore-prefixed: invisible
  * to table scans and to the snapshot log). Files appended after the last
  * [[analyze]] are unanalyzed → always read; files deleted since are
  * ignored (stats are intersected with the live listing). So stale stats
  * degrade to less pruning, never to wrong results.
  */
final class ZoneMaps(sink: TableSink) {

  private def statsPath = s"${sink.config.tablePath}/_graft_stats"

  /** Register `cols` and backfill their per-file min/max INTO THE
    * MANIFEST LAYER: on a versioned table, analyze is a metadata-only
    * commit that folds the head into one stats-bearing manifest
    * ([[TableSink.commitStatsRefold]]) — every subsequent append's delta
    * manifest carries its own files' stats as part of the commit, so
    * skipping never degrades and there is no second metadata layer to
    * maintain or GC (stats die with their manifest). An UNVERSIONED
    * table has no manifest to carry entries, so it keeps the one-shot
    * parquet-sidecar analyze (no upkeep — later appends read as
    * unanalyzed, conservatively). */
  def analyze(spark: SparkSession, cols: Seq[String]): Unit = {
    if (sink.config.versioned && sink.snapshotVersions().nonEmpty) {
      val schema = sink.read(spark).schema
      val zone = cols.map(c => c -> schema(c).dataType.sql)
      val (_, keepBloom) = sink.readStatsSpec()
      sink.commitStatsRefold(spark, zone, keepBloom)
      return
    }
    val df = sink.read(spark)
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(statsPath)
  }

  /** Per-bound keep-predicate over the MANIFEST stats frame (`z` map of
    * col → [min,max] strings): a file with no entry for a bound's column
    * is unanalyzed-for-that-column and must survive; an entry with null
    * min/max (all-null zone) can satisfy no range and prunes. */
  private def manifestKeep(spark: SparkSession,
      bounds: Seq[(String, Column, Column)]): Column = {
    val schema = sink.read(spark).schema
    bounds.map { case (c, lo, hi) =>
      val dt = schema(c).dataType.sql
      val entry = element_at(col("z"), c)
      // TIMESTAMP bounds persist as epoch micros; a legacy session-
      // rendered entry is unparseable-absolutely → keep (unanalyzed)
      val zmin = TableSink.zoneBound(entry.getItem(0), dt)
      val zmax = TableSink.zoneBound(entry.getItem(1), dt)
      when(entry.isNull || TableSink.zoneLegacy(entry.getItem(0), dt) ||
          TableSink.zoneLegacy(entry.getItem(1), dt), lit(true))
        .otherwise(coalesce(zmax >= lo && zmin <= hi, lit(false)))
    }.reduce(_ && _)
  }

  /** The candidate file set for closed bounds `[lo, hi]` per column (all
    * bounds must intersect), plus the number of files pruned.
    *
    * The zone predicate AND the live-listing membership test run IN SPARK
    * over the stats parquet (the predicate on `min_*`/`max_*` pushes into
    * the parquet scan), so the driver collects only the SURVIVING file
    * names — O(kept + unanalyzed), not O(files). At 100 TB / O(10⁶)
    * analyzed files with selective bounds, that is the difference between
    * collecting a handful of names and materializing the whole manifest a
    * second time. (The live listing itself is the planner's unavoidable
    * manifest metadata, shared with every table read.) */
  def candidates(spark: SparkSession,
      bounds: Seq[(String, Column, Column)]): (Seq[String], Int) = {
    require(bounds.nonEmpty, "candidates needs at least one column bound")
    val root = sink.config.tablePath.stripSuffix("/")
    val live = sink.dataFilesRel().map(r => s"$root/$r")
    import spark.implicits._
    val statsByPath: Option[org.apache.spark.sql.DataFrame] =
      sink.manifestStatsDf(spark) match {
        case Some(stats) => // manifest-entry stats (versioned tables)
          Some(stats.select(col("path"),
            manifestKeep(spark, bounds).as("keep")))
        case None if WarehouseIO.isDir(
            new org.apache.hadoop.fs.Path(statsPath)) =>
          // sidecar stats (unversioned analyze). null-safe: an all-null
          // zone gives NULL min/max -> coalesced false -> pruned.
          val pred = coalesce(bounds.map { case (c, lo, hi) =>
            col(s"max_$c") >= lo && col(s"min_$c") <= hi
          }.reduce(_ && _), lit(false))
          // stats `file` is a percent-encoded URI while the FS listing is
          // a raw path — decode inside the scan so the keys meet (a
          // mismatch is conservative: the file reads as "unanalyzed")
          Some(StatsSidecar.read(spark, statsPath)
            .select(regexp_replace(TableSink.decodePath(col("file")),
              "^file:(//)?", "")
              .as("path"), pred.as("keep")))
        case None => None
      }
    statsByPath match {
      case None => (live, 0) // never analyzed: everything is a candidate
      case Some(keepDf) =>
        val liveDf = live.toDF("path")
        val files = liveDf.join(keepDf, Seq("path"), "left")
          .where(col("keep").isNull || col("keep")) // unanalyzed OR keep
          .select(col("path")).as[String].collect().toSeq
        val fileSet = files.toSet
        (live.filter(fileSet), live.size - files.size)
    }
  }

  /** In-plan data skipping for the UNSELECTIVE regime. [[readBetween]]
    * hands the SURVIVING file names to the driver — the same metadata
    * class as Spark's own FileIndex listing (split planning is driver-
    * side by construction), optimal when bounds keep few files. When
    * bounds keep MOST files, that handoff approaches a full manifest
    * copy; here NO path ever lands on the driver: the scan reads the
    * live table and anti-joins `_metadata.file_path` against the (small)
    * PRUNED set derived from the stats parquet, so zone metadata flows
    * plan-to-plan. The cost model flips accordingly — pruned files'
    * rows are scanned and discarded at the join — so this wins exactly
    * when few files prune (tiny waste, zero driver materialization) and
    * [[readBetween]] wins when many do (scan-level skipping). The
    * pruned set is broadcast: it is one row per pruned ANALYZED file,
    * bounded metadata in the regime this path is for. Unanalyzed files
    * are absent from the stats and survive the anti-join automatically;
    * an all-null zone prunes (no non-null value can match) — the same
    * conservative contracts as [[candidates]]. */
  def readBetweenInPlan(spark: SparkSession,
      bounds: (String, Column, Column)*): DataFrame = {
    require(bounds.nonEmpty, "readBetweenInPlan needs at least one bound")
    val prunedPaths: Option[org.apache.spark.sql.DataFrame] =
      sink.manifestStatsDf(spark) match {
        case Some(stats) =>
          Some(stats.where(!manifestKeep(spark, bounds))
            .select(TableSink.stripScheme(col("path")).as("__zm_path")))
        case None if WarehouseIO.isDir(
            new org.apache.hadoop.fs.Path(statsPath)) =>
          val keep = coalesce(bounds.map { case (c, lo, hi) =>
            col(s"max_$c") >= lo && col(s"min_$c") <= hi
          }.reduce(_ && _), lit(false))
          Some(StatsSidecar.read(spark, statsPath)
            .where(!keep)
            .select(regexp_replace(TableSink.decodePath(col("file")),
              "^file:(//)?", "")
              .as("__zm_path")))
        case None => None
      }
    prunedPaths match {
      case None => sink.read(spark) // never analyzed: all candidates
      case Some(pruned) =>
        // the scan path is captured INSIDE the sink's read, before any
        // merge-on-read delete anti-join makes _metadata unresolvable
        val df = sink.readWithScanPath(spark, "__zm_scan_raw")
        df.withColumn("__zm_scan_path",
            TableSink.stripScheme(TableSink.decodePath(col("__zm_scan_raw"))))
          .join(broadcast(pruned),
            col("__zm_scan_path") === col("__zm_path"), "left_anti")
          .drop("__zm_scan_path", "__zm_scan_raw")
    }
  }

  /** Read only the files whose zones intersect every `(col, lo, hi)` bound
    * (closed intervals). The caller still applies its real predicate — this
    * narrows I/O, it does not filter rows. */
  def readBetween(spark: SparkSession,
      bounds: (String, Column, Column)*): DataFrame = {
    val (files, _) = candidates(spark, bounds)
    if (files.isEmpty) sink.read(spark).limit(0)
    else {
      val r = spark.read.format(sink.config.fileFormat)
        .option("basePath", sink.config.tablePath)
      // pending merge-on-read sidecars apply to the pruned subset too —
      // a skipped-file read must never resurrect subtracted rows
      sink.applyHeadDeletes(
        sink.config.tableSchema.fold(r)(s => r.schema(s)).load(files: _*))
    }
  }
}

/** Per-file Bloom-filter data skipping for EQUALITY predicates — the
  * complement of [[ZoneMaps]] (which proves range disjointness): a zone
  * map cannot skip anything under hash clustering or for a categorical
  * point lookup, while a Bloom signature skips every file whose filter
  * provably never saw the probed value (Iceberg and Parquet both attach
  * the same structure to their file/row-group metadata for this reason).
  *
  * Per (file, column) the signature is the DISTINCT SET of bit positions
  * `xxhash64(seed_i, value) mod bits` for `i < k` over the file's rows —
  * a Bloom filter with an explicit position list (≤ `bits` ints, bounded
  * metadata per file). One-sided as always: hash collisions can KEEP a
  * file with no matching row (a false positive costs I/O), but a file
  * containing the value always set exactly the probe's positions, so a
  * match is never skipped. Probe positions are computed by the SAME Spark
  * expression inside the plan — no driver-side reimplementation of
  * xxhash64 to drift.
  *
  * Stats live under `<table>/_graft_bloom` (underscore-prefixed —
  * invisible to scans and the snapshot log) in LONG form, one row per
  * (file, column): `file`, `col`, `positions`. Files appended after
  * [[analyze]] have no row → always read; null values can never satisfy
  * an equality probe, so null-heavy files prune safely. Stale stats
  * degrade to less pruning, never to wrong results — the same contract
  * as [[ZoneMaps]]. */
final class BloomSkip(sink: TableSink, bits: Int = 4096, k: Int = 5) {
  require(bits > 0 && k > 0, "bloom needs positive bits and hash count")

  private def statsPath = s"${sink.config.tablePath}/_graft_bloom"

  /** The k probe/insert bit positions of `v` under (`pBits`, `pK`)
    * (null-safe: a null value yields a null entry that [[analyze]] drops
    * and no probe can equal). xxhash64 is TYPE-sensitive (an INT 7 and a
    * LONG 7 hash differently), so every caller must hash the exact
    * analyzed type — [[analyze]] hashes the table column as stored and
    * stamps its type; probes cast the literal to it first. */
  private def positions(v: Column, pBits: Int, pK: Int): Column =
    when(v.isNotNull, array((0 until pK).map(i =>
      pmod(xxhash64(lit(i), v), lit(pBits)).cast("int")): _*))

  /** One distributed scan: per (file, column) distinct bit-position sets,
    * stamped with the (`bits`, `k`, column type) they were hashed under —
    * probes read the stamps back rather than trusting the instance's own
    * parameters, so a mismatched reader prunes nothing silently wrong.
    * The explode→distinct→collect shape keeps the shuffle key (file, col,
    * position) so partial aggregation bounds executor memory at `bits`
    * ints per group — never a per-file list of per-row hashes. */
  def analyze(spark: SparkSession, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "analyze needs at least one column")
    if (sink.config.versioned && sink.snapshotVersions().nonEmpty) {
      // manifest-entry stats: register the columns under THIS instance's
      // (bits, k) and the current column types, then fold the head into
      // one stats-bearing manifest — appends maintain their own entries
      // from here on (TableSink.manifestStatsFor at commit)
      val schema = sink.read(spark).schema
      val specs = cols.map(c =>
        TableSink.BloomSpec(c, bits, k, schema(c).dataType.sql))
      val (keepZone, _) = sink.readStatsSpec()
      sink.commitStatsRefold(spark, keepZone, specs)
      return
    }
    val df = sink.read(spark)
    val dtypes = cols.map(c => c -> df.schema(c).dataType).toMap
    val tagged = array(cols.map(c =>
      struct(lit(c).as("c"), positions(col(c), bits, k).as("ps"),
        lit(dtypes(c).sql).as("dt"))): _*)
    df.select(input_file_name().as("file"), explode(tagged).as("t"))
      .select(col("file"), col("t.c").as("col"), col("t.dt").as("dtype"),
        explode(col("t.ps")).as("p"))
      .distinct()
      .groupBy("file", "col", "dtype")
      .agg(array_sort(collect_set(col("p"))).as("positions"))
      .withColumn("bits", lit(bits))
      .withColumn("k", lit(k))
      .coalesce(1)
      .write.mode("overwrite").parquet(statsPath)
  }

  private def decoded(c: Column): Column =
    regexp_replace(TableSink.decodePath(c), "^file:(//)?", "")

  /** Candidate files for the conjunction of `col = value` probes, plus the
    * pruned count — the driver-side variant (mirrors
    * [[ZoneMaps.candidates]]): only SURVIVING names are collected. */
  def candidates(spark: SparkSession,
      probes: Seq[(String, Column)]): (Seq[String], Int) = {
    require(probes.nonEmpty, "candidates needs at least one probe")
    import spark.implicits._
    val root = sink.config.tablePath.stripSuffix("/")
    val live = sink.dataFilesRel().map(r => s"$root/$r")
    if (sink.manifestStatsDf(spark).isEmpty &&
        !WarehouseIO.isDir(new org.apache.hadoop.fs.Path(statsPath)))
      return (live, 0) // never analyzed: everything is a candidate
    val prunedDf = prunedPaths(spark, probes, "path")
    val liveDf = live.toDF("path")
    val files = liveDf.join(prunedDf, Seq("path"), "left_anti")
      .select(col("path")).as[String].collect().toSeq
    val fileSet = files.toSet
    (live.filter(fileSet), live.size - files.size)
  }

  /** Paths (as `outCol`) of files PROVEN to miss at least one probe: the
    * per-(file, col) signature exists and lacks one of the probe's k
    * positions. Absent signatures never appear → unanalyzed files always
    * survive the caller's anti-join. Probe positions are computed under
    * the PERSISTED (bits, k, column type) stamps — one driver lookup of
    * bounded stats metadata per probe column — never the reader
    * instance's own parameters, so a probe literal of a different type
    * (LONG 7 against an INT column) or a differently-sized reader can
    * never silently hash to the wrong bits and prune a matching file. */
  private def prunedPaths(spark: SparkSession,
      probes: Seq[(String, Column)], outCol: String): DataFrame =
    sink.manifestStatsDf(spark) match {
      case Some(stats) => manifestPruned(stats, probes, outCol)
      case None => sidecarPruned(spark, probes, outCol)
    }

  /** Manifest-entry variant: the signature is a HEX BITMAP (64-bit
    * lanes, lane 0 first) inside the file's manifest stats entry; the
    * probe's k bit positions are computed under the REGISTRY stamps
    * (bits, k, hashed type — one tiny log read) and tested against the
    * bitmap with builtin string/bit expressions, all codegen'd. An
    * entry whose geometry disagrees with the registry (mid-migration
    * state) is never prunable — conservative, like an absent entry. */
  private def manifestPruned(stats: DataFrame,
      probes: Seq[(String, Column)], outCol: String): DataFrame = {
    import org.apache.spark.sql.types.DataType
    val (_, specs) = sink.readStatsSpec()
    probes.map { case (c, v) =>
      specs.find(_.col == c) match {
        case None => // column never registered: nothing provably prunable
          stats.where(lit(false)).select(col("path").as(outCol))
        case Some(sp) =>
          val entry = element_at(col("b"), c)
          val m = entry.getField("m")
          val probe = v.cast(DataType.fromDDL(sp.dtype))
          val missesOne = (0 until sp.k).map(i =>
            !TableSink.bloomBitSet(m,
              pmod(xxhash64(lit(i), probe), lit(sp.bits)).cast("int")))
            .reduce(_ || _)
          stats.where(entry.isNotNull &&
              entry.getField("bits") === sp.bits &&
              entry.getField("k") === sp.k && missesOne)
            .select(col("path").as(outCol))
      }
    }.reduce(_ unionAll _).distinct()
  }

  /** Sidecar (unversioned-table) variant — position-list parquet. */
  private def sidecarPruned(spark: SparkSession,
      probes: Seq[(String, Column)], outCol: String): DataFrame = {
    import org.apache.spark.sql.types.DataType
    val stats = StatsSidecar.read(spark, statsPath)
    probes.map { case (c, v) =>
      val stamps = stats.where(col("col") === c)
        .select(col("bits"), col("k"), col("dtype"))
        .distinct().collect()
      require(stamps.length <= 1,
        s"bloom stats for column '$c' carry mixed (bits, k, type) stamps " +
          s"— re-run analyze to rebuild them consistently")
      stamps.headOption match {
        case None =>
          // column never analyzed: nothing provably prunable
          stats.where(lit(false)).select(decoded(col("file")).as(outCol))
        case Some(row) =>
          val (pBits, pK) = (row.getInt(0), row.getInt(1))
          val probe = v.cast(DataType.fromDDL(row.getString(2)))
          stats.where(col("col") === c &&
              !forall(positions(probe, pBits, pK),
                p => array_contains(col("positions"), p)))
            .select(decoded(col("file")).as(outCol))
      }
    }.reduce(_ unionAll _).distinct()
  }

  /** Read only the files whose Bloom signatures admit every `col = value`
    * probe. Narrows I/O; the caller still applies the real predicate. */
  def readEquals(spark: SparkSession,
      probes: (String, Column)*): DataFrame = {
    val (files, _) = candidates(spark, probes)
    if (files.isEmpty) sink.read(spark).limit(0)
    else {
      val r = spark.read.format(sink.config.fileFormat)
        .option("basePath", sink.config.tablePath)
      // same merge-on-read contract as ZoneMaps.readBetween: pending
      // sidecars subtract from the pruned subset too
      sink.applyHeadDeletes(
        sink.config.tableSchema.fold(r)(s => r.schema(s)).load(files: _*))
    }
  }

  /** In-plan variant (mirrors [[ZoneMaps.readBetweenInPlan]]): the pruned
    * set stays a broadcast metadata DataFrame anti-joined against the
    * scan's own `_metadata.file_path` — no path ever lands on the driver. */
  def readEqualsInPlan(spark: SparkSession,
      probes: (String, Column)*): DataFrame = {
    require(probes.nonEmpty, "readEqualsInPlan needs at least one probe")
    if (sink.manifestStatsDf(spark).isEmpty &&
        !WarehouseIO.isDir(new org.apache.hadoop.fs.Path(statsPath)))
      return sink.read(spark) // never analyzed: everything is a candidate
    val df = sink.readWithScanPath(spark, "__bf_scan_raw")
    df.withColumn("__bf_scan_path", decoded(col("__bf_scan_raw")))
      .join(broadcast(prunedPaths(spark, probes, "__bf_path")),
        col("__bf_scan_path") === col("__bf_path"), "left_anti")
      .drop("__bf_scan_path", "__bf_scan_raw")
  }
}
