package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import scala.jdk.CollectionConverters._

/** Partition-transform-aware table sink (reference: connector.py K1-K10,
  * SURVEY.md §2.3) on partitioned Parquet/ORC.
  *
  * Reference semantics → Spark mapping:
  *  - partition-key grouping before write (connector.py:326-335, a Python
  *    defaultdict) → `repartition(derivedCols)` shuffle + `partitionBy`,
  *    which clusters rows per partition value across the cluster and writes
  *    one file per (task, partition-value) — the same write-side clustering
  *    that enables read-side partition pruning, at any scale;
  *  - buffer + size/time flush (connector.py:147-199) → micro-batch
  *    boundaries (`Trigger.ProcessingTime`) in [[startStream]];
  *  - commit retry + backoff (connector.py:242-257) → realized
  *    Iceberg-style as OPTIMISTIC snapshot commits
  *    ([[commitAppendedFiles]]): the next version file is claimed by
  *    atomic write-then-rename, a losing committer re-reads the head and
  *    retries — append commits commute, so concurrent writers merge
  *    instead of serializing through one process (streaming keeps the
  *    file-sink `_spark_metadata` log's exactly-once contract);
  *  - create-if-missing (connector.py:358-393) → first write creates the
  *    table directory; [[read]] applies the declared schema if configured.
  *
  * Scale notes: the repartition keys on the *derived* partition values, so
  * low-cardinality specs (e.g. 5 event types) would bottleneck on 5 tasks;
  * `numPartitions > 1` adds a uniform salt to spread each partition value
  * over several writers (the reference's `num_partitions` parallel writers,
  * connector.py:456-468) while still writing into the same directories.
  */
object TableSink {

  /** True when any cause in `t`'s chain is a missing-file symptom — a
    * raw [[java.io.FileNotFoundException]] (scan task or footer read
    * hitting a deleted file), Spark's "Path does not exist" listing
    * error, or this engine's own "snapshot … does not exist" refusal.
    * The streaming source and the replication apply use it to tell a
    * concurrent history rewrite (files legitimately deleted mid-batch —
    * re-check the generation, refuse precisely) from genuine corruption
    * (rethrow raw). */
  def isMissingFileError(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists {
      case _: java.io.FileNotFoundException => true
      // message matches are pinned to the two KNOWN missing-path shapes
      // (Spark's listing error and this engine's snapshot refusal). A
      // bare "does not exist" substring would also catch unrelated
      // failures — e.g. an AnalysisException "Table or view does not
      // exist" raised inside a foreachBatch — and convert them into the
      // "rewritten mid-stream" refusal, masking the real error.
      case e => Option(e.getMessage).exists(m =>
        m.contains("Path does not exist") ||
          (m.contains("napshot") && m.contains("does not exist")))
    }

  /** Bit test against a hex Bloom bitmap (64-bit lanes, lane 0 first;
    * lane renders as 16 hex chars, most significant nibble first): bit
    * `p` lives in lane p/64 at bit p%64 — nibble char
    * lane*16 + (15 - (p%64)/4), bit (p%64)%4. Builtin codegen'd
    * expressions only. Shared by BloomSkip probes and the SQL door's
    * scan-planning pruner. */
  private[graft] def bloomBitSet(m: Column, p: Column): Column = {
    val j = pmod(p, lit(64))
    val lane = ((p - j) / lit(64)).cast("int")
    val nibOfLane = ((j - pmod(j, lit(4))) / lit(4)).cast("int")
    val charIdx = lane * lit(16) + lit(15) - nibOfLane + lit(1)
    val nib = conv(m.substr(charIdx, lit(1)), 16, 10).cast("int")
    val bitInNib = pmod(j, lit(4)).cast("int")
    val mask = when(bitInNib === 0, 1).when(bitInNib === 1, 2)
      .when(bitInNib === 2, 4).otherwise(8)
    nib.bitwiseAND(mask) =!= 0
  }

  /** Percent-decode a URI path component: %XX sequences ONLY. `url_decode`
    * / `URLDecoder` are FORM decoders — they also turn a literal '+' into
    * a space, and Spark's `escapePathName` does not escape '+', so a data
    * file under a partition value like `a+b` would decode to `a b`, fail
    * its path join, and silently lose its stats entry (pruning disabled
    * for that file) or skew metadata accounting. Pre-escaping '+' to %2B
    * makes the form decoder behave as a pure %XX decoder. */
  private[graft] def decodePath(c: Column): Column =
    url_decode(regexp_replace(c, "\\+", "%2B"))

  /** Driver-side twin of [[decodePath]]. */
  private[graft] def decodePath(s: String): String =
    java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")

  /** A URI's leading `scheme:` (and `//`): what is left compares as a
    * path across `file:`/`hdfs:`/`s3a:` renderings of one location. */
  private val SchemePrefix = "^[a-z][a-zA-Z0-9+.-]*:(//)?"

  private[graft] def stripScheme(s: String): String =
    s.replaceFirst(SchemePrefix, "")

  private[graft] def stripScheme(c: Column): Column =
    regexp_replace(c, SchemePrefix, "")

  /** Render a zone-stat bound for persistence. TIMESTAMP bounds persist
    * as EPOCH MICROS (timezone-independent) — a cast-to-string render
    * would use the WRITER's session timezone with no zone designator, and
    * a reader in a different session timezone would parse it back to a
    * different instant, shifting the bounds and letting pruning skip a
    * file that contains matching rows. `unix_micros` is monotonic, so
    * min/max commute with the encoding. All other types render by cast
    * (DATE and TIMESTAMP_NTZ strings carry no timezone). */
  private[graft] def zoneRender(v: Column, dt: String): Column =
    if (dt.equalsIgnoreCase("TIMESTAMP")) unix_micros(v).cast("string")
    else v.cast("string")

  /** Parse a persisted zone bound back to its typed value. TIMESTAMP
    * entries written before the epoch-micros encoding (session-rendered,
    * no designator) are NOT absolutely parseable — they yield NULL here
    * and [[zoneLegacy]] flags them so probes keep the file. */
  private[graft] def zoneBound(raw: Column, dt: String): Column =
    if (dt.equalsIgnoreCase("TIMESTAMP"))
      when(raw.rlike("^-?[0-9]+$"), timestamp_micros(raw.cast("long")))
    else raw.cast(dt)

  /** TRUE when `raw` is a legacy session-rendered TIMESTAMP bound whose
    * instant cannot be recovered — the probe must treat the file as
    * unanalyzed (keep), never prune on an unparseable bound. */
  private[graft] def zoneLegacy(raw: Column, dt: String): Column =
    if (dt.equalsIgnoreCase("TIMESTAMP"))
      raw.isNotNull && !raw.rlike("^-?[0-9]+$")
    else lit(false)

  /** One registered Bloom column: filter geometry + the hashed type
    * (xxhash64 is type-sensitive — probes cast to `dtype` first). */
  private[graft] final case class BloomSpec(col: String, bits: Int, k: Int,
      dtype: String) {
    require(bits > 0 && bits % 64 == 0 && bits <= 16384,
      s"bloom bits must be a positive multiple of 64 <= 16384, got $bits")
    require(k > 0, "bloom needs a positive hash count")
  }

  /** Fold each old physical column into its renamed successor: both
    * present → coalesce (exactly one is non-null per row, each file
    * carries one name generation); only old → plain rename. Column-wise
    * `withColumn`/`drop` so unrelated columns (`_metadata` included)
    * pass through untouched. Shared by the library read paths and the
    * SQL catalog's projected scan over renamed tables. */
  private[graft] def applyRenames(df: DataFrame,
      renames: Map[String, String]): DataFrame =
    renames.foldLeft(df) { case (d, (old, nw)) =>
      def has(c: String) = d.columns.exists(_.equalsIgnoreCase(c))
      if (has(old) && has(nw))
        d.withColumn(nw, coalesce(col(nw), col(old))).drop(old)
      else if (has(old)) d.withColumnRenamed(old, nw)
      else d
    }

  /** A declared read schema for a renamed table must also REQUEST the
    * old physical names, or pre-rename files would serve NULL for the
    * renamed column; the extra fields read as null from post-rename
    * files and [[applyRenames]] folds them away. */
  private[graft] def augmentWithRenameSources(declared: StructType,
      renames: Map[String, String]): StructType =
    renames.foldLeft(declared) { case (s, (old, nw)) =>
      val tpe = s.fields.find(_.name.equalsIgnoreCase(nw)).map(_.dataType)
      if (tpe.isEmpty || s.fieldNames.exists(_.equalsIgnoreCase(old))) s
      else s.add(org.apache.spark.sql.types.StructField(old, tpe.get,
        nullable = true))
    }

  /** A relative data-file path's partition-directory SPINE signature:
    * the ordered `col=`-style directory names above the file. Files
    * written under the same partition spec share a spine; a table whose
    * manifest mixes spines has lived through partition-spec evolution
    * and cannot be read in one `basePath` load (see [[TableSink
    * .readFiles]]'s generation grouping). */
  private[graft] def spineOf(rel: String): Seq[String] =
    rel.split('/').dropRight(1)
      .takeWhile(_.contains('=')).map(_.takeWhile(_ != '=')).toSeq

  /** Name of the optional per-row partition-override map column consumed by
    * [[TableSink.withDerived]] (reference models.py:62-63 `partition_data`). */
  val PartitionDataCol = "_partition_data"

  /** One row of the live file inventory behind the `files` and
    * `partitions` metadata tables. */
  private final case class LiveFile(uri: String, partition: String,
      facts: TableLog.FileFacts)

  /** Partition tuples — values of a sink's partition columns, in order —
    * with their schema, collected on the driver (one per partition). */
  private final case class Partitions(tuples: Seq[Row], schema: StructType) {
    def frame(spark: SparkSession): DataFrame =
      spark.createDataFrame(tuples.asJava, schema)
  }

  private object Partitions {
    /** No partition named: a rewrite replaces where its rows land. */
    val none: Partitions = Partitions(Nil, new StructType())
  }

  /** Default [[TableSink.removeOrphans]] grace window (24 h) — generous
    * versus the seconds-scale life of a staged write so a concurrent
    * committer's not-yet-claimed files are never swept (Iceberg's
    * `older_than` defaults to 3 days for the same reason). */
  val DefaultOrphanGraceMs: Long = 24L * 60 * 60 * 1000
}

final class TableSink(val config: SinkConfig) {
  import TableSink.Partitions

  /** Derived partition columns per the spec (K7 `_partition_records`). */
  def derivedColumns(df: DataFrame): Seq[(String, Column)] =
    config.partitionSpec.map { pf =>
      // case-INSENSITIVE source lookup (round-14): Spark resolves the
      // col() reference case-insensitively, so the type probe must too —
      // StructType.apply is case-sensitive and threw on a batch whose
      // names differ only in case
      val dt = df.schema.fields
        .find(_.name.equalsIgnoreCase(pf.source))
        .getOrElse(throw new IllegalArgumentException(
          s"partition source column '${pf.source}' is missing from the " +
            s"batch (${df.columns.mkString(", ")})"))
        .dataType
      pf.columnName -> pf.transform(col(pf.source), dt)
    }

  /** Input df + derived partition columns appended (idempotent for identity
    * transforms, which reuse the source column).
    *
    * `partition_data` per-message override (reference models.py:62-63 — the
    * reference declares the field and never consumes it; here it is honored):
    * if the input carries a `_partition_data` MAP<STRING,STRING> column, an
    * entry keyed by a derived partition column's name overrides the
    * transform-derived value for that row (cast to the derived type); rows
    * without an entry fall back to the transform. The map column itself is
    * metadata, not record data, and is dropped before the write. Identity
    * partition columns that already exist in the data are the data — they
    * are not overridable (a row cannot carry two values in one column).
    */
  def withDerived(df: DataFrame): DataFrame = {
    val hasOverride = df.columns.contains(TableSink.PartitionDataCol)
    val derived = derivedColumns(df)
    // resolve each derived column's type once, from a plan-only probe (no
    // job): the override string is cast to exactly that type
    lazy val probeSchema = derived.foldLeft(df) { case (d, (name, c)) =>
      if (d.columns.contains(name)) d else d.withColumn(name, c)
    }.schema
    val withCols = derived.foldLeft(df) { case (d, (name, c)) =>
      if (d.columns.contains(name)) d
      else {
        // try_element_at: under ANSI mode (Spark 4 default) element_at
        // THROWS on a missing key, but a row legitimately overrides only
        // some partition columns — absent keys must fall back, not fail.
        // A PRESENT but malformed value still fails the job (ANSI cast):
        // a caller-supplied partition value that cannot be honored is a
        // data error, not something to silently ignore.
        val value =
          if (hasOverride)
            coalesce(
              try_element_at(col(TableSink.PartitionDataCol), lit(name))
                .cast(probeSchema(name).dataType), c)
          else c
        d.withColumn(name, value)
      }
    }
    if (hasOverride) withCols.drop(TableSink.PartitionDataCol) else withCols
  }

  private def partitionColNames: Seq[String] =
    config.partitionSpec.map(_.columnName)

  /** Cluster rows by partition value (+ salt for writer parallelism) and
    * sort within each writer per `sortOrder` (honoring the knob the
    * reference declares but never uses — models.py:187-190).
    */
  private def clusterForWrite(df: DataFrame): DataFrame = {
    val parts = partitionColNames
    // OPTIMIZATION r14 (guide §6 file sizing, §2.2 scale-adaptive
    // partitioning): partitioned writes cluster via the REBALANCE hint on
    // the partition columns instead of the former fixed hash salt
    // (pmod(hash(all cols), numPartitions)). The salt unconditionally
    // fragmented EVERY partition value into ~numPartitions files — at
    // fixture scale that quadrupled the file count (266 → 150 data files
    // for the events roundtrip, measured) and charged every append and
    // every subsequent read ~per-file writer/open overhead; at 100 TB a
    // fixed spread is wrong in the other direction (4 writers for a
    // multi-TB partition value). AQE's rebalance derives writer
    // parallelism from the DATA: small values coalesce toward one file,
    // values above spark.sql.adaptive.advisoryPartitionSizeInBytes split
    // across writers — the adaptive form of exactly what the salt
    // approximated. numPartitions keeps its role for unpartitioned
    // layouts (and in config validation/presets); rows-per-file within a
    // value is layout only — reads, constraints, and the oracle compare
    // values, never file boundaries.
    val clustered =
      if (parts.isEmpty) df.repartition(config.numPartitions)
      else if (config.numPartitions > 1) df.hint("rebalance", parts: _*)
      else df.repartition(parts.map(col): _*)
    if (config.sortOrder.nonEmpty)
      clustered.sortWithinPartitions(config.sortOrder.map(col): _*)
    else clustered
  }

  /** Guard against mixing the batch and streaming writers on one table:
    * once a streaming file sink has created `_spark_metadata`, reads trust
    * only that log and batch-appended files would silently disappear. */
  private def requireNoStreamingLog(): Unit = {
    val meta = new org.apache.hadoop.fs.Path(
      config.tablePath, "_spark_metadata")
    require(!WarehouseIO.exists(meta),
      s"table ${config.tablePath} is a streaming-sink table " +
        "(_spark_metadata present); batch append would write files the " +
        "sink log hides from readers — use startStream, or a different table")
  }

  /** K5/K6 batch append: coerce → derive → cluster → atomic append. */
  def append(df: DataFrame): Unit = {
    requireNoStreamingLog()
    writeAndCommit(clusterForWrite(withDerived(Ops.ensureMessage(df))))
  }

  /** Batch append that PRESERVES the caller's physical clustering (e.g. a
    * [[ZOrder.cluster]] layout): the sink's own repartition/sort is
    * skipped — each incoming partition writes straight to one file — while
    * everything else (input coercion, derived partition columns, format,
    * snapshot log) matches [[append]]. The normal append would re-shuffle
    * into `numPartitions` writers and destroy the range-clustered layout
    * zone maps depend on. */
  def appendClustered(df: DataFrame): Unit = {
    requireNoStreamingLog()
    writeAndCommit(withDerived(Ops.ensureMessage(df)))
  }

  /** Persist the write-relevant config as a `_graft_config` sidecar so a
    * DIFFERENT writer reaching the same table — the SQL catalog's INSERT
    * path builds its own [[TableSink]] — applies the same
    * CHECK-constraint gate, sort order, writer parallelism, format, and
    * versioning instead of silently writing under defaults. Values are
    * URL-encoded (constraints are arbitrary SQL text); refreshed on
    * every append (tiny atomic overwrite). */
  private def persistConfigHints(): Unit = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val lines =
      Seq(s"fileFormat=${config.fileFormat}",
        s"numPartitions=${config.numPartitions}",
        s"versioned=${config.versioned}") ++
      (if (config.sortOrder.isEmpty) Nil
       else Seq(s"sortOrder=${config.sortOrder.map(enc).mkString(",")}")) ++
      config.checkConstraints.map(c => s"constraint=${enc(c)}") ++
      // the partition spec, so the catalog can rebuild THIS writer for
      // SQL DML on partitioned tables (identity specs become writable;
      // hidden transforms stay read-only — see GraftCatalog.fileTable)
      config.partitionSpec.map(pf => "partition=" + (Seq(enc(pf.source),
        enc(Transform.render(pf.transform))) ++
        pf.explicitName.map(enc)).mkString(":"))
    WarehouseIO.writeStringAtomic(
      new org.apache.hadoop.fs.Path(config.tablePath, "_graft_config"),
      lines.mkString("\n"))
  }

  /** Append commit protocol — O(added files), WAP-safe. A versioned append
    * must NOT snapshot (or even LIST) the whole live directory: a
    * directory walk per commit is O(total files) driver work — quadratic
    * over table lifetime, the kind of metadata cost that kills a
    * 100 TB table with millions of files — and unpublished branch appends
    * share the directory, so a whole-directory snapshot would also
    * publish staged, unaudited rows. Instead the write is STAGED
    * ([[stagedWrite]]): the commit already knows exactly which files it
    * produced and records `head manifest + exactly those`, touching no
    * other file metadata. The one remaining walk on this path is the
    * FIRST commit over pre-existing unversioned data (bootstrapping the
    * manifest), paid once per table. Files referenced by no manifest
    * (staged branch files, crash orphans) stay out of main's history —
    * the same isolation Iceberg's manifest-list commit gives. */
  private def writeAndCommit(prepared: DataFrame): Unit = {
    if (!config.versioned) {
      // no staging area to validate after the fact — check BEFORE the
      // write (one extra pass over the batch, the documented cost of
      // constraints without a snapshot log; a refused append must leave
      // no trace, so the hints persist only after the gate)
      requireConstraints(prepared, "append")
      persistConfigHints()
      val writer = prepared.write
        .mode("append")
        .format(config.fileFormat)
        .options(config.extraOptions)
      (if (partitionColNames.nonEmpty) writer.partitionBy(partitionColNames: _*)
       else writer).save(config.tablePath)
    } else {
      val added = stagedWrite(prepared) // validates constraints in staging
      persistConfigHints()
      // stats upkeep IS the commit: the delta manifest's entries carry
      // the new files' zone/bloom stats (one bounded job over exactly
      // the added files, driven by the log-resident registry)
      commitAppendedFiles(added,
        stats = manifestStatsFor(prepared.sparkSession, added,
          prepared.schema))
    }
  }

  // --------------------------------------- manifest-entry column stats
  // Per-file zone (min/max) and Bloom stats live IN the delta manifest
  // entry (`path\tjson` lines — Iceberg's lower_bounds/upper_bounds
  // model): one metadata source of truth, pruning reads no second
  // sidecar, upkeep is part of the commit itself, and stats die with
  // their manifest on expiry/rewrite — no separate GC. WHICH columns get
  // stats is the registry below, a tiny log-resident spec written by
  // ZoneMaps/BloomSkip.analyze (log-resident on purpose: a rewrite that
  // expires the log drops the spec with the stats — re-analyze, same
  // contract as before). Unversioned tables have no manifest to carry
  // stats, so they keep the parquet-sidecar analyze (with no upkeep
  // path — their appends never maintained stats anyway).

  private def statsSpecPath: org.apache.hadoop.fs.Path = logFile("stats_spec")

  /** (zone columns with their recorded type, bloom specs). */
  private[graft] def readStatsSpec(): (Seq[(String, String)], Seq[TableSink.BloomSpec]) = {
    if (!WarehouseIO.isFile(statsSpecPath)) return (Nil, Nil)
    def dec(x: String) = java.net.URLDecoder.decode(x, "UTF-8")
    val lines = WarehouseIO.readString(statsSpecPath).linesIterator.toSeq
    (lines.collect { case l if l.startsWith("z:") =>
      l.stripPrefix("z:").split(":", 2) match {
        case Array(c, dt) => dec(c) -> dec(dt)
      }
    },
      lines.collect { case l if l.startsWith("b:") =>
        l.stripPrefix("b:").split(":", 4) match {
          case Array(c, b, k, dt) =>
            TableSink.BloomSpec(dec(c), b.toInt, k.toInt, dec(dt))
        }
      })
  }

  private[graft] def writeStatsSpec(zone: Seq[(String, String)],
      bloom: Seq[TableSink.BloomSpec]): Unit = {
    def enc(x: String) = java.net.URLEncoder.encode(x, "UTF-8")
    WarehouseIO.writeStringAtomic(statsSpecPath,
      (zone.map { case (c, dt) => s"z:${enc(c)}:${enc(dt)}" } ++
        bloom.map(b => s"b:${enc(b.col)}:${b.bits}:${b.k}:${enc(b.dtype)}"))
        .mkString("\n"))
  }

  /** The k Bloom bit positions of `v` under (`bits`, `k`) — the same
    * xxhash64 family on write and probe, computed by Spark expressions
    * on both sides so no driver-side hash reimplementation can drift. */
  private[graft] def bloomPositions(v: Column, bits: Int, k: Int): Column =
    when(v.isNotNull, array((0 until k).map(i =>
      pmod(xxhash64(lit(i), v), lit(bits)).cast("int")): _*))

  /** ONE bounded Spark job over exactly `rels` (the files one commit
    * added, or a refold's full head): per-file stats JSON for every
    * registered column present in `schema` at its registered type —
    * `{"n":rows,"z":{col:[min,max]},"b":{col:{bits,k,dt,m}}}` with
    * min/max as strings (cast back at probe time) and the Bloom filter
    * as a hex bitmap (64-bit lanes, lane 0 first — ~2 chars/byte keeps a
    * 4096-bit filter at 1 KB per entry, vs ~20 KB as a position list).
    * Mismatched or absent columns skip — their files read as unanalyzed,
    * conservative by contract. Returns rel-path → json. */
  private[graft] def manifestStatsFor(spark: SparkSession,
      rels: Seq[String], schema: StructType): Map[String, String] = {
    if (rels.isEmpty || !config.versioned) return Map.empty
    val (zoneAll, bloomAll) = readStatsSpec()
    def typeOk(c: String, dt: String) =
      schema.fieldNames.contains(c) && schema(c).dataType.sql == dt
    val zone = zoneAll.filter { case (c, dt) => typeOk(c, dt) }
    val bloom = bloomAll.filter(b => typeOk(b.col, b.dtype))
    if (zone.isEmpty && bloom.isEmpty) return Map.empty
    if (rels.exists(_.startsWith("/"))) return Map.empty // clone: materialize first
    val df = spark.read.format(config.fileFormat).schema(schema)
      .option("basePath", config.tablePath)
      .load(rels.map(rel => s"${config.tablePath}/$rel"): _*)
    // zone layer: one plain aggregate per file (codegen'd min/max);
    // TIMESTAMP bounds render as epoch micros — timezone-independent
    val zoneAggs = zone.flatMap { case (c, dt) =>
      Seq(TableSink.zoneRender(min(col(c)), dt).as(s"__zmin_$c"),
        TableSink.zoneRender(max(col(c)), dt).as(s"__zmax_$c"))
    }
    val grouped = df.groupBy(input_file_name().as("__file"))
      .agg((count(lit(1)).as("__n") +: zoneAggs).head,
        (count(lit(1)).as("__n") +: zoneAggs).tail: _*)
    // bloom layer: explode → distinct → collect per (file, col) — the
    // shuffle key is (file, col, position), so partial aggregation
    // bounds executor state at `bits` ints per group; the hex bitmap
    // renders ONCE per (file, col) from the distinct-position array
    // (O(bits/64 · |ps|) driver-free expression work), never per row
    val bloomDf: Option[DataFrame] =
      if (bloom.isEmpty) None
      else {
        val tagged = array(bloom.map { b =>
          struct(lit(b.col).as("c"),
            bloomPositions(col(b.col), b.bits, b.k).as("ps"),
            lit(b.bits).as("bits"), lit(b.k).as("k"),
            lit(b.dtype).as("dt"))
        }: _*)
        Some(df.select(input_file_name().as("__file"), explode(tagged).as("t"))
          .select(col("__file"), col("t.c").as("c"), col("t.bits").as("bits"),
            col("t.k").as("k"), col("t.dt").as("dt"),
            explode(col("t.ps")).as("p"))
          .distinct()
          .groupBy("__file", "c", "bits", "k", "dt")
          .agg(sort_array(collect_set(col("p"))).as("ps"))
          .withColumn("m", expr("""concat_ws('', transform(
            transform(sequence(0, CAST(bits / 64 AS INT) - 1),
              L -> aggregate(filter(ps, p -> p div 64 = L),
                CAST(0 AS BIGINT),
                (acc, p) -> acc | shiftleft(CAST(1 AS BIGINT), pmod(p, 64)))),
            lane -> lpad(hex(lane), 16, '0')))"""))
          .groupBy(col("__file"))
          .agg(map_from_arrays(collect_list(col("c")),
            collect_list(struct(col("bits"), col("k"),
              col("dt"), col("m")))).as("__b")))
      }
    val zMap =
      if (zone.isEmpty) lit(null).cast("map<string,array<string>>")
      else map(zone.flatMap { case (c, _) =>
        Seq(lit(c), array(col(s"__zmin_$c"), col(s"__zmax_$c")))
      }: _*)
    val joined = bloomDf match {
      case Some(bdf) => grouped.join(bdf, Seq("__file"), "left")
      case None => grouped.withColumn("__b",
        lit(null).cast("map<string,struct<bits:int,k:int,dt:string,m:string>>"))
    }
    val rows = joined.select(col("__file"),
      to_json(struct(col("__n").as("n"), zMap.as("z"), col("__b").as("b")))
        .as("__json")).collect()
    val rootPath = new org.apache.hadoop.fs.Path(config.tablePath)
    val rootStr = WarehouseIO.fs(rootPath).makeQualified(rootPath).toString
    rows.flatMap { r =>
      val raw = TableSink.decodePath(r.getString(0))
      val rel =
        if (raw.startsWith(rootStr)) raw.stripPrefix(rootStr).stripPrefix("/")
        else TableSink.stripScheme(raw)
          .stripPrefix(TableSink.stripScheme(rootStr))
          .stripPrefix("/")
      if (rels.contains(rel)) Some(rel -> r.getString(1)) else None
    }.toMap
  }

  /** Register the stats spec and FOLD the head into one stats-bearing
    * manifest, claimed as a metadata-only snapshot (compactManifests
    * with stats) — how analyze() backfills stats for every live file.
    * Returns the new head version. */
  private[graft] def commitStatsRefold(spark: SparkSession,
      zone: Seq[(String, String)], bloom: Seq[TableSink.BloomSpec],
      maxAttempts: Int = 20): Int = {
    require(config.versioned && snapshotVersions().nonEmpty,
      "manifest stats need a versioned table with at least one commit")
    writeStatsSpec(zone, bloom)
    val schema = config.tableSchema.getOrElse(read(spark).schema)
    claimFoldedHead("stats refold", maxAttempts) { (log, head) =>
      val rels = log.files(head)
      require(!rels.exists(_.startsWith("/")),
        "stats refold on a shallow clone is not supported — materialize " +
          "the clone first (compact)")
      val stats = manifestStatsFor(spark, rels, schema)
      // the refold replaces every entry: carry each file's recorded facts
      val facts = log.lines(head)
        .map(l => TableLog.manifestLinePath(l) -> TableLog.entryFacts(l))
        .toMap
      rels.distinct.sorted.map(r =>
        TableLog.renderEntry(r, stats.get(r), facts.getOrElse(r, None)))
    }
  }

  /** JSON schema of a manifest stats entry. */
  private val manifestStatsSchema =
    "n BIGINT, z MAP<STRING, ARRAY<STRING>>, " +
      "b MAP<STRING, STRUCT<bits: INT, k: INT, dt: STRING, m: STRING>>"

  /** SCAN-PLANNING file pruning for the SQL door — the Iceberg manifest
    * evaluation step: given the catalyst conjuncts a query pushed down,
    * consult the head manifests' per-file stats and return the SURVIVOR
    * subset of `allPaths` (absolute), or None when nothing prunes
    * (no stats, no translatable predicate, or every file survives — the
    * caller then scans the original table unchanged). Translation is
    * deliberately conservative: only top-level attribute-vs-literal
    * comparisons contribute (EqualTo/EqualNullSafe → zone bounds + a
    * Bloom probe when registered; >/>=/</<= → one-sided zone bounds);
    * anything else is ignored, and files lacking a stats entry for a
    * referenced column always survive. Cost: one bounded Spark job over
    * the manifest text at planning time — exactly the trade Iceberg
    * makes for reading 10 files instead of 10 000. */
  private[graft] def planCandidates(spark: SparkSession,
      allPaths: Seq[String],
      conjuncts: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      log: TableLog = openLog()): Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions._
    val hiddenSpec = config.partitionSpec
      .filter(_.transform != Transform.Identity)
    val statsOpt = manifestStatsDf(spark, log)
    // nothing to prune WITH: no manifest stats and no hidden transforms
    if (statsOpt.isEmpty && hiddenSpec.isEmpty) return None
    val schema = config.tableSchema.getOrElse(
      scala.util.Try(readLive(log, spark, mergeSchema = false).schema)
        .getOrElse(return None))
    def litCol(l: Literal): Column =
      org.apache.spark.sql.graft.Bridge.column(l)
    // (column, lo, hi) closed bounds; None side = unbounded
    val bounds = scala.collection.mutable.Buffer
      .empty[(String, Option[Column], Option[Column])]
    val probes = scala.collection.mutable.Buffer.empty[(String, Column)]
    // IN-lists: zone keeps the [least, greatest] ENVELOPE (a superset —
    // conservative); bloom keeps a file admitting ANY member
    val inProbes = scala.collection.mutable.Buffer
      .empty[(String, Seq[Column])]
    def name(e: Expression): Option[String] = e match {
      case a: Attribute => Some(a.name)
      case _ => None
    }
    conjuncts.foreach {
      case EqualTo(a, l: Literal) if name(a).isDefined && l.value != null =>
        bounds += ((name(a).get, Some(litCol(l)), Some(litCol(l))))
        probes += ((name(a).get, litCol(l)))
      case EqualTo(l: Literal, a) if name(a).isDefined && l.value != null =>
        bounds += ((name(a).get, Some(litCol(l)), Some(litCol(l))))
        probes += ((name(a).get, litCol(l)))
      case EqualNullSafe(a, l: Literal)
          if name(a).isDefined && l.value != null =>
        bounds += ((name(a).get, Some(litCol(l)), Some(litCol(l))))
        probes += ((name(a).get, litCol(l)))
      case GreaterThan(a, l: Literal) if name(a).isDefined && l.value != null =>
        bounds += ((name(a).get, Some(litCol(l)), None))
      case GreaterThanOrEqual(a, l: Literal)
          if name(a).isDefined && l.value != null =>
        bounds += ((name(a).get, Some(litCol(l)), None))
      case LessThan(a, l: Literal) if name(a).isDefined && l.value != null =>
        bounds += ((name(a).get, None, Some(litCol(l))))
      case LessThanOrEqual(a, l: Literal)
          if name(a).isDefined && l.value != null =>
        bounds += ((name(a).get, None, Some(litCol(l))))
      case GreaterThan(l: Literal, a) if name(a).isDefined && l.value != null =>
        bounds += ((name(a).get, None, Some(litCol(l))))
      case LessThan(l: Literal, a) if name(a).isDefined && l.value != null =>
        bounds += ((name(a).get, Some(litCol(l)), None))
      case In(a, vs) if name(a).isDefined && vs.nonEmpty && vs.sizeIs <= 32 &&
          vs.forall { case l: Literal => l.value != null; case _ => false } =>
        val lits = vs.map { case l: Literal => litCol(l) }
        bounds += ((name(a).get,
          Some(if (lits.sizeIs == 1) lits.head else least(lits: _*)),
          Some(if (lits.sizeIs == 1) lits.head else greatest(lits: _*))))
        inProbes += ((name(a).get, lits))
      case InSet(a, hset) if name(a).isDefined && hset.nonEmpty &&
          hset.sizeIs <= 32 && !hset.contains(null) =>
        val lits = hset.toSeq.map(v =>
          litCol(Literal.create(v, a.dataType)))
        bounds += ((name(a).get,
          Some(if (lits.sizeIs == 1) lits.head else least(lits: _*)),
          Some(if (lits.sizeIs == 1) lits.head else greatest(lits: _*))))
        inProbes += ((name(a).get, lits))
      case _ => () // non-translatable conjunct: contributes no pruning
    }
    val (zoneSpec, bloomSpec) = readStatsSpec()
    val zoneCols = zoneSpec.map(_._1.toLowerCase).toSet
    val zoneKeeps = bounds.toSeq.collect {
      case (c, lo, hi)
          if zoneCols.contains(c.toLowerCase) &&
            schema.fieldNames.exists(_.equalsIgnoreCase(c)) =>
        val dt = schema(schema.fieldIndex(
          schema.fieldNames.find(_.equalsIgnoreCase(c)).get)).dataType.sql
        val entry = element_at(col("z"), c)
        val zmin = TableSink.zoneBound(entry.getItem(0), dt)
        val zmax = TableSink.zoneBound(entry.getItem(1), dt)
        val hit = (lo, hi) match {
          case (Some(l), Some(h)) => zmax >= l && zmin <= h
          case (Some(l), None) => zmax >= l
          case (None, Some(h)) => zmin <= h
          case _ => lit(true)
        }
        when(entry.isNull || TableSink.zoneLegacy(entry.getItem(0), dt) ||
            TableSink.zoneLegacy(entry.getItem(1), dt), lit(true))
          .otherwise(coalesce(hit, lit(false)))
    }
    def bloomKeepOf(c: String, sp: TableSink.BloomSpec,
        values: Seq[Column]): Column = {
      val entry = element_at(col("b"), c)
      val m = entry.getField("m")
      val anyAdmitted = values.map { v =>
        val probe = v.cast(
          org.apache.spark.sql.types.DataType.fromDDL(sp.dtype))
        (0 until sp.k).map(i =>
          TableSink.bloomBitSet(m,
            pmod(xxhash64(lit(i), probe), lit(sp.bits)).cast("int")))
          .reduce(_ && _)
      }.reduce(_ || _)
      when(entry.isNull || entry.getField("bits") =!= sp.bits ||
          entry.getField("k") =!= sp.k, lit(true))
        .otherwise(coalesce(anyAdmitted, lit(false)))
    }
    val bloomKeeps =
      (probes.toSeq.map { case (c, v) => (c, Seq(v)) } ++ inProbes.toSeq)
        .flatMap { case (c, vs) =>
          bloomSpec.find(_.col.equalsIgnoreCase(c))
            .map(sp => bloomKeepOf(c, sp, vs))
        }
    val keeps = zoneKeeps ++ bloomKeeps
    import spark.implicits._
    val statsPruned: Set[String] = statsOpt match {
      case Some(stats) if keeps.nonEmpty =>
        stats.where(!keeps.reduce(_ && _))
          .select(col("path")).as[String].collect().toSet
      case _ => Set.empty
    }
    // HIDDEN-PARTITION pruning — the reference's headline semantic
    // (README.md:141-155): a predicate on the SOURCE column prunes the
    // derived partition DIRECTORIES, no analyze needed. Monotonic
    // transforms (year/month/day/hour/truncate) map the source bounds
    // to a derived-value interval; bucket admits equality probes only.
    // The derived literal is evaluated by the SAME Transform expression
    // the writer derived with (one 1-row local job), so write/prune
    // parity holds by construction; the null partition dir prunes under
    // any bound or probe (NULL satisfies neither).
    val partPruned: Set[String] =
      if (hiddenSpec.isEmpty) Set.empty
      else hiddenSpec.flatMap { pf =>
        val srcField = schema.fields
          .find(_.name.equalsIgnoreCase(pf.source))
        val monotonic = pf.transform match {
          case Transform.Year | Transform.Month | Transform.Day |
               Transform.Hour | Transform.Truncate(_) => true
          case _ => false
        }
        val numericDir = pf.transform match {
          case Transform.Year | Transform.Bucket(_) => true
          case Transform.Truncate(_) =>
            srcField.exists(f => Set("TINYINT", "SMALLINT", "INT", "BIGINT")
              .contains(f.dataType.sql))
          case _ => false
        }
        val myBounds = bounds.toSeq
          .filter(_._1.equalsIgnoreCase(pf.source))
        val myEqs = probes.toSeq.filter(_._1.equalsIgnoreCase(pf.source))
          .map(p => Seq(p._2)) ++
          inProbes.toSeq.filter(_._1.equalsIgnoreCase(pf.source)).map(_._2)
        if (srcField.isEmpty || (myBounds.isEmpty && myEqs.isEmpty)) Nil
        else {
          val dt = srcField.get.dataType
          def derive(cs: Seq[Column]): Seq[String] =
            if (cs.isEmpty) Nil
            else spark.range(1)
              .select(cs.map(c => pf.transform(c, dt).cast("string")): _*)
              .head().toSeq.map(v => if (v == null) null else v.toString)
          val los = derive(myBounds.flatMap(_._2).toIndexedSeq)
          val his = derive(myBounds.flatMap(_._3).toIndexedSeq)
          val eqSets: Seq[Set[String]] = myEqs.map(vs =>
            derive(vs.toIndexedSeq).filter(_ != null).toSet)
          def cmp(a: String, b: String): Int =
            if (numericDir) java.lang.Long.compare(a.toLong, b.toLong)
            else a.compareTo(b)
          val dirRe = java.util.regex.Pattern.compile(
            "(?:^|/)" + java.util.regex.Pattern.quote(pf.columnName) +
              "=([^/]+)/")
          allPaths.filter { path =>
            val m = dirRe.matcher(path)
            if (!m.find()) false // no derived dir: keep, conservative
            else {
              val raw = unescapeDirValue(m.group(1))
              if (raw == "__HIVE_DEFAULT_PARTITION__") true // null: prune
              else scala.util.Try {
                val outsideBounds = monotonic &&
                  (los.exists(l => l != null && cmp(raw, l) < 0) ||
                    his.exists(h => h != null && cmp(raw, h) > 0))
                val missesEqs = eqSets.exists(es =>
                  es.nonEmpty && !es.contains(raw))
                outsideBounds || missesEqs
              }.getOrElse(false) // unparsable value: keep, conservative
            }
          }
        }
      }.toSet
    val pruned = statsPruned ++ partPruned
    if (pruned.isEmpty) None
    else Some(allPaths.filterNot(pruned))
  }

  /** Undo Spark's partition-directory escaping (%XX hex sequences). */
  private def unescapeDirValue(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Stats-bearing entries of the HEAD snapshot as a DISTRIBUTED
    * DataFrame — (path [absolute], n, z, b); None when the table is
    * unversioned, empty, or carries no stats entry at all. The
    * manifests are read by executors (text scan), the driver touches
    * only names: the same scale shape as the batch read's metadata. */
  private[graft] def manifestStatsDf(spark: SparkSession,
      log: TableLog = openLog()): Option[DataFrame] = {
    if (!config.versioned) return None
    // registry-first probe: analyze always writes the spec before the
    // refold, so its absence means no stats anywhere — answered by the
    // listing instead of reading every manifest's contents (this probe
    // runs at SQL scan PLANNING, so it must be cheap on stats-less tables)
    if (!log.contains(statsSpecPath.getName)) return None
    val head = log.head.getOrElse(return None)
    val names = log.manifestNames(head)
    if (names.isEmpty) return None
    // cheap driver probe: any stats line at all? (names-only readers kept
    // honest — this reads content, so it counts as manifest reads)
    val hasStats = names.exists(n =>
      log.manifestLines(n).exists(_.contains('\t')))
    if (!hasStats) return None
    val root = config.tablePath.stripSuffix("/")
    Some(spark.read.text(names.map(n => logFile(n).toString): _*)
      .where(col("value").contains("\t"))
      .select(
        substring_index(col("value"), "\t", 1).as("__rel"),
        from_json(expr("substring(value, instr(value, '\t') + 1)"),
          org.apache.spark.sql.types.StructType.fromDDL(manifestStatsSchema))
          .as("__s"))
      .select(
        when(col("__rel").startsWith("/"), col("__rel"))
          .otherwise(concat(lit(s"$root/"), col("__rel"))).as("path"),
        col("__s.n").as("n"), col("__s.z").as("z"), col("__s.b").as("b"))
      // map-typed columns refuse set ops; one entry per path is the
      // invariant anyway (the line-preserving merge dedupes by path)
      .dropDuplicates("path"))
  }

  /** Manifest lines for `rels`, files a commit adds: each entry records
    * the file's [[TableLog.FileFacts]] (one status call and one footer
    * read on the driver per file — O(files added)) beside any column
    * stats in `stats`. A file unreadable here keeps an entry without
    * facts; the commit's own existence checks refuse a swept file. */
  private def entryLines(rels: Seq[String],
      stats: Map[String, String] = Map.empty): Seq[String] =
    rels.distinct.sorted.map(r => TableLog.renderEntry(r, stats.get(r),
      scala.util.Try(FileFooters.factsOf(dataPath(r), config.fileFormat))
        .toOption))

  /** Absolute path of a manifest entry: a shallow clone's source entries
    * are absolute, everything else is relative to the table root. */
  private def dataPath(rel: String): org.apache.hadoop.fs.Path =
    if (rel.startsWith("/")) new org.apache.hadoop.fs.Path(rel)
    else new org.apache.hadoop.fs.Path(config.tablePath, rel)

  /** CHECK-constraint gate ([[SinkConfig.checkConstraints]]): one
    * aggregate pass over `df` counting violations per constraint; any
    * violation refuses the write with the per-constraint counts. NULL
    * proves nothing → violation (SQL CHECK semantics). */
  private def requireConstraints(df: DataFrame, what: String): Unit =
    if (config.checkConstraints.nonEmpty)
      refuseViolations(df.select(violationCounts: _*).head().toSeq, what)

  /** Per constraint, the count of rows violating it, named `c<i>`.
    * count(when(...)) is never NULL, so an EMPTY batch (zero rows) passes
    * as the no-op it is instead of NPE-ing on a null sum. */
  private def violationCounts: Seq[Column] =
    config.checkConstraints.zipWithIndex.map { case (c, i) =>
      count(when(!coalesce(expr(c), lit(false)), lit(1))).as(s"c$i")
    }

  private def refuseViolations(counts: Seq[Any], what: String): Unit = {
    val violated = config.checkConstraints.zip(counts)
      .collect { case (c, n: Long) if n > 0 => c -> n }
    require(violated.isEmpty,
      s"$what refused: CHECK constraint violations — " +
        violated.map { case (c, n) => s"'$c' ($n rows)" }.mkString("; "))
  }

  /** OPTIMISTIC append commit (the reference's commit-retry surface,
    * connector.py:242-257, realized Iceberg-style): append commits
    * COMMUTE — each is `head manifest + its own files` — so concurrency
    * control is an exclusive create of the next version file. Each
    * attempt re-reads the head, merges, and tries to claim `head + 1`;
    * losing the claim (another committer landed first) just retries
    * against the new head, so no concurrent append's files are ever lost
    * to a stale-base overwrite. Bounded attempts turn a pathological
    * livelock into a loud error instead of an infinite loop. */
  private[graft] def commitAppendedFiles(added: Seq[String],
      maxAttempts: Int = 20, txn: Option[(String, Long)] = None,
      stats: Map[String, String] = Map.empty,
      sidecars: Seq[(TableLog.Sidecar, String)] = Nil): Int = {
    // LAYERED commit (Iceberg manifest-list shape): this commit's own
    // delta manifest is written ONCE — its content (exactly this write's
    // files) does not depend on which head it lands on — and the claimed
    // snapshot is `head's manifest NAMES + that one name`. Metadata IO
    // per commit: O(added files) manifest bytes + O(manifest count)
    // snapshot bytes, NEVER an O(table files) read-sort-rewrite; at ~1M
    // files / frequent commits the old full-list scheme rewrote a
    // ~50-100 MB driver-side text file per commit and stored K full
    // copies across K snapshots. [[compactManifests]] bounds the
    // manifest-count term as commit count grows.
    // per-file column stats (zone min/max, bloom bitmap) ride IN the
    // manifest entry — one metadata source, pruning reads no second
    // layer, and stats die with their manifest on expiry/rewrite
    val ownManifest =
      if (added.isEmpty) None
      else Some(TableLog.writeManifestLines(logPath,
        entryLines(added, stats)))
    // a manifest WE created to represent the base (bootstrap listing of
    // pre-existing unversioned data) — superseded and deleted if the
    // claim is lost
    var baseManifest: Option[String] = None
    var mergedManifest: Option[String] = None
    def dropBaseManifest(): Unit = {
      baseManifest.foreach(n => WarehouseIO.delete(logFile(n)))
      baseManifest = None
      mergedManifest.foreach(n => WarehouseIO.delete(logFile(n)))
      mergedManifest = None
    }
    def commitLoop(): Int = {
    var attempt = 0
    while (true) {
      attempt += 1
      val log = openLog() // each claim attempt sees the current head
      val head = log.head
      // An append racing a REWRITE (delete/update/compact/cluster — ops
      // that swap the table root) can have its already-renamed files
      // swept with the old root before this claim lands; committing
      // anyway would publish a manifest referencing deleted files — a
      // broken table, not a lost race. Verify our own files still exist
      // right before claiming (O(added) metadata ops, same cost class as
      // the commit) and fail LOUDLY instead. Rewrites otherwise assume
      // the Iceberg single-rewriter convention: one maintenance process;
      // append-vs-append needs no such care (commits commute).
      def sweptFiles(): Seq[String] = added.filterNot(rel =>
        WarehouseIO.exists(
          new org.apache.hadoop.fs.Path(config.tablePath, rel)))
      def raceError(detail: String): Nothing =
        throw new IllegalStateException(
          s"append raced a table rewrite: $detail — retry the append " +
            "against the rewritten table")
      val swept = sweptFiles()
      if (swept.nonEmpty) raceError(
        s"its staged files were swept (${swept.take(3).mkString(", ")}" +
          s"${if (swept.sizeIs > 3) ", …" else ""})")
      // The check above is check-then-act: a rewrite can still land
      // INSIDE the check-to-claim window. Pin the log generation here and
      // re-verify both signals AFTER the claim, retracting our own
      // version file on a flip — the durable log never keeps a manifest
      // referencing swept files; readers can observe one only in the
      // claim-to-retract instant, and only under a rewrite that already
      // violated the single-rewriter maintenance-window convention.
      val genBefore = log.generation
      // O(manifest count) head read — a head contributes its manifest
      // NAMES verbatim; no head bootstraps from a one-time listing of
      // pre-existing unversioned data
      val headNames: Seq[String] = head match {
        case Some(h) => log.manifestNames(h)
        case None =>
          // a TXN (streaming) first commit must NOT bootstrap-sweep the
          // directory: a batch-0 attempt that crashed between its staged
          // rename and the claim leaves orphans the replay cannot
          // distinguish from pre-existing data — sweeping them into the
          // base manifest would commit the batch's rows twice. A
          // streaming table either starts empty or is explicitly adopted
          // (adoptExisting → head exists) before the stream starts; any
          // crash orphans stay unreferenced for removeOrphans.
          if (baseManifest.isEmpty && txn.isEmpty) {
            // the staged write already renamed THIS commit's files into
            // the table, so the bootstrap listing must exclude them —
            // they are the delta manifest's, not pre-existing data
            val preexisting = dataFilesRel().filterNot(added.toSet)
            if (preexisting.nonEmpty)
              baseManifest =
                Some(TableLog.writeManifestLines(logPath, preexisting))
          }
          baseManifest.toSeq
      }
      val v = head.getOrElse(0) + 1
      // amortized merge-on-commit: when this commit would push the head
      // past the manifest-count threshold, fold the whole chain into ONE
      // merged manifest instead — O(total) paid once per threshold
      // commits, bounding head-read and snapshot-file size at any commit
      // cadence (Iceberg's commit-time manifest merging)
      val chained = (headNames ++ ownManifest).distinct
      val mergeManifest: Option[String] =
        if (config.manifestMergeThreshold > 0 &&
            chained.size > config.manifestMergeThreshold)
          // line-preserving fold: a stats-bearing entry must survive the
          // merge, or compaction would silently drop file skipping
          Some(TableLog.writeManifestLines(logPath,
            TableLog.mergeManifestLines(chained.map(log.manifestLines))))
        else None
      mergedManifest = mergeManifest // exception-path cleanup owns it
      raceWindowCheckHook()
      val claimed = logFile(TableLog.versionFile(v))
      if (WarehouseIO.writeStringIfAbsent(claimed,
          TableLog.renderSnapshot(
            mergeManifest.map(Seq(_)).getOrElse(chained),
            // the streaming dedup record rides IN the claimed snapshot —
            // atomic with the commit, never a separate marker to drift.
            // A MoR UPDATE/MERGE's deletion-vector reference
            // rides the same way: the commit that APPENDS the
            // replacement rows must subtract the replaced rows in the
            // SAME claimed snapshot, or a concurrent reader would see
            // both copies in the sidecar-lands-later window
            TableLog.commitMetadata(txn, sidecars)))) {
        val genFlip = genBefore != "none" &&
          !TableLog.currentGeneration(logPath).contains(genBefore)
        val sweptAfter = if (genFlip) Nil else sweptFiles()
        if (genFlip || sweptAfter.nonEmpty) {
          WarehouseIO.delete(claimed)
          mergeManifest.foreach(n => WarehouseIO.delete(logFile(n)))
          raceError(s"a rewrite landed inside the commit window " +
            s"(manifest v$v retracted; the append may or may not be in " +
            "the rewritten snapshot)")
        }
        // sidecar commits re-verify the branch guard AFTER the claim
        // (round-14): createBranch can land inside the caller's
        // check-to-claim window, and a sidecar at a version ABOVE the
        // branch base would silently never apply to the branch's
        // two-slice read — the audit surface would diverge from main.
        // Retract our own claim (same pattern as the rewrite-race
        // retract above and consolidate's claim-to-retract) and refuse;
        // a branch whose base is at or above v sees the sidecar and is
        // fine. The caller's catch deletes the sidecar file itself.
        if (sidecars.nonEmpty) {
          val after = openLog()
          val raced = after.branchesOrPending
            .filter(branchBaseVersion(after, _) < v)
          if (raced.nonEmpty) {
            WarehouseIO.delete(claimed)
            mergeManifest.foreach(n => WarehouseIO.delete(logFile(n)))
            throw new IllegalStateException(
              s"a branch (${raced.mkString(", ")}) was created inside " +
                s"the delete-commit window (snapshot v$v retracted): its " +
                "audit view would never apply this sidecar; publish or " +
                "drop the branch, then retry the delete")
          }
        }
        // a merge commit supersedes its own never-referenced delta
        if (mergeManifest.isDefined)
          ownManifest.foreach(n => WarehouseIO.delete(logFile(n)))
        return v
      }
      // lost the claim: the head moved, so any base/merge manifest this
      // attempt wrote is superseded by the new head's own chain — drop
      // them before retrying (the new head is read fresh next attempt)
      dropBaseManifest()
      // the commit we just lost to may BE this transaction — a zombie
      // duplicate writer (a stale executor replaying the same batch)
      // landing it first. The pre-staging dedup probe ran before the
      // race; without this re-check the retry would double-commit the
      // batch id. 0 = "already committed by someone else" (versions
      // start at 1) — the caller discards its staged files.
      if (txn.exists { case (id, b) =>
          lastTxnBatch(openLog(), id).exists(_ >= b) }) {
        ownManifest.foreach(n => WarehouseIO.delete(logFile(n)))
        return 0
      }
      require(attempt < maxAttempts,
        s"append commit lost the version race $maxAttempts times — " +
          "a committer storm or a stuck writer is holding the log")
    }
    -1 // unreachable
    }
    try commitLoop()
    catch { case e: Throwable =>
      // no snapshot references the delta on any failure path — the
      // version file was never claimed or was retracted — so the
      // manifest(s) this attempt wrote must go too, not linger as debris
      ownManifest.foreach(n => WarehouseIO.delete(logFile(n)))
      dropBaseManifest()
      throw e
    }
  }

  /** Stage-and-move write: land `prepared` in a fresh `_staging/` dir
    * under the table root, rename each produced data file into its
    * table-relative place, and return exactly those paths — the commit's
    * added-file list, discovered from the write itself rather than a
    * table-wide directory walk. `_staging` is underscore-prefixed, so
    * readers and [[dataFilesRel]] never observe in-flight files; the
    * renames go through the Hadoop [[org.apache.hadoop.fs.FileSystem]]
    * API (metadata-only moves on HDFS-class stores, and the path to a
    * non-local warehouse). A crash mid-move leaves unreferenced files
    * that [[removeOrphans]] reclaims — the same contract as a crash
    * between write and manifest commit. */
  private def stagedWrite(prepared: DataFrame): Seq[String] = {
    val stage = new HPath(config.tablePath,
      s"_staging/append-${java.util.UUID.randomUUID().toString.take(12)}")
    val writer = prepared.write.mode("overwrite")
      .format(config.fileFormat).options(config.extraOptions)
    (if (partitionColNames.nonEmpty) writer.partitionBy(partitionColNames: _*)
     else writer).save(stage.toString)
    val rels = WarehouseIO.listDataFilesRel(stage) // O(files just written)
    // CHECK constraints validate the STAGED files — one scan of exactly
    // the data this write produced (never the input lineage twice, never
    // the table), while nothing is promoted or committed: a violation
    // deletes the staging dir and aborts with zero cleanup debt. The
    // re-read carries the PREPARED frame's schema: inference would
    // re-type partition-directory values (cat=01 → INT 1) and make a
    // constraint evaluate differently than on the data as written. An
    // empty write stages no files — nothing to check (and nothing to
    // infer from).
    if (config.checkConstraints.nonEmpty && rels.nonEmpty) {
      val staged = prepared.sparkSession.read.format(config.fileFormat)
        .schema(prepared.schema)
        .option("basePath", stage.toString)
        .load(stage.toString)
      try requireConstraints(staged, "append")
      catch { case e: Throwable =>
        WarehouseIO.delete(stage, recursive = true); throw e
      }
    }
    val root = new HPath(config.tablePath)
    rels.foreach(rel =>
      WarehouseIO.rename(new HPath(stage, rel), new HPath(root, rel)))
    WarehouseIO.delete(stage, recursive = true)
    rels
  }

  // ------------------------------------------------------- snapshot log
  // Iceberg-style layered commit history, laid out and read through
  // [[TableLog]] (one listing per operation). Appends never touch
  // existing files, so every recorded snapshot stays readable. Rewriting
  // ops (upsert / delete / compact) replace files in place, which
  // invalidates earlier manifests — they EXPIRE the history (log resets
  // to a single snapshot of the post-rewrite state), the same contract as
  // Iceberg snapshot expiry after rewrite-files maintenance;
  // [[compactManifests]] bounds the manifest count and [[gcManifests]]
  // reclaims unreferenced deltas.

  // The snapshot log (_graft_log), every manifest/sidecar read-write, AND
  // the whole-table rewrite/swap protocols below go through
  // [[WarehouseIO]] — the Hadoop FileSystem API — so both the commit
  // metadata path and the maintenance ops work against any
  // Hadoop-resolvable warehouse, not just a local disk. The rewrite swap
  // commits through an atomic single-file INTENT marker and rolls
  // FORWARD from it ([[executeSwap]]/[[recoverSwap]]), so maintenance
  // ops stay crash-correct even where a directory rename is per-object
  // copy+delete (object stores) — only the in-flight visibility window
  // widens there, never the recovered state.
  private def logPath = new org.apache.hadoop.fs.Path(
    config.tablePath, "_graft_log")

  private def logFile(name: String) =
    new org.apache.hadoop.fs.Path(logPath, name)

  /** A fresh one-listing view of this table's snapshot log. */
  private def openLog(): TableLog = TableLog(logPath)

  /** Live data-file paths relative to the table root (excludes `_`-prefixed
    * metadata dirs: snapshot log, staging, zone-map stats, streaming sink
    * log) — a table-wide directory walk, counted in [[directoryWalks]]. */
  private[graft] def dataFilesRel(): Seq[String] = {
    directoryWalks += 1
    WarehouseIO.listDataFilesRel(
      new org.apache.hadoop.fs.Path(config.tablePath))
  }

  /** Table-wide directory walks taken (test hook: the append commit path
    * must stay at zero once a manifest exists — O(added), not O(table)). */
  private[graft] var directoryWalks: Int = 0

  /** Test seam: runs inside [[commitAppendedFiles]]' check-to-claim
    * window (after the pre-claim verification, before the version claim)
    * so specs can land a simulated rewrite exactly where a real one
    * would race, and assert the post-claim retraction. No-op in
    * production. */
  private[graft] var raceWindowCheckHook: () => Unit = () => ()

  /** Test seam: runs inside [[consolidateDeletes]]' claim-to-retract
    * window (after the merged commit's claim lands, before the raced
    * interloper check / cleanup) so specs can crash exactly there and
    * prove the window is benign. No-op in production. */
  private[graft] var consolidateClaimHook: () => Unit = () => ()

  /** The table root as the URI PATH component (scheme/authority
    * stripped), absolutized for local relative paths — the form scan
    * columns like `_metadata.file_path` compare against once THEIR
    * scheme prefix is stripped. */
  private def rootUriPath(s: String): String = {
    val uri = new org.apache.hadoop.fs.Path(s).toUri
    val path = uri.getPath
    if (uri.getScheme == null && !path.startsWith("/"))
      new java.io.File(path).getAbsolutePath
    else path
  }

  /** Rewriting ops rewrite/swap the live directory: staged branch rows
    * would be absorbed into the rewritten table and the swap destroys the
    * branch manifests. Refuse instead of silently publishing unaudited
    * data — publish or drop branches first (the documented WAP contract). */
  private def requireNoBranches(op: String, log: TableLog): Unit = {
    // branchesOrPending: a branch mid-creation (base written, v1 not
    // yet) already pins a base version and must block rewrites too
    val live = log.branchesOrPending
    require(live.isEmpty,
      s"$op rewrites the table and would absorb/destroy staged branch " +
        s"data; publish or drop live branches first: ${live.mkString(", ")}")
    val pinned = log.tags
    require(pinned.isEmpty,
      s"$op rewrites the table and would invalidate the snapshots these " +
        s"tags pin; drop tags first: ${pinned.mkString(", ")}")
  }

  /** Adopt an EXISTING plain directory of data files as snapshot v1 —
    * Iceberg's `migrate`/`add_files` analogue: NO data rewrite, the
    * current listing becomes the first committed manifest, so time
    * travel, the changelog, and catalog snapshot reads start here and
    * the next append commits v2 off the manifest (walk-free). Refuses
    * when history already exists (nothing to adopt) and on an empty
    * directory (the first append creates v1 anyway). The one-time
    * listing is O(files) metadata — the same cost Spark's own file
    * index pays for the directory, never paid again after adoption. */
  def adopt(): Int = {
    require(config.versioned,
      "adopt needs versioned = true — the manifest log IS the adoption")
    require(snapshotVersions().isEmpty,
      s"table ${config.tableName} already has committed history; " +
        "adopt only converts a plain directory")
    val files = dataFilesRel()
    require(files.nonEmpty,
      s"table ${config.tableName} has no data files to adopt — just " +
        "append; the first commit creates v1")
    writeFirstSnapshot(files)
  }

  /** Record `files` as snapshot v1 of an empty log: [[adopt]]'s
    * pre-existing listing, or the live directory that history restarts
    * from after a rewrite ([[expireSnapshots]]) or a recovered swap. */
  private def writeFirstSnapshot(files: Seq[String]): Int = {
    val names =
      if (files.isEmpty) Nil
      else Seq(TableLog.writeManifestLines(logPath, entryLines(files)))
    WarehouseIO.writeString(logFile(TableLog.versionFile(1)),
      TableLog.renderSnapshot(names))
    1
  }

  /** Drop all history and record the current state as version 1 — called
    * by rewriting ops, whose file replacement invalidates old manifests.
    * Branches expire too (their manifests reference the replaced files),
    * the same contract as Iceberg snapshot expiry after rewrite-files
    * maintenance — publish audit branches before running rewriting ops. */
  private def expireSnapshots(): Unit = if (config.versioned) {
    if (WarehouseIO.isDir(logPath)) WarehouseIO.delete(logPath, recursive = true)
    // the whole live directory becomes v1: safe only because every
    // rewriting op refuses live branches (their staged files share it)
    writeFirstSnapshot(dataFilesRel())
  }

  /** Iceberg `expire_snapshots` (retain-last) analogue: drop every
    * snapshot except the newest `keepLast`, deleting their manifests and
    * any data file referenced ONLY by dropped manifests — the retention
    * policy that bounds time-travel history (and its storage) on a table
    * with a long commit log. Returns the expired versions.
    *
    * Refused when it would change live semantics rather than just
    * shortening history:
    *  - a TAG pins a to-be-dropped snapshot (the pin would dangle);
    *  - a to-be-dropped snapshot carries a merge-on-read delete sidecar
    *    of any kind — sidecars are version-keyed and apply to all later
    *    reads, so dropping the version would RESURRECT the deleted rows
    *    at the head; materialize with [[compact]] first.
    * Live-branch files stay referenced (same rule as [[removeOrphans]]).
    *
    * Scale shape: pure driver-side manifest metadata plus unlink calls —
    * O(history length + file count), no data read or rewritten. On an
    * append-only history every old file is still in the head manifest, so
    * only manifests are deleted; files die here only when earlier
    * rollbacks/branch drops left them referenced solely by old history. */
  def expireSnapshotsKeepLast(keepLast: Int): Seq[Int] =
    expireKeepLast(openLog(), keepLast)

  private def expireKeepLast(log: TableLog, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val vs = log.versions
    val drop = vs.dropRight(keepLast)
    if (drop.isEmpty) return Nil
    val dangling = log.tags.filter(t => drop.contains(tagVersion(log, t)))
    require(dangling.isEmpty,
      s"expiring snapshots ${drop.mkString(", ")} would orphan tags " +
        s"pinning them; drop the tags first: ${dangling.mkString(", ")}")
    val withSidecars = drop.filter(log.carriesSidecar)
    require(withSidecars.isEmpty,
      s"snapshots ${withSidecars.mkString(", ")} carry merge-on-read " +
        "delete sidecars that still apply to later reads — expiring them " +
        "would resurrect deleted rows; materialize first (compact)")
    val keepFiles =
      (vs.takeRight(keepLast).flatMap(log.files) ++ branchFiles(log)).toSet
    val root = new org.apache.hadoop.fs.Path(config.tablePath)
    drop.flatMap(log.files).distinct.filterNot(keepFiles)
      .foreach(rel => WarehouseIO.delete(
        new org.apache.hadoop.fs.Path(root, rel)))
    drop.foreach(v => WarehouseIO.delete(logFile(TableLog.versionFile(v))))
    gcManifests() // manifests referenced only by the dropped snapshots
    drop
  }

  /** Every data file some version of a live branch references. */
  private def branchFiles(log: TableLog): Seq[String] =
    log.branches.flatMap { b =>
      val bl = log.branch(b)
      bl.versions.flatMap(bl.files)
    }

  /** Iceberg `expire_snapshots(older_than => ts)` analogue: drop every
    * snapshot whose commit time is strictly before `cutoffMs` — except
    * the newest `keepLast` (default 1: the head always survives, however
    * old). Delegates to [[expireSnapshotsKeepLast]]'s machinery, so the
    * same refusals apply (dangling tags, live merge-on-read sidecars)
    * and files referenced only by dropped history are deleted. Returns
    * the expired versions. Age-based retention is the policy a scheduled
    * maintenance job runs ("keep 7 days of time travel"); count-based
    * [[expireSnapshotsKeepLast]] is the bound an operator reaches for
    * when a runaway committer floods the log. */
  def expireSnapshotsOlderThan(cutoffMs: Long, keepLast: Int = 1): Seq[Int] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val log = openLog()
    val vs = log.versions
    // keep everything from the OLDEST post-cutoff version onward — with
    // clock skew between concurrent committers, mtimes need not be
    // monotonic in version order, and a count-based mapping could expire
    // a version NEWER than the cutoff sandwiched behind a slow clock;
    // indexWhere is skew-conservative (over-keeps, never over-drops)
    val firstYoung = vs.indexWhere(log.committedAtMs(_) >= cutoffMs)
    val young = if (firstYoung < 0) 0 else vs.length - firstYoung
    expireKeepLast(log, math.max(keepLast, young))
  }

  /** Committed snapshot versions, oldest first (empty when unversioned). */
  def snapshotVersions(): Seq[Int] = openLog().versions

  /** Identity of the CURRENT snapshot history. Rewriting ops expire the
    * log (directory and all) and restart numbering at v1, so a bare
    * version number is ambiguous across a rewrite — a durable cursor
    * pinned to "v3" of the OLD history must not silently resume at "v3"
    * of the new one. The generation is a UUID file inside the log dir:
    * it dies with the history it names and a fresh one is claimed
    * (exclusive-create, racing claimants converge on one winner) on the
    * next read. "none" = no snapshot log yet. */
  private[graft] def logGeneration(): String = openLog().generation

  /** Delete manifest files referenced by NO surviving snapshot — main or
    * branch (tags pin versions, which resolve through main snapshots).
    * Called by every history-dropping op (expiry, rollback, consolidation
    * cleanup, branch drop); O(manifest count) name reads, no file lists
    * touched. Snapshot-history storage therefore grows O(Σ live deltas),
    * not O(snapshots × table files). */
  private def gcManifests(): Unit = {
    val log = openLog() // after the caller's deletions
    val live = (log.versions.flatMap(log.manifestNames) ++
      log.branches.flatMap { b =>
        val bl = log.branch(b)
        bl.versions.flatMap(bl.manifestNames)
      }).toSet
    // an optimistic append writes its delta (and possibly base/merge)
    // manifest BEFORE claiming a version — "referenced by no snapshot"
    // is the normal transient state of an in-flight commit, and some GC
    // callers (dropBranch via CALL system.publish) explicitly legalize
    // concurrent main appends. Reap only manifests old enough that no
    // live commit attempt can still be about to reference them; younger
    // orphans age into the next GC pass.
    val now = System.currentTimeMillis()
    log.manifestNamesListed.filterNot(live)
      .filter(n => now - log.mtimeOf(n) >= WarehouseIO.manifestGcGraceMs)
      .foreach(n => WarehouseIO.delete(logFile(n)))
  }

  /** MANIFEST compaction — Iceberg `rewrite_manifests`: fold the head
    * snapshot's manifest chain into ONE merged manifest and claim it as
    * a new metadata-only snapshot (data files untouched; row-identical
    * to the head). Every commit appends a manifest, so the O(manifest
    * count) term in commit/read metadata grows with commit cadence —
    * this op resets it to 1; run it periodically (or via
    * `CALL system.compact_manifests`). Older snapshots keep referencing
    * the original manifests until expiry GCs them, so time travel is
    * unaffected. Returns the new head version. */
  def compactManifests(maxAttempts: Int = 20): Int = {
    require(config.versioned && snapshotVersions().nonEmpty,
      "compactManifests needs a versioned table with at least one commit")
    // line-preserving fold (stats entries survive the compaction)
    claimFoldedHead("compactManifests", maxAttempts)(_.lines(_))
  }

  /** Claim `head + 1` as a metadata-only snapshot of ONE manifest holding
    * `fold(log, head)`'s lines, against a fresh view per attempt; a lost
    * claim means a concurrent append made the fold stale — drop it and
    * retry. Returns the new head version. */
  private def claimFoldedHead(op: String, maxAttempts: Int)(
      fold: (TableLog, Int) => Seq[String]): Int = {
    var attempt = 0
    while (true) {
      attempt += 1
      val log = openLog()
      val head = log.versions.last
      val merged = TableLog.writeManifestLines(logPath, fold(log, head))
      if (WarehouseIO.writeStringIfAbsent(
          logFile(TableLog.versionFile(head + 1)),
          TableLog.renderSnapshot(Seq(merged))))
        return head + 1
      WarehouseIO.delete(logFile(merged))
      require(attempt < maxAttempts,
        s"$op lost the version race $maxAttempts times")
    }
    -1 // unreachable
  }

  /** `capturePos = true` appends the `__graft_file`/`__graft_pos`
    * coordinates PER SCAN RELATION of a multi-relation union (a
    * mixed-spine or clone manifest), where `_metadata` is not resolvable:
    * every [[applyDeletes]] caller asks for it, and applyDeletes drops
    * the columns unless asked to keep them. */
  private def readFiles(log: TableLog, spark: SparkSession,
      rels: Seq[String], capturePos: Boolean = false): DataFrame = {
    // an empty file set cannot infer a schema — an empty diff (e.g.
    // readChanges(v, v)) borrows the live table's schema instead
    if (rels.isEmpty) readLive(log, spark, mergeSchema = false).limit(0)
    else {
      val renames = renameMap
      // the declared layer lives in sidecars exactly like the rename
      // map (round-14): an ALTER-widened table mixes narrow/wide file
      // generations, and only the declared schema makes the reader
      // upcast — footer inference pins whichever width the sampled
      // file carried and fails the scan on the other generation. An
      // explicit config.tableSchema still wins (caller's pin).
      val declared = config.tableSchema.orElse(alterDeclaredSchema)
      def load(files: Seq[String], base: String): DataFrame = {
        // renamed tables mix file generations (pre-rename files carry
        // the old physical name): surface BOTH names — merge-schema
        // when inferring, old columns appended when declared — so
        // applyRenames can coalesce them under the new name
        val opts = Map("basePath" -> base) ++
          (if (renames.nonEmpty) Map("mergeSchema" -> "true") else Map.empty)
        val r = spark.read.format(config.fileFormat).options(opts)
        declared.map(TableSink.augmentWithRenameSources(_, renames))
          .orElse(FileFooters.ofFiles(spark, config.fileFormat, files, base,
            opts))
          .fold(r)(s => r.schema(s)).load(files: _*)
      }
      // a shallow clone's manifest mixes ABSOLUTE entries (the source's
      // files, partition-deriving against the source root) with relative
      // entries (files this table appended itself): each group loads with
      // its own basePath and the groups union — Spark requires basePath
      // to be an ancestor of every loaded path, so one load cannot span
      // two roots
      val (ext, local) = rels.partition(_.startsWith("/"))
      // partition-spec evolution (round-13): one load cannot span files
      // written under DIFFERENT directory spines either — Spark derives
      // partition columns from the layout under basePath, and a mixed
      // list silently DROPS rows (measured: a root-level unpartitioned
      // file vanishes when identity dirs exist beside it). Group local
      // files by spine signature and load each generation with its own
      // layout; identity columns restore from their generation's dirs,
      // a generation's derived-only columns NULL-fill in the others.
      // One group in the uniform case — the plan is unchanged there.
      val localFileGroups = local.groupBy(TableSink.spineOf)
        .toSeq.sortBy(_._1.mkString(","))
      // a single-relation frame resolves `_metadata` inside applyDeletes
      // only when deletion vectors fold (materializing `row_index` on
      // every read costs 3.8x on q_time_travel)
      val multi = localFileGroups.size + (if (ext.isEmpty) 0 else 1) > 1
      def cap(df: DataFrame): DataFrame =
        if (!capturePos || !multi) df
        else df.withColumn("__graft_file", col("_metadata.file_path"))
          .withColumn("__graft_pos", col("_metadata.row_index"))
      val localGroups = localFileGroups
        .map { case (_, fs) =>
          cap(load(fs.map(rel => s"${config.tablePath}/$rel"),
            config.tablePath))
        }
      val parts = localGroups ++ (
        if (ext.isEmpty) None
        else Some(cap(load(ext, log.cloneBase.getOrElse(sys.error(
          "manifest has absolute entries but no clone_base sidecar"))))))
      TableSink.applyRenames(
        parts.reduce(_.unionByName(_,
          allowMissingColumns = renames.nonEmpty || parts.sizeIs > 1)),
        renames)
    }
  }

  /** Old→new column mapping persisted by the SQL door's
    * `ALTER TABLE … RENAME COLUMN` (`_graft_renames` sidecar, one
    * URL-encoded `old:new` line per physical-name generation). Data
    * files are immutable and carry no field ids, so a rename is a
    * DECLARED-layer operation: pre-rename files keep the old physical
    * name and every read coalesces it under the new one. A chain of
    * renames keeps one line per physical name ever written (x->z and
    * y->z after x->y->z), since files of each generation persist. */
  private[graft] def renameMap: Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(config.tablePath, "_graft_renames")
    if (!WarehouseIO.isFile(p)) Map.empty
    else WarehouseIO.readString(p).linesIterator.flatMap { l =>
      l.split(":", 2) match {
        case Array(o, n) if o.nonEmpty && n.nonEmpty =>
          Some(java.net.URLDecoder.decode(o, "UTF-8") ->
            java.net.URLDecoder.decode(n, "UTF-8"))
        case _ => None
      }
    }.toMap
  }

  /** Time travel: read the table as of snapshot `version`. Partition
    * columns still derive from the directory layout (`basePath`). Fails if
    * the snapshot was expired by a rewriting op. Merge-on-read delete
    * predicates committed at or before `version` are applied
    * ([[deleteWhere]]) — the snapshot's semantics, not its raw files. */
  def readVersion(spark: SparkSession, version: Int): DataFrame =
    readVersion(openLog(), spark, version)

  private def readVersion(log: TableLog, spark: SparkSession,
      version: Int): DataFrame =
    applyDeletes(log, readFiles(log, spark, log.files(version),
      capturePos = true), version)

  /** [[readVersion]] with SCAN-PLANNING file pruning: the caller's
    * pushed-filter conjuncts consult manifest stats and hidden-partition
    * transform bounds ([[planCandidates]]) and only the SURVIVOR files
    * are read — so a merge-on-read-pending table served through the
    * catalog's library-read path keeps the same file skipping its raw
    * V2 scan would have had. Sound under the sidecar subtraction:
    * pruning removes files PROVEN to contain no matching rows, deletes
    * only subtract more. Conjuncts that don't translate simply prune
    * nothing (conservative). */
  private[graft] def readVersionCandidates(spark: SparkSession, version: Int,
      conjuncts: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : DataFrame = {
    val log = openLog()
    val rels = log.files(version)
    if (conjuncts.isEmpty || rels.isEmpty)
      return readVersion(log, spark, version)
    val abs = rels.map(r =>
      if (r.startsWith("/")) r else s"${config.tablePath}/$r")
    // PRE-FOLD constant subtrees: a freshly-parsed conjunct carries
    // typed literals as Cast(Literal) (the analyzer's ConstantFolding
    // never ran on it), which planCandidates' attribute-vs-LITERAL
    // translation would skip — fold them to Literals first (timestamp
    // casts need the session timezone pinned to be resolvable; the
    // literal text itself is an absolute instant, so the fold is
    // timezone-exact). Anything unfoldable passes through untouched —
    // conservative, prunes nothing.
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val folded = conjuncts.map(_.transformUp {
      case c: Cast if c.timeZoneId.isEmpty && c.needsTimeZone =>
        c.withTimeZone(tz)
    }.transformUp {
      case e if e.resolved && e.foldable && !e.isInstanceOf[Literal] =>
        scala.util.Try(Literal.create(e.eval(null), e.dataType))
          .getOrElse(e)
    })
    planCandidates(spark, abs, folded, log) match {
      case Some(survivors) =>
        val keep = survivors.toSet
        applyDeletes(log, readFiles(log, spark,
          rels.zip(abs).collect { case (r, a) if keep(a) => r },
          capturePos = true), version)
      case None => readVersion(log, spark, version)
    }
  }

  // --------------------------------------------- merge-on-read deletes
  // A delete commits as metadata — a predicate ([[deleteWhere]]), a key
  // list ([[deleteKeys]]) or deletion vectors ([[deletePositions]]) —
  // that readers subtract at scan time until [[compact]] materializes
  // it: the delete is O(metadata), and the rewrite waits until
  // compaction amortizes it across many deletes.

  /** The rows of key-list sidecars `dirs` (one parquet directory per
    * commit), unioned by name. Each directory's
    * schema comes from its footer on the driver ([[FileFooters]]): every
    * planning of a pending-delete read loads its sidecars, and schema
    * inference would launch one job per directory. */
  private def readSidecars(spark: SparkSession,
      dirs: Seq[org.apache.hadoop.fs.Path]): DataFrame =
    dirs.map { d =>
      val r = spark.read
      FileFooters.ofDirectory(spark, "parquet", d.toString)
        .fold(r)(r.schema).parquet(d.toString)
    }.reduce(_ unionByName _)

  /** Delete predicates committed at or before `version`, in commit order.
    * Stored one per sidecar as SQL text. (Key-list deletes are separate —
    * [[deleteKeys]] — and counted by [[hasPendingDeletes]].) */
  def deletePredicates(version: Int): Seq[String] = {
    val log = openLog()
    log.versions.filter(_ <= version).flatMap(log.predicates)
  }

  /** True when any merge-on-read delete (predicate, key list, or deletion
    * vector) is committed at or before `version` and not yet materialized. */
  def hasPendingDeletes(version: Int): Boolean =
    openLog().pendingVersions(version).nonEmpty

  /** Apply the head snapshot's pending merge-on-read sidecars to a frame
    * scanned OUTSIDE [[read]] (the data-skipping readers load candidate
    * file subsets directly) — without this, a pruned read on a table with
    * pending deletes would resurrect the subtracted rows. */
  private[graft] def applyHeadDeletes(df: DataFrame): DataFrame =
    if (!config.versioned) df
    else { val log = openLog(); log.head.fold(df)(applyDeletes(log, df, _)) }

  private def applyDeletes(log: TableLog, df: DataFrame, version: Int,
      keepPosCols: Boolean = false): DataFrame = {
    val versions = log.versions.filter(_ <= version)
    // deletion vectors filter on (file, row ordinal), all versions' ORed
    // into one expression — the `_metadata` struct must be captured from
    // the SCAN relation, so the helper columns ride along and drop at the
    // end (kept when the caller — deletePositions — needs the coordinates
    // itself)
    val dvs = DeletionVectors.union(versions.flatMap(log.deletionVectors))
    val anyPos = keepPosCols || dvs.nonEmpty
    // a multi-relation union (mixed-spine or clone manifest) cannot
    // resolve `_metadata` — readFiles captured per relation already
    val hasCaptured = df.columns.contains("__graft_file")
    val captured =
      if (anyPos && !hasCaptured)
        df.withColumn("__graft_file", col("_metadata.file_path"))
          .withColumn("__graft_pos", col("_metadata.row_index"))
      else df
    val d0 = if (dvs.isEmpty) captured
      else captured.where(!deletedBy(df.sparkSession, dvs))
    val renames = renameMap
    val folded = versions.foldLeft(d0) { (d, v) =>
      val afterSql = log.predicates(v).foldLeft(d)((dd, p) =>
        dd.where(not(renamedPredicate(df.sparkSession, p, renames))))
      val kds = log.keyDirs(v)
      if (kds.nonEmpty) {
        val keys = TableSink.applyRenames(
          readSidecars(df.sparkSession, kds), renames)
        // anti-join on the key list's own columns; Spark broadcasts a
        // small erasure list and shuffle-joins a huge one (AQE decides)
        afterSql.join(keys, keys.columns.toSeq, "left_anti")
      } else afterSql
    }
    if ((anyPos || hasCaptured) && !keepPosCols)
      folded.drop("__graft_file", "__graft_pos")
    else folded
  }

  /** Delete predicate `p` with its column references folded through
    * `renames`: a sidecar records names AS OF ITS COMMIT, and on the old
    * name it would resolve beneath the rename projection, where
    * post-rename files read NULL and `not(NULL)` drops their rows. (The
    * ALTER door refuses renaming onto a superseded physical name.) */
  private def renamedPredicate(spark: SparkSession, p: String,
      renames: Map[String, String]): Column =
    if (renames.isEmpty) expr(p)
    else {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      org.apache.spark.sql.graft.Bridge.column(org.apache.spark.sql.graft
        .Bridge.parseExpression(spark, p).transform {
          case a: UnresolvedAttribute if a.nameParts.lengthIs == 1 &&
              renames.keys.exists(_.equalsIgnoreCase(a.nameParts.head)) =>
            UnresolvedAttribute(Seq(renames.collectFirst {
              case (o, n) if o.equalsIgnoreCase(a.nameParts.head) => n
            }.get))
        })
    }

  /** True for the rows `dvs` deletes, read off the captured coordinates. */
  private def deletedBy(spark: SparkSession,
      dvs: DeletionVectors.Vectors): Column =
    DeletionVectors.deleted(spark, dvs, col("__graft_file"), col("__graft_pos"))

  /** Merge-on-read POSITION delete: resolve `conditionSql` ONCE, at commit
    * time, to the (file, row-ordinal) pairs it matches at the current head
    * and commit that list as a sidecar — Iceberg v2's position-delete
    * flavor, completing the trio next to [[deleteWhere]] (predicate) and
    * [[deleteKeys]] (erasure list). The semantic difference from
    * [[deleteWhere]]: the predicate is evaluated against the snapshot the
    * delete commits on, so rows appended LATER that happen to match the
    * condition are untouched — "delete these physical rows", not "filter
    * all rows forever". The positions commit as deletion vectors
    * ([[DeletionVectors]]: one bitmap of row ordinals per data file);
    * readers drop the rows with one filter on (`_metadata.file_path`,
    * `_metadata.row_index`) — data files are immutable, so the physical
    * coordinates stay valid until a rewrite materializes everything
    * ([[compact]], which clears the sidecars).
    *
    * Vectors key the scan-reported file path verbatim (the same
    * percent-encoded URI both commit and read observe) — normalizing it
    * would re-open the encoding mismatch [[compact]]'s sizing comment
    * documents. Parquet only: `_metadata.row_index` is a parquet reader
    * feature. Same commit rules as the other flavors: versioned tables
    * only, refused while a branch is live, version-scoped (time travel
    * before the commit shows the rows). Returns the committed version. */
  def deletePositions(spark: SparkSession, conditionSql: String): Int = {
    requireRowIndex("deletePositions")
    commitDeleteSidecar("deletePositions", TableLog.Sidecar.DeletionVectors,
        "deletion vectors") { (log, sidecar) =>
      // resolve against the head SNAPSHOT'S semantics (earlier deletes of
      // any flavor already applied)
      WarehouseIO.writeString(sidecar, DeletionVectors.render(
        DeletionVectors.collect(readHeadWithPos(spark, log)
          .where(expr(conditionSql)).select("__graft_file", "__graft_pos"))))
    }
  }

  /** Merge-on-read delete: commit predicate `conditionSql` (a SQL boolean
    * over the table's columns, the `DELETE FROM … WHERE` convention) as
    * the next snapshot's delete metadata — NO data file is read,
    * rewritten, or removed (the new manifest is the head's file list plus
    * a predicate sidecar). Rows matching ANY committed predicate disappear
    * from [[read]]/[[readVersion]] at or after this commit; earlier
    * snapshots still show them (time travel preserves pre-delete history).
    * Materialize with [[compact]], which rewrites survivors and clears
    * predicates. Returns the committed version.
    *
    * Refused while a branch is live: [[readBranch]] is a raw-file surface
    * and would disagree with main about deleted rows mid-audit. Tags are
    * fine — a tag pins a version, and predicates are version-scoped, so a
    * tagged snapshot's semantics never change. */
  def deleteWhere(conditionSql: String): Int =
    commitDeleteSidecar("deleteWhere", TableLog.Sidecar.Predicate,
        "predicates") { (_, sidecar) =>
      expr(conditionSql) // fail on unparseable SQL at commit, not first read
      WarehouseIO.writeString(sidecar, conditionSql)
    }

  /** Merge-on-read ERASURE-LIST delete: commit the distinct `keyCols`
    * tuples of `keys` as a key-list sidecar — the opt-out / right-to-be-
    * forgotten path. No data file is touched; readers subtract matching
    * rows with an anti-join on the key list (broadcast when the list is
    * small, shuffle otherwise — AQE decides), so erasing a million users
    * from a 100 TB table is O(list) at commit time and one join term at
    * read time, materialized later by [[compact]]. Same commit rules as
    * [[deleteWhere]]: versioned tables only, refused while a branch is
    * live, version-scoped (time travel before the commit still shows the
    * rows). A NULL in the list is REFUSED (round-13): it never matches
    * the anti-join (SQL join semantics), so the erasure it stands for
    * would silently not happen — the one failure mode a
    * right-to-be-forgotten path must not have. The list is committed as
    * its distinct key tuples. Returns the committed version. */
  def deleteKeys(keys: DataFrame, keyCols: Seq[String]): Int =
    deleteKeys(keys, keyCols, proven = false)

  /** [[deleteKeys]]. `proven`: the caller has proved the key tuples of
    * `keys` distinct and non-null (the replication apply's net-delete
    * winners, whose NULL count its pin observed), so the NULL probe and
    * the `distinct` are skipped; every other check still runs. */
  private def deleteKeys(keys: DataFrame, keyCols: Seq[String],
      proven: Boolean): Int = {
    require(keyCols.nonEmpty, "deleteKeys needs at least one key column")
    require(keyCols.forall(keys.columns.contains),
      s"key columns ${keyCols.filterNot(keys.columns.contains).mkString(", ")} " +
        "missing from the key DataFrame")
    // one bounded pass over the LIST (never the table): a NULL key tuple
    // anti-joins against nothing, so committing it would record an
    // erasure that never erases — refuse with the row, not a warning
    require(proven ||
      keys.where(keyCols.map(col(_).isNull).reduceLeft(_ || _))
        .limit(1).collect().isEmpty,
      s"deleteKeys list carries NULL in (${keyCols.mkString(", ")}): a " +
        "NULL key never matches the erasure anti-join, so those rows " +
        "would silently survive; filter or repair the list first")
    commitDeleteSidecar("deleteKeys", TableLog.Sidecar.Keys,
        "key lists") { (_, sidecar) =>
      val list = keys.select(keyCols.map(col): _*)
      (if (proven) list else list.distinct())
        .write.mode("overwrite").parquet(sidecar.toString)
    }
  }

  /** Merge-on-read sidecar commits refuse while a branch is live or
    * mid-creation: the branch's audit view would disagree with main. */
  private def requireNoLiveBranch(op: String,
      log: TableLog = openLog()): Unit = {
    val live = log.branchesOrPending
    require(live.isEmpty,
      s"$op while a branch is live would make the audit surface " +
        s"disagree with main; publish or drop first: ${live.mkString(", ")}")
  }

  /** True when a merge-on-read op can serve this table, from ONE view of
    * its log: versioned, parquet (deletion vectors need the reader's
    * `_metadata.row_index`), no live branch, and — when the op `needsHead`
    * — a committed snapshot. The copy-on-write twins serve the rest. */
  private[graft] def morServable(needsHead: Boolean,
      log: => TableLog = openLog()): Boolean =
    config.versioned && config.fileFormat == "parquet" && {
      val l = log
      l.branches.isEmpty && (!needsHead || l.head.nonEmpty)
    }

  /** Deletion vectors need the parquet reader's `_metadata.row_index`. */
  private def requireRowIndex(op: String): Unit =
    require(config.fileFormat == "parquet",
      s"$op needs the parquet reader's _metadata.row_index; " +
        s"format '${config.fileFormat}' does not expose row ordinals")

  /** The commit of the three merge-on-read delete flavours: their shared
    * guards (no streaming log; versioned only, `what` naming the
    * flavour's metadata; no live or mid-creation branch; a non-empty log),
    * then `write` pre-writes the sidecar at a fresh path, given the
    * guards' log view, and ONE commit claims a snapshot referencing it;
    * any failure deletes the sidecar. The reference rides INSIDE the
    * claimed snapshot (round-12): a sidecar landing after the claim let a
    * changelog consumer reading the version in that window emit an empty
    * change and advance its offset past the delete forever. */
  private def commitDeleteSidecar(op: String, kind: TableLog.Sidecar,
      what: String)(
      write: (TableLog, org.apache.hadoop.fs.Path) => Unit): Int = {
    requireNoStreamingLog()
    require(config.versioned,
      s"merge-on-read $op needs versioned=true ($what are commit " +
        "metadata); use delete() for copy-on-write on unversioned tables")
    val log = openLog()
    requireNoLiveBranch(op, log)
    require(log.head.nonEmpty, s"$op needs at least one committed snapshot")
    val name = TableLog.newSidecarName(kind)
    try {
      write(log, logFile(name))
      commitAppendedFiles(Nil, sidecars = Seq(kind -> name))
    } catch { case e: Throwable =>
      WarehouseIO.delete(logFile(name), recursive = true); throw e
    }
  }

  /** MINOR compaction of the merge-on-read delete layer — Iceberg's
    * `rewrite_position_delete_files` maintenance analogue, extended to
    * all three sidecar flavors: every live delete sidecar is merged into
    * a single new commit (one OR-joined predicate, one erasure list, one
    * set of deletion vectors, ORed on the driver) and older history is
    * dropped, WITHOUT rewriting any
    * data file. A table that has accumulated N delete commits pays N
    * predicate evaluations + N anti-joins on every read; after
    * consolidation it pays at most one of each, and [[compact]]'s full
    * data rewrite can wait until fragmentation (not read cost) demands
    * it. Exact by construction: all three flavors are row-wise set
    * subtractions, so folding them in one pass removes precisely the
    * rows the per-version fold removed.
    *
    * Like every history rewrite here, time travel below the new commit
    * is gone and the log GENERATION is reset, so changelog cursors and
    * view markers pinned to the old history refuse loudly rather than
    * silently misreading. Crash-ordered: the merged commit lands FIRST
    * (a crash before cleanup leaves old sidecars folding alongside the
    * merged ones — idempotent removals, still correct; re-running
    * finishes), cleanup of old manifests and sidecars second.
    *
    * Refuses mixed key-column erasure lists (one merged list must
    * anti-join on one column set — run [[compact]] instead) and live
    * branches (their manifests pin old history). Returns the new head
    * version. */
  def consolidateDeletes(spark: SparkSession): Int = {
    requireNoStreamingLog()
    val log = openLog()
    requireNoBranches("consolidateDeletes", log)
    require(config.versioned && log.head.nonEmpty,
      "consolidateDeletes needs a versioned table with commits")
    // The merge below captures sidecars from the PRE-claim version set.
    // A concurrent delete flavor that wins a version between capture and
    // claim would have its sidecar dropped UNMERGED by the cleanup — a
    // silently lost delete. Detect it after winning vNext (cleanup has
    // not run yet, so retracting our own claim restores the exact
    // pre-commit table) and re-merge with the interloper included.
    var attempt = 0
    while (true) {
      attempt += 1
      // a re-run must capture the interloper: a fresh view
      val r = consolidateDeletesOnce(spark,
        if (attempt == 1) log else openLog())
      if (r >= 0) return r
      require(attempt < 5,
        "consolidateDeletes lost 5 straight races to concurrent delete " +
          "commits; quiesce writers and re-run")
    }
    -1 // unreachable
  }

  /** One merge-and-claim attempt for [[consolidateDeletes]]. Returns the
    * new head version, or -1 when a sidecar-carrying commit won a
    * version inside the capture-to-claim window (own claim retracted;
    * caller re-runs with the interloper's sidecars in the capture). */
  private def consolidateDeletesOnce(spark: SparkSession,
      log: TableLog): Int = {
    val vs = log.versions
    val head = vs.last
    // capture EVERY sidecar shape (standard files/dirs and the
    // snapshot-referenced ones) up front — the cleanup loop below
    // deletes version files before sidecars, after which a reference
    // is unreadable
    val preds = vs.flatMap(log.predicates)
    val keyDirs = vs.flatMap(log.keyDirs)
    val dvs = vs.flatMap(log.deletionVectors)
    require(preds.nonEmpty || keyDirs.nonEmpty || dvs.nonEmpty,
      "no delete sidecars to consolidate")
    if (vs.size == 1) return head // already consolidated: no-op
    val keySchemas =
      keyDirs.map(kd => readSidecars(spark, Seq(kd)).columns.toSeq).distinct
    require(keySchemas.size <= 1,
      s"erasure lists use mixed key-column sets (${keySchemas.map(_.mkString("(", ",", ")")).mkString(", ")}) " +
        "— one merged list cannot anti-join them; materialize with " +
        "compact() instead")
    // (dangling tags need no dedicated check here: requireNoBranches
    // above already refuses when ANY tag exists)
    // 1. the merged sidecars PRE-WRITE under fresh names and the commit
    // references them atomically (same changelog-safety shape as the
    // flavors themselves; the generation flip at the end makes any
    // concurrent stream refuse loudly regardless)
    import TableLog.Sidecar
    def merged(kind: Sidecar, any: Boolean)(
        write: org.apache.hadoop.fs.Path => Unit) = Option.when(any) {
      val n = TableLog.newSidecarName(kind)
      write(logFile(n))
      kind -> n
    }
    val refs = Seq(
      merged(Sidecar.DeletionVectors, dvs.nonEmpty)(WarehouseIO.writeString(_,
        DeletionVectors.render(DeletionVectors.union(dvs)))),
      merged(Sidecar.Keys, keyDirs.nonEmpty)(p => readSidecars(spark, keyDirs)
        .distinct().write.mode("overwrite").parquet(p.toString)),
      merged(Sidecar.Predicate, preds.nonEmpty)(WarehouseIO.writeString(_,
        preds.map(q => s"($q)").mkString(" OR ")))).flatten
    def dropRefs(): Unit = refs.foreach { case (_, n) =>
      WarehouseIO.delete(logFile(n), recursive = true) }
    val vNext =
      try commitAppendedFiles(Nil, sidecars = refs)
      catch { case e: Throwable => dropRefs(); throw e }
    // A sidecar-carrying commit in the capture-to-claim window means the
    // merged set is INCOMPLETE — its deletes would vanish with cleanup.
    // Retract our own claim (the accepted post-claim retraction shape —
    // see commitAppendedFiles' generation re-check) and signal a re-run;
    // plain appends in the window are safe: their delta manifests are
    // layered into vNext's snapshot, only their time-travel point drops.
    // A crash ANYWHERE in the claim-to-retract window is benign: cleanup
    // has not run, every pre-existing version file (the interloper's
    // included) is still listed, and reads fold each listed version's
    // own sidecars — vNext's head read applies the merged refs AND the
    // interloper's still-listed sidecar; a later consolidation re-run
    // merges everything. The seam below lets a spec crash exactly here
    // and prove it.
    consolidateClaimHook()
    val now = openLog()
    val raced = now.versions
      .filter(v => v > head && v < vNext).filter(now.carriesSidecar)
    if (raced.nonEmpty) {
      WarehouseIO.delete(logFile(TableLog.versionFile(vNext)))
      dropRefs()
      return -1
    }
    // 2. cleanup — RE-captured below vNext (a concurrent append that won
    // a version between our read and our claim must be dropped with the
    // rest, or its time-travel read would fold a now-incomplete sidecar
    // set), version FILES first and sidecars second: once every version
    // file below vNext is gone no read can reference an old sidecar, so
    // a crash anywhere in between leaves only correct reads (head folds
    // the merged sidecars; surviving old versions still see every
    // sidecar ≤ themselves). A crash between the loops strands orphaned
    // sidecar files in _graft_log — unreachable debris, never consulted
    // (applyDeletes only folds sidecars of LISTED versions). Sidecar
    // names are captured while the version files still exist.
    val belowLog = openLog()
    val below = belowLog.versions.filter(_ < vNext)
    val refsBelow = below.flatMap(belowLog.refNames)
    below.foreach(v => WarehouseIO.delete(logFile(TableLog.versionFile(v))))
    refsBelow.foreach(n => WarehouseIO.delete(logFile(n), recursive = true))
    WarehouseIO.delete(logFile(TableLog.GenerationFile))
    gcManifests() // deltas referenced only by the dropped history
    vNext
  }

  /** Fold pending delete sidecars when MORE than
    * [[SinkConfig.deleteConsolidateThreshold]] versions carry one — the
    * replication apply's amortized upkeep (replica reads stay bounded at
    * `threshold` sidecar anti-joins under any run of delete-only
    * batches). No-op when disabled (0), unversioned, or under the
    * threshold. Drops history below the merged commit, which is the
    * replica contract. */
  private[graft] def maybeConsolidateDeletes(spark: SparkSession): Unit = {
    val t = config.deleteConsolidateThreshold
    if (t <= 0 || !config.versioned) return
    val log = openLog()
    val pending = log.versions.count(log.carriesSidecar)
    if (pending > t) { consolidateDeletes(spark); () }
  }

  /** Incremental (CDC-style) read: exactly the rows appended after
    * `fromVersion`, up to and including `toVersion` — the file-set
    * difference of the two manifests, so the incremental consumer never
    * rescans history it has already processed. */
  def readChanges(spark: SparkSession, fromVersion: Int,
      toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val log = openLog()
    val before = log.files(fromVersion).toSet
    readFiles(log, spark, log.files(toVersion).filterNot(before))
  }

  /** Iceberg changelog-scan analogue: every ROW-level change committed
    * after `fromVersion` (exclusive; 0 = before the first snapshot) up to
    * `toVersion` (inclusive), as the original row plus
    * `_change_type` ∈ 'insert' | 'delete' and `_change_version`. Where
    * [[readChanges]] is the file-level incremental read (appends only),
    * the changelog also replays merge-on-read DELETE commits — predicate
    * sidecars ([[deleteWhere]]), erasure key lists ([[deleteKeys]]), and
    * deletion vectors ([[deletePositions]]) — each evaluated against its
    * PRE-commit snapshot's semantics: exactly the rows that commit
    * removed from readers. Inserts are filtered by the sidecars in force
    * at their commit (a row appended under an older still-live predicate
    * was never visible, so it never enters the changelog); a row
    * appended and later deleted inside the range appears twice (its
    * insert and its delete) — the standard changelog contract.
    *
    * Scale shape: inserts are manifest file-set diffs (no rescan of
    * history); a run of delete commits replays as ONE marked scan of its
    * pre-commit snapshot, never a diff of materialized table states.
    * Rewriting ops expire history, so a changelog range only ever spans
    * append and merge-on-read commits. */
  def readChangelog(spark: SparkSession, fromVersion: Int,
      toVersion: Int): DataFrame =
    readChangelog(openLog(), spark, fromVersion, toVersion)

  /** One log view serves the whole replay: each version file and manifest
    * is parsed once, however many pre-states the replay touches. */
  private def readChangelog(log: TableLog, spark: SparkSession,
      fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val versions = log.versions
    val rng = versions.filter(v => v > fromVersion && v <= toVersion)
    case class VInfo(v: Int, prev: Option[Int], files: Seq[String],
        added: Seq[String], preds: Seq[String],
        keyDirs: Seq[org.apache.hadoop.fs.Path],
        dvs: Option[DeletionVectors.Vectors]) {
      def hasDel: Boolean =
        preds.nonEmpty || keyDirs.nonEmpty || dvs.nonEmpty
    }
    val infos = rng.map { v =>
      val prev = versions.filter(_ < v).lastOption
      val prevSet = prev.map(log.files(_).toSet).getOrElse(Set.empty)
      val files = log.files(v)
      VInfo(v, prev, files, files.filterNot(prevSet),
        log.predicates(v), log.keyDirs(v), log.deletionVectors(v))
    }
    // A run of CONSECUTIVE merge-on-read delete commits shares one
    // immutable data-file set, so their replays fold into ONE pre-state
    // scan — each row's `_change_version` is the FIRST run version whose
    // sidecars match it (exactly the per-version semantics: version v's
    // pre-state is the run head's pre-state minus rows deleted earlier in
    // the run, which first-match reproduces because a row matching v3 is
    // claimed by v3 and never reaches v4's pre-state). A version's marker
    // ORs its flavors: its predicates, a left-join marker on its DISTINCT
    // key-list rows (multiplicity- and NULL-identical to a left_semi) and
    // its deletion vectors' filter expression. A run extends while
    // nothing else moved: no files added, same manifest set, the
    // contiguous predecessor; any other delete commit (one that also
    // adds files) is a run of one. The pre-state's physical coordinates
    // are kept ONLY when deletion vectors need them (an unconditional
    // capture makes every scan materialize `_metadata.row_index`, 3.8x
    // on q_time_travel).
    def deleteRun(run: Seq[VInfo]): DataFrame = {
      val pv = run.head.prev.get
      val base = applyDeletes(log,
        readFiles(log, spark, log.files(pv), capturePos = true), pv,
        keepPosCols = run.exists(_.dvs.nonEmpty))
      val outCols = base.columns
        .filterNot(c => c == "__graft_file" || c == "__graft_pos")
      val renames = renameMap
      var b = base
      val markers = run.map { vi =>
        val m = s"__graft_del_${vi.v}"
        val byKeys = if (vi.keyDirs.isEmpty) None else {
          val keys = readSidecars(spark, vi.keyDirs).distinct()
          b = b.join(keys.withColumn(m, lit(true)),
            keys.columns.toSeq, "left_outer")
          Some(coalesce(col(m), lit(false)))
        }
        b = b.withColumn(m, (vi.preds.map(p =>
          coalesce(renamedPredicate(spark, p, renames), lit(false))) ++
          byKeys ++ vi.dvs.map(deletedBy(spark, _))).reduce(_ || _))
        m
      }
      val firstMatch = run.zip(markers).map { case (vi, m) =>
        (col(m), lit(vi.v.toLong))
      }.foldLeft(Option.empty[Column]) {
        case (None, (c, v)) => Some(when(c, v))
        case (Some(acc), (c, v)) => Some(acc.when(c, v))
      }.get
      b.withColumn("_change_version", firstMatch)
        .filter(col("_change_version").isNotNull)
        .withColumn("_change_type", lit("delete"))
        .select((outCols.toSeq :+ "_change_type" :+ "_change_version")
          .map(col): _*)
    }
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var i = 0
    while (i < infos.length) {
      val in = infos(i)
      if (in.added.nonEmpty)
        parts += applyDeletes(log,
          readFiles(log, spark, in.added, capturePos = true), in.v)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_change_version", lit(in.v.toLong))
      if (in.hasDel) {
        require(in.prev.isDefined,
          s"changelog cannot replay the delete commit at v${in.v}: its " +
            "pre-commit snapshot was expired; start the range after " +
            s"v${in.v} or retain more history (expireSnapshotsKeepLast)")
        var j = i
        if (in.added.isEmpty)
          while (j + 1 < infos.length && {
            val nx = infos(j + 1)
            nx.hasDel && nx.added.isEmpty &&
              nx.prev.contains(infos(j).v) && nx.files == in.files
          }) j += 1
        parts += deleteRun(infos.slice(i, j + 1))
        i = j + 1
      } else i += 1
    }
    if (parts.isEmpty) {
      // a consumer may poll before the producer's first commit — an empty
      // TYPED batch, not an AnalysisException from loading a missing dir
      val base =
        if (WarehouseIO.exists(new org.apache.hadoop.fs.Path(config.tablePath)))
          readLive(log, spark, mergeSchema = false).limit(0)
        else config.tableSchema match {
          case Some(s) => spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row], s)
          case None => throw new IllegalArgumentException(
            s"table ${config.tableName} has no commits and no declared " +
              "tableSchema, so an empty changelog batch cannot be typed — " +
              "set tableSchema or wait for the first commit")
        }
      base.withColumn("_change_type", lit(""))
        .withColumn("_change_version", lit(0L))
    } else {
      // schema-evolution guard: with no DECLARED schema each version's
      // file group infers its own shape, and a range spanning an ALTER
      // boundary would die inside unionByName with a generic resolver
      // error (or worse, resurrect a dropped column). Refuse precisely
      // with the remedy — a declared tableSchema conforms every version
      // (pre-evolution rows NULL-fill, dropped columns stay dropped),
      // which is what the SQL door's `<table>.changes` pins automatically.
      val shapes = parts.map(_.columns.toSet).distinct
      require(shapes.size == 1,
        "changelog range spans a schema-evolution boundary " +
          s"(${shapes.map(_.toSeq.sorted.mkString("(", ",", ")"))
            .mkString(" vs ")}) and this sink has no declared " +
          "tableSchema to conform the versions under — set " +
          "SinkConfig.tableSchema to the head schema, or read through " +
          "the SQL catalog's <table>.changes surface")
      parts.reduce(_ unionByName _)
    }
  }

  /** Whole-history changelog for parameterless surfaces (the SQL
    * `<table>.changes` metadata table): [[readChangelog]] over every
    * retained commit, EXCEPT that when snapshot expiry has left a
    * merge-on-read delete commit as the oldest retained version — whose
    * pre-commit snapshot is gone, so its delete replay is impossible —
    * that commit's POST-commit state folds in as inserts at its version
    * (exactly what [[readChangelog]] emits for an oldest commit WITHOUT
    * sidecars) and only the impossible delete replay is skipped. A
    * consumer replaying the whole stream therefore still reconstructs
    * the table: dropping the base commit outright would silently lose
    * every row that survived the expiry. Only the oldest retained
    * commit can lack a predecessor, so this is the one remedy
    * [[readChangelog]]'s error suggests that a no-argument caller could
    * not apply itself. */
  def readChangelogAll(spark: SparkSession): DataFrame =
    readChangelogAllUpTo(spark, Int.MaxValue)

  /** [[readChangelogAll]] bounded at `toVersion` — the streaming CDC
    * source's initial batch (its offset pins the head it planned
    * against, so commits landing during planning belong to the NEXT
    * batch, never half of this one). */
  def readChangelogAllUpTo(spark: SparkSession, toVersion: Int): DataFrame = {
    val log = openLog()
    val unreplayable = log.versions.headOption.filter(v0 =>
      v0 <= toVersion && log.carriesSidecar(v0))
    unreplayable match {
      case None => readChangelog(log, spark, 0, toVersion)
      case Some(v0) =>
        readVersion(log, spark, v0)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_change_version", lit(v0.toLong))
          .unionByName(readChangelog(log, spark, v0, toVersion))
    }
  }

  /** Streaming CDC read — the change-feed twin of [[readStream]]: each
    * micro-batch is the CHANGELOG of the commits that landed since the
    * last trigger (`_change_type` insert/delete + `_change_version`
    * riding on the table schema), so delete commits STREAM as
    * retraction rows instead of refusing — the Delta
    * `readChangeFeed`-style source a replica/index keeps itself fresh
    * from. The first batch replays the retained history up to the head
    * ([[readChangelogAllUpTo]] — an expiry-orphaned oldest delete
    * commit folds in as its post-state inserts, so a consumer still
    * reconstructs the table); offsets pin (generation, version) exactly
    * like the snapshot stream. Versioned tables only.
    *
    * `startingVersion` (the Delta source option,
    * INCLUSIVE like Delta's) bounds the FIRST batch: `Some("N")` emits
    * the changes starting from commit N — [N, head] — and
    * `Some("latest")` only commits after stream start; by default
    * batch 0 replays the full retained changelog, which a new consumer
    * of a long-lived table rarely wants (a year of history in one
    * batch). `startingTimestampMs` emits every commit at or after the
    * instant. Checkpointed restarts resume from their offset and ignore
    * the option, exactly like Delta. */
  def readChangesStream(spark: SparkSession,
      startingVersion: Option[String] = None,
      startingTimestampMs: Option[Long] = None): DataFrame = {
    require(config.versioned,
      "readChangesStream consumes the snapshot changelog — versioned only")
    // ALTER-declared schema beats footer inference (round-14): after a
    // type-widening ALTER only the declared schema reads the mixed
    // narrow/wide file generations (the reader upcasts); inference
    // pins whichever type the sampled footer carried
    val schema = config.tableSchema.orElse(alterDeclaredSchema)
      .getOrElse(read(spark).schema)
      .add("_change_type", org.apache.spark.sql.types.StringType)
      .add("_change_version", org.apache.spark.sql.types.LongType)
    val r0 = spark.readStream
      .format("org.apache.spark.sql.graft.GraftTableStream")
      .schema(schema)
      .option("tableName", config.tableName)
      .option("warehousePath", config.warehousePath)
      .option("tablePath", config.tablePath)
      .option("fileFormat", config.fileFormat)
      .option("mode", "changes")
    val r1 = startingVersion.fold(r0)(v => r0.option("startingVersion", v))
    startingTimestampMs.fold(r1)(t =>
      r1.option("startingTimestamp", t.toString)).load()
  }

  /** Incremental changelog consumption with a DURABLE cursor — the
    * `Trigger.AvailableNow`-style micro-batch pattern for CDC pipelines
    * that run as periodic jobs rather than a resident stream. Returns the
    * change rows in `(cursor, head]` (same schema and semantics as
    * [[readChangelog]]) plus a `commit` thunk: the cursor file advances
    * to `head` ONLY when the caller invokes it, i.e. AFTER the batch is
    * durably processed. A crash between read and commit replays the same
    * batch next call — at-least-once by construction, exactly-once when
    * the downstream write is idempotent (e.g. an [[upsert]] keyed on the
    * change rows), which is precisely Structured Streaming's own
    * contract split between batch and checkpoint commit.
    *
    * The cursor is one tiny file at `cursorPath` via [[WarehouseIO]]
    * (any Hadoop-resolvable location); one consumer per cursor path —
    * concurrent consumers sharing a cursor would double-process, use
    * distinct paths. Interplay with retention: the cursor holds versions
    * alive only logically — pair the consumer's cadence with
    * [[expireSnapshotsKeepLast]]/[[expireSnapshotsOlderThan]] windows so
    * a delete commit's pre-commit snapshot is still present when the
    * batch replays it ([[readChangelog]] refuses loudly otherwise). */
  def readChangelogSince(spark: SparkSession, cursorPath: String,
      startingTimestampMs: Option[Long] = None): (DataFrame, () => Unit) = {
    val p = new org.apache.hadoop.fs.Path(cursorPath)
    val log = openLog()
    val gen = log.generation
    // cursor format "<generation>:<version>": version numbers restart at
    // v1 after a rewriting op expires the log, so a bare number could
    // silently resume against a DIFFERENT history once the new head
    // catches up — the generation pin turns that divergence into a loud
    // refusal. A cursor at version 0 has consumed nothing, so any
    // history continues it (a consumer that committed before the first
    // commit, generation "none", resumes once the log starts).
    val (curGen, from) =
      // `startingTimestampMs` (the stream sources' option, now on the
      // batch cursor too): a FRESH cursor floors at the last version
      // committed strictly before the instant — the consumer sees every
      // commit at or after it (the Delta contract; a pre-history
      // instant = no floor = the full replay). An EXISTING cursor wins,
      // exactly like a checkpointed stream restart ignores the option.
      if (!WarehouseIO.isFile(p))
        (gen, startingTimestampMs.flatMap(ms => log.versions
          .filter(log.committedAtMs(_) < ms).lastOption).getOrElse(0))
      else WarehouseIO.readString(p).trim.split(':') match {
        case Array(g, v) => (g, v.toInt)
        case other => sys.error(
          s"unreadable changelog cursor at $cursorPath: " +
            s"'${other.mkString(":")}'")
      }
    require(curGen == gen || from == 0,
      s"changelog cursor at $cursorPath was committed against a different " +
        s"table history (generation $curGen, current $gen): a rewriting op " +
        "expired and restarted the snapshot log, so the un-consumed " +
        "changes are unrecoverable — delete the cursor and rebuild the " +
        "consumer from a full read")
    val head = log.head.getOrElse(0)
    require(from <= head,
      s"changelog cursor at $cursorPath points past the head " +
        s"($from > $head) — wrong table, or history was rolled back; " +
        "delete the cursor to restart from the beginning")
    val batch = readChangelog(log, spark, from, head)
    // atomic overwrite: a crash mid-commit must leave the OLD cursor
    // readable (batch replays), never a torn/empty file
    (batch, () => WarehouseIO.writeStringAtomic(p, s"$gen:$head"))
  }

  /** CDC REPLICATION: apply this table's changelog to the downstream
    * replica `dest`, keyed by `keyCols`, consuming through the durable
    * cursor at `cursorPath` ([[readChangelogSince]]). One call = one
    * micro-batch; run it on a schedule and `dest` tracks this table.
    *
    * The batch applies as NET CHANGES — per key, the highest-version
    * change wins (a commit is either all-insert or all-delete, so there
    * is no tie), surviving inserts land as ONE keyed [[upsert]] and net
    * deletes as ONE [[deleteKeys]] — the standard CDC change-compaction:
    * a backlog of N source commits costs two replica ops, not N
    * rewrites, and the result equals applying them in commit order
    * because the changelog already encodes visibility (a row re-inserted
    * under a still-live delete predicate never enters it). Intermediate
    * source states never materialize on the replica — the replica
    * contract is the final state of each consumed batch. Both ops are
    * IDEMPOTENT under the keys, so the cursor's at-least-once replay (a
    * crash between apply and commit re-applies the batch) converges to
    * exactly-once replica state. Keys must be unique within a source
    * commit and non-null (the same keyed-upsert contract the library API
    * has). A batch whose winners pin proves that — every insert row is
    * its key's sole insert and winner, no NULL key — skips
    * [[upsertMor]]'s key check and envelope aggregate and [[deleteKeys]]'
    * NULL probe and distinct; any other batch meets those entries' own
    * checks and refusals.
    *
    * Returns the source versions consumed, observed by the batch pin's
    * own pass (no separate job). The replica must be versioned
    * (deletes land as merge-on-read key lists). A MoR-capable replica
    * (parquet, no live branch) takes each insert batch as ONE
    * position-delete + append commit ([[upsertMor]]) — O(batch) data IO
    * per apply and PRESERVED replica history; other replicas keep the
    * copy-on-write apply, whose rewriting commits expire their history.
    * Sidecars fold past [[SinkConfig.deleteConsolidateThreshold]]. */
  def replicateTo(spark: SparkSession, dest: TableSink,
      keyCols: Seq[String], cursorPath: String): Seq[Long] = {
    require(keyCols.nonEmpty, "replicateTo needs at least one key column")
    requireReplica(dest)
    val (batch, commit) = readChangelogSince(spark, cursorPath)
    // pin the batch before dest ops run jobs; the pin's pass also
    // collects the consumed versions (bounded: commit count)
    val (b, seen) = pinObserved(batch,
      Seq(collect_set(col("_change_version").cast("long")).as("versions")))
    val versions = seen("versions").asInstanceOf[Seq[Long]].sorted
    applyChangeBatch(dest, b, keyCols)
    commit()
    versions
  }

  private def requireReplica(dest: TableSink): Unit = {
    require(dest.config.versioned,
      "the replica must be versioned=true — changelog deletes apply as " +
        "merge-on-read key lists")
    require(dest.config.tablePath != config.tablePath,
      "a table cannot replicate onto itself")
  }

  /** `df` pinned by `localCheckpoint`, with `metrics` computed by the
    * pin's own pass (`Dataset.observe`, delivered once the pin's job
    * succeeds — an empty frame observes counts of 0 and NULL min/max). */
  private def pinObserved(df: DataFrame,
      metrics: Seq[Column]): (DataFrame, Map[String, Any]) = {
    val obs = org.apache.spark.sql.Observation()
    val pinned = df.observe(obs, metrics.head, metrics.tail: _*)
      .localCheckpoint()
    (pinned, obs.get)
  }

  /** Apply one changelog batch to `dest` as NET CHANGES (see
    * [[replicateTo]]'s contract notes — per key the highest-version
    * change wins, surviving inserts land as ONE keyed upsert and net
    * deletes as ONE deleteKeys, both idempotent under the keys).
    *
    * The key checks the public entries run as separate jobs are facts
    * the winners pin already observes. Net-delete keys are one row per
    * key group, so [[deleteKeys]]'s `distinct` is skipped, and so is its
    * NULL probe when no delete winner has a NULL key. When every insert
    * row is its key's sole insert and winner and none has a NULL key,
    * the insert batch provably meets [[upsertMor]]'s key contract: its
    * uniqueness check is skipped, and the observed min/max of the insert
    * winners' keys are its key envelope. Any other batch goes through
    * the public entries unchanged, so a duplicate key within a source
    * commit or a NULL key is refused with their messages. */
  private def applyChangeBatch(dest: TableSink, b: DataFrame,
      keyCols: Seq[String]): Unit = {
    // per key, the highest-version change wins; WITHIN one version a
    // merge-on-read UPDATE commit carries both the old row's delete and
    // the replacement's insert for the same key — the insert is the
    // post-state ('insert' > 'delete', so the struct-max tie-break is
    // exact; pure delete commits have no same-version insert to tie with)
    //
    // OPTIMIZATION r15 (guide §2.3 / §8): the net-change WINNERS are
    // decided on NARROW metadata — (key, version, type), ~24 bytes/row —
    // with a partially-aggregating max(struct(version, type)) instead of
    // the former full-payload row_number window + full-payload net
    // checkpoint. max(struct(v, t)) picks exactly the row the window's
    // orderBy(version desc, type desc) ranked first. Net DELETES need
    // only their key tuple, so a retraction batch (the expensive case:
    // the r15 fixture's delete batch is 88.5k of 100k rows) never
    // shuffles or checkpoints a payload byte; net INSERT payloads attach
    // once, by (key, version) semi-join against the checkpointed batch.
    // The winners frame is checkpointed (O(batch) narrow rows).
    val verCol = col("_change_version")
    val typCol = col("_change_type")
    val isIns = typCol === "insert"
    val isDel = typCol === "delete"
    val nullKey = keyCols.map(col(_).isNull).reduceLeft(_ || _)
    val bounded = boundableKeys(b.schema, keyCols)
    // the winners pin's own pass decides both branches and whether the
    // insert attach needs a join at all: nDel/nIns gate the apply ops;
    // `every` is true iff every batch insert row is its key's winner
    // (per-key insert count ≤ 1 and the sole insert, when present, is
    // the winner) — the CDC steady state
    val (winners, facts) = pinObserved(
      b.groupBy(keyCols.map(col): _*)
        .agg(max(struct(verCol.as("v"), typCol.as("t"))).as("__w"),
          count(when(isIns, 1)).as("__ni"))
        .select(keyCols.map(col) :+ col("__w.v").as("_change_version") :+
          col("__w.t").as("_change_type") :+ col("__ni"): _*),
      Seq(count(when(isDel, 1)).as("nd"),
        count(when(isIns, 1)).as("niW"),
        count(when(col("__ni") > 1 ||
          (col("__ni") === 1 && !isIns), 1)).as("nSuperseded"),
        count(when(isDel && nullKey, 1)).as("ndNull"),
        count(when(isIns && nullKey, 1)).as("niNull")) ++
        bounded.flatMap(c => Seq(min(when(isIns, col(c))).as(s"min_$c"),
          max(when(isIns, col(c))).as(s"max_$c"))))
    def n(name: String) = facts(name).asInstanceOf[Long]
    val (nDel, nIns, every) = (n("nd"), n("niW"), n("nSuperseded") == 0L)
    val del = winners.filter(isDel).select(keyCols.map(col): _*)
    lazy val ins = {
      val bIns = b.filter(isIns)
      // steady state (every insert row is its key's winner — keys unique
      // within a commit, none superseded in the batch): no join needed.
      // Otherwise attach by null-safe (key, version) semi-join: the
      // window this replaces GROUPED null keys (so an invalid null-key
      // insert reached the apply op's loud refusal); a plain equi-join
      // would silently drop it instead.
      val raw =
        if (every) bIns
        else {
          val wIns = winners.filter(isIns)
            .select((keyCols :+ "_change_version").map(c =>
              col(c).as(s"__w_$c")): _*)
          bIns.join(wIns, (keyCols :+ "_change_version")
            .map(c => col(c) <=> col(s"__w_$c")).reduce(_ && _), "left_semi")
        }
      val projected = raw.drop("_change_type", "_change_version")
      // the join result is pinned ONCE (upsertMor references its batch
      // several times); the no-join shape is already a cheap filter over
      // the caller's checkpointed batch, so a second payload checkpoint
      // would only add serialization cost
      if (every) projected else projected.localCheckpoint()
    }
    // one view of the replica for both gates below; the apply ops run
    // their own guards and claims against fresh views
    val destLog = dest.openLog()
    // a fresh replica has nothing to delete yet (and deleteKeys would
    // rightly refuse a table with no committed snapshot)
    if (destLog.head.nonEmpty && nDel > 0L)
      dest.deleteKeys(del, keyCols, proven = n("ndNull") == 0L)
    if (nIns > 0L) {
      // MERGE-ON-READ apply (round-12): a MoR-capable replica takes the
      // insert batch as ONE position-delete + append commit
      // ([[upsertMor]]) — O(batch) data IO instead of rewriting every
      // touched partition per apply, and the replica keeps history
      // (time travel across applies) instead of expiring it. Same
      // keyed idempotence, so the at-least-once replay contract holds.
      if (!dest.morServable(needsHead = false, destLog))
        dest.upsert(ins, keyCols)
      else if (every && n("niNull") == 0L)
        dest.upsertMor(ins, keyCols, provenBounds = Some(bounded.map(c =>
          (c, facts(s"min_$c"), facts(s"max_$c")))))
      else dest.upsertMor(ins, keyCols)
    }
    // bounded read cost: sidecars stack one per apply (delete key lists
    // AND the MoR upsert's deletion vectors) — fold past the replica
    // config's threshold (amortized, like the manifest merge). The
    // replication key set is uniform, so the merged list always
    // anti-joins cleanly.
    dest.maybeConsolidateDeletes(b.sparkSession)
  }

  /** RESIDENT-stream CDC replication — [[replicateTo]] as a continuous
    * query: the [[readChangesStream]] feed applies to `dest` per
    * micro-batch through the same net-change compaction, so the replica
    * tracks this table with the trigger's latency instead of a
    * scheduler's. Delivery: `foreachBatch` replays a batch whose apply
    * completed but whose checkpoint commit did not — at-least-once —
    * and both apply ops are IDEMPOTENT under the keys (keyed upsert,
    * keyed delete list), so replica STATE converges to exactly-once,
    * the same argument as the cursor variant. Source maintenance
    * windows apply: a history rewrite fails the stream loudly
    * (generation-pinned offsets); restart it from a fresh checkpoint
    * after the replica is rebuilt or verified. */
  def startReplication(spark: SparkSession, dest: TableSink,
      keyCols: Seq[String], checkpointLocation: String,
      intervalSeconds: Int = 15): StreamingQuery = {
    require(keyCols.nonEmpty, "startReplication needs at least one key column")
    requireReplica(dest)
    // the generation the stream starts against: an apply-time
    // missing-file error (a concurrent copy-on-write rewrite deleted a
    // planned source file between batch planning and execution) is told
    // apart from genuine corruption by re-checking it — a flip refuses
    // with the SAME precise message the offset pin raises, so the
    // operator's remedy (fresh checkpoint after maintenance) is
    // identical whichever window the race lands in
    val gen0 = logGeneration()
    readChangesStream(spark).writeStream
      .option("checkpointLocation", checkpointLocation)
      .trigger(Trigger.ProcessingTime(s"$intervalSeconds seconds"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        try {
          // probe BEFORE checkpointing: isEmpty is a limit-1 partial
          // evaluation (cheap on both empty and data batches), while
          // checkpointing first would fully materialize every no-data
          // trigger's batch — measured ~1 CPU-s worse at the fixture's
          // cadence in the r15 A/B
          if (!batch.isEmpty)
            applyChangeBatch(dest, batch.localCheckpoint(), keyCols)
        } catch {
          case t: Throwable if TableSink.isMissingFileError(t) =>
            val cur = logGeneration()
            require(cur == gen0,
              s"the table's snapshot history was rewritten mid-stream " +
                s"(generation $gen0 -> $cur): checkpointed offsets are " +
                "unrecoverable — run rewriting maintenance with the " +
                "stream down, then restart the consumer from a fresh " +
                "checkpoint")
            throw t
        }
      }
      .start()
  }

  // --------------------------------------------------- metadata tables
  // Iceberg metadata-table analogues (`table.snapshots` / `table.history`
  // / `table.files`, reference connector.py loads catalogs whose
  // maintenance tooling queries exactly these): the commit log and the
  // file inventory exposed AS DataFrames, so audit/maintenance queries
  // compose with the rest of the engine instead of shelling out to file
  // listings.

  /** One row per committed snapshot — (version, parent_version,
    * committed_at, n_files, n_added_files, n_removed_files), oldest
    * first. DISTRIBUTED accounting: the driver touches only manifest
    * NAMES (O(versions × manifests) strings); the manifests' FILE LISTS
    * are read by executors — each distinct manifest exactly once via a
    * text scan — and per-version added/removed falls out of one
    * presence-gap pass over (file, version-rank) pairs. At ~1M files ×
    * long histories the old running driver-side `Set[String]` was the
    * largest remaining driver-memory term (Iceberg distributes its
    * metadata tables for the same reason); now the driver holds one
    * count pair per version. `committed_at` is the manifest's commit
    * wall-time at millisecond precision (the same clock
    * [[GraftCatalog]]'s TIMESTAMP AS OF resolves against). */
  def metaSnapshots(spark: SparkSession): DataFrame = {
    val log = openLog()
    require(config.versioned && log.head.nonEmpty,
      "metaSnapshots needs a versioned table with at least one commit")
    val vs = log.versions
    // rank = position in the RETAINED chain (expiry leaves gaps in the
    // version numbers; parent = previous retained version, as before)
    val namesOf = vs.map(v => v -> log.manifestNames(v)).toMap
    val pairs: Seq[(Int, String)] = vs.zipWithIndex.flatMap { case (v, r) =>
      namesOf(v).map(n => r -> logFile(n).toString)
    }
    import spark.implicits._
    val perRank: Map[Int, (Long, Long)] =
      if (pairs.isEmpty) Map.empty
      else {
        val maxRank = vs.length - 1
        val byPath = pairs.map { case (r, p) => (TableSink.stripScheme(p), r) }
          .toDF("__mf_key", "rank")
        // one executor-side read per distinct manifest; a manifest shared
        // by many snapshots fans out through the (cheap) name join
        val members = spark.read
          .text(pairs.map(_._2).distinct: _*)
          // a manifest line may carry per-file stats after a TAB — the
          // membership key is the path part only
          .select(substring_index(col("value"), "\t", 1).as("file"),
            TableSink.stripScheme(
              TableSink.decodePath(col("_metadata.file_path"))).as("__mf_key"))
          .where(length(col("file")) > 0 && !col("file").startsWith("#"))
          .join(broadcast(byPath), "__mf_key")
          .select(col("file"), col("rank"))
          .distinct()
        // presence-gap events per file: added where a presence run starts,
        // removed at the rank after one ends — O(1) events per run, so a
        // file appended once and never touched costs one event total
        val events = members
          .groupBy(col("file"))
          .agg(sort_array(collect_set(col("rank"))).as("ranks"))
          .select(explode(concat(
            expr("""transform(
                 filter(transform(ranks, (r, i) ->
                   CASE WHEN i = 0 OR element_at(ranks, i) < r - 1
                        THEN r END), x -> x IS NOT NULL),
                 r -> struct(r AS rank, 1 AS kind))"""),
            expr("""transform(concat(
                 filter(transform(ranks, (r, i) ->
                   CASE WHEN i > 0 AND element_at(ranks, i) < r - 1
                        THEN element_at(ranks, i) + 1 END),
                   x -> x IS NOT NULL),
                 CASE WHEN element_at(ranks, -1) < """ + maxRank +
              """ THEN array(element_at(ranks, -1) + 1)
                    ELSE array() END),
                 r -> struct(r AS rank, 0 AS kind))"""))).as("e"))
          .groupBy(col("e.rank").as("rank"), col("e.kind").as("kind"))
          .count()
          .collect() // O(versions) rows — the only driver materialization
        events.groupBy(_.getInt(0)).view.mapValues { rows =>
          val added = rows.find(_.getInt(1) == 1).map(_.getLong(2)).getOrElse(0L)
          val removed = rows.find(_.getInt(1) == 0).map(_.getLong(2)).getOrElse(0L)
          (added, removed)
        }.toMap
      }
    var running = 0L
    val rows = vs.zipWithIndex.zip(None +: vs.map(Some(_))).map {
      case ((v, r), parent) =>
        val (nAdded, nRemoved) = perRank.getOrElse(r, (0L, 0L))
        running += nAdded - nRemoved
        // manifest-layer observability: how many delta manifests this
        // snapshot references (merge-on-commit / compactManifests fold
        // shows as a drop to 1) and the streaming txn line, if the
        // commit carried one
        (v.toLong, parent.map(_.toLong),
          new java.sql.Timestamp(log.committedAtMs(v)),
          running, nAdded, nRemoved, namesOf(v).size.toLong,
          log.txn(v).map { case (id, b) => s"$id#$b" })
    }
    rows.toDF("version", "parent_version", "committed_at", "n_files",
      "n_added_files", "n_removed_files", "n_manifests", "txn")
  }

  /** One row per live data file — (file_path, record_count, size_bytes,
    * modified_at), Iceberg's `files` table, answered from the head
    * manifest alone: every commit records each file it adds with its
    * rows, bytes and modification time ([[entryLines]]), so no data file
    * is opened or scanned. An entry without those facts (written before
    * commits recorded them) costs one footer read on the driver, as does
    * every file of an unversioned table, which has no manifest.
    * `file_path` is the URI a scan reports as `_metadata.file_path`.
    * Driver cost is O(live files), the same as resolving the head
    * manifest for any read. */
  def metaFiles(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      fileInventory().map { f =>
        org.apache.spark.sql.Row(f.uri, f.facts.rows, f.facts.size,
          new java.sql.Timestamp(f.facts.mtimeMs))
      }.asJava,
      StructType.fromDDL("file_path STRING NOT NULL, " +
        "record_count BIGINT NOT NULL, size_bytes BIGINT, " +
        "modified_at TIMESTAMP"))

  /** Iceberg's `partitions` metadata table: one row per live partition —
    * (partition, record_count, file_count, size_bytes), the rollup a
    * maintenance pipeline reads to find skewed or fragmented partitions
    * before compaction. The partition identity is the data file's
    * directory spine under the table root (or, for a shallow clone's
    * source entries, under the source root), URI-encoded as in
    * `file_path`, so derived-transform partitions (day/bucket/truncate)
    * report their transformed values exactly as written. Like
    * [[metaFiles]] it rolls up the head manifest's recorded facts and
    * opens no data file. Unpartitioned tables report one row with
    * partition = ''. */
  def metaPartitions(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      fileInventory().groupBy(_.partition).toSeq.sortBy(_._1).map {
        case (p, fs) =>
          org.apache.spark.sql.Row(p, fs.map(_.facts.rows).sum,
            fs.size.toLong, fs.map(_.facts.size).sum)
      }.asJava,
      StructType.fromDDL("partition STRING NOT NULL, record_count BIGINT, " +
        "file_count BIGINT NOT NULL, size_bytes BIGINT"))

  /** The live data files behind [[metaFiles]] and [[metaPartitions]]:
    * the head manifest's entries (the directory listing on an unversioned
    * table), sorted by URI. */
  private def fileInventory(): Seq[TableSink.LiveFile] = {
    val log = openLog()
    val lines = log.head match {
      case Some(h) if config.versioned => log.lines(h)
      case _ => dataFilesRel()
    }
    // the scan's rendering: a qualified URI whose empty authority
    // collapses (`file:/x`, not `file:///x`), path percent-encoded
    def uriOf(p: org.apache.hadoop.fs.Path): String = {
      val q = WarehouseIO.fs(p).makeQualified(p).toUri
      new java.net.URI(q.getScheme,
        Option(q.getAuthority).filter(_.nonEmpty).orNull, q.getPath,
        null).toString
    }
    val roots = (config.tablePath +: log.cloneBase.toSeq)
      .map(r => uriOf(new org.apache.hadoop.fs.Path(r)).stripSuffix("/") + "/")
    lines.map { line =>
      val path = dataPath(TableLog.manifestLinePath(line))
      val uri = uriOf(path)
      val spine = roots.find(uri.startsWith).fold(uri)(uri.stripPrefix)
      TableSink.LiveFile(uri, spine.take(spine.lastIndexOf('/').max(0)),
        TableLog.entryFacts(line)
          .getOrElse(FileFooters.factsOf(path, config.fileFormat)))
    }.sortBy(_.uri)
  }

  /** Iceberg `all_delete_files` metadata-table analogue: one row per
    * LIVE merge-on-read delete sidecar — `(version, flavor, n_entries,
    * detail)` where flavor ∈ 'predicate' | 'keys' | 'positions',
    * `n_entries` is the sidecar's entry count (1 for a predicate; list
    * rows or deleted positions otherwise) and `detail` names the
    * predicate text or the key columns. The maintenance dashboard behind
    * [[consolidateDeletes]]/[[compact]] decisions: read amplification is
    * proportional to the rows here. Cost: driver manifest metadata and
    * deletion vectors, plus one tiny parquet count per key list. */
  def metaDeletes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(config.versioned,
      "delete sidecars are commit metadata — versioned tables only")
    val log = openLog()
    val rows = log.versions.flatMap { v =>
      val preds = log.predicates(v)
      val pred = Option.when(preds.nonEmpty)((v.toLong, "predicate",
        preds.size.toLong, preds.mkString(" OR ")))
      val kds = log.keyDirs(v)
      val keys = Option.when(kds.nonEmpty)(readSidecars(spark, kds)).map(k =>
        (v.toLong, "keys", k.count(), k.columns.mkString(",")))
      val pos = log.deletionVectors(v).map(dv => (v.toLong, "positions",
        DeletionVectors.cardinality(dv), "file_path,row_pos"))
      Seq(pred, keys, pos).flatten
    }
    rows.toDF("version", "flavor", "n_entries", "detail")
      .orderBy($"version", $"flavor")
  }

  /** Iceberg's `remove_orphan_files` analogue: delete data files present
    * in the table directory but referenced by NO committed snapshot — the
    * debris a crashed or killed write leaves behind (its files landed, its
    * manifest commit never did). Snapshot reads already ignore orphans
    * ([[readVersion]], GraftCatalog latest-commit resolution); this
    * reclaims the space and keeps the unversioned live-directory read
    * honest. Crashed `_staging/` write attempts past the grace window are
    * swept too. Returns the deleted relative paths.
    *
    * `graceMs` mirrors Iceberg's `older_than` and is what makes the sweep
    * safe under the optimistic commit protocol: a CONCURRENT staged write
    * renames its files into the table tree BEFORE claiming its version
    * ([[stagedWrite]]), so for a moment live-but-uncommitted files look
    * exactly like orphans. Only files whose modification time is at least
    * `graceMs` old are deleted — an in-flight commit finishes (or times
    * out on its bounded retries) long before the default window.
    * Pass `graceMs = 0` only when no writer can be live (maintenance
    * downtime, tests).
    *
    * Only meaningful on versioned tables — without manifests there is no
    * commit record to distinguish an orphan from data, so the call refuses
    * rather than guessing. Driver-side work is bounded file metadata (the
    * same listing the snapshot log itself writes, plus one mtime probe per
    * orphan CANDIDATE — not per table file). */
  def removeOrphans(
      graceMs: Long = TableSink.DefaultOrphanGraceMs): Seq[String] = {
    val log = openLog()
    require(config.versioned && log.head.nonEmpty,
      "removeOrphans needs a versioned table with at least one commit — " +
        "an unversioned directory has no manifest to define 'orphan'")
    require(graceMs >= 0L, "graceMs must be >= 0")
    val now = System.currentTimeMillis()
    // live branches count as references: an unpublished audit branch's
    // files are staged-but-committed (to the branch), not debris
    val referenced =
      (log.versions.flatMap(log.files) ++ branchFiles(log)).toSet
    val root = new HPath(config.tablePath)
    val orphans = dataFilesRel().filterNot(referenced)
      .filter(rel =>
        now - WarehouseIO.modifiedAtMs(new HPath(root, rel)) >= graceMs)
    orphans.foreach(rel => WarehouseIO.delete(new HPath(root, rel)))
    // crashed staged-write attempts: a successful stagedWrite removes its
    // own directory, so anything still under _staging past the grace
    // window is debris from a killed writer
    val staging = new HPath(root, "_staging")
    val deadStages = WarehouseIO.listing(staging).getOrElse(Nil)
      .filter(now - _.getModificationTime >= graceMs).map(_.getPath.getName)
    deadStages.foreach(n =>
      WarehouseIO.delete(new HPath(staging, n), recursive = true))
    // crashed MoR mutations and delete commits: a sidecar written
    // before a claim that never landed strands an unreferenced
    // `dv-*`/`keys-*`/`del-*` (or an older writer's `pos-*`) entry in the
    // log — never consulted (only snapshot-referenced sidecars of CLAIMED
    // snapshots fold), pure debris. Referenced = every live snapshot's
    // #dv/#keys/#del line.
    val referencedSc = log.versions.flatMap(log.refNames).toSet
    val deadSc = log.sidecarNames.filterNot(referencedSc)
      .filter(n => now - log.mtimeOf(n) >= graceMs)
      .sorted
    deadSc.foreach(n => WarehouseIO.delete(logFile(n), recursive = true))
    orphans ++ deadStages.map(n => s"_staging/$n") ++
      deadSc.map(n => s"_graft_log/$n")
  }

  /** One-call maintenance sweep (Delta `VACUUM` + Iceberg
    * `expire_snapshots` in the order they must run): age-based snapshot
    * expiry first (files referenced only by dropped history become
    * orphans), then the grace-windowed orphan + dead-staging sweep.
    * Returns (expired versions, deleted paths). The individual ops carry
    * the refusal contracts (tag pins, live sidecars) and grace semantics;
    * this is just the scheduled-job composition. */
  def vacuum(cutoffMs: Long, keepLast: Int = 1,
      graceMs: Long = TableSink.DefaultOrphanGraceMs): (Seq[Int], Seq[String]) = {
    // `cutoffMs` is an ABSOLUTE epoch cutoff (same name and meaning as
    // the delegate) — NOT a retention age; passing "7 days in millis"
    // would be a January-1970 cutoff that silently expires nothing
    val expired = expireSnapshotsOlderThan(cutoffMs, keepLast)
    val removed = removeOrphans(graceMs)
    (expired, removed)
  }

  /** Roll the table back to snapshot `version`: data files not in that
    * manifest are deleted and later snapshots are dropped. Only reaches
    * files appends created after `version` (rewrites would have expired
    * the manifest first), so the restored state is exactly what
    * [[readVersion]] showed. */
  def rollbackTo(version: Int): Unit = {
    // a tag pinning a post-target snapshot would dangle after its
    // manifest is deleted — refuse loudly (same contract as rewrites)
    val log = openLog()
    val dangling = log.tags.filter(tagVersion(log, _) > version)
    require(dangling.isEmpty,
      s"rollbackTo($version) would orphan tags pinning newer snapshots; " +
        s"drop them first: ${dangling.mkString(", ")}")
    // files a live branch still references survive the rollback — the
    // branch remains readable/publishable against the rolled-back main
    val keep = (log.files(version) ++ branchFiles(log)).toSet
    val root = new org.apache.hadoop.fs.Path(config.tablePath)
    dataFilesRel().filterNot(keep)
      .foreach(rel =>
        WarehouseIO.delete(new org.apache.hadoop.fs.Path(root, rel)))
    log.versions.filter(_ > version).foreach { v =>
      // snapshot-referenced sidecars resolve via the version file, so
      // they are captured BEFORE it is deleted
      log.refNames(v).foreach(n =>
        WarehouseIO.delete(logFile(n), recursive = true))
      WarehouseIO.delete(logFile(TableLog.versionFile(v)))
    }
    gcManifests() // deltas referenced only by the rolled-off snapshots
  }

  // ------------------------------------------------- branches (WAP)
  // Iceberg-style named branches over the same snapshot-manifest machinery:
  // a branch is an independent head under _graft_log/branch_<name>/, whose
  // manifests use the identical one-relative-path-per-line format as main.
  // The flagship use is WRITE-AUDIT-PUBLISH (reference README.md:95-105
  // positions the connector as the commit-coordination layer; WAP is the
  // staging workflow Iceberg builds on exactly this primitive): stage a
  // batch on a branch, audit it with full queries — main's readers never
  // see a row of it — then publish (fast-forward main to the branch head)
  // or drop the branch and reclaim its files via removeOrphans.
  //
  // Scale shape: branching is pure manifest metadata — creating, reading,
  // publishing, and dropping a branch never copies or rewrites a data
  // file. An appendToBranch writes exactly the files a main append would.

  /** Live branch names (empty when none or unversioned). A branch is
    * LIVE only once it carries a committed version: [[createBranch]]
    * writes `base` before `v00001.list`, so a crash between the two
    * leaves a bare `branch_<name>` dir — counting that phantom as live
    * would block every MoR sidecar commit until someone hand-dropped it,
    * and re-running createBranch (which overwrites the stale base) is
    * the natural heal. [[dropBranch]] still removes a phantom dir (it
    * checks the directory, not liveness). */
  def branches(): Seq[String] = openLog().branches

  /** Branch `name`'s log, refused when the branch has no committed
    * version. Branch snapshots use the same layered format as main and
    * reference manifests in the MAIN log dir — creating a branch shares
    * the head's manifests instead of copying a file list, and a branch
    * append commits one delta manifest exactly like a main append. */
  private def liveBranch(log: TableLog, name: String): TableLog = {
    val bl = log.branch(name)
    require(bl.versions.nonEmpty, s"branch '$name' does not exist; live " +
      s"branches: ${log.branches.mkString(", ")}")
    bl
  }

  /** Create branch `name` at main snapshot `fromVersion` (default: the
    * latest commit). The branch's v1 is a copy of that manifest; the
    * BASE version is recorded alongside it, so branch reads under
    * pending merge-on-read sidecars know which sidecar slice applies
    * (round-12 — creation used to refuse outright, making WAP and MoR
    * deletes mutually exclusive until a compaction ran). */
  def createBranch(name: String, fromVersion: Option[Int] = None): Unit = {
    val log = openLog()
    require(config.versioned && log.head.nonEmpty,
      "branches need a versioned table with at least one commit")
    val bl = log.branch(name)
    require(bl.versions.isEmpty, s"branch '$name' already exists")
    val v = fromVersion.getOrElse(log.versions.last)
    // share the snapshot's manifests by NAME (pure O(manifest count)
    // metadata)
    val names = log.manifestNames(v)
    // base BEFORE v1: the two-slice read must never see a branch whose
    // base slice it cannot scope (sidecar commits are refused while the
    // branch lives, so the set "sidecars <= base" is frozen from here)
    WarehouseIO.writeString(bl.file(TableLog.BranchBaseFile), v.toString)
    WarehouseIO.writeString(bl.file(TableLog.versionFile(1)),
      TableLog.renderSnapshot(names))
  }

  /** The main-snapshot version branch `name` was created at
    * ([[createBranch]] writes the `base` file before the branch's first
    * version); refuses a branch directory without one. */
  private def branchBaseVersion(log: TableLog, name: String): Int = {
    val bl = log.branch(name)
    val base = bl.baseVersion
    require(base.isDefined, s"branch '$name' has no base file at " +
      s"${bl.file(TableLog.BranchBaseFile)}: not a branch this table " +
        "format writes")
    base.get
  }

  /** Append `df` to branch `name`: the physical write is identical to
    * [[append]] (coerce → derive → cluster → land files in the table
    * directory), but the commit goes to the BRANCH manifest — main's head
    * does not move, and snapshot-resolved readers (readVersion, the
    * catalog) cannot see the new files until [[publishBranch]]. */
  def appendToBranch(name: String, df: DataFrame): Unit = {
    requireNoStreamingLog()
    liveBranch(openLog(), name)               // fails fast if no branch
    // same staged O(added)-commit protocol as [[append]], and the same
    // optimistic exclusive-create version claim (concurrent auditors on
    // one branch commute exactly like main appends)
    val added = stagedWrite(clusterForWrite(withDerived(Ops.ensureMessage(df))))
    val own = TableLog.writeManifestLines(logPath, entryLines(added))
    var attempt = 0
    var committed = false
    while (!committed) {
      attempt += 1
      val bl = TableLog.branchOf(logPath, name) // fresh per claim attempt
      val headV = bl.versions.last
      // O(manifest count) head read, same layered protocol as main
      val headNames = bl.manifestNames(headV)
      committed = WarehouseIO.writeStringIfAbsent(
        bl.file(TableLog.versionFile(headV + 1)),
        TableLog.renderSnapshot((headNames :+ own).distinct))
      // only an actual loss counts against the bound — a win on the
      // final attempt is a durable commit, not an error
      require(committed || attempt < 20,
        s"branch '$name' commit lost the version race 20 times")
    }
  }

  /** Read the branch head — the audit surface of WAP: every query the
    * table supports runs against staged-plus-inherited data while main
    * stays untouched. Under pending merge-on-read sidecars (round-12 —
    * creation used to refuse, making WAP and MoR deletes mutually
    * exclusive) the read applies exactly the sidecars committed at or
    * before the BRANCH BASE to the whole head: the base slice gets the
    * same subtraction a main read performs, and the staged slice is
    * filtered the way it WILL be once published — predicate and
    * key-list sidecars are row-scoped on this engine (a later append
    * matching a live predicate is subtracted on main too), while
    * deletion vectors reference only base-file coordinates, so staged
    * rows pass them untouched. Sidecar commits are refused while
    * branches live, so the base's sidecar set is frozen and the view is
    * stable for the audit's lifetime. */
  def readBranch(spark: SparkSession, name: String): DataFrame = {
    val log = openLog()
    val bl = liveBranch(log, name)
    val head = bl.files(bl.versions.last)
    val base = branchBaseVersion(log, name)
    if (log.pendingVersions(base).isEmpty) readFiles(log, spark, head)
    // capturePos, like every other applyDeletes call site (round-14): a
    // branch over a mixed-spine or clone manifest is a multi-relation
    // union, where a deletion vector's `_metadata` fold is unresolvable
    // unless captured per relation
    else applyDeletes(log, readFiles(log, spark, head, capturePos = true),
      base)
  }

  /** Publish: main's next snapshot becomes `current main head + the files
    * the branch staged` (branch head minus the branch's base manifest).
    * When main has not moved since [[createBranch]] this is exactly a
    * fast-forward to the branch head; when main took concurrent appends
    * (legal — rewriting ops are blocked while branches are live, so main
    * can only have GAINED files) it is Iceberg's append cherry-pick: the
    * staged files land without losing main's interim commits. Pure
    * metadata — no data file moves. Returns the new main version. The
    * branch stays live; drop it when done. */
  def publishBranch(name: String): Int = {
    val bl = liveBranch(openLog(), name)
    val base = bl.files(1).toSet
    val staged = bl.files(bl.versions.last).filterNot(base)
    // optimistic append-commit of the staged file set: concurrent main
    // appends (legal while a branch is live) merge instead of being lost
    commitAppendedFiles(staged)
  }

  /** Drop branch `name`. Files only the branch referenced become orphans —
    * [[removeOrphans]] reclaims them (the abandoned-audit cleanup path). */
  def dropBranch(name: String): Unit = {
    val log = openLog()
    val dir = TableLog.branchDirName(name)
    require(log.contains(dir), s"branch '$name' does not exist; live " +
      s"branches: ${log.branches.mkString(", ")}")
    WarehouseIO.delete(logFile(dir), recursive = true)
    gcManifests() // delta manifests only the branch referenced
  }

  // ------------------------------------------------------------- tags
  // Immutable named refs to committed snapshots (Iceberg tags, reference
  // README's snapshot pinning use case): a tag is one small file in the
  // log mapping name → version. Reading through a tag is exactly
  // [[readVersion]]; unlike a branch a tag never moves and takes no
  // writes. Rewriting ops refuse while tags exist (the same loud-failure
  // contract as branches — a rewrite invalidates the manifests tags pin).

  /** Tag `name` pinning snapshot `version` (default: the current head). */
  def createTag(name: String, version: Option[Int] = None): Unit = {
    val log = openLog()
    require(config.versioned && log.head.nonEmpty,
      "tags need a versioned table with at least one commit")
    val p = logFile(TableLog.tagFileName(name))
    require(!log.contains(p.getName), s"tag '$name' already exists")
    val v = version.getOrElse(log.versions.last)
    log.snapshotFile(v)                    // fails fast on a bad version
    WarehouseIO.writeString(p, v.toString)
  }

  /** Live tag names (empty when none or unversioned). */
  def tags(): Seq[String] = openLog().tags

  /** The snapshot version tag `name` pins. */
  def tagVersion(name: String): Int = tagVersion(openLog(), name)

  private def tagVersion(log: TableLog, name: String): Int = {
    val v = log.tagVersion(name)
    require(v.isDefined,
      s"tag '$name' does not exist; live tags: ${log.tags.mkString(", ")}")
    v.get
  }

  /** Read the snapshot a tag pins — time travel by name. */
  def readTag(spark: SparkSession, name: String): DataFrame = {
    val log = openLog()
    readVersion(log, spark, tagVersion(log, name))
  }

  def dropTag(name: String): Unit = {
    val log = openLog()
    val p = logFile(TableLog.tagFileName(name))
    require(log.contains(p.getName),
      s"tag '$name' does not exist; live tags: ${log.tags.mkString(", ")}")
    WarehouseIO.delete(p)
    ()
  }

  /** Zero-copy shallow clone (Delta `SHALLOW CLONE` / Iceberg snapshot-ref
    * semantics): the clone is a NEW versioned table whose v1 manifest
    * references the source head's data files by ABSOLUTE path — an
    * O(metadata) operation that copies no data. From then on the tables
    * diverge independently: appends to the clone land in the clone's own
    * directory (its manifests mix absolute source entries with local
    * ones), and the first rewriting op (upsert/delete/compact) fully
    * materializes the clone — after which it no longer references the
    * source at all. The source never observes the clone.
    *
    * Guards (refuse rather than silently diverge):
    *  - source must be versioned with a non-empty head (the clone
    *    contract is "the head snapshot", and an empty manifest cannot
    *    seed a readable table);
    *  - no pending merge-on-read deletes on the source head — sidecars
    *    live in the SOURCE's log, which the clone does not read; compact
    *    the source first so the cloned manifest already reflects them;
    *  - no re-cloning a clone: its manifest mixes two roots and a
    *    grandchild would need per-root basePaths; clone the original.
    *
    * SOURCE-side rewrites are the clone's standing hazard (Delta's
    * shallow-clone + VACUUM trade, documented not guarded — the source
    * never observes the clone): a compact/delete/upsert or vacuum on
    * the SOURCE deletes physical files the clone's manifest references,
    * and the clone then fails at scan time with missing files.
    * Materialize the clone first (compact it — it stops referencing the
    * source entirely) or re-clone after source maintenance. */
  def shallowCloneTo(destConfig: SinkConfig): TableSink = {
    require(config.versioned, "shallow clone requires a versioned source")
    val log = openLog()
    require(!log.isClone,
      "cannot clone a clone; clone the original table instead")
    val head = log.head
      .getOrElse(sys.error("shallow clone requires at least one snapshot"))
    require(log.pendingVersions(head).isEmpty,
      "source head has pending merge-on-read deletes; compact() it first")
    val files = log.files(head)
    require(files.nonEmpty, "cannot shallow-clone an empty table")
    val srcRoot = rootUriPath(config.tablePath)
    val abs = files.map(rel =>
      if (rel.startsWith("/")) rel else s"$srcRoot/$rel")
    val dest = new TableSink(destConfig.copy(versioned = true,
      fileFormat = config.fileFormat,
      partitionSpec = config.partitionSpec,
      tableSchema = config.tableSchema))
    // refuse a non-empty destination: writing the clone manifest over an
    // existing table would hide its log and strand its data files (they
    // would be neither in the new manifest nor ever re-listed)
    require(!WarehouseIO.exists(dest.logPath),
      s"clone destination '${destConfig.tableName}' already has a " +
        "snapshot log; clone into a fresh table")
    require(dest.dataFilesRel().isEmpty,
      s"clone destination '${destConfig.tableName}' already contains data " +
        "files; clone into a fresh table")
    // a RENAME/DROP is a declared-layer mapping over the same physical
    // files the clone now references: without the source's mapping the
    // clone would read pre-rename files' renamed column as NULL, and an
    // ALTER ADD on the clone could resurrect a dropped column's bytes
    // (round-13). The ALTER-declared schema rides along too (round-14,
    // the WIDEN twin): a type-widened source leaves mixed narrow/wide
    // file generations, and a clone without the declared schema would
    // footer-infer — pinning whichever width the sampled file carried
    // and failing the read on the other generation. Copy the sidecars
    // BEFORE the version file so a crash mid-clone can never leave a
    // readable clone missing its mapping; from here the two tables'
    // declared layers diverge independently.
    Seq("_graft_renames", "_graft_tombstones", "_graft_schema").foreach { n =>
      val srcF = new org.apache.hadoop.fs.Path(config.tablePath, n)
      if (WarehouseIO.isFile(srcF))
        WarehouseIO.writeString(
          new org.apache.hadoop.fs.Path(dest.config.tablePath, n),
          WarehouseIO.readString(srcF))
    }
    // the clone's v1 is layered like every snapshot; its one manifest
    // lives in the DEST's log dir (a clone resolves names against its
    // own log, never the source's)
    WarehouseIO.writeString(dest.logFile(TableLog.versionFile(1)),
      TableLog.renderSnapshot(
        Seq(TableLog.writeManifestLines(dest.logPath, abs))))
    WarehouseIO.writeString(dest.logFile(TableLog.CloneBaseFile), srcRoot)
    dest
  }

  /** Refuse a keyed-apply batch whose columns don't align with the
    * table's CURRENT schema (round-13): both upsert flavors project the
    * incoming batch onto the table's columns, so an incoming column the
    * table lacks would be SILENTLY DROPPED — the CDC-replication shape
    * (source evolved via ALTER ADD, replica didn't) loses the new
    * column's values forever. Derived partition columns are exempt
    * (hidden-transform reads project them away while the write side
    * re-derives them). The remedy is real: declare the evolved head
    * schema on this table (SinkConfig.tableSchema — old files NULL-fill)
    * or run SQL ALTER TABLE ADD COLUMNS, then re-apply. */
  private def requireAlignedBatch(incomingCols: Seq[String],
      baseCols: Seq[String], op: String): Unit = {
    // names compare case-INSENSITIVELY (round-14): Spark resolution is
    // case-insensitive by default, so a batch column differing only in
    // case projects fine — refusing it as both extra and missing would
    // reject batches the apply itself handles (mirrors tombstonedIn)
    val baseLower = baseCols.map(_.toLowerCase).toSet
    val incomingLower = incomingCols.map(_.toLowerCase).toSet
    val derived = partitionColNames.map(_.toLowerCase).toSet
    val extra = incomingCols
      .filterNot(c => baseLower(c.toLowerCase))
      .filterNot(c => derived(c.toLowerCase))
    require(extra.isEmpty,
      s"$op batch carries columns the table lacks: " +
        s"${extra.mkString(", ")} — the table's schema is behind the " +
        "incoming rows (a source-side ALTER before a replication apply " +
        "hits this); evolve the table first — declare the new head " +
        "schema (SinkConfig.tableSchema) or SQL ALTER TABLE ADD COLUMNS " +
        "— instead of silently dropping the values")
    val missing = baseCols.filterNot(c => incomingLower(c.toLowerCase))
    require(missing.isEmpty,
      s"$op batch is missing table columns: ${missing.mkString(", ")} — " +
        "supply them explicitly (NULL if semantically absent)")
  }

  /** One bounded pass over the batch enforcing the keyed-apply contract
    * every join below ASSUMES: key tuples non-null and unique within the
    * batch. Both violations were silent before (round-13): a NULL key
    * never matches the semi/anti join, so the row re-inserts on EVERY
    * apply — a CDC replica fed one NULL-keyed source row accumulates a
    * duplicate per batch forever; a duplicate tuple lands BOTH copies
    * (the anti-join removes the old rows, the union appends the whole
    * batch). O(batch) key-column aggregation — the same shuffle shape as
    * the incomingKeys distinct the apply itself runs — never O(table). */
  private def requireKeyedBatch(incoming: DataFrame, keyCols: Seq[String],
      op: String): Unit = {
    val viol = incoming.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__graft_n"))
      .where(keyCols.map(col(_).isNull).reduceLeft(_ || _) ||
        col("__graft_n") > 1)
      .limit(3).collect()
    require(viol.isEmpty,
      s"$op key contract violated on (${keyCols.mkString(", ")}): " +
        viol.map(r => s"${r.toSeq.init.mkString("(", ", ", ")")}×" +
          s"${r.getLong(r.length - 1)}").mkString("; ") +
        " — key tuples must be non-null and unique within the batch. A " +
        "NULL key never matches the keyed join (the row would re-insert " +
        "on every apply, silently duplicating); a repeated tuple would " +
        "land every copy. Pre-aggregate to one row per key (e.g. " +
        "dropDuplicates on the keys after ordering) and filter or repair " +
        "NULL keys upstream")
  }

  /** Upsert (merge-by-key): rows whose `keyCols` match an incoming row are
    * replaced; all other rows are kept; incoming rows append. The copy-on-
    * write merge Iceberg-class tables provide and an append-only connector
    * cannot. `incoming` must carry at most one row per key (dedup upstream;
    * [[startStreamUpsert]] does).
    *
    * Scale shape: only AFFECTED partitions are rewritten — both the
    * partitions the incoming rows land in AND the partitions currently
    * holding a matching key (a key may move partitions; missing the old
    * home would leave a stale duplicate). Their survivors anti-join the
    * incoming keys and, with the incoming rows, replace exactly those
    * partitions through [[copyOnWrite]]; unaffected partitions' files are
    * never rewritten. A key migration that empties an affected partition,
    * an unpartitioned table, a clone or pending merge-on-read sidecars
    * take the full rewrite-and-swap instead ([[copyOnWrite]]'s rule).
    */
  def upsert(df: DataFrame, keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    copyOnWrite("upsert") { log =>
      requireKeyedBatch(df, keyCols, "upsert")
      if (!WarehouseIO.exists(new org.apache.hadoop.fs.Path(config.tablePath))) {
        append(df); ((), None)
      } else {
        val incoming = withDerived(Ops.ensureMessage(df))
        val current = readLive(log, df.sparkSession, mergeSchema = false)
        requireAlignedBatch(incoming.columns.toSeq, current.columns.toSeq,
          "upsert")
        val incomingKeys = incoming.select(keyCols.map(col): _*).distinct()
        val parts = partitionColNames.map(col)
        // the partitions the batch lands in and the old homes of its keys
        val affected = partitionsHolding(incoming.select(parts: _*)
          .unionByName(current.join(incomingKeys, keyCols, "left_semi")
            .select(parts: _*)))
        val survivors = inPartitions(current, affected)
          .join(incomingKeys, keyCols, "left_anti")
        // existing rows passed at their own append; only the incoming
        // batch needs the gate (one bounded pass over the batch). An
        // empty batch touches no partition and commits nothing.
        ((), if (affected.tuples.isEmpty) None
          else Some(new Rewrite(survivors.unionByName(
              incoming.select(survivors.columns.map(col): _*)),
            Some(affected), fresh = Some(incoming))))
      }
    }
  }

  /** MERGE-ON-READ keyed upsert — the non-rewriting twin of [[upsert]]
    * and the CDC replication apply's O(batch) fast path: ONE commit
    * position-deletes the head rows whose key tuple appears in `df` and
    * appends `df`'s rows — no partition rewrite however big the
    * replica, no history expiry (time travel across applies comes
    * free). Same atomic `#dv`-in-snapshot shape as [[updateMor]], same
    * lost-race re-resolution, same key contract as [[upsert]] (keys
    * unique within the batch, non-null — ENFORCED since round-13, one
    * O(batch) pass), then one bounded aggregate for the batch's key
    * envelope. Sidecars stack one per apply —
    * pair with [[maybeConsolidateDeletes]] (the replication apply does)
    * or [[compact]]. Versioned parquet tables only; a table with no
    * commits yet takes the plain append. */
  def upsertMor(df: DataFrame, keyCols: Seq[String]): Unit =
    upsertMor(df, keyCols, provenBounds = None)

  /** [[upsertMor]]. `provenBounds`: the caller has proved the key tuples
    * of `df` non-null and unique (the replication apply, from its
    * winners pin) and supplies their (column, min, max) over
    * [[boundableKeys]], so the key-contract pass and the envelope
    * aggregate are skipped; every other check still runs. */
  private def upsertMor(df: DataFrame, keyCols: Seq[String],
      provenBounds: Option[Seq[(String, Any, Any)]]): Unit = {
    require(keyCols.nonEmpty, "upsertMor needs at least one key column")
    requireNoStreamingLog()
    requireNoLiveBranch("upsertMor")
    if (provenBounds.isEmpty) requireKeyedBatch(df, keyCols, "upsertMor")
    recoverSwap()
    require(config.versioned,
      "merge-on-read upsert needs versioned=true (deletion vectors are " +
        "commit metadata); use upsert() for copy-on-write")
    requireRowIndex("upsertMor")
    val spark = df.sparkSession
    val log0 = openLog() // after recoverSwap: the head the first attempt uses
    if (log0.head.isEmpty) { append(df); return }
    // derive partition columns UP FRONT (idempotent in the commit's own
    // withDerived) so the replacement aligns with the head frame's
    // columns on hidden-transform tables too
    val incoming = withDerived(Ops.ensureMessage(df))
    // the key contract (enforced above, or proved by the caller) makes
    // the batch's key tuples distinct: the semi-join's build side and the
    // envelope aggregate need no distinct of their own
    val incomingKeys = incoming.select(keyCols.map(col): _*)
    // the position resolve only needs head rows whose key COULD match a
    // batch key: the batch's per-column key envelope, pushed into the
    // head scan, lets parquet row-group stats skip the rest of the
    // replica. A superset — the semi-join decides membership; batch keys
    // are non-null, so dropping null-key head rows is sound.
    val bounds = provenBounds.getOrElse {
      val boundable = boundableKeys(incoming.schema, keyCols)
      if (boundable.isEmpty) Nil
      else {
        val aggs = boundable.flatMap(c => Seq(min(col(c)), max(col(c))))
        val row = incomingKeys.agg(aggs.head, aggs.tail: _*).head()
        boundable.zipWithIndex.map { case (c, i) =>
          (c, row.get(2 * i), row.get(2 * i + 1))
        }
      }
    }
    val keyEnvelope: Option[Column] = bounds.flatMap { case (c, lo, hi) =>
      if (lo == null) None // empty batch: no envelope
      else Some(col(c) >= lit(lo) && col(c) <= lit(hi))
    }.reduceOption(_ && _)
    retryLostRace(log0) { log =>
      val head = readHeadWithPos(spark, log)
      val base = keyEnvelope.fold(head)(head.filter(_))
      requireAlignedBatch(incoming.columns.toSeq,
        base.columns.toSeq.filterNot(c =>
          c == "__graft_file" || c == "__graft_pos"), "upsertMor")
      // the positions are evaluated ONCE, by commitMorMutation's
      // vectors: they describe exactly the head rows this commit's appends
      // replace (the appends are the batch itself, not derived from it)
      val matched = base.join(incomingKeys, keyCols, "left_semi")
        .select("__graft_file", "__graft_pos")
      // select resolves case-insensitively (a batch may legally carry
      // case-different names — round-14); toDF pins the TABLE's
      // canonical names on the written files either way
      val tableCols = base.columns.filterNot(c =>
        c == "__graft_file" || c == "__graft_pos")
      commitMorMutation(spark, matched,
        incoming.select(tableCols.map(col): _*).toDF(tableCols: _*))
      ()
    }
  }

  /** Run a merge-on-read `mutation` that resolves its positions against
    * the given log view and commits with ONE claim
    * ([[commitMorMutation]]); a lost version race re-runs it against a
    * fresh view, at most 5 attempts in all — first-committer-wins, never
    * positions resolved against one head landing on another. */
  private def retryLostRace[T](log: TableLog, attempt: Int = 1)(
      mutation: TableLog => T): T =
    try mutation(log)
    catch {
      case e: IllegalArgumentException if attempt < 5 &&
          Option(e.getMessage).exists(_.contains("lost the version race")) =>
        retryLostRace(openLog(), attempt + 1)(mutation)
    }

  /** The key columns of `schema` whose min/max can bound a parquet scan
    * (row-group stats): numeric, string, timestamp and date keys. */
  private def boundableKeys(schema: StructType,
      keyCols: Seq[String]): Seq[String] =
    keyCols.filter { c =>
      schema.find(_.name == c).orElse(schema.find(_.name.equalsIgnoreCase(c)))
        .exists(_.dataType match {
          case _: org.apache.spark.sql.types.NumericType |
               org.apache.spark.sql.types.StringType |
               org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.DateType => true
          case _ => false
        })
    }

  /** Commit `df` with DYNAMIC partition overwrite: exactly the partitions
    * present in `df` are replaced, every other partition is untouched.
    * `df`'s lineage must not read the table's own files (checkpoint first).
    */
  private def dynamicOverwrite(df: DataFrame): Unit = {
    val parts = partitionColNames
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prevMode = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try {
      val writer = df.write.mode("overwrite")
        .format(config.fileFormat).options(config.extraOptions)
      (if (parts.nonEmpty) writer.partitionBy(parts: _*) else writer)
        .save(config.tablePath)
    } finally prevMode match {
      case Some(m) => spark.conf.set(key, m)
      case None => spark.conf.unset(key)
    }
  }

  // ------------------------------------------- crash-safe rewrite & swap
  // Every copy-on-write op commits through [[copyOnWrite]], which picks a
  // partition-scoped dynamic overwrite or this full swap.

  /** A swap scratch directory NEXT TO the table root (it cannot live
    * inside — the swap renames the whole root), DOT-PREFIXED so neither
    * the SQL catalog's table listing nor any recursive data scan of the
    * warehouse can mistake a live `_rewriting` tmp dir or a crashed run's
    * `_pre_*` trash for a real table ("t_rewriting" used to surface in
    * SHOW TABLES mid-rewrite, and loadTable could read the half-written
    * dir). */
  private def scratchSibling(suffix: String): org.apache.hadoop.fs.Path = {
    val p = new org.apache.hadoop.fs.Path(config.tablePath)
    val name = s".${p.getName}$suffix"
    val sib = Option(p.getParent)
      .map(par => new org.apache.hadoop.fs.Path(par, name))
      .getOrElse(new org.apache.hadoop.fs.Path(name))
    // naming must agree with the catalog's DROP cleanup
    assert(WarehouseIO.scratchSiblings(p).map(_.getName).contains(name))
    sib
  }

  /** The swap's durable INTENT marker (a scratch-sibling FILE — it must
    * survive the root moving out from under it). Content:
    * `phase\ntrashName\ntmpName`. */
  private def swapMarker: org.apache.hadoop.fs.Path = scratchSibling("_swap")

  /** Mutex over the swap roll-forward (a scratch-sibling lock FILE).
    * Exactly one actor — the live [[executeSwap]] writer or one healer —
    * may move the roots at a time: without it, two concurrent healers
    * (two SQL sessions both load-healing, or a reader racing the live
    * writer) can both read a phase-1 marker, and the slower one replays
    * `moveTree(root, trash)` against the already-HEALED root, then
    * deleting `trash` deletes the entire new table. Acquired by exclusive
    * create ([[WarehouseIO.writeStringIfAbsent]] — one winner on any
    * store); released in-band; a crash strands it, so waiters break
    * locks older than [[WarehouseIO.swapLockStaleMs]] by mtime. */
  private def swapLock: org.apache.hadoop.fs.Path = scratchSibling("_swaplock")

  /** Block until this actor holds [[swapLock]]; returns the owner token
    * (release proves ownership before deleting — a broken-and-reclaimed
    * lock must not be deleted by its previous holder). */
  private def acquireSwapLock(): String = {
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + 600000L
    while (!WarehouseIO.writeStringIfAbsent(swapLock, token)) {
      val stale = scala.util.Try(
        System.currentTimeMillis() - WarehouseIO.modifiedAtMs(swapLock) >
          WarehouseIO.swapLockStaleMs).getOrElse(false)
      // crashed holder (a LIVE one heartbeats its mtime — see
      // swapLockHeartbeat — so only a process death ages out): break via
      // rename-to-tombstone, which admits exactly ONE breaker — the
      // old stale-check + delete could delete a FRESH lock another
      // waiter claimed between this thread's mtime read and its delete
      if (stale) WarehouseIO.breakLock(swapLock)
      else Thread.sleep(25)
      require(System.currentTimeMillis() < deadline,
        s"swap lock wait timed out for ${config.tablePath} — a healer or " +
          "rewriter has held the lock past the stale threshold without " +
          "its mtime aging out; inspect the _swaplock sibling")
    }
    token
  }

  /** Self-throttled heartbeat for a HELD [[swapLock]]: refreshes the
    * lock's mtime at most every staleMs/4, so however long the per-file
    * move of a large tree runs, waiters never see the live lock age past
    * the stale threshold and break it mid-swap (the hazard: a broken
    * live lock lets a second actor replay phase 1 against a root the
    * holder is still moving). Touch failures are swallowed — the lock
    * may legitimately be gone after release, and a missed beat only
    * risks an early break, which the phase-1 `exists(tmp)` guard and
    * idempotent per-file moves already make non-destructive. */
  private def swapLockHeartbeat(): () => Unit = {
    val interval = math.max(WarehouseIO.swapLockStaleMs / 4, 1L)
    var last = System.currentTimeMillis()
    () => {
      val now = System.currentTimeMillis()
      if (now - last >= interval) {
        last = now
        scala.util.Try(WarehouseIO.touch(swapLock))
        ()
      }
    }
  }

  private def releaseSwapLock(token: String): Unit = {
    if (scala.util.Try(WarehouseIO.readString(swapLock)).toOption
        .contains(token))
      WarehouseIO.delete(swapLock)
    ()
  }

  /** Execute a verified swap: `tmp` (the COMPLETE new table) replaces the
    * root, the old root lands in `trash` and is dropped. Object-store
    * SAFE: the commit point is one atomic single-file write (the intent
    * marker — object stores give atomic PUT even where directory rename
    * is per-object copy+delete); from the marker on, the swap only ever
    * rolls FORWARD ([[recoverSwap]] resumes the idempotent per-file
    * moves), so a crash at ANY step leaves a recoverable table and never
    * loses the rewrite. Before the marker, nothing moved — the abort
    * contract (table untouched) holds as before. On atomic-rename stores
    * the moves are the same two namespace renames as always; the marker
    * just makes the crash window self-healing instead of
    * restore-the-old. */
  private def executeSwap(tmp: org.apache.hadoop.fs.Path,
      trash: org.apache.hadoop.fs.Path): Unit = {
    val root = new HPath(config.tablePath)
    def mark(phase: Int): String =
      s"$phase\n${trash.getName}\n${tmp.getName}"
    // the mutex is held across marker + moves: a concurrent load-healer
    // seeing the marker blocks on the lock instead of racing the live
    // writer's moves (and finds the marker gone once we finish)
    val token = acquireSwapLock()
    val beat = swapLockHeartbeat()
    try {
      WarehouseIO.writeStringAtomic(swapMarker, mark(1)) // ← commit point
      WarehouseIO.swapStepHook("marker1")
      WarehouseIO.moveTree(root, trash, beat)
      WarehouseIO.writeStringAtomic(swapMarker, mark(2))
      WarehouseIO.swapStepHook("marker2")
      WarehouseIO.moveTree(tmp, root, beat)
      WarehouseIO.swapStepHook("moved")
      beat()
      WarehouseIO.delete(trash, recursive = true)
      WarehouseIO.delete(swapMarker)
      ()
    } finally releaseSwapLock(token)
  }

  /** Repair an interrupted swap. A live intent marker means the swap
    * COMMITTED — roll it forward: finish moving the old root out
    * (phase 1), then the new table in (phase 2), then clean up; every
    * move is per-file idempotent, so this is correct on stores without
    * atomic directory renames. A versioned table whose caller crashed
    * before its post-swap history reset gets its fresh v1 here. Without
    * a marker, the pre-marker-era contract applies to leftover trash
    * dirs: data stranded with no root is restored, trash beside an
    * intact root is dropped. */
  private[graft] def recoverSwap(): Unit = {
    val root = new HPath(config.tablePath)
    if (WarehouseIO.isFile(swapMarker)) {
      // serialize against the live writer and any other healer, then
      // RE-READ the marker under the lock: the common outcome of losing
      // the race is "already healed" (marker gone) — return, nothing to do
      val token = acquireSwapLock()
      val beat = swapLockHeartbeat()
      try {
      if (!WarehouseIO.isFile(swapMarker)) return
      val lines = WarehouseIO.readString(swapMarker).split("\n")
      val (phase, trashName, tmpName) = (lines(0), lines(1), lines(2))
      def sibling(name: String): HPath = Option(root.getParent)
        .map(par => new HPath(par, name)).getOrElse(new HPath(name))
      val (trash, tmp) = (sibling(trashName), sibling(tmpName))
      if (phase == "1") {
        // phase 1 is only meaningful while the NEW table still sits in
        // tmp; with tmp gone the swap already rolled forward (root IS the
        // new table) and moving root to trash would destroy it — the
        // guard makes a stale phase-1 marker harmless even if exclusion
        // were ever breached (e.g. a broken-then-reclaimed stale lock)
        if (WarehouseIO.exists(tmp)) {
          WarehouseIO.moveTree(root, trash, beat)
          WarehouseIO.writeStringAtomic(swapMarker, s"2\n$trashName\n$tmpName")
        }
      }
      if (WarehouseIO.exists(tmp)) WarehouseIO.moveTree(tmp, root, beat)
      beat()
      WarehouseIO.delete(trash, recursive = true)
      WarehouseIO.delete(swapMarker)
      // the interrupted caller never reached its post-swap history
      // reset: the rewritten root carries no _graft_log — snapshot the
      // recovered state as v1 so versioned reads resume. Versioned-ness
      // comes from the DURABLE declaration sidecars (carried through
      // every swap), not just this instance's config: a minimal recovery
      // handle (the SQL catalog healing a table on load) must restore
      // the owner's semantics, not its own.
      val declaredVersioned = config.versioned ||
        WarehouseIO.isFile(new HPath(root, "_graft_versioned")) ||
        (WarehouseIO.isFile(new HPath(root, "_graft_config")) &&
          WarehouseIO.readString(new HPath(root, "_graft_config"))
            .contains("versioned=true"))
      if (declaredVersioned && !WarehouseIO.isDir(logPath))
        writeFirstSnapshot(dataFilesRel())
      } finally releaseSwapLock(token)
      return
    }
    // `_pre_compact`: the trash name compaction swapped through before it
    // shared rewriteSwap — a crash of that version can still leave one
    Seq("_pre_rewrite", "_pre_compact").foreach { sfx =>
      val trash = scratchSibling(sfx)
      if (WarehouseIO.exists(trash)) {
        if (!WarehouseIO.exists(root)) WarehouseIO.rename(trash, root)
        else WarehouseIO.delete(trash, recursive = true)
      }
    }
  }

  /** Durable table DECLARATIONS ride every rewrite swap: the CHECK
    * constraints / writer config (`_graft_config`), the SQL-declared or
    * ALTER-evolved schema (`_graft_schema`), and the versioned marker are
    * the table's identity, not its history — losing them to a rewrite
    * would silently drop the constraint gate from subsequent catalog
    * INSERTs and un-declare evolved schemas. Copied INTO the tmp dir
    * BEFORE the renames, so every crash point leaves them intact (the
    * recovery paths then restore whichever dir holds them). History-class
    * sidecars stay behind on purpose: `_graft_log` (rewrites invalidate
    * history; a new generation is snapshotted after the swap, and a
    * clone's `clone_base` pointer dies with it — materialization is the
    * documented contract) and `_graft_stats`/`_graft_bloom` (file-keyed
    * stats are meaningless for the rewritten files; pruning without stats
    * is conservative — re-run analyze). */
  private def carryDeclarationSidecars(root: org.apache.hadoop.fs.Path,
      tmp: org.apache.hadoop.fs.Path): Unit = {
    Seq("_graft_config", "_graft_schema", "_graft_versioned",
        "_graft_tombstones", "_graft_renames").foreach { n =>
      val src = new HPath(root, n)
      if (WarehouseIO.isFile(src))
        WarehouseIO.writeString(new HPath(tmp, n), WarehouseIO.readString(src))
    }
  }

  /** Rewrite the whole table as `finalRows`, written as arranged, via
    * temp-dir + double rename. When `expectRows` is set the rewrite aborts
    * (table untouched) on a row-count mismatch; None skips the check
    * (callers whose expected count is not independently known). */
  private def rewriteSwap(finalRows: DataFrame,
      expectRows: Option[Long]): Unit = {
    val root = new HPath(config.tablePath)
    val trash = scratchSibling("_pre_rewrite")
    val tmp = scratchSibling("_rewriting")
    WarehouseIO.delete(tmp, recursive = true) // stale leftover, crashed run
    val parts = partitionColNames
    val writer = finalRows.write.mode("overwrite")
      .format(config.fileFormat).options(config.extraOptions)
    (if (parts.nonEmpty) writer.partitionBy(parts: _*) else writer)
      .save(tmp.toString)
    expectRows.foreach { expect =>
      // the written files' footers count the rows, with no Spark job (a
      // scan of the dot-prefixed scratch directory is a hidden path)
      val rewritten = WarehouseIO.dataFileStatuses(tmp).map { case (_, st) =>
        FileFooters.rowCount(st, config.fileFormat) }.sum
      if (rewritten != expect) {
        WarehouseIO.delete(tmp, recursive = true)
        throw new IllegalStateException(
          s"rewrite produced $rewritten rows, expected $expect — aborted, " +
            "original table untouched")
      }
    }
    carryDeclarationSidecars(root, tmp)
    executeSwap(tmp, trash)
  }

  /** A copy-on-write rewrite as an op computes it. `rows` become the
    * contents of the partitions it replaces: the whole table when
    * `partitions` is None; exactly those `rows` land in when it is
    * [[Partitions.none]]; otherwise the partitions named there (at least
    * one; one may end up empty) and those `rows` land in. `fresh` holds
    * the rows the op adds or changes, which pass the CHECK-constraint
    * gate — rows the table already holds passed it at their own write. A full rewrite
    * verifies the row count `expect` before its swap (evaluated only
    * there; None skips the check). `preserveLayout`: `rows` carry the
    * op's own physical clustering, which the sink's write repartition
    * would destroy. */
  private final class Rewrite(val rows: DataFrame,
      val partitions: Option[Partitions] = None,
      val fresh: Option[DataFrame] = None,
      expect: => Option[Long] = None,
      val preserveLayout: Boolean = false) {
    lazy val expectRows: Option[Long] = expect
  }

  /** The partitions holding `df`'s rows and their total row count, from
    * ONE aggregate (bounded: one row per partition). An unpartitioned
    * table is one partition, the empty tuple. */
  private def partitionsOf(df: DataFrame): (Partitions, Long) = {
    val parts = df.select(partitionColNames.map(col): _*)
    val counted = parts.groupBy(parts.columns.map(col).toSeq: _*).count()
      .collect().toSeq.filter(r => r.getLong(r.length - 1) > 0L)
    (Partitions(counted.map(r => Row.fromSeq(r.toSeq.init)), parts.schema),
      counted.map(r => r.getLong(r.length - 1)).sum)
  }

  /** [[partitionsOf]] without the count, so an unpartitioned table
    * launches no job. */
  private def partitionsHolding(df: DataFrame): Partitions =
    if (partitionColNames.isEmpty) Partitions(Seq(Row.empty), new StructType())
    else partitionsOf(df)._1

  /** `df` joined (`how`: `left_semi` or `left_anti`) to the partition
    * tuples in `tuples`, NULL-safely: a NULL partition value is a
    * partition like any other. */
  private def byPartition(df: DataFrame, tuples: DataFrame,
      how: String): DataFrame = {
    val parts = partitionColNames
    val tv = parts.map(_ + "__graft_tv")
    val clash = tv.filter(df.columns.contains)
    require(clash.isEmpty,
      s"partition bookkeeping columns collide with ${clash.mkString(", ")}" +
        " — rename those columns first")
    df.join(broadcast(tuples.toDF(tv: _*)),
      parts.zip(tv).map { case (p, t) => col(p) <=> col(t) }.reduce(_ && _),
      how)
  }

  /** `df`'s rows in the partitions `p` names; all of them on an
    * unpartitioned table, which is one partition. */
  private def inPartitions(df: DataFrame, p: Partitions): DataFrame =
    if (partitionColNames.isEmpty) df
    else if (p.tuples.isEmpty)
      df.sparkSession.createDataFrame(java.util.List.of[Row](), df.schema)
    else byPartition(df, p.frame(df.sparkSession), "left_semi")

  /** The whole table's final rows for a partition-scoped [[Rewrite]]:
    * every row of the partitions it leaves alone, then `rows`. */
  private def withUntouched(log: TableLog, rows: DataFrame,
      named: Partitions): DataFrame = {
    val spark = rows.sparkSession
    val landed = rows.select(partitionColNames.map(col): _*)
    val replaced =
      if (named.tuples.isEmpty) landed
      else landed.unionByName(named.frame(spark))
    byPartition(readLive(log, spark, mergeSchema = false), replaced,
      "left_anti").unionByName(rows)
  }

  /** The commit of every copy-on-write op. Runs the guards once — no
    * streaming-sink log, an interrupted swap healed, no live branch or tag
    * — and hands `plan` the log view they read; `plan` returns the op's
    * result and its [[Rewrite]], None when nothing changes (an op that
    * touches no partition returns None too). The fresh rows pass the
    * constraint gate, then ONE rule picks the write:
    *  - a partition-scoped DYNAMIC OVERWRITE of exactly the replaced
    *    partitions, O(touched) rather than O(table), on a partitioned
    *    table — unless it is a shallow clone (the re-snapshot would drop
    *    the partitions it still references in its source), pending
    *    merge-on-read sidecars sit at the head (expiry would drop them
    *    while untouched partitions still hold the rows they subtract),
    *    its head holds files of an earlier partition spec (their rows
    *    read with NULL new-spec partition values, which no dynamic
    *    overwrite of the new spine replaces), or a named partition ends
    *    up empty, which a dynamic overwrite cannot express;
    *  - otherwise the row-count-verified full [[rewriteSwap]].
    * Before any write but the scoped one of an op that names
    * [[Partitions.none]] (its rows replace exactly where they land),
    * `rows` are pinned — the overwrite must not read the files it
    * replaces — and the pin's own pass observes where they land, plus the
    * constraint counts when every row is fresh. A NULL partition value is
    * a partition like any other. History expires once, after either
    * write. */
  private def copyOnWrite[T](op: String)(
      plan: TableLog => (T, Option[Rewrite])): T = {
    requireNoStreamingLog()
    recoverSwap()
    val log = openLog()
    requireNoBranches(op, log)
    val (result, rewrite) = plan(log)
    rewrite.foreach { rw =>
      val rows = withDerived(rw.rows)
      def arranged(df: DataFrame) =
        if (rw.preserveLayout) df else clusterForWrite(df)
      // a mixed-spine head reads an earlier spec's rows with NULL derived
      // partition values (readLive); the full rewrite derives them from
      // their source columns, so they land, and prune, where they belong
      def swap(df: DataFrame): Unit = rewriteSwap(arranged(
        if (!mixedSpine(log)) df
        else derivedColumns(df).foldLeft(df) { case (d, (n, c)) =>
          d.withColumn(n, coalesce(col(n), c)) }), rw.expectRows)
      val named = rw.partitions.filter(_ => partitionColNames.nonEmpty)
      lazy val scoped = !(log.isClone || mixedSpine(log) ||
        log.head.exists(log.pendingVersions(_).nonEmpty))
      val pins = named.exists(p => !(scoped && (p eq Partitions.none)))
      // every row fresh and about to be pinned: the pin's pass gates them
      val gateInPin = pins && rw.fresh.exists(_ eq rw.rows) &&
        config.checkConstraints.nonEmpty
      if (!gateInPin) rw.fresh.foreach(requireConstraints(_, op))
      named match {
        case None => swap(rows)
        case Some(_) if !pins => dynamicOverwrite(arranged(rows))
        case Some(p) =>
          val (pinned, seen) = pinObserved(rows, collect_set(
            struct(partitionColNames.map(col): _*)).as("landed") +:
            (if (gateInPin) violationCounts else Nil))
          if (gateInPin)
            refuseViolations(config.checkConstraints.indices.map(i =>
              seen(s"c$i")), op)
          val landed = seen("landed").asInstanceOf[Seq[Row]]
            .map(_.toSeq).toSet
          if (scoped && p.tuples.forall(t => landed(t.toSeq)))
            dynamicOverwrite(arranged(pinned))
          else swap(withUntouched(log, pinned, p))
      }
      expireSnapshots() // a rewrite invalidates history
    }
    result
  }

  /** Shared protocol of both clustered rewrites ([[clusterBy]],
    * [[clusterByHilbert]]): [[copyOnWrite]]'s guards plus the clone
    * manifest and TEMP-COLUMN CLASHES (a destructive rewrite silently
    * replacing-then-dropping a real column of a temp name would lose its
    * data with history expired), then its row-count-verified full
    * rewrite with the sink's own repartition suppressed. One body so a
    * guard added for one curve cannot drift away from the other. */
  private def clusteredRewrite(spark: SparkSession, op: String,
      tempCols: Seq[String])(cluster: DataFrame => (DataFrame, Long)): Unit =
    copyOnWrite(op) { log =>
      require(!log.isClone || log.head.nonEmpty,
        s"$op on a clone needs a committed manifest")
      val cur = readLive(log, spark, mergeSchema = false)
      val clash = tempCols.filter(cur.columns.contains)
      require(clash.isEmpty,
        s"$op's temp layout columns collide with table columns " +
          s"${clash.mkString(", ")} — rename them first")
      // OPTIMIZATION r15 (guide §2.4 one pass, not two): the callback's
      // bounds aggregate already scans the table once, so it reports the
      // row count from the SAME pass — the former separate cur.count()
      // was a second full scan just to seed the swap verification.
      val (clustered, totalRows) = cluster(cur)
      ((), if (totalRows == 0) None
        else Some(new Rewrite(clustered, expect = Some(totalRows),
          preserveLayout = true)))
    }

  /** Z-ORDER clustered rewrite — Delta `OPTIMIZE ZORDER BY` / Iceberg
    * `rewrite_data_files(sort_order => zorder(...))` analogue: the whole
    * table rewrites range-clustered by the Morton interleave of
    * `dimExprs` (SQL expressions yielding longs, e.g. `unix_micros(ts)`,
    * `CAST(value * 100 AS BIGINT)`), so that with [[ZoneMaps]] stats a
    * rectangle predicate on ANY clustered dimension reads O(perimeter)
    * files instead of O(table). Bounds are computed in one aggregate;
    * the rewrite is [[rewriteSwap]]'s crash-safe swap with the sink's
    * own write repartition suppressed (it would destroy the layout).
    * Pending merge-on-read sidecars materialize through the rewrite
    * (the clustered rows come from [[read]]) and history expires — the
    * same contract as [[compact]]. Stale zone-map/Bloom stats become
    * conservative, not wrong; re-run analyze for the tight zones.
    * Row-count-verified before the destructive step. */
  def clusterBy(spark: SparkSession, dimExprs: Seq[String],
      nRanges: Int = 48, bits: Int = 16): Unit = {
    require(dimExprs.nonEmpty, "clusterBy needs at least one dimension")
    val dimCols = dimExprs.indices.map(i => s"__zd_$i")
    clusteredRewrite(spark, "clusterBy", dimCols :+ "__z") { cur =>
      val withDims = dimExprs.zipWithIndex.foldLeft(cur) {
        case (d, (e, i)) => d.withColumn(s"__zd_$i", expr(e).cast("long"))
      }
      val (b, n) = ZOrder.boundsAndCount(withDims, dimCols)
      if (n == 0L) (cur, 0L)
      else (ZOrder.cluster(withDims,
          dimCols.map(c => (c, b(c)._1, b(c)._2)), nRanges, bits)
        .drop(dimCols: _*), n)
    }
  }

  /** Hilbert-clustered rewrite — the space-filling-curve successor to
    * [[clusterBy]] (Databricks liquid clustering's curve; see
    * [[Hilbert]]): same crash-safe rewrite-swap and guards, but
    * consecutive cluster keys are always grid-adjacent, so the range
    * files cut from the curve are tighter rectangles and a 2-D predicate
    * touches fewer of them at the same file count. Exactly two
    * dimensions (the classic xy2d walk). */
  def clusterByHilbert(spark: SparkSession, xExpr: String, yExpr: String,
      nRanges: Int = 48, bits: Int = 8): Unit = {
    val dimCols = Seq("__zd_0", "__zd_1")
    // Hilbert.cluster/withHilbert inject their own temp columns too —
    // all of them must be clash-guarded, not just the dimension pair
    clusteredRewrite(spark, "clusterByHilbert",
        dimCols ++ Seq("__nx0", "__ny0", "__h")) { cur =>
      val withDims = cur
        .withColumn("__zd_0", expr(xExpr).cast("long"))
        .withColumn("__zd_1", expr(yExpr).cast("long"))
      val (b, n) = ZOrder.boundsAndCount(withDims, dimCols)
      if (n == 0L) (cur, 0L)
      else (Hilbert.cluster(withDims,
          ("__zd_0", b("__zd_0")._1, b("__zd_0")._2),
          ("__zd_1", b("__zd_1")._1, b("__zd_1")._2), nRanges, bits)
        .drop(dimCols: _*), n)
    }
  }

  /** Delete rows matching `condition`; returns the deleted count. A
    * condition evaluating to NULL keeps the row (SQL DELETE semantics —
    * the predicate is coalesced to false, never silently dropping
    * NULL-predicate rows).
    *
    * One aggregate finds the partitions holding matched rows and the
    * count; their survivors replace exactly those partitions through
    * [[copyOnWrite]]. A partition the predicate sweeps entirely (dynamic
    * overwrite CANNOT express an emptied partition — the stale directory
    * would silently survive) and an unpartitioned table take the whole
    * surviving table's rewrite and swap instead, row-count-verified
    * before the destructive step.
    */
  def delete(spark: SparkSession, condition: Column): Long =
    copyOnWrite("delete") { log =>
      if (!WarehouseIO.exists(new org.apache.hadoop.fs.Path(config.tablePath)))
        (0L, None)
      else {
        val current = readLive(log, spark, mergeSchema = false)
        val cond = coalesce(condition, lit(false)) // NULL predicate keeps the row
        val (touched, nDeleted) = partitionsOf(current.filter(cond))
        (nDeleted, if (nDeleted == 0L) None
          else Some(new Rewrite(inPartitions(current, touched).filter(!cond),
            Some(touched), expect = Some(current.count() - nDeleted))))
      }
    }

  /** SQL-standard UPDATE — rows matching `condition` take the `set`
    * values (cast to their column's type, ANSI store-assignment), every
    * other row is untouched; a NULL condition keeps the row unchanged
    * (same coalesce-to-false contract as [[delete]]). `set` columns are
    * name-resolved against [[read]]'s output, so callers pass
    * `functions.expr`/`col`-built Columns over the table's own columns
    * (the new value may reference the row's current values:
    * `"value" -> expr("value * 2")`).
    *
    * Partition-affecting assignments are REFUSED (a derived partition
    * column, or any source column a partition transform derives from):
    * an updated row could move between partitions, which neither the
    * partition-scoped commit below nor the stale derived column could
    * express correctly — re-home rows with [[delete]] + [[append]] or
    * [[upsert]] instead. With that guarantee every updated row stays in
    * its partition, so the commit rewrites ONLY the touched partitions
    * via dynamic overwrite ([[delete]]'s shape — at 100 TB an update
    * touching one partition rewrites one partition, not the table);
    * unpartitioned tables, shallow clones, and tables with pending
    * merge-on-read sidecars take [[copyOnWrite]]'s full
    * row-count-verified rewrite.
    * Changed rows re-pass the CHECK-constraint gate (one bounded pass
    * over the matched rows, not the table). Returns the updated-row
    * count.
    */
  def update(spark: SparkSession, condition: Column,
      set: Seq[(String, Column)]): Long = {
    require(set.nonEmpty, "update needs at least one SET assignment")
    require(set.map(_._1).distinct.size == set.size,
      "update assigns a column more than once: " +
        set.map(_._1).diff(set.map(_._1).distinct).distinct.mkString(", "))
    copyOnWrite("update") { log =>
      if (!WarehouseIO.exists(new org.apache.hadoop.fs.Path(config.tablePath)))
        (0L, None)
      else {
        val current = readLive(log, spark, mergeSchema = false)
        val missing = set.map(_._1).filterNot(current.columns.contains)
        require(missing.isEmpty,
          s"update SET references unknown columns: ${missing.mkString(", ")}")
        val partitionAffecting =
          (partitionColNames ++ config.partitionSpec.map(_.source)).toSet
        val partHit = set.map(_._1).filter(partitionAffecting)
        require(partHit.isEmpty,
          s"update SET touches partition-deriving columns ${partHit.mkString(", ")}" +
            " — an updated row could move partitions; use delete + append or upsert")
        val cond = coalesce(condition, lit(false)) // NULL predicate keeps the row
        val setMap = set.toMap
        val updatedCols = current.schema.fields.toIndexedSeq.map { f =>
          setMap.get(f.name) match {
            case Some(v) => when(cond, v.cast(f.dataType))
              .otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }
        val (touched, nUpdated) = partitionsOf(current.filter(cond))
        // partition columns are untouched by the SET (guarded above), so
        // every row stays home: only the touched partitions rewrite, and
        // only the changed rows re-pass the constraint gate
        (nUpdated, if (nUpdated == 0L) None
          else Some(new Rewrite(
            inPartitions(current, touched).select(updatedCols: _*),
            Some(touched),
            fresh = Some(current.filter(cond).select(updatedCols: _*)),
            expect = Some(current.count()))))
      }
    }
  }

  /** MERGE-ON-READ update — the non-rewriting twin of [[update]] and the
    * last O(table-bytes) DML shape retired: ONE commit both position-
    * deletes the matched rows (resolved against the head snapshot, like
    * [[deletePositions]]) and appends their replacements, so the
    * statement costs O(matched rows) data IO however large the table is.
    * History is PRESERVED (no rewrite, no expiry — time travel before
    * the commit shows the old values), the changelog replays it as the
    * matched rows' deletes plus the replacements' inserts at one
    * version, and [[compact]] materializes later.
    *
    * Atomic and first-committer-wins through [[commitMorMutation]]: a
    * lost version race re-resolves the positions against the new head.
    *
    * Unlike [[update]], SET may touch partition-deriving columns: the
    * replacement rows re-derive their partitions and land wherever they
    * now belong — the originals are position-deleted in place.
    * Versioned parquet tables only; refused while a branch is live.
    * Returns the matched-row count. */
  def updateMor(spark: SparkSession, condition: Column,
      set: Seq[(String, Column)]): Long = {
    require(set.nonEmpty, "updateMor needs at least one SET assignment")
    require(set.map(_._1).distinct.size == set.size,
      "updateMor assigns a column more than once: " +
        set.map(_._1).diff(set.map(_._1).distinct).distinct.mkString(", "))
    requireNoStreamingLog()
    // the delete flavors' branch contract: a branch's audit view reads
    // through the sidecar set frozen at its creation (tags are fine)
    requireNoLiveBranch("updateMor")
    recoverSwap()
    require(config.versioned,
      "merge-on-read update needs versioned=true (deletion vectors are " +
        "commit metadata); use update() for copy-on-write")
    requireRowIndex("updateMor")
    val log0 = openLog() // after recoverSwap: the head the first attempt uses
    require(log0.head.nonEmpty,
      "updateMor needs at least one committed snapshot")
    val cond = coalesce(condition, lit(false)) // NULL predicate keeps rows
    val setMap = set.toMap
    val colsKnown = readLive(log0, spark, mergeSchema = false).columns
    val missing = set.map(_._1).filterNot(colsKnown.contains)
    require(missing.isEmpty,
      s"updateMor SET references unknown columns: ${missing.mkString(", ")}")
    retryLostRace(log0) { log =>
      val base = readHeadWithPos(spark, log)
      // pin matched rows ONCE: the deletion vectors and the replacement
      // rows must describe the same physical rows
      val matched = base.where(cond).localCheckpoint()
      val n = matched.count()
      if (n > 0L) {
        val dataCols = base.schema.fields.toIndexedSeq
          .filterNot(f => f.name == "__graft_file" || f.name == "__graft_pos")
          .map { f =>
            setMap.get(f.name) match {
              case Some(v) => v.cast(f.dataType).as(f.name)
              case None => col(f.name)
            }
          }
        commitMorMutation(spark, matched.select("__graft_file",
          "__graft_pos"), matched.select(dataCols: _*))
      }
      n
    }
  }

  /** Rename entries whose OLD physical name is still a field of
    * `declared` — i.e. the table's columns were renamed AFTER that
    * schema was pinned. A streaming source pins its schema at start; a
    * non-empty result means post-rename files would read NULL under the
    * pinned name and the emitted shape would no longer match the
    * stream's declared schema, so the source refuses with the restart
    * remedy (Delta's schema-change contract) instead of dying in a
    * generic unresolved-column error at the batch's projection. */
  def renamesSince(declared: org.apache.spark.sql.types.StructType)
      : Map[String, String] =
    renameMap.filter { case (old, _) =>
      declared.fieldNames.exists(_.equalsIgnoreCase(old)) }

  /** Dropped-column tombstones (`_graft_tombstones`, written by the SQL
    * catalog's `ALTER TABLE … DROP COLUMN`) that are still fields of
    * `declared`. A streaming source whose pinned schema names a dropped
    * column cannot serve its declared shape faithfully for post-drop
    * commits — new files NULL-fill it silently — so it refuses, the
    * DROP twin of [[renamesSince]]. Batch surfaces stay permissive: a
    * declared schema may deliberately read a dropped column's
    * historical bytes. */
  def tombstonedIn(declared: org.apache.spark.sql.types.StructType)
      : Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(config.tablePath,
      "_graft_tombstones")
    if (!WarehouseIO.isFile(p)) Nil
    else {
      val dead = WarehouseIO.readString(p)
        .split("\n").filter(_.nonEmpty).map(_.toLowerCase).toSet
      declared.fieldNames.filter(f => dead.contains(f.toLowerCase)).toSeq
    }
  }

  /** Column names (lower-cased) referenced by LIVE merge-on-read delete
    * sidecars — predicate attribute references plus key-list key
    * columns. The ALTER door refuses DROP COLUMN on any of these
    * (round-14): a pending predicate over a vanished column resolves
    * BENEATH the projection — old files serve their physical value,
    * post-drop files NULL, and `not(NULL)` silently drops every
    * post-drop row — while a key-list anti-join dies unresolved. The
    * remedy is real: consolidate/compact materializes the sidecars,
    * then the DROP is a pure declared-layer projection again.
    * Cost: O(sidecars) metadata — predicate parse + one footer read
    * per key sidecar. RENAME needs no refusal: [[applyDeletes]] folds
    * sidecar references through the rename map. */
  def pendingSidecarColumnRefs(spark: SparkSession): Set[String] = {
    if (!config.versioned) return Set.empty
    val log = openLog()
    log.versions.iterator.flatMap { v =>
      val preds = log.predicates(v).flatMap { p =>
        scala.util.Try(org.apache.spark.sql.graft.Bridge
          .parseExpression(spark, p)).toOption.toSeq.flatMap(_.collect {
            case a: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute => a.nameParts.head.toLowerCase
          })
      }
      val keys = log.keyDirs(v).flatMap(kd =>
        readSidecars(spark, Seq(kd)).schema.fieldNames
          .map(_.toLowerCase))
      preds ++ keys
    }.toSet
  }

  /** The ALTER-evolved declared schema (`_graft_schema`, written
    * atomically by the SQL catalog's ALTER TABLE), when one governs
    * this table. Streaming sources pin against THIS when present:
    * after a type-widening ALTER the table mixes narrow and wide file
    * generations, and only the declared schema makes the parquet/orc
    * readers upcast the narrow ones — footer inference could pin
    * either type depending on which file it sampled. */
  def alterDeclaredSchema
      : Option[org.apache.spark.sql.types.StructType] = {
    val p = new org.apache.hadoop.fs.Path(config.tablePath, "_graft_schema")
    if (!WarehouseIO.isFile(p)) None
    else Some(org.apache.spark.sql.types.DataType
      .fromJson(WarehouseIO.readString(p))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Columns whose CURRENT declared type differs from `declared` —
    * i.e. the table was retyped (type-WIDENING ALTER, the only retype
    * the catalog admits) after that schema was pinned. A streaming
    * source serving the pinned narrow shape would die in the parquet
    * reader's raw conversion error on the first post-widen file;
    * non-empty here means the source must refuse with the restart
    * remedy instead — the WIDEN row of the round-13 evolution matrix,
    * completing [[renamesSince]] (RENAME) and [[tombstonedIn]] (DROP).
    * Returns `(column, pinnedType, declaredType)` triples. */
  def retypedSince(declared: org.apache.spark.sql.types.StructType)
      : Seq[(String, org.apache.spark.sql.types.DataType,
             org.apache.spark.sql.types.DataType)] =
    alterDeclaredSchema.fold(Seq.empty[(String,
        org.apache.spark.sql.types.DataType,
        org.apache.spark.sql.types.DataType)]) { cur =>
      declared.fields.toSeq.flatMap { f =>
        cur.fields.find(_.name.equalsIgnoreCase(f.name))
          .filter(_.dataType != f.dataType)
          .map(c => (f.name, f.dataType, c.dataType))
      }
    }

  /** The head snapshot's semantic rows WITH their physical coordinates
    * (`__graft_file`, `__graft_pos`) — the target frame a merge-on-read
    * mutation resolves its deletion vectors against. */
  private[graft] def readHeadWithPos(spark: SparkSession,
      log: TableLog = openLog()): DataFrame = {
    val head = log.versions.last
    applyDeletes(log,
      readFiles(log, spark, log.files(head), capturePos = true), head,
      keepPosCols = true)
  }

  /** ONE atomic merge-on-read MUTATION commit — the shared primitive
    * under [[updateMor]], [[upsertMor]] and the SQL MERGE mor mode:
    * `positions` (file path, row ordinal) subtract and `replacement` rows
    * append in the SAME claimed snapshot, whose `#dv` line references the
    * deletion vectors — a reader never sees old and new copies together.
    * SINGLE claim attempt: the caller resolved the positions against the
    * current head, so a lost version race must re-resolve, not retry
    * blindly ([[retryLostRace]]; the SQL MERGE surfaces the conflict).
    * Replacement rows re-derive partitions and pass the staged
    * CHECK-constraint gate. `positions` is evaluated once: its tasks build
    * the bitmaps ([[DeletionVectors.collect]]) and the driver writes one
    * `dv-*` file. With no matched row the commit is a PLAIN retrying
    * append (empty vectors would leave a pending delete that consolidation
    * never clears). A failure before the claim deletes the vectors and
    * the staged files; a crash there strands them unreferenced, for
    * [[removeOrphans]]. A caller whose replacement rows derive from the
    * positions' lineage pins it first, so both describe the same rows. */
  private[graft] def commitMorMutation(spark: SparkSession,
      positions: DataFrame, replacement: DataFrame): Int = {
    val sidecar = TableLog.newSidecarName(TableLog.Sidecar.DeletionVectors)
    val sidecarFile = logFile(sidecar)
    var added: Seq[String] = Nil
    try {
      val dvs = DeletionVectors.collect(positions)
      val ref = Option.when(dvs.nonEmpty) {
        WarehouseIO.writeString(sidecarFile, DeletionVectors.render(dvs))
        TableLog.Sidecar.DeletionVectors -> sidecar
      }
      val prepared = clusterForWrite(withDerived(replacement))
      added = stagedWrite(prepared) // constraint gate runs in staging
      commitAppendedFiles(added, maxAttempts = if (ref.nonEmpty) 1 else 20,
        stats = manifestStatsFor(spark, added, prepared.schema),
        sidecars = ref.toSeq)
    } catch {
      case e: Throwable =>
        // the claim never landed: drop this attempt's unreferenced files
        WarehouseIO.delete(sidecarFile)
        added.foreach(rel => WarehouseIO.delete(
          new org.apache.hadoop.fs.Path(config.tablePath, rel)))
        throw e
    }
  }

  /** Replace the table's entire row set with `finalRows` under the full
    * guard battery — the commit primitive behind the SQL `UPDATE` /
    * `MERGE INTO` front door ([[graft.plans.GraftDmlRule]]), whose final
    * rows are computed against the analyzer's own resolved plans and so
    * cannot be re-derived from [[read]] here. `finalRows` re-passes the
    * CHECK-constraint gate (updated/inserted rows included), partition
    * columns re-derive for any fresh rows, and the write is [[rewriteSwap]]'s
    * crash-safe swap (which also honors the shallow-clone materialization
    * contract — a full rewrite IS the materialization). */
  private[graft] def replaceAllRows(finalRows: DataFrame,
      expectRows: Option[Long], op: String): Unit =
    copyOnWrite(op) { _ =>
      ((), Some(new Rewrite(finalRows, fresh = Some(finalRows),
        expect = expectRows)))
    }

  /** SQL `INSERT OVERWRITE … PARTITION(...)` / `INSERT INTO … REPLACE
    * WHERE` semantics (the DSv2 SupportsOverwrite contract: delete the
    * rows matching `conditionSql`, insert `newRows` — one atomic
    * commit): the final row set is survivors ∪ new rows, and the write
    * replaces ONLY the partitions that lose rows plus the partitions
    * receiving new rows (Delta's dynamic replaceWhere shape) through
    * [[copyOnWrite]]. A NULL condition deletes nothing (SQL three-valued
    * logic). */
  private[graft] def replaceWhere(spark: SparkSession, newRows: DataFrame,
      conditionSql: String): Unit = {
    val cond = coalesce(expr(conditionSql), lit(false))
    // the empty/new-table degrade must trigger ONLY on the precise
    // no-committed-data condition — a versioned table with no snapshot,
    // or a bare directory with no data files. Swallowing a transient
    // read ERROR here (the old Try(read.isEmpty).getOrElse(true)) would
    // commit an append-only result that silently skipped the
    // delete-matching half of REPLACE WHERE; a genuine read failure now
    // propagates and the statement fails un-committed.
    val noData = snapshotVersions().isEmpty &&
      WarehouseIO.listDataFilesRel(
        new org.apache.hadoop.fs.Path(config.tablePath)).isEmpty
    if (noData) {
      // empty/new table: the overwrite is just the insert
      append(newRows); return
    }
    copyOnWrite("INSERT OVERWRITE (filtered)") { log =>
      val current = readLive(log, spark, mergeSchema = false)
      val inserted = withDerived(newRows).select(current.columns.map(col): _*)
      val parts = partitionColNames.map(col)
      val touched = partitionsHolding(current.filter(cond).select(parts: _*)
        .unionByName(inserted.select(parts: _*)))
      // nothing matched and nothing inserted: a no-op commits nothing
      ((), if (touched.tuples.isEmpty) None
        else Some(new Rewrite(
          inPartitions(current, touched).filter(!cond).unionByName(inserted),
          Some(touched), fresh = Some(inserted))))
    }
  }

  /** DYNAMIC partition overwrite (Spark's
    * `partitionOverwriteMode=dynamic` semantics as a LIBRARY API):
    * exactly the partitions the incoming rows land in are replaced,
    * every other partition is untouched — ONE dynamic-overwrite write,
    * O(incoming); an unpartitioned table replaces everything (the mode's
    * own semantics); clones and pending merge-on-read sidecars take
    * [[copyOnWrite]]'s full-rewrite equivalent (survivors outside the
    * touched partitions ∪ incoming — same result, the documented
    * conservative cost). The pure-SQL `INSERT OVERWRITE` dynamic form
    * reaches this through [[graft.GraftDynamicOverwriteCommand]]
    * (round-12): Spark's dynamic-overwrite plan has no V1 write fallback,
    * so the session extension rule resolves it into this op before the
    * capability check — alongside the `PARTITION(...)` / `REPLACE WHERE`
    * routes. */
  def overwriteDynamic(@scala.annotation.unused spark: SparkSession,
      data: DataFrame): Unit =
    copyOnWrite("INSERT OVERWRITE (dynamic)") { _ =>
      ((), Some(new Rewrite(data,
        Some(Partitions.none), fresh = Some(data))))
    }

  /** PARTITION-SCOPED commit for the SQL MERGE front door: `finalRows`
    * is the statement's COMPLETE final row set (computed against the
    * analyzer's own resolved plans — it cannot be re-derived from
    * [[read]] here) and `touchedVals` the distinct partition-column
    * tuples in which ANY merge action fired (update, delete, or insert).
    * Only those partitions rewrite, with `finalRows` restricted to them —
    * O(touched), not O(table) — under [[copyOnWrite]]'s rule; a
    * statement in which no action fired commits nothing. */
  private[graft] def replacePartitionsScoped(finalRows: DataFrame,
      touchedVals: DataFrame, op: String): Unit =
    copyOnWrite(op) { _ =>
      val touched = partitionsHolding(touchedVals)
      if (touched.tuples.isEmpty) ((), None)
      else {
        val rows = inPartitions(finalRows, touched)
        ((), Some(new Rewrite(rows, Some(touched), fresh = Some(rows))))
      }
    }

  /** Streaming path (§3.1): micro-batch append with checkpointed recovery.
    * The reference's size-OR-time buffer flush (connector.py:147-199) maps
    * to BOTH bounds natively:
    *  - time: `batchIntervalSeconds` → the processing-time trigger (no
    *    micro-batch waits longer than the interval);
    *  - size: `batchSize` → the writer's `maxRecordsPerFile`, so no data
    *    file exceeds batch_size records — the same unit the reference's
    *    buffer flush produces (one bounded file batch per flush), while
    *    the micro-batch commit stays atomic. Upstream admission control
    *    (maxFilesPerTrigger etc.) composes via `extraOptions`.
    */
  def startStream(df: DataFrame, checkpointLocation: String): StreamingQuery = {
    // the streaming file sink manages its own commit log (_spark_metadata)
    // and its table rejects all batch ops — the snapshot log would record
    // nothing; versioned streaming ingest goes through startStreamUpsert
    // (foreachBatch → batch commits, which DO snapshot)
    require(!config.versioned,
      "versioned=true is a batch-table feature: the streaming file sink " +
        "has its own exactly-once log; use startStreamUpsert for " +
        "versioned streaming ingest")
    // refuse loudly rather than silently skip the gate: the raw file
    // sink's own commit log bypasses the staged-write boundary where
    // batch constraints are enforced
    require(config.checkConstraints.isEmpty,
      "checkConstraints are not enforceable on the raw streaming file " +
        "sink — use startStreamUpsert (foreachBatch routes every batch " +
        "through the gated merge) or pre-filter with Ops.checkConstraints")
    val prepared = withDerived(Ops.ensureMessage(df))
    val writer = prepared.writeStream
      .format(config.fileFormat)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(s"${config.batchIntervalSeconds} seconds"))
      .option("checkpointLocation", checkpointLocation)
      .option("maxRecordsPerFile", config.batchSize.toLong)
      .options(config.extraOptions)
    (if (partitionColNames.nonEmpty) writer.partitionBy(partitionColNames: _*)
     else writer).start(config.tablePath)
  }

  /** CDC streaming path: every micro-batch MERGES into the table by key
    * instead of appending — `foreachBatch` + [[upsertMor]] on
    * MoR-capable sinks (one O(batch) position-delete + append commit
    * per trigger, sidecars folded past the consolidation threshold;
    * round-12) or [[upsert]] otherwise, the standard Spark shape for
    * change-data-capture sinks. foreachBatch alone gives at-least-once
    * (a crashed batch replays); the merge is idempotent — replaying the
    * same keys re-converges to the same table state — which upgrades
    * the end-to-end guarantee to effectively-once. Batch commits go
    * through the normal writer (no `_spark_metadata` sink log), so the
    * table stays readable by [[read]] and writable by batch [[upsert]]/
    * [[delete]] between runs.
    */
  def startStreamUpsert(df: DataFrame, keyCols: Seq[String],
      checkpointLocation: String): StreamingQuery = {
    df.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(s"${config.batchIntervalSeconds} seconds"))
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // a micro-batch can carry several events for one key; upsert
        // requires key-unique input, so collapse to one row per key first
        // (arbitrary winner — upstream supplies a sequence column and
        // pre-aggregates if last-writer ordering matters). A MoR-capable
        // sink takes the batch as ONE position-delete + append commit
        // ([[upsertMor]], round-12): the streaming CDC sink's per-batch
        // cost drops from rewriting touched partitions to O(batch) —
        // the cadence-critical term — with [[maybeConsolidateDeletes]]
        // bounding the sidecar stack at any trigger rate.
        if (!batch.isEmpty) {
          val deduped = batch.dropDuplicates(keyCols)
          if (morServable(needsHead = false)) {
            upsertMor(deduped, keyCols)
            maybeConsolidateDeletes(batch.sparkSession)
          } else upsert(deduped, keyCols)
        }
      }
      .start()
  }

  /** Newest committed batch id for `streamId`, scanning snapshots
    * newest-first (batch ids are monotonic per stream, so the first hit
    * is the max). Small-file reads, O(retained versions) worst case —
    * in practice 1-2: a live stream's txn line is at or near the head. */
  private def lastTxnBatch(log: TableLog, streamId: String): Option[Long] =
    log.versions.reverseIterator.flatMap(log.txn)
      .collectFirst { case (id, b) if id == streamId => b }

  /** One micro-batch of [[startStreamVersioned]] (also callable directly
    * from a hand-rolled `foreachBatch`): a versioned append whose commit
    * embeds the `(streamId, batchId)` transaction line in its claimed
    * snapshot — atomic with the commit. A batch id at or below the
    * stream's newest committed id is a checkpoint REPLAY and is skipped
    * before a byte is staged. Returns true when the batch committed,
    * false when skipped as a duplicate. */
  def appendStreamBatch(df: DataFrame, streamId: String,
      batchId: Long): Boolean = {
    require(config.versioned,
      "appendStreamBatch commits through the snapshot log — versioned only")
    requireNoStreamingLog()
    if (lastTxnBatch(openLog(), streamId).exists(_ >= batchId)) return false
    val prepared = clusterForWrite(withDerived(Ops.ensureMessage(df)))
    val added = stagedWrite(prepared)
    persistConfigHints()
    val v = commitAppendedFiles(added, txn = Some(streamId -> batchId),
      stats = manifestStatsFor(df.sparkSession, added, prepared.schema))
    if (v == 0) {
      // a zombie duplicate writer committed this batch id inside our
      // commit window — this attempt's staged files were never
      // referenced; reclaim them now rather than leaving orphans
      added.foreach(rel => WarehouseIO.delete(
        new org.apache.hadoop.fs.Path(config.tablePath, rel)))
      return false
    }
    true
  }

  /** VERSIONED streaming ingest — the Iceberg streaming-write contract
    * the reference positions the connector for (README.md:95-105 commit
    * coordination; connector.py:147-199 buffer flush → here a micro-batch,
    * connector.py:242-257 commit retry → the optimistic claim): every
    * micro-batch commits as ONE snapshot through the same staged write +
    * manifest claim as a batch append, so a streaming table gets time
    * travel, changelog/CDC, branches, expiry, and catalog reads while
    * the stream runs — none of which the raw file-sink log
    * ([[startStream]]) can offer.
    *
    * EXACTLY-ONCE: `foreachBatch` alone is at-least-once (a crashed
    * batch replays from the checkpoint); the commit embeds its
    * `(streamId, batchId)` txn line IN the claimed snapshot file — the
    * Delta `txnAppId`/`txnVersion` pattern on the manifest log — and
    * [[appendStreamBatch]] skips an already-committed id before staging,
    * upgrading the table-side guarantee to exactly-once. Caveat, same as
    * Delta's: history-expiring rewrites discard txn records — run them
    * only while the stream is down and its last batch is durably
    * committed (the standard maintenance-window discipline).
    *
    * Scale shape: per batch, one staged write (executors), one delta
    * manifest of exactly the batch's files, one O(manifest count)
    * snapshot claim; the dedup probe reads small snapshot files
    * newest-first and normally stops at the head. Nothing in the commit
    * grows with table size or stream lifetime (merge-on-commit bounds
    * the manifest count). */
  def startStreamVersioned(df: DataFrame, checkpointLocation: String,
      streamId: Option[String] = None): StreamingQuery = {
    require(config.versioned,
      "startStreamVersioned needs versioned = true — use startStream " +
        "(raw file sink) or startStreamUpsert otherwise")
    val sid = streamId.getOrElse(checkpointLocation)
    df.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(s"${config.batchIntervalSeconds} seconds"))
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendStreamBatch(batch, sid, id)
        ()
      }
      .start()
  }

  /** Read the table back (declared schema wins over inference — README.md:68
    * "static schemas only"). Partition pruning on derived columns is
    * automatic (`PruneFileSourcePartitions`).
    *
    * `mergeSchema = true` unions the schemas of all data files (additive
    * schema evolution: appends that introduced new columns read back with
    * nulls for pre-evolution rows — the Iceberg add-column behavior).
    * Ignored when a `tableSchema` is declared, since the declared schema
    * already pins the read shape.
    */
  def read(spark: SparkSession, mergeSchema: Boolean = false): DataFrame =
    readLive(openLog(), spark, mergeSchema)

  /** True when the versioned head holds files written under another
    * partition spec than the sink's (spec evolution, round-13). */
  private def mixedSpine(log: TableLog): Boolean =
    config.versioned && log.head.exists(h => log.files(h).exists(rel =>
      !rel.startsWith("/") && TableSink.spineOf(rel) != partitionColNames))

  /** [[read]] through the caller's log view. */
  private def readLive(log: TableLog, spark: SparkSession,
      mergeSchema: Boolean): DataFrame = {
    // Two tables serve the head manifest, not the directory scan below:
    // a shallow clone has no data under its own directory (its live
    // state IS the head manifest: absolute source entries + local
    // appends); and under partition-spec evolution (round-13) the scan
    // silently DROPS or mis-derives rows when the table holds file
    // generations under different spines (measured: a root-level
    // unpartitioned file vanished beside identity dirs) — readFiles reads
    // each generation under its own layout. One manifest read to detect,
    // the same metadata class the sidecar fold below already pays.
    log.head match {
      case Some(h) if log.isClone && log.files(h).nonEmpty ||
          mixedSpine(log) =>
        return readVersion(log, spark, h)
      case _ => ()
    }
    val renames = renameMap
    val opts =
      if (mergeSchema || renames.nonEmpty) Map("mergeSchema" -> "true")
      else Map.empty[String, String]
    val r = spark.read.format(config.fileFormat).options(opts)
    // same sidecar-declared-schema fallback as readFiles (round-14):
    // an ALTER-widened table's mixed narrow/wide generations only read
    // under the declared schema. An explicit mergeSchema=true call
    // keeps inference — the caller asked for the union of the files.
    val declared =
      if (mergeSchema) config.tableSchema
      else config.tableSchema.orElse(alterDeclaredSchema)
    val df = TableSink.applyRenames(
      declared.map(TableSink.augmentWithRenameSources(_, renames))
        .orElse(FileFooters.ofDirectory(spark, config.fileFormat,
          config.tablePath, opts))
        .fold(r)(s => r.schema(s)).load(config.tablePath),
      renames)
    // live read = head-snapshot semantics: merge-on-read predicates apply
    // (no-op on unversioned tables — no log, no predicates)
    log.head.fold(df)(applyDeletes(log, df, _))
  }

  /** Like [[read]], but captures the scan's `_metadata.file_path` into
    * `pathCol` BEFORE merge-on-read delete anti-joins make the
    * `_metadata` struct unresolvable — the surface in-plan zone-map
    * skipping ([[ZoneMaps.readBetweenInPlan]]) builds on. */
  private[graft] def readWithScanPath(spark: SparkSession, pathCol: String,
      log: TableLog = openLog()): DataFrame = {
    def captured(df: DataFrame): DataFrame =
      df.withColumn(pathCol, col("_metadata.file_path"))
    log.head match {
      case Some(head) if log.isClone && log.files(head).nonEmpty =>
        // a diverged clone's manifest is a multi-relation union where
        // `_metadata` is unresolvable — derive the path column from the
        // per-relation capture instead (round-13)
        val base = readFiles(log, spark, log.files(head), capturePos = true)
        // multi-relation manifests carry the per-relation capture; a
        // single-relation one resolves `_metadata` directly
        val withPath =
          if (base.columns.contains("__graft_file"))
            base.withColumn(pathCol, col("__graft_file"))
          else base.withColumn(pathCol, col("_metadata.file_path"))
        return applyDeletes(log, withPath, head)
      case _ => ()
    }
    val r = spark.read.format(config.fileFormat)
    val df = captured(config.tableSchema
      .orElse(FileFooters.ofDirectory(spark, config.fileFormat,
        config.tablePath))
      .fold(r)(s => r.schema(s)).load(config.tablePath))
    log.head.fold(df)(applyDeletes(log, df, _))
  }

  /** Row lineage — Iceberg's `_commit_version` metadata-column analogue:
    * the live table with an extra column naming the snapshot whose commit
    * INTRODUCED each row's data file. Appends never rewrite files, so
    * file→version is exactly "first manifest that lists the file"; the
    * mapping is bounded driver metadata (one pair per live file — the
    * same scale as the manifest itself), broadcast and joined against the
    * scan's own `_metadata.file_path` inside the plan. Composes with
    * merge-on-read deletes (the scan path is captured before their
    * anti-joins) and with shallow clones (absolute source-referenced
    * entries resolve as-is, so cloned rows report the SOURCE-era version
    * they were committed under — v1, the clone's import point).
    *
    * The audit queries this powers — "which commit brought these rows",
    * per-commit row counts, blast-radius of a bad backfill — otherwise
    * need a changelog replay; here they are one scan. */
  def readWithCommitVersion(spark: SparkSession,
      versionCol: String = "_commit_version"): DataFrame = {
    val log = openLog()
    require(config.versioned && log.head.nonEmpty,
      "row lineage needs a versioned table with at least one commit")
    // "first manifest that lists the file", accumulated from each
    // version's NEW delta manifests (O(Σ deltas) — a merged/compacted
    // manifest re-listing old files never re-attributes them, because
    // already-seen paths are skipped)
    val introduced = log.versions
      .foldLeft((Map.empty[String, Int], Set.empty[String])) {
        case ((seen, seenNames), v) =>
          val names = log.manifestNames(v)
          val files = names.filterNot(seenNames)
            .flatMap(log.manifestLines(_).map(TableLog.manifestLinePath))
          (seen ++ files.filterNot(seen.contains).map(_ -> v),
            seenNames ++ names)
      }._1
    val pairs = introduced.toSeq.map { case (rel, v) =>
      val abs =
        if (rel.startsWith("/")) rel else s"${config.tablePath}/$rel"
      (abs, v.toLong)
    }
    import spark.implicits._
    val byPath = pairs.toDF("__lin_path", versionCol)
    readWithScanPath(spark, "__lin_raw", log)
      .withColumn("__lin_scan",
        regexp_replace(TableSink.decodePath(col("__lin_raw")),
          "^file:(//)?", ""))
      .join(broadcast(byPath), col("__lin_scan") === col("__lin_path"), "left")
      .drop("__lin_raw", "__lin_scan", "__lin_path")
  }

  /** Current `(history generation, head version)` — the streaming
    * source's offset coordinates. The generation pins offsets to ONE
    * snapshot history: a rewriting op expires the log and restarts
    * numbering at v1, so a bare version in a checkpoint could silently
    * resume against a different history. */
  def streamHead(): (String, Int) = {
    val log = openLog()
    (log.generation, log.head.getOrElse(0))
  }

  /** Last committed snapshot version STRICTLY before `cutoffMs`; None
    * when every retained commit is at or after it. The streaming
    * sources' `startingTimestamp` exclusive floor: the consumer must
    * see every commit at or after the instant (the Delta contract), so
    * a commit landing exactly at the cutoff is emitted, not floored. */
  def versionBefore(cutoffMs: Long): Option[Int] = {
    val log = openLog()
    log.versions.filter(log.committedAtMs(_) < cutoffMs).lastOption
  }

  /** The rows commits `(fromVersion, toVersion]` appended — the
    * snapshot-streaming micro-batch. INSERT-ONLY enforcement, precise:
    * a commit that removed or rewrote files (compact / delete / upsert /
    * cluster) or introduced merge-on-read delete sidecars refuses with
    * the commit id and the remedy, instead of silently double-counting
    * re-landed rows the way directory discovery would. Delete sidecars
    * committed AT OR BEFORE `fromVersion` still apply to the new rows
    * (a row appended under a still-live delete predicate never becomes
    * visible — same visibility rule as the batch read and changelog).
    *
    * Metadata cost per batch: O(manifest count) name reads + the two
    * file-set reads per commit in range; data cost: a scan of exactly
    * the appended files. */
  def readAppendedBetween(spark: SparkSession, fromVersion: Int,
      toVersion: Int, ignoreChanges: Boolean = false): DataFrame = {
    val log = openLog()
    val versions = log.versions
    val rng = versions.filter(v => v > fromVersion && v <= toVersion)
    val parts: Seq[DataFrame] = rng.flatMap { v =>
      // `ignoreChanges` (Delta's escape hatch, round-13): an IDEMPOTENT
      // consumer may opt in to keep streaming over merge-on-read
      // UPDATE/DELETE commits — the commit's appended files (an
      // update's replacement rows) re-emit as plain appends, deletions
      // are NOT retracted, and a delete-only commit contributes nothing
      // (Delta's ignoreDeletes folded in). The default stays the loud
      // refusal: a non-idempotent consumer must not silently double-see
      // updated rows.
      require(ignoreChanges || !log.carriesSidecar(v),
        s"snapshot streaming: commit v$v carries merge-on-read deletes — " +
          "a stream cannot retract rows it already emitted; run deletes " +
          "with the stream down, compact, and restart the consumer from " +
          "a fresh checkpoint — or opt in with ignoreChanges=true if the " +
          "downstream tolerates re-emitted replacement rows")
      val prevSet = versions.filter(_ < v).lastOption
        .map(log.files(_).toSet).getOrElse(Set.empty)
      val cur = log.files(v)
      val removed = prevSet -- cur
      require(removed.isEmpty,
        s"snapshot streaming: commit v$v removed or rewrote " +
          s"${removed.size} file(s) (compact/delete/overwrite) — only " +
          "insert-only commits stream; run maintenance with the stream " +
          "down and restart the consumer from a fresh checkpoint")
      val added = cur.filterNot(prevSet)
      if (added.isEmpty) None
      else Some(applyDeletes(log,
        readFiles(log, spark, added, capturePos = true), v))
    }
    if (parts.isEmpty) readLive(log, spark, mergeSchema = false).limit(0)
    else parts.reduce(_ unionByName _)
  }

  /** Streaming read of the table — the Iceberg streaming-read contract
    * (incremental snapshot consumption; reference README.md:95-105 is
    * exactly this commit-coordination story): each micro-batch is the
    * set of COMMITS that landed since the last trigger, resolved through
    * the snapshot log, never a directory listing. A consumer therefore
    * cannot observe a staged append's files before its manifest claim
    * lands, and files orphaned by a crashed or retracted append are
    * never emitted — the visibility rule is the manifest, same as the
    * batch read.
    *
    * Semantics: the FIRST batch is the table's consistent snapshot at
    * the head (merge-on-read deletes applied — any history shape is
    * fine); every later batch is [[readAppendedBetween]] over the new
    * commits, which refuses non-insert commits precisely. Offsets are
    * `(generation, version)` — a mid-stream rewrite that restarts the
    * history fails the stream loudly instead of silently re-reading.
    *
    * An UNVERSIONED table has no snapshot log to stream, so it keeps the
    * file-discovery source (Spark's checkpointed file listing) — the
    * only contract a bare directory can offer.
    *
    * Scale shape: per trigger, one O(manifest count) head probe; per
    * batch, a scan of exactly the appended files. */
  def readStream(spark: SparkSession,
      startingVersion: Option[String] = None,
      startingTimestampMs: Option[Long] = None,
      ignoreChanges: Boolean = false): DataFrame = {
    if (!config.versioned) {
      val schema = config.tableSchema.getOrElse(read(spark).schema)
      return spark.readStream
        .format(config.fileFormat)
        .schema(schema)
        .option("basePath", config.tablePath)
        .load(config.tablePath)
    }
    // declared-schema preference mirrors readChangesStream (round-14):
    // a post-widen restart must re-pin the WIDE declared type, or the
    // refusal's restart remedy would not actually heal
    val schema = config.tableSchema.orElse(alterDeclaredSchema)
      .getOrElse(read(spark).schema)
    val r0 = spark.readStream
      .format("org.apache.spark.sql.graft.GraftTableStream")
      .schema(schema)
      .option("tableName", config.tableName)
      .option("warehousePath", config.warehousePath)
      .option("tablePath", config.tablePath)
      .option("fileFormat", config.fileFormat)
      .option("ignoreChanges", ignoreChanges.toString)
    val r1 = startingVersion.fold(r0)(v => r0.option("startingVersion", v))
    startingTimestampMs.fold(r1)(t =>
      r1.option("startingTimestamp", t.toString)).load()
  }

  /** Partition-spec-evolution-aware read: the table may hold file
    * GENERATIONS written under different partition specs (Iceberg's spec
    * evolution — change how new data is partitioned without rewriting old
    * files; a plain directory load would fail on the conflicting layouts).
    *
    * Files are grouped by their partition-directory signature and each
    * generation is read with its own layout. Which partition directories
    * are table DATA (identity transforms — `partitionBy` strips the column
    * from the files, the directory name is its only copy) versus derived
    * metadata (`day(ts)` etc. — the source column stays in the files) is
    * decided from the files themselves: a column physically present in any
    * generation's files is data, one that only ever appears in directory
    * names is derived and recomputable. Derived-only columns are dropped,
    * generations are unioned by name (missing columns null — additive
    * schema evolution composes), yielding the logical table schema.
    *
    * Scale shape: one footer read per generation (generation count is the
    * number of spec changes, a handful) + the per-generation scans Spark
    * plans normally; grouping is driver-side string work over the file
    * list, the same metadata [[dataFilesRel]] already handles. */
  def readEvolved(spark: SparkSession): DataFrame = {
    // VERSIONED tables (round-13): the raw directory listing would
    // include unclaimed staged files and ignore merge-on-read sidecars
    // (deleted rows resurrected silently). The head manifest pins the
    // claimed file set; pending sidecars refuse precisely — deletion
    // vectors cannot fold across this surface's generation union (they need
    // per-scan file metadata), and compact() materializes both the
    // deletes and the spec migration. Clones materialize first for the
    // same reason their other rewrites do.
    val log = openLog()
    require(!log.isClone,
      "readEvolved on a shallow clone would scan across two table " +
        "roots; compact() materializes the clone first")
    val rels = log.head match {
      case Some(head) if config.versioned =>
        require(log.pendingVersions(head).isEmpty,
          "readEvolved with pending merge-on-read deletes would " +
            "resurrect deleted rows (sidecars cannot fold across the " +
            "generation union); compact() first — it materializes them")
        log.files(head)
      case _ => dataFilesRel()
    }
    require(rels.nonEmpty, s"table '${config.tableName}' has no data files")
    val groups = rels.groupBy(TableSink.spineOf)
    val fileCols: Set[String] = groups.valuesIterator.flatMap { files =>
      spark.read.format(config.fileFormat)
        .load(s"${config.tablePath}/${files.head}").schema.fieldNames
    }.toSet
    groups.toSeq.sortBy(_._1.mkString(","))
      .map { case (pcols, files) =>
        val df = spark.read.format(config.fileFormat)
          .option("basePath", config.tablePath)
          .load(files.map(f => s"${config.tablePath}/$f"): _*)
        pcols.filterNot(fileCols).foldLeft(df)(_.drop(_))
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** INCREMENTAL compaction — the 100 TB maintenance shape. Full
    * [[compact]] rewrites every partition (it is also the merge-on-read
    * materializer); at scale a maintenance job compacts only what
    * fragmentation pays for. This selects partitions with more than
    * `maxFiles` files (or, when `minAvgFileBytes` > 0, a mean file size
    * under it), rewrites ONLY those via dynamic partition overwrite
    * (sized like [[compact]], sink sort order preserved), and leaves
    * every other partition's files physically untouched — the rewrite
    * cost is proportional to the FRAGMENTED bytes, not the table. Returns
    * the rewritten partition directory spines.
    *
    * Selection is driver-side file metadata (the same class the snapshot
    * log handles); the rewrite reads exactly the fragmented directories
    * with `basePath` partition derivation, so no filter over partition
    * VALUES (typed, hive-escaped) is ever reconstructed from strings.
    *
    * Refusals: pending merge-on-read deletes (a partial rewrite cannot
    * clear version-scoped sidecars without resurrecting rows in
    * untouched partitions — materialize with [[compact]] first), live
    * branches/tags (same contract as every rewriting op), shallow
    * clones (materialize first), unpartitioned tables (use
    * [[compact]]). Versioned history expires, as for any rewrite. */
  def compactPartitions(spark: SparkSession,
      targetFileBytes: Long = 128L * 1024 * 1024,
      maxFiles: Int = 8,
      minAvgFileBytes: Long = 0L): Seq[String] =
    copyOnWrite("compactPartitions") { log =>
      require(!log.isClone,
        "compactPartitions on a shallow clone would materialize only some " +
          "partitions; run compact() to materialize the clone first")
      require(partitionColNames.nonEmpty,
        "unpartitioned tables have no partition granularity; use compact()")
      log.head.foreach(h => require(log.pendingVersions(h).isEmpty,
        "compactPartitions with pending merge-on-read deletes would have to " +
          "clear sidecars that still protect untouched partitions; " +
          "materialize with compact() first"))
      val root = new HPath(config.tablePath)
      val bySpine = dataFilesRel()
        .groupBy(f => f.split('/').dropRight(1).mkString("/"))
        .filter(_._1.nonEmpty)
      val fsys = WarehouseIO.fs(root)
      // one listStatus per partition directory, memoized — NOT one
      // getFileStatus RPC per file (and never twice per selected spine):
      // on object-store warehouses per-file status calls would dominate
      // the selection phase in exactly the many-small-files regime this
      // op exists for
      val bytesBySpine = scala.collection.mutable.HashMap.empty[String, Long]
      def spineBytes(spine: String): Long =
        bytesBySpine.getOrElseUpdate(spine,
          fsys.listStatus(new HPath(root, spine)).iterator
            .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
              !st.getPath.getName.startsWith("."))
            .map(_.getLen).sum)
      val fragmented = bySpine.filter { case (spine, fl) =>
        fl.size > maxFiles || (minAvgFileBytes > 0L && fl.size > 1 &&
          spineBytes(spine) / fl.size < minAvgFileBytes)
      }.keys.toSeq.sorted
      // read exactly the fragmented directories; partition columns derive
      // from the spine via basePath. The pin cuts lineage off the files
      // the dynamic overwrite is about to replace.
      lazy val cur = {
        val r = spark.read.format(config.fileFormat)
          .option("basePath", config.tablePath)
        config.tableSchema.fold(r)(s => r.schema(s))
          .load(fragmented.map(s => s"${config.tablePath}/$s"): _*)
          .localCheckpoint()
      }
      val fragRows = if (fragmented.isEmpty) 0L else cur.count()
      if (fragRows == 0L) (Nil, None)
      else (fragmented, Some(new Rewrite(
        sizedForFiles(cur, fragmented.map(spineBytes).sum.toDouble / fragRows,
          targetFileBytes, fragRows),
        Some(Partitions.none), preserveLayout = true)))
    }

  /** `cur` salted into writers of about `targetFileBytes` per partition —
    * its rows × `bytesPerRow` / target of them, at least one — clustered
    * on the partition columns and sorted per the sink's order: the
    * compaction dual of the reference's `batch_size` knob (small batches
    * → small files; the reference has no maintenance story for them), so
    * a hot partition compacts to many files and a cold one to one.
    * `totalRows` (all of `cur`) sizes an unpartitioned table, whose one
    * partition needs no window count. */
  private def sizedForFiles(cur: DataFrame, bytesPerRow: Double,
      targetFileBytes: Long, totalRows: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = partitionColNames.map(col)
    val rows =
      if (parts.isEmpty) lit(totalRows)
      else count(lit(1)).over(Window.partitionBy(parts: _*))
    val nf = greatest(lit(1L),
      ceil(rows * lit(bytesPerRow) / lit(targetFileBytes.toDouble)).cast("long"))
    // window expressions cannot ride inside repartition: materialize the
    // salt as a column, cluster on it, then drop it before the write
    val clustered = cur
      .withColumn("__salt", pmod(hash(cur.columns.map(col).toSeq: _*), nf))
      .repartition((parts :+ col("__salt")): _*)
      .drop("__salt")
    if (config.sortOrder.nonEmpty)
      clustered.sortWithinPartitions(config.sortOrder.map(col): _*)
    else clustered
  }

  /** Table maintenance: rewrite each partition's files into
    * ~`targetFileBytes` outputs ([[sizedForFiles]]), materializing every
    * pending merge-on-read delete and a shallow clone on the way. The
    * rewrite is [[rewriteSwap]]'s: it lands in a temp dir, is
    * row-count-verified, and swaps in through the intent marker (an
    * object-store deployment would swap a metadata pointer instead —
    * Iceberg's rewrite-files commit); history expires.
    */
  def compact(spark: SparkSession,
      targetFileBytes: Long = 128L * 1024 * 1024): Unit =
    copyOnWrite("compact") { log =>
      val root = new HPath(config.tablePath)
      // Sizing is bytes-per-row × per-partition row count — deliberately
      // NOT a join on file paths: input_file_name() is percent-encoded
      // while the FS listing is raw (and Hive-style dirs escape specials
      // themselves), and a silent key mismatch there would DROP the
      // affected partition. A shallow clone's bytes live (partly or
      // wholly) under the SOURCE root via absolute manifest entries — the
      // local walk alone would see zero bytes on a fresh clone and
      // early-return, breaking the documented "first rewriting op
      // materializes" contract, and would under-size bytesPerRow for
      // clones with local appends.
      val totalBytes =
        if (!WarehouseIO.exists(root)) 0L
        else WarehouseIO.totalDataBytes(root) + (if (!log.isClone) 0L
          else log.head.map(log.files).getOrElse(Nil).filter(_.startsWith("/"))
            .map(abs => WarehouseIO.sizeOf(new HPath(abs))).sum)
      lazy val cur = readLive(log, spark, mergeSchema = false)
      val totalRows = if (totalBytes == 0L) 0L else cur.count()
      ((), if (totalRows == 0L) None
        else Some(new Rewrite(
          sizedForFiles(cur, totalBytes.toDouble / totalRows, targetFileBytes,
            totalRows),
          expect = Some(totalRows), preserveLayout = true)))
    }
}
