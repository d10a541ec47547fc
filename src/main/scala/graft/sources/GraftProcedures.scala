package graft

import java.util.{Collections, Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Maintenance PROCEDURES through SQL — the Iceberg Spark-procedures
  * analogue (`CALL cat.system.rewrite_data_files(...)`,
  * `expire_snapshots`, `remove_orphan_files`, `rollback_to_snapshot`;
  * reference connector.py relies on the Iceberg runtime shipping these)
  * on Spark 4's DSv2 `ProcedureCatalog` API:
  *
  * {{{
  * CALL graft.system.compact(`table` => 'events', target_file_mb => 128)
  * CALL graft.system.expire_snapshots(`table` => 'events', keep_last => 3)
  * CALL graft.system.remove_orphans(`table` => 'events', grace_ms => 0)
  * CALL graft.system.vacuum(`table` => 'events', older_than_ms => 604800000)
  * CALL graft.system.consolidate_deletes(`table` => 'events')
  * CALL graft.system.adopt(`table` => 'plain_parquet_dir')
  * CALL graft.system.rollback(`table` => 'events', version => 2)
  * }}}
  *
  * Each CALL runs the matching [[TableSink]] maintenance op — the SAME
  * guard battery as the library API (branch/tag refusals, clone
  * materialization, crash-safe swaps) because it IS the library API,
  * resolved through the owning catalog's persisted config — and returns
  * a BOUNDED summary result set (expired versions, reclaimed paths,
  * file counts). The result is served as a `LocalScan`, which is the
  * contract Spark's `InvokeProcedures` expects AND the right cost
  * model: summaries are metadata-sized (versions, orphan names), never
  * table data. The heavy lifting inside each op stays distributed
  * (compact's rewrite is a Spark job; only its file COUNTS come back
  * through the driver).
  *
  * Scale: a procedure's driver-side surface is O(summary rows) —
  * expired version ids, orphaned file names past the grace window —
  * the same metadata the ops already materialize for their return
  * values. */
private[graft] object GraftProcedures {

  /** One procedure: `params` declare the SQL surface (name, type,
    * optional default SQL text); `run` receives the bound argument row
    * (positions = declaration order, defaults already filled by Spark)
    * and returns the summary rows. */
  private final class Proc(
      procName: String,
      procDescription: String,
      params: Seq[ProcedureParameter],
      out: StructType,
      run: (SparkSession, InternalRow) => Seq[InternalRow])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = procDescription
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val summary = run(spark, input).toArray
      Collections.singletonList[Scan](new LocalScan {
        override def readSchema(): StructType = out
        override def rows(): Array[InternalRow] = summary
      }).iterator()
    }
  }

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private def inDefault(name: String, dt: DataType,
      default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  private def row(vals: Any*): InternalRow =
    new GenericInternalRow(vals.toArray)

  /** The `system` namespace procedures, closed over the catalog's own
    * sink resolution (same persisted-config path as SQL DML). */
  def all(resolveSink: String => TableSink): Map[String, UnboundProcedure] = {
    def sinkOf(input: InternalRow): TableSink =
      resolveSink(input.getUTF8String(0).toString)
    val tableParam = in("table", StringType)

    val compact = new Proc(
      "compact",
      "Rewrite the table into ~target_file_mb files (crash-safe swap); " +
        "returns file counts before/after",
      Seq(tableParam, inDefault("target_file_mb", IntegerType, "128")),
      StructType(Seq(StructField("files_before", IntegerType, false),
        StructField("files_after", IntegerType, false))),
      (spark, input) => {
        val sink = sinkOf(input)
        val before = sink.dataFilesRel().size
        sink.compact(spark, input.getInt(1).toLong * 1024L * 1024L)
        Seq(row(before, sink.dataFilesRel().size))
      })

    val expire = new Proc(
      "expire_snapshots",
      "Drop snapshot history beyond keep_last; returns the expired versions",
      Seq(tableParam, inDefault("keep_last", IntegerType, "1")),
      StructType(Seq(StructField("expired_version", IntegerType, false))),
      (_, input) => sinkOf(input)
        .expireSnapshotsKeepLast(input.getInt(1)).map(v => row(v)))

    val orphans = new Proc(
      "remove_orphans",
      "Delete data files no committed snapshot references (grace-windowed); " +
        "returns the reclaimed paths",
      Seq(tableParam, inDefault("grace_ms", LongType,
        TableSink.DefaultOrphanGraceMs.toString)),
      StructType(Seq(StructField("orphan_path", StringType, false))),
      (_, input) => sinkOf(input)
        .removeOrphans(input.getLong(1)).map(p => row(utf8(p))))

    val vacuum = new Proc(
      "vacuum",
      "Age-based snapshot expiry then the orphan sweep; returns what went",
      Seq(tableParam, in("older_than_ms", LongType),
        inDefault("keep_last", IntegerType, "1"),
        inDefault("grace_ms", LongType,
          TableSink.DefaultOrphanGraceMs.toString)),
      StructType(Seq(StructField("kind", StringType, false),
        StructField("item", StringType, false))),
      (_, input) => {
        val (expired, deleted) = sinkOf(input).vacuum(
          System.currentTimeMillis() - input.getLong(1),
          input.getInt(2), input.getLong(3))
        expired.map(v => row(utf8("expired_version"), utf8(v.toString))) ++
          deleted.map(p => row(utf8("deleted_path"), utf8(p)))
      })

    val consolidate = new Proc(
      "consolidate_deletes",
      "Minor-compact merge-on-read delete sidecars at the head; returns " +
        "the consolidated sidecar count",
      Seq(tableParam),
      StructType(Seq(StructField("consolidated", IntegerType, false))),
      (spark, input) => Seq(row(sinkOf(input).consolidateDeletes(spark))))

    val zorder = new Proc(
      "cluster_zorder",
      "Rewrite the table range-clustered by the Morton interleave of the " +
        "dim expressions (Delta OPTIMIZE ZORDER BY analogue); pair with " +
        "analyze_zonemaps for O(perimeter) rectangle scans",
      Seq(tableParam, in("dims", ArrayType(StringType)),
        inDefault("n_ranges", IntegerType, "48"),
        inDefault("bits", IntegerType, "16")),
      StructType(Seq(StructField("clustered_files", IntegerType, false))),
      (spark, input) => {
        val sink = sinkOf(input)
        sink.clusterBy(spark,
          input.getArray(1).toObjectArray(StringType)
            .map(_.asInstanceOf[UTF8String].toString).toSeq,
          input.getInt(2), input.getInt(3))
        Seq(row(sink.dataFilesRel().size))
      })

    val analyzeZones = new Proc(
      "analyze_zonemaps",
      "One distributed scan recording per-file min/max for the columns — " +
        "the zone-map file-skipping stats (stale stats degrade to less " +
        "pruning, never wrong results)",
      Seq(tableParam, in("cols", ArrayType(StringType))),
      StructType(Seq(StructField("analyzed_files", IntegerType, false))),
      (spark, input) => {
        val sink = sinkOf(input)
        new ZoneMaps(sink).analyze(spark,
          input.getArray(1).toObjectArray(StringType)
            .map(_.asInstanceOf[UTF8String].toString).toSeq)
        Seq(row(sink.dataFilesRel().size))
      })

    val analyzeBloom = new Proc(
      "analyze_bloom",
      "One distributed scan building per-file Bloom filters for the " +
        "columns — point-probe file skipping for high-cardinality keys",
      Seq(tableParam, in("cols", ArrayType(StringType))),
      StructType(Seq(StructField("analyzed_files", IntegerType, false))),
      (spark, input) => {
        val sink = sinkOf(input)
        new BloomSkip(sink).analyze(spark,
          input.getArray(1).toObjectArray(StringType)
            .map(_.asInstanceOf[UTF8String].toString).toSeq)
        Seq(row(sink.dataFilesRel().size))
      })

    val adopt = new Proc(
      "adopt",
      "Convert an existing plain data directory into a versioned table " +
        "(Iceberg migrate/add_files analogue): the current listing " +
        "becomes snapshot v1, no data is rewritten",
      Seq(tableParam),
      StructType(Seq(StructField("version", IntegerType, false),
        StructField("adopted_files", IntegerType, false))),
      (_, input) => {
        val resolved = sinkOf(input)
        // a plain directory resolves unversioned; adoption IS the switch
        val sink =
          if (resolved.config.versioned) resolved
          else new TableSink(resolved.config.copy(versioned = true))
        val v = sink.adopt()
        Seq(row(v, sink.dataFilesRel().size))
      })

    val rollback = new Proc(
      "rollback",
      "Reset the table head to an older snapshot (a NEW commit, Iceberg " +
        "rollback semantics)",
      Seq(tableParam, in("version", IntegerType)),
      StructType(Seq(StructField("rolled_back_to", IntegerType, false))),
      (_, input) => {
        val v = input.getInt(1)
        sinkOf(input).rollbackTo(v)
        Seq(row(v))
      })

    // ---- write-audit-publish branch surface (TableSink branches; the
    // catalog already READS branches via `VERSION AS OF '<name>'` — these
    // close the DDL gap: create/publish/drop without leaving SQL)
    val branch = new Proc(
      "branch",
      "Create a WAP branch at the head (or from_version); stage appends " +
        "on it, audit with VERSION AS OF '<name>', then publish or drop",
      Seq(tableParam, in("name", StringType),
        inDefault("from_version", IntegerType, "-1")),
      StructType(Seq(StructField("branch", StringType, false),
        StructField("from_version", IntegerType, false))),
      (_, input) => {
        val sink = sinkOf(input)
        val name = input.getUTF8String(1).toString
        val from = input.getInt(2) match {
          case -1 => None
          case v => Some(v)
        }
        sink.createBranch(name, from)
        Seq(row(utf8(name),
          from.getOrElse(sink.snapshotVersions().last)))
      })

    val publish = new Proc(
      "publish",
      "Publish a WAP branch: main's next snapshot = head + the branch's " +
        "staged files (append cherry-pick, pure metadata); drops the " +
        "branch afterwards unless keep => true",
      Seq(tableParam, in("name", StringType),
        inDefault("keep", BooleanType, "false")),
      StructType(Seq(StructField("published_version", IntegerType, false))),
      (_, input) => {
        val sink = sinkOf(input)
        val name = input.getUTF8String(1).toString
        val v = sink.publishBranch(name)
        if (!input.getBoolean(2)) sink.dropBranch(name)
        Seq(row(v))
      })

    val dropBranch = new Proc(
      "drop_branch",
      "Drop a WAP branch; its staged files become orphans " +
        "(reclaim via remove_orphans)",
      Seq(tableParam, in("name", StringType)),
      StructType(Seq(StructField("dropped", StringType, false))),
      (_, input) => {
        val name = input.getUTF8String(1).toString
        sinkOf(input).dropBranch(name)
        Seq(row(utf8(name)))
      })

    val compactManifests = new Proc(
      "compact_manifests",
      "Fold the head snapshot's delta-manifest chain into one merged " +
        "manifest (Iceberg rewrite_manifests; metadata only, data files " +
        "untouched) — bounds the O(manifest count) commit/read term",
      Seq(tableParam),
      StructType(Seq(StructField("version", IntegerType, false))),
      (_, input) => Seq(row(sinkOf(input).compactManifests())))

    Seq(compact, expire, orphans, vacuum, consolidate, adopt, rollback,
        zorder, analyzeZones, analyzeBloom,
        branch, publish, dropBranch, compactManifests)
      .map(p => p.name() -> (p: UnboundProcedure)).toMap
  }
}
