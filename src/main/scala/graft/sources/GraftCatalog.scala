package graft

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TableInfo}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.{Transform => V2Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileTable
import org.apache.spark.sql.execution.datasources.v2.orc.OrcTable
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 `TableCatalog` over a [[TableSink]] warehouse — the SQL
  * front door to the engine's table format (reference: connector.py:358-393
  * loads tables from a real Iceberg catalog; this is the analogous catalog
  * surface for the parquet/orc + `_graft_log` manifest warehouse, SURVEY
  * §2.4). Install per session, then query by name:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  * spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/warehouse")
  * spark.sql("SELECT * FROM graft.events")                      // latest
  * spark.sql("SELECT * FROM graft.events VERSION AS OF 1")      // snapshot
  * spark.sql("SELECT * FROM graft.events TIMESTAMP AS OF '...'") // as-of time
  * }}}
  *
  * Reads resolve through the snapshot manifest when the table is versioned
  * (`_graft_log` present): `VERSION AS OF n` pins the exact file set commit
  * `n` recorded, and `TIMESTAMP AS OF t` picks the last snapshot committed
  * at or before `t` — Iceberg's snapshot-id / as-of-timestamp semantics on
  * the sink's own log. Unversioned tables read the live directory.
  *
  * Writes: `CREATE TABLE` / CTAS / `INSERT INTO` route the insert
  * through [[TableSink.append]] (V1 write bridge) — a SQL append
  * therefore takes the same staged write, optimistic manifest commit,
  * and CHECK-constraint gate as the library API, never dropping files
  * the snapshot history doesn't record. Partitioned tables are writable
  * when their `_graft_config` sidecar carries an all-identity partition
  * spec (see [[fileTable]]); hidden-transform and legacy-spec-less
  * partitioned tables stay read-only toward the library API.
  * Whole-table `INSERT OVERWRITE` is the guarded rewrite swap; filtered
  * overwrite is refused at analysis (no OVERWRITE_BY_FILTER capability),
  * `PARTITIONED BY` in DDL is refused (partition TRANSFORMS are declared
  * on the TableSink config), and time-travel/branch/tag loads stay
  * read-only. Scans are Spark's native vectorized parquet/orc readers
  * with full pushdown — the catalog only decides WHICH files are in the
  * table; scan planning, filter pushdown, and partition pruning
  * (hive-style directories, recovered via `basePath`) are stock.
  *
  * Scale: `loadTable` touches only the manifest (one small text file) and
  * directory metadata — no data I/O on the driver; file-set size is the
  * same O(files) Spark's own file index holds. All catalog metadata IO
  * goes through [[WarehouseIO]] (the Hadoop FileSystem API), so the SQL
  * door resolves against any Hadoop-resolvable warehouse — local, HDFS,
  * s3a — the same contract the sink's commit path keeps.
  */
final class GraftCatalog extends TableCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catalogName

  // tables live at warehouse/<namespace dirs...>/<table>; all metadata IO
  // goes through WarehouseIO (Hadoop FileSystem), so the SQL door works
  // against any Hadoop-resolvable warehouse, not just the local filesystem
  private def tableDir(ident: Identifier): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      (warehouse +: (ident.namespace() :+ ident.name())).mkString("/"))

  private def logDir(ident: Identifier): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(tableDir(ident), "_graft_log")

  private def isTableName(name: String): Boolean =
    !name.startsWith("_") &&
      !name.startsWith(".") && // swap scratch siblings (.t_rewriting, …)
      !name.contains("=") // hive partition dir, not a table

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new org.apache.hadoop.fs.Path(
      (warehouse +: namespace).mkString("/"))
    if (!WarehouseIO.isDir(dir))
      throw new NoSuchNamespaceException(namespace.toSeq)
    WarehouseIO.childDirNames(dir).filter(isTableName)
      .map(n => Identifier.of(namespace, n)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableName(ident.name()) && WarehouseIO.isDir(tableDir(ident))

  /** The absolute data-file paths snapshot `v` of `log` recorded (a
    * branch log resolves its own versions). Does NOT check for pending
    * merge-on-read sidecars ([[TableLog.pendingVersions]]): such a
    * version serves through the LIBRARY read ([[TableSink.readVersion]],
    * or the two-slice [[TableSink.readBranch]] for a branch head) via a
    * [[ProjectedScanBuilder]], as does a shallow clone, whose head mixes
    * file roots — the raw V2 file scan would resurrect deleted rows or
    * miss a root. */
  private def manifestFiles(ident: Identifier, log: TableLog,
      v: Int): Seq[String] = {
    // NOT NoSuchTableException: the analyzer rewrites that into its generic
    // table-not-found error, burying WHICH snapshot is missing — and the
    // table itself does exist
    if (!log.has(v))
      throw new IllegalArgumentException(
        s"${ident.name()}: snapshot v$v does not exist (expired by a " +
          "rewrite, or never committed); available: " +
          log.versions.mkString(", "))
    // the same snapshot resolver the sink uses, so the SQL door reads any
    // table the library wrote.
    // A shallow CLONE's manifest mixes ABSOLUTE entries (the source's
    // files) with relative ones (own appends): absolute stays absolute
    // (round-14 — prefixing tableDir mangled every clone read)
    log.files(v)
      .map(rel => if (rel.startsWith("/")) rel
        else s"${tableDir(ident)}/$rel").toIndexedSeq
  }

  /** Serve `read` of the table's library sink as a read-only projected
    * table: a shallow clone's snapshot ([[TableSink.readVersion]] — its
    * dual-root manifests, the copied rename/tombstone/schema sidecars and
    * MoR visibility verbatim; writes to a clone go through the library)
    * or a branch head under pending sidecars ([[TableSink.readBranch]]). */
  private def libraryProjected(ident: Identifier)(
      read: (TableSink, SparkSession) => org.apache.spark.sql.DataFrame)
      : Table = {
    val cfg0 = insertConfig(ident, firstDataFile(ident))
    val declared = declaredSchema(ident)
    val sink = new TableSink(
      cfg0.copy(tableSchema = declared.orElse(cfg0.tableSchema)))
    val compute = () => read(sink, SparkSession.active)
    val sch = declared.getOrElse(compute().schema)
    new GraftProjectedTable(ident.toString, sch, compute, None)
  }

  private def schemaFile(ident: Identifier): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(tableDir(ident), "_graft_schema")

  /** The declared schema, when one governs this table: written by
    * [[createTable]] (CREATE TABLE / CTAS) and extended by [[alterTable]]
    * ADD COLUMNS. When present it wins over file inference on EVERY
    * catalog read (latest, time travel, branch, tag), so rows written
    * before an added column read back NULL-filled — Iceberg's additive
    * evolution semantics. Tables created through the library have no
    * declared schema until their first ALTER freezes one. */
  private def declaredSchema(ident: Identifier): Option[StructType] =
    if (!WarehouseIO.isFile(schemaFile(ident))) None
    else Some(org.apache.spark.sql.types.DataType
      .fromJson(WarehouseIO.readString(schemaFile(ident)))
      .asInstanceOf[StructType])

  private def versionedMarker(ident: Identifier): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(tableDir(ident), "_graft_versioned")

  /** Hive-style partition directories under the table root — their
    * transform spec is not recoverable from the layout, so SQL writes
    * into them are refused (route through [[TableSink]]). */
  private def hasHiveDirs(ident: Identifier): Boolean =
    WarehouseIO.childDirNames(tableDir(ident)).exists(_.contains("="))

  /** The [[TableSink]] config a catalog INSERT/DELETE routes through —
    * the write takes the SAME staged-commit path as the library API, so
    * a SQL append maintains the snapshot manifest instead of corrupting
    * it. The table's `_graft_config` sidecar (persisted by every library
    * append, and by [[createTable]]) supplies the CHECK constraints,
    * sort order, writer parallelism, and format the owning config
    * declared — without it a SQL insert would silently bypass the
    * constraint gate and write under defaults. */
  private def insertConfig(ident: Identifier,
      firstFile: Option[String]): SinkConfig = {
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    val hintsFile =
      new org.apache.hadoop.fs.Path(tableDir(ident), "_graft_config")
    val hints: Map[String, Seq[String]] =
      if (!WarehouseIO.isFile(hintsFile)) Map.empty
      else WarehouseIO.readString(hintsFile).linesIterator
        .flatMap { l => l.split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }}.toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def one(k: String): Option[String] = hints.get(k).flatMap(_.headOption)
    SinkConfig(
      tableName = ident.name(),
      warehousePath = (warehouse +: ident.namespace()).mkString("/"),
      fileFormat = one("fileFormat").getOrElse(
        if (firstFile.exists(_.endsWith(".orc"))) "orc" else "parquet"),
      numPartitions = one("numPartitions").map(_.toInt).getOrElse(1),
      sortOrder = one("sortOrder").toSeq
        .flatMap(_.split(',').toSeq).map(dec),
      checkConstraints = hints.getOrElse("constraint", Nil).map(dec),
      partitionSpec = hints.getOrElse("partition", Nil).map { line =>
        line.split(":", 3) match {
          case Array(src, tr) =>
            PartitionField(dec(src), Transform.parse(dec(tr)))
          case Array(src, tr, name) =>
            PartitionField(dec(src), Transform.parse(dec(tr)), Some(dec(name)))
          case _ => throw new IllegalArgumentException(
            s"${ident.name()}: malformed partition hint '$line'")
        }
      },
      versioned = one("versioned").contains("true") ||
        WarehouseIO.isDir(logDir(ident)) ||
        WarehouseIO.exists(versionedMarker(ident)))
  }

  /** The MoR serving frame: the library read pinned to snapshot `v`
    * (scan-planning FILE pruning from the caller's pushed-filter
    * conjuncts when provided), conformed to the DECLARED schema — a
    * column added by ALTER that no file carries yet NULL-fills, a
    * widened declared type upcasts; the library read infers from files
    * and knows neither evolution. */
  private def morCompute(cfg: SinkConfig, v: Int, declared: StructType,
      conjuncts: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.DataFrame = {
    // read UNDER the declared schema: a widened column leaves mixed
    // int32/int64 file generations behind, and a footer-inferred read
    // would request the narrow type from the wide files (a hard read
    // error); the declared schema makes the parquet reader upcast, and
    // columns no file carries yet NULL-fill — the same contract the raw
    // V2 serving path gets from its userSchema
    val sink = new TableSink(cfg.copy(tableSchema = Some(declared)))
    val spark = SparkSession.active
    val df =
      if (conjuncts.isEmpty) sink.readVersion(spark, v)
      else sink.readVersionCandidates(spark, v, conjuncts)
    declared.fields.foldLeft(df) { (d, f) =>
      d.schema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case None => d.withColumn(f.name,
          org.apache.spark.sql.functions.lit(null).cast(f.dataType))
        case Some(g) if g.dataType != f.dataType =>
          d.withColumn(f.name, d(g.name).cast(f.dataType))
        case _ => d
      }
    }
  }

  /** Wrap the file set in the matching native v2 file table. Format is
    * detected from the data-file extensions (the sink writes exactly one
    * format per table), so catalog reads need no per-table config.
    * `writable=true` (latest-snapshot loads) adds the V1 write surface
    * routing INSERT/DELETE/UPDATE/MERGE through [[TableSink]];
    * time-travel/branch/tag loads stay read-only. Hive-partitioned
    * tables are writable whenever the `_graft_config` sidecar carries
    * their partition spec: identity fields are data columns the SQL
    * writer cannot contradict, and HIDDEN transforms (day/bucket/
    * truncate — the reference's richest semantic, README.md:141-155)
    * serve through a schema that PROJECTS THE DERIVED COLUMN AWAY: the
    * source column is physically in the files, the derived value exists
    * only in the directory spine, so SQL reads see the logical schema
    * and SQL INSERTs supply only source columns — the sink re-derives
    * the partition value exactly as the library write does, and no
    * statement can mis-home a row. Legacy partitioned tables with no
    * persisted spec are unrecoverable from the layout alone and stay
    * read-only. */
  private def fileTable(ident: Identifier, paths: Seq[String],
      firstFile: Option[String], userSchema: Option[StructType],
      writable: Boolean = false, morVersion: Option[Int] = None): Table = {
    val spark = SparkSession.active
    val base = tableDir(ident).toString
    val opts = new CaseInsensitiveStringMap(util.Map.of("basePath", base))
    val orc = firstFile.exists(_.endsWith(".orc"))
    val fmt = if (orc) "orc" else "parquet"
    // without a declared schema the scan serves the footer schema Spark's
    // inference would pick, read on the driver: planning runs no job
    val dataSchema = userSchema.orElse {
      val o = Map("basePath" -> base)
      if (paths == Seq(base)) FileFooters.ofDirectory(spark, fmt, base, o)
      else FileFooters.ofFiles(spark, fmt, paths, base, o)
    }
    val delegate: FileTable =
      if (orc) OrcTable(ident.name(), spark, opts, paths,
        dataSchema, classOf[OrcFileFormat])
      else ParquetTable(ident.name(), spark, opts, paths,
        dataSchema, classOf[ParquetFileFormat])
    lazy val cfg = insertConfig(ident, firstFile)
    // RENAMED tables scan through a projecting relation: pre-rename
    // files keep the old physical column name, so the scan must request
    // both generations and coalesce them under the declared name — the
    // plain v2 file scan would serve NULL from old files. Renames only
    // arise via ALTER, which always freezes a declared schema first.
    val renames = renamesOf(ident)
    // LIBRARY serving ([[snapshotFiles]]): the scan executes readVersion
    // pinned to the loaded version — every sidecar flavor, renames, the
    // mixed-spine union. Pushed filters still reach the parquet scan: the
    // ProjectedScanBuilder re-applies them as SQL inside the frame, and
    // they prune the file list (morFilterCompute below).
    // translate pushed source Filters to catalyst conjuncts for
    // scan-planning file pruning (planCandidates' input shape); an
    // untranslatable filter simply contributes nothing — conservative
    def filterConjuncts(
        filters: Array[org.apache.spark.sql.sources.Filter])
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
      def split(e: org.apache.spark.sql.catalyst.expressions.Expression)
          : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
        e match {
          case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
            split(l) ++ split(r)
          case other => Seq(other)
        }
      filters.toSeq.flatMap(GraftFilterSql.filterSql).flatMap { sql =>
        scala.util.Try(org.apache.spark.sql.graft.Bridge.parseExpression(
          SparkSession.active, sql)).toOption
      }.flatMap(split(_))
    }
    // the library read pinned to `morVersion`; its filter-AWARE variant
    // also prunes the FILE LIST by the pushed filters (manifest stats +
    // hidden-partition transform bounds) before the read
    lazy val morDeclared = userSchema.getOrElse(delegate.schema)
    val morOverride = morVersion.map(v =>
      (morDeclared, () => morCompute(cfg, v, morDeclared, Nil)))
    val morFilterCompute = morVersion.map(v =>
      (filters: Array[org.apache.spark.sql.sources.Filter]) =>
        morCompute(cfg, v, morDeclared, filterConjuncts(filters)))
    val renameOverride: Option[(StructType, () => org.apache.spark.sql.DataFrame)] =
      if (renames.isEmpty) None
      else {
        val declared = userSchema.getOrElse(delegate.schema)
        Some((declared, () => {
          val s = SparkSession.active
          if (paths.isEmpty)
            s.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row],
              declared)
          else TableSink.applyRenames(
            s.read.format(fmt).option("basePath", base)
              .option("mergeSchema", "true")
              .schema(TableSink.augmentWithRenameSources(declared, renames))
              .load(paths: _*), renames)
        }))
      }
    // library-read override: MoR serving wins (it subsumes renames —
    // readVersion coalesces renamed generations itself)
    val scanOverride = morOverride.orElse(renameOverride)
    // scan-planning stats pruning (versioned tables with a stats
    // registry): the scan rebuilds over the manifest-stats survivor set
    val statsPlanner: Option[GraftStatsPlanner] =
      if (!cfg.versioned || scanOverride.isDefined) None
      else Some(GraftStatsPlanner(
        allPaths = paths,
        // the pruned table pins the ORIGINAL resolved schema: a fully
        // pruned (empty) survivor set must still serve the table schema
        // instead of failing inference, and partition columns resolve
        // identically to the unpruned scan
        rebuild = pruned => {
          val pinned = userSchema.orElse(Some(delegate.schema))
          if (orc) OrcTable(ident.name(), spark, opts, pruned,
            pinned, classOf[OrcFileFormat])
          else ParquetTable(ident.name(), spark, opts, pruned,
            pinned, classOf[ParquetFileFormat])
        },
        plan = exprs => new TableSink(cfg)
          .planCandidates(SparkSession.active, paths, exprs)))
    if (writable && (!hasHiveDirs(ident) || cfg.partitionSpec.nonEmpty))
      new GraftWritableTable(delegate, ident.toString, userSchema, cfg,
        hideCols = cfg.partitionSpec
          .filter(_.transform != Transform.Identity).map(_.columnName),
        scanOverride = scanOverride,
        scanFilterCompute =
          if (morOverride.isDefined) morFilterCompute else None,
        statsPlanner = statsPlanner)
    else scanOverride match {
      case Some((sch, compute)) =>
        new GraftProjectedTable(ident.toString, sch, compute,
          if (morOverride.isDefined) morFilterCompute else None)
      case None => new GraftReadOnlyTable(delegate, ident.toString)
    }
  }

  /** First data file under the live table dir (format sniff + existence) —
    * a lazy recursive listing with early exit, never an O(files)
    * materialized walk. */
  private def firstDataFile(ident: Identifier): Option[String] =
    WarehouseIO.firstDataFileRel(tableDir(ident))
      .map(rel => s"${tableDir(ident)}/$rel")

  /** Iceberg-style METADATA TABLES: `SELECT * FROM cat.<table>.<meta>`
    * where `<meta>` ∈ `snapshots` (alias `history`), `files`,
    * `partitions`, `deletes`, `changes` — served only when no real table
    * shadows the name (real tables win). Each is a read-only
    * [[GraftMetaTable]] over the matching [[TableSink]] metadata
    * DataFrame. The file/partition inventories (the head manifest's
    * recorded per-file facts; no data file is opened) and the snapshot and
    * delete rows are built on the driver and served as a `LocalScan`, so
    * a query over them runs no Spark job ([[LocalScanStrategy]]);
    * `changes` replays the full CDC changelog as a distributed plan
    * through a `V1Scan`. */
  private def metaTable(ident: Identifier): Option[Table] = {
    if (ident.namespace().isEmpty) return None
    val base = Identifier.of(
      ident.namespace().dropRight(1), ident.namespace().last)
    if (!tableExists(base)) return None
    val spark = SparkSession.active
    // pin the DECLARED schema (same precedent as the branch-resolution
    // path): `changes` replays commits on BOTH sides of any ALTER TABLE
    // boundary, and per-version file groups would otherwise infer
    // different schemas — pre-evolution rows must NULL-fill under the
    // head schema, a dropped column must stay dropped
    def sink = new TableSink(insertConfig(base, firstDataFile(base))
      .copy(tableSchema = declaredSchema(base)))
    val compute: Option[() => org.apache.spark.sql.DataFrame] =
      ident.name().toLowerCase match {
        case "snapshots" | "history" => Some(() => sink.metaSnapshots(spark))
        case "files" => Some(() => sink.metaFiles(spark))
        case "partitions" => Some(() => sink.metaPartitions(spark))
        case "deletes" => Some(() => sink.metaDeletes(spark))
        case "changes" => Some(() => {
          // full row-level CDC changelog (Iceberg changelog scan): works
          // even with pending MoR sidecars — the changelog REPLAYS them,
          // unlike the main table read which refuses until materialized.
          // readChangelogAll (not readChangelog(0, head)) so a table whose
          // oldest RETAINED commit is an unreplayable post-expiry delete
          // still serves its post-commit state as base inserts plus the
          // replayable suffix, instead of throwing forever from a surface
          // that cannot pass a range.
          if (sink.snapshotVersions().isEmpty)
            throw new IllegalArgumentException(
              s"${base}.changes needs a versioned table with at least one " +
                "commit (the changelog is the snapshot history's row diff)")
          sink.readChangelogAll(spark)
        })
        case _ => None
      }
    compute.map(f =>
      new GraftMetaTable(s"${base.toString}.${ident.name()}", f))
  }

  /** SQL maintenance: `CALL <cat>.system.<procedure>(...)` — see
    * [[GraftProcedures]]. The sink resolves through the same persisted
    * config the SQL DML door uses, so a CALL honors the declared writer
    * settings and every library guard. */
  private lazy val procedures: Map[String, UnboundProcedure] =
    GraftProcedures.all { tableName =>
      val parts = tableName.split('.')
      val ident = Identifier.of(parts.dropRight(1), parts.last)
      if (!tableExists(ident))
        throw new NoSuchTableException(ident)
      new TableSink(insertConfig(ident, firstDataFile(ident)))
    }

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val known = ident.namespace().map(_.toLowerCase).sameElements(
      Array("system")) && procedures.contains(ident.name().toLowerCase)
    if (!known) throw new IllegalArgumentException(
      s"procedure $ident not found — available: " +
        procedures.keys.toSeq.sorted.map(n => s"system.$n").mkString(", "))
    procedures(ident.name().toLowerCase)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (!namespace.map(_.toLowerCase).sameElements(Array("system"))) Array.empty
    else procedures.keys.toArray.sorted
      .map(n => Identifier.of(Array("system"), n))

  /** A swap interrupted mid-move leaves a durable intent marker beside
    * the table root ([[TableSink.executeSwap]]); serving the directory
    * then would read a PARTIAL table. A pure SQL reader heals it here —
    * roll-forward is the committed direction — before any load, so no
    * crash point leaves a broken read through the catalog. Cost on the
    * happy path: one existence probe per load. */
  private def healInterruptedSwap(ident: Identifier): Unit = {
    if (!isTableName(ident.name())) return
    val marker = WarehouseIO.scratchSiblings(tableDir(ident))
      .find(_.getName.endsWith("_swap"))
    if (!marker.exists(WarehouseIO.isFile)) return
    new TableSink(SinkConfig(tableName = ident.name(),
      warehousePath = warehouse,
      location = Some(tableDir(ident).toString))).recoverSwap()
  }

  /** Latest state. A VERSIONED table resolves through its newest manifest
    * — not the live directory — so data files a crashed or in-flight write
    * left behind stay invisible until their commit lands (Iceberg's
    * snapshot-isolation contract). Unversioned tables have no manifest and
    * read the live directory. */
  override def loadTable(ident: Identifier): Table = {
    healInterruptedSwap(ident)
    if (!tableExists(ident)) {
      val mt = metaTable(ident)
      if (mt.isDefined) return mt.get
      // refuse OUTSIDE the table namespace too: without this, a
      // dot/underscore-prefixed directory (a swap scratch sibling, a
      // crashed run's trash) that happens to contain files would serve
      // as a table through the by-name door SHOW TABLES never lists
      throw new NoSuchTableException(ident)
    }
    val log = TableLog(logDir(ident))
    log.head match {
      case Some(v) =>
        if (log.isClone) return libraryProjected(ident)(_.readVersion(_, v))
        val (files, library) = snapshotFiles(ident, log, v)
        fileTable(ident, files, files.headOption, declaredSchema(ident),
          writable = true, morVersion = Some(v).filter(_ => library))
      case None =>
        firstDataFile(ident) match {
          case Some(first) =>
            fileTable(ident, Seq(tableDir(ident).toString), Some(first),
              declaredSchema(ident), writable = true)
          case None if declaredSchema(ident).isDefined =>
            // created-but-empty (CREATE TABLE / CTAS target): the declared
            // schema serves reads (empty) and validates the first INSERT.
            // The scan lists the table directory, which holds only hidden
            // `_graft_*` entries: a file index over no paths makes Spark
            // warn that all paths were ignored
            fileTable(ident, Seq(tableDir(ident).toString), None,
              declaredSchema(ident), writable = true)
          case None => throw new NoSuchTableException(ident)
        }
    }
  }

  /** `VERSION AS OF v` — an integer resolves the exact file set snapshot
    * `v` recorded; a non-integer resolves a BRANCH head (Iceberg's
    * `VERSION AS OF 'branch'` convention), so an audit branch staged by
    * `TableSink.appendToBranch` is queryable by name through SQL before
    * it is published to main. */
  override def loadTable(ident: Identifier, version: String): Table = {
    healInterruptedSwap(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    loadVersion(ident, TableLog(logDir(ident)), version)
  }

  /** [[loadTable]] `VERSION AS OF version`, resolved against one view of
    * the table's log. */
  private def loadVersion(ident: Identifier, log: TableLog,
      version: String): Table = {
    def pinnedAt(v: Int): (Seq[String], Option[Int]) = {
      val (files, library) = snapshotFiles(ident, log, v)
      (files, Some(v).filter(_ => library))
    }
    val (files, morVersion) = version.toIntOption match {
      case Some(v) =>
        if (log.isClone) return libraryProjected(ident)(_.readVersion(_, v))
        pinnedAt(v)
      case None =>
        // Same name charset TableLog.branchDirName enforces on write:
        // anything else (slashes, '..') must not resolve as a path.
        if (!version.matches("[A-Za-z0-9_-]+"))
          throw new IllegalArgumentException(
            s"${ident.name()}: '$version' is neither an integer snapshot id " +
              "nor a live branch or tag name")
        val branch = log.branch(version)
        branch.head match {
          case Some(v) =>
            // a branch head mixes staged appends with main-line sidecar
            // history: under pending MoR sidecars it serves through the
            // LIBRARY two-slice read (TableSink.readBranch — sidecars
            // committed <= the branch base apply to the base slice,
            // staged appends read raw; round-12, the refusal deleted).
            val pendingHead = log.head.map(log.pendingVersions).getOrElse(Nil)
            if (pendingHead.nonEmpty)
              return libraryProjected(ident)(_.readBranch(_, version))
            // branch snapshots reference manifests in the MAIN log dir
            (manifestFiles(ident, branch, v), None)
          case None =>
            // not a branch — a TAG resolves to the pinned snapshot
            // (Iceberg's VERSION AS OF accepts branch and tag names alike;
            // branches win on a name collision, checked first above)
            val tv = log.tagVersion(version).getOrElse(
              throw new IllegalArgumentException(
                s"${ident.name()}: '$version' is neither an integer " +
                  "snapshot id nor a live branch or tag name"))
            if (log.isClone)
              return libraryProjected(ident)(_.readVersion(_, tv))
            pinnedAt(tv)
        }
    }
    // declared schema governs historical reads too: a snapshot older than
    // an ADD COLUMNS reads NULL-filled, never schema-shifted mid-query
    fileTable(ident, files, files.headOption, declaredSchema(ident),
      morVersion = morVersion)
  }

  /** Snapshot `v`'s files for the native file table, and whether its rows
    * serve through the library read ([[TableSink.readVersion]]) instead:
    * the native scan would resurrect the rows of pending merge-on-read
    * sidecars, and Spark's partition inference refuses files written
    * under more than one partition spine ([[TableSink.spineOf]]). The
    * native table of a mixed-spine snapshot holds the files of one spine
    * (the table's current spec when any file has it), for its schema. */
  private def snapshotFiles(ident: Identifier, log: TableLog,
      v: Int): (Seq[String], Boolean) = {
    val files = manifestFiles(ident, log, v)
    val bySpine = log.files(v).groupBy(TableSink.spineOf)
    if (bySpine.sizeIs <= 1) (files, log.pendingVersions(v).nonEmpty)
    else {
      val spec = insertConfig(ident, files.headOption).partitionSpec
        .map(_.columnName)
      (bySpine.getOrElse(spec, bySpine.values.head)
        .map(rel => s"${tableDir(ident)}/$rel"), true)
    }
  }

  /** `TIMESTAMP AS OF t` (micros since epoch): the last snapshot committed
    * at or before `t`, by manifest commit time — Iceberg's as-of-timestamp
    * resolution against the sink's log. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    healInterruptedSwap(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val log = TableLog(logDir(ident))
    if (log.versions.isEmpty) throw new IllegalArgumentException(
      s"table ${ident.name()} has no snapshot log (unversioned); " +
        "TIMESTAMP AS OF needs versioned=true commits")
    val cutoffMs = timestampMicros / 1000L
    val v = log.versions.filter(log.committedAtMs(_) <= cutoffMs)
      .lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"${ident.name()}: no snapshot committed at or before timestamp " +
          s"$timestampMicros"))
    loadVersion(ident, log, v.toString)
  }

  // ------------------------------------------------------------- DDL
  // The write path is TableSink (create-if-missing on first append, commits
  // maintain the manifest); catalog DDL that would bypass it is refused.

  /** `CREATE TABLE` / CTAS target creation: records the declared schema
    * (and an optional `versioned` property) so the empty table loads with
    * a typed read surface; the data path stays [[TableSink]] — a catalog
    * INSERT routes through the same staged, manifest-maintaining append.
    *
    * `PARTITIONED BY (col, …)` with IDENTITY transforms is honored: the
    * columns persist as the table's partition spec (the same
    * `_graft_config` lines a library append writes), every SQL
    * INSERT/DELETE/UPDATE/MERGE derives and clusters on them through
    * [[TableSink]], and partition pruning applies on read — identity
    * fields are data columns, so the SQL write surface can never
    * disagree with the derivation ([[fileTable]]'s writability rule).
    * HIDDEN transforms (`days(ts)`, `bucket(n, c)`, `truncate(n, c)`)
    * refuse toward the library API: their derived column appears in the
    * directory spine but not the declared schema, and a SQL INSERT
    * could contradict the derivation — the same reason those tables are
    * read-only through this door. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[V2Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    require(isTableName(ident.name()),
      s"'${ident.name()}' is not a creatable table name: leading '_'/'.' " +
        "and '=' are reserved for metadata, swap scratch, and partition " +
        "directories — the listing and loadTable would never serve it")
    val partitionFields: Seq[PartitionField] = partitions.toSeq.map { t =>
      require(t.references.length == 1,
        s"PARTITIONED BY $t: exactly one source column expected")
      val col = t.references.head.fieldNames()
      require(col.length == 1,
        s"PARTITIONED BY ${col.mkString(".")}: nested partition " +
          "columns are not supported")
      require(schema.fieldNames.exists(_.equalsIgnoreCase(col.head)),
        s"PARTITIONED BY ${col.head}: no such column in the schema")
      def intArg: Int = t.arguments.toSeq.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value.toString.toInt
      }.getOrElse(throw new IllegalArgumentException(
        s"PARTITIONED BY $t: missing integer argument"))
      // the DDL spellings map onto the library's transform set — hidden
      // transforms included: the write door derives the partition value
      // (TableSink.withDerived) and the read door projects the derived
      // directory column away, so SQL can neither contradict nor even
      // observe the derivation
      val tr = t.name.toLowerCase match {
        case "identity" => Transform.Identity
        case "years" | "year" => Transform.Year
        case "months" | "month" => Transform.Month
        case "days" | "day" => Transform.Day
        case "hours" | "hour" => Transform.Hour
        case "bucket" => Transform.Bucket(intArg)
        case "truncate" => Transform.Truncate(intArg)
        case other => throw new UnsupportedOperationException(
          s"PARTITIONED BY $other: unknown transform — identity, " +
            "years/months/days/hours, bucket(n, col), truncate(w, col)")
      }
      PartitionField(col.head, tr)
    }
    // USING <provider> arrives as the 'provider' property — honor it
    // (parquet/orc) or refuse; a silently-parquet "orc table" is worse
    // than an error
    val provider = Option(properties.get("provider"))
      .map(_.toLowerCase).filterNot(_ == "graft").getOrElse("parquet")
    require(Set("parquet", "orc").contains(provider),
      s"USING $provider is not supported here — parquet or orc")
    val versioned = "true".equalsIgnoreCase(
      properties.getOrDefault("versioned", "false"))
    WarehouseIO.mkdirs(tableDir(ident))
    WarehouseIO.writeString(schemaFile(ident), schema.json)
    if (versioned)
      WarehouseIO.writeString(versionedMarker(ident), "true")
    // the same config sidecar a library append persists, so the first
    // INSERT writes the declared format under the declared versioning
    // and partition spec (identity = source:identity, the rendering
    // TableSink.persistConfigHints uses)
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    WarehouseIO.writeString(
      new org.apache.hadoop.fs.Path(tableDir(ident), "_graft_config"),
      (Seq(s"fileFormat=$provider", "numPartitions=1",
        s"versioned=$versioned") ++
        partitionFields.map(p =>
          s"partition=${enc(p.source)}:${enc(Transform.render(p.transform))}")
      ).mkString("\n"))
    loadTable(ident)
  }

  override def createTable(ident: Identifier, info: TableInfo): Table =
    createTable(ident, info.schema(), info.partitions(), info.properties())

  /** The type promotions safe on immutable files with no field ids —
    * the Iceberg spec's permitted schema-evolution set: every old
    * physical value reads back exactly under the wider declared type
    * (the parquet/orc readers upcast at scan), and every new value the
    * wider type admits is representable. Decimal: precision may grow,
    * scale must hold (a scale change would RESCALE history). */
  private def isSafeWidening(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** Names DROPPED from this table's declared schema, ever — the
    * tombstone list that makes DROP COLUMN safe without field ids: old
    * data files still carry the dropped column's bytes, so re-ADDing
    * the same name would silently RESURRECT pre-drop values instead of
    * reading NULL (exactly the drop-vs-rename ambiguity Iceberg solves
    * with field ids). A tombstoned name is permanently refused on ADD;
    * everything else about the drop is pure declared-schema projection. */
  private def tombstonesFile(ident: Identifier): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(tableDir(ident), "_graft_tombstones")

  private def tombstones(ident: Identifier): Set[String] =
    if (!WarehouseIO.isFile(tombstonesFile(ident))) Set.empty
    else WarehouseIO.readString(tombstonesFile(ident))
      .split("\n").filter(_.nonEmpty).map(_.toLowerCase).toSet

  /** `ALTER TABLE … ADD COLUMNS` and `DROP COLUMN` — the two schema
    * changes expressible on immutable data files with no
    * field-id/column-mapping layer:
    *  - ADD grows the declared schema; pre-evolution files read the new
    *    column as NULL (Iceberg's additive evolution; the SQL twin of
    *    the library's append + mergeSchema path, `q_schema_evolution`).
    *    A name on the tombstone list is refused — old files still carry
    *    its bytes and would resurrect them (see [[tombstonesFile]]).
    *  - DROP shrinks the declared schema (reads project the column
    *    away — name-based parquet/orc reads prune it for free at scan
    *    time) and tombstones the name.
    * WIDENING retypes (int->bigint, float->double, decimal
    * precision-up) are also expressible: the declared schema governs
    * every read and the file readers upcast old files' narrower
    * physical type at scan time. Narrowing/cross-family retypes refuse
    * with the reason. The evolved schema is
    * committed atomically (temp + rename) and governs every subsequent
    * catalog read, time travel included. Hive-partitioned tables stay
    * fully read-only. Added columns must be nullable and top-level;
    * positions are not honored (columns append at the end — file-based
    * reads resolve by name, so order is cosmetic). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    require(!hasHiveDirs(ident),
      "ALTER TABLE on a hive-partitioned table is not supported — its " +
        "transform spec lives on the owning TableSink config; evolve " +
        "through the library (append + mergeSchema)")
    changes.foreach {
      case _: TableChange.AddColumn | _: TableChange.DeleteColumn |
           _: TableChange.RenameColumn |
           _: TableChange.UpdateColumnType => ()
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE ${other.getClass.getSimpleName} is not supported: " +
          "data files are immutable and carry no field ids, so only ADD " +
          "COLUMNS (NULL-filled on pre-evolution rows), DROP COLUMN " +
          "(declared-schema projection + tombstone), RENAME COLUMN " +
          "(persisted old->new name mapping applied at scan), and " +
          "WIDENING retypes (int->bigint, float->double, decimal " +
          "precision-up — the parquet reader upcasts old files at scan) " +
          "are expressible")
    }
    val base = declaredSchema(ident).getOrElse(
      // first ALTER on a library-created table freezes the current
      // file-inferred schema as the declared one, then evolves it
      loadTable(ident).schema())
    val dead = tombstones(ident)
    var renames = renamesOf(ident)
    var extraTombstones = Set.empty[String]
    val partCols = insertConfig(ident, None).partitionSpec
      .flatMap(p => Seq(p.source, p.columnName)).map(_.toLowerCase)
    // columns live delete sidecars reference (round-14): DROP on one
    // would silently NULL-drop post-drop rows (predicate) or fail every
    // read unresolved (key list) — see TableSink.pendingSidecarColumnRefs
    lazy val sidecarRefs = new TableSink(
      insertConfig(ident, firstDataFile(ident)))
      .pendingSidecarColumnRefs(SparkSession.active)
    val evolved = changes.foldLeft(base) {
      case (sch, a: TableChange.AddColumn) =>
        require(a.fieldNames().length == 1,
          s"ADD COLUMNS ${a.fieldNames().mkString(".")}: nested additions " +
            "are not supported — add a top-level column")
        val name = a.fieldNames().head
        require(!sch.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"column $name already exists")
        require(!dead.contains(name.toLowerCase) &&
            !extraTombstones.contains(name.toLowerCase),
          s"column $name was DROPPED from this table: old data files " +
            "still carry its values, and without field ids a re-added " +
            s"'$name' would resurrect them instead of reading NULL — " +
            "use a fresh name")
        require(!renames.keys.exists(_.equalsIgnoreCase(name)),
          s"column $name is the pre-rename physical name of a renamed " +
            "column: old data files still carry its values and a re-added " +
            s"'$name' would resurrect them — use a fresh name")
        require(a.isNullable,
          s"added column $name must be nullable — pre-evolution rows have " +
            "no value for it")
        sch.add(org.apache.spark.sql.types.StructField(
          name, a.dataType(), nullable = true))
      case (sch, d: TableChange.DeleteColumn) =>
        require(d.fieldNames().length == 1,
          s"DROP COLUMN ${d.fieldNames().mkString(".")}: nested drops " +
            "are not supported — drop a top-level column")
        val name = d.fieldNames().head
        require(sch.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"column $name does not exist")
        require(sch.fields.length > 1,
          s"cannot drop $name: it is the table's only column")
        // a created-but-still-empty partitioned table has no hive dirs
        // yet, so it slips past the blanket partitioned-ALTER refusal
        // above — but its persisted partition spec would then point at a
        // dropped column and every subsequent INSERT would die at write
        // time with a confusing derivation error; refuse at ALTER time
        require(!partCols.contains(name.toLowerCase),
          s"cannot drop $name: it is named in the table's partition spec " +
            "— evolve the partitioning first")
        require(!sidecarRefs.contains(name.toLowerCase),
          s"cannot drop $name: a pending merge-on-read delete sidecar " +
            "references it — a predicate over a dropped column would " +
            "silently drop every post-drop row and a key-list anti-join " +
            "would fail every read; consolidate or compact the table " +
            "first (it materializes the deletes), then drop")
        // dropping a RENAMED column: its pre-rename physical names must
        // become tombstones too (old files carry their bytes), and the
        // mappings die with the column — otherwise a scan would keep
        // resurrecting the dropped values under the mapping
        val (toTomb, kept) = renames.partition(_._2.equalsIgnoreCase(name))
        renames = kept
        extraTombstones ++= toTomb.keys.map(_.toLowerCase)
        org.apache.spark.sql.types.StructType(
          sch.fields.filterNot(_.name.equalsIgnoreCase(name)))
      case (sch, u: TableChange.UpdateColumnType) =>
        // TYPE WIDENING (Iceberg spec "Schema Evolution": int->long,
        // float->double, decimal precision-up at fixed scale are the
        // permitted promotions): the declared schema governs every read,
        // and the parquet/orc readers upcast old files' narrower
        // physical type at scan time — no field ids needed, exactly
        // like NULL-fill serves ADD COLUMNS. Anything else (narrowing,
        // cross-family) still refuses: it would need real column
        // rewriting or silently corrupt old rows.
        require(u.fieldNames().length == 1,
          s"ALTER COLUMN ${u.fieldNames().mkString(".")}: nested retypes " +
            "are not supported — retype a top-level column")
        val name = u.fieldNames().head
        require(sch.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"column $name does not exist")
        val cur = sch(sch.fieldNames.find(_.equalsIgnoreCase(name)).get)
        val to = u.newDataType()
        require(isSafeWidening(cur.dataType, to),
          s"cannot retype $name from ${cur.dataType.sql} to ${to.sql}: " +
            "only WIDENING promotions are expressible on immutable data " +
            "files without field ids (tinyint/smallint/int->bigint, " +
            "float->double, decimal precision increase at the same " +
            "scale) — a narrowing or cross-family retype would corrupt " +
            "or misread historical rows")
        // a partition-spec source retype changes derived values (bucket
        // hashes are type-sensitive; truncate widths shift) — the
        // directory spine is immutable, so refuse toward re-partitioning
        require(!partCols.contains(name.toLowerCase),
          s"cannot retype $name: it is named in the table's partition " +
            "spec — derived partition values (bucket hashes are " +
            "type-sensitive) would disagree with existing directories")
        org.apache.spark.sql.types.StructType(sch.fields.map(f =>
          if (f.name.equalsIgnoreCase(name)) f.copy(dataType = to) else f))
      case (sch, r: TableChange.RenameColumn) =>
        require(r.fieldNames().length == 1,
          s"RENAME COLUMN ${r.fieldNames().mkString(".")}: nested renames " +
            "are not supported — rename a top-level column")
        val old = r.fieldNames().head
        val nw = r.newName()
        require(sch.fieldNames.exists(_.equalsIgnoreCase(old)),
          s"column $old does not exist")
        require(!sch.fieldNames.exists(_.equalsIgnoreCase(nw)),
          s"cannot rename $old to $nw: $nw already exists")
        require(!dead.contains(nw.toLowerCase) &&
            !extraTombstones.contains(nw.toLowerCase) &&
            !renames.keys.exists(_.equalsIgnoreCase(nw)),
          s"cannot rename $old to $nw: old data files still carry bytes " +
            s"under '$nw' (a dropped or previously-renamed column) and " +
            "the scan mapping would resurrect them — use a fresh name")
        require(!partCols.contains(old.toLowerCase),
          s"cannot rename $old: it is named in the table's partition " +
            "spec — evolve the partitioning first")
        // files written while the column was called `old` keep that
        // physical name forever: repoint every mapping that targeted
        // `old` (earlier generations) and add `old`'s own line
        renames = renames.map { case (o, n) =>
          o -> (if (n.equalsIgnoreCase(old)) nw else n)
        } + (old -> nw)
        org.apache.spark.sql.types.StructType(sch.fields.map(f =>
          if (f.name.equalsIgnoreCase(old)) f.copy(name = nw) else f))
      case (sch, _) => sch // unreachable (pre-validated above)
    }
    val dropped = changes.collect { case d: TableChange.DeleteColumn =>
      d.fieldNames().head.toLowerCase }
    if (dropped.nonEmpty || extraTombstones.nonEmpty)
      WarehouseIO.writeStringAtomic(tombstonesFile(ident),
        (dead ++ dropped ++ extraTombstones).toSeq.sorted.mkString("\n"))
    if (renames != renamesOf(ident)) {
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      WarehouseIO.writeStringAtomic(renamesFile(ident),
        renames.toSeq.sortBy(_._1)
          .map { case (o, n) => s"${enc(o)}:${enc(n)}" }.mkString("\n"))
    }
    // atomic overwrite: a reader never observes a torn schema file
    WarehouseIO.writeStringAtomic(schemaFile(ident), evolved.json)
    loadTable(ident)
  }

  /** `_graft_renames` sidecar: one URL-encoded `old:new` line per
    * physical column-name generation (see TableSink.renameMap — the
    * scan-side consumer). */
  private def renamesFile(ident: Identifier): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(tableDir(ident), "_graft_renames")

  private def renamesOf(ident: Identifier): Map[String, String] =
    new TableSink(SinkConfig(tableName = ident.name(),
      warehousePath = warehouse,
      location = Some(tableDir(ident).toString))).renameMap

  /** DROP also reclaims the table's swap scratch siblings (rewrite tmp,
    * crash trash) — and succeeds when ONLY those exist: a table that
    * crashed between the swap's two renames has its data stranded in
    * `.t_pre_rewrite` with no root dir, and without this clause it would
    * be invisible to the catalog yet impossible to drop through SQL.
    * DROP is therefore the recovery-ABORT tool (discard the stranded
    * state); running any rewriting op on the owning [[TableSink]] first
    * is the recovery-RESUME tool (restore it). */
  override def dropTable(ident: Identifier): Boolean = {
    val scratch =
      if (!isTableName(ident.name())) Nil // never derive paths from junk
      else WarehouseIO.scratchSiblings(tableDir(ident))
        .filter(WarehouseIO.exists)
    val droppedTable = tableExists(ident) &&
      WarehouseIO.delete(tableDir(ident), recursive = true)
    val droppedScratch = scratch
      .map(WarehouseIO.delete(_, recursive = true)).nonEmpty
    droppedTable || droppedScratch
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent))
      throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent))
      throw new TableAlreadyExistsException(newIdent)
    require(isTableName(newIdent.name()),
      s"cannot rename to '${newIdent.name()}': leading '_'/'.' and '=' " +
        "are reserved — the table would become invisible to the catalog")
    WarehouseIO.rename(tableDir(oldIdent), tableDir(newIdent))
  }
}

/** Read-only facade over a native v2 file table: exposes scan building
  * untouched (vectorized read, pushdown, partition pruning) but advertises
  * only `BATCH_READ`, so `INSERT INTO` fails at analysis instead of writing
  * files the snapshot manifest never recorded. Time-travel/branch/tag
  * loads and hive-partitioned tables serve through this; latest-snapshot
  * loads of unpartitioned tables serve through [[GraftWritableTable]]. */
private[graft] final class GraftReadOnlyTable(delegate: FileTable,
    fullName: String) extends Table with SupportsRead {
  override def name(): String = fullName
  override def schema(): StructType = delegate.schema
  override def partitioning(): Array[V2Transform] = delegate.partitioning()
  override def properties(): util.Map[String, String] = delegate.properties()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    delegate.newScanBuilder(options)
}

/** A metadata table (`cat.t.snapshots` / `files` / `partitions` /
  * `deletes` / `changes`): read-only, served from the metadata DataFrame.
  * A frame the driver already holds (the file and partition inventories
  * over the head manifest's per-file facts, the delete rows and the
  * snapshot rows, all built at plan-construction time) serves its rows as
  * a DSv2 `LocalScan`, and [[LocalScanStrategy]] plans a query over it
  * without a Spark job. `changes`, whose row-level changelog is
  * data-sized, stays a [[org.apache.spark.sql.connector.read.V1Scan]]
  * that executes the frame as its plan (`df.rdd`) and never funnels it
  * through the driver. No write capability: an INSERT gets Spark's
  * standard refusal. */
private[graft] final class GraftMetaTable(fullName: String,
    compute: () => org.apache.spark.sql.DataFrame)
    extends Table with SupportsRead {
  // one plan per load: schema() during analysis and the scan at execution
  // must agree
  private lazy val df = compute()
  /** The frame's rows, when it optimizes to a local relation. Only a plan
    * whose every leaf is one can, and checking that first spares
    * `changes`' data-sized plan an extra optimizer pass. */
  private lazy val localRows: Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val qe = df.queryExecution
    if (!qe.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else qe.optimizedPlan match {
      case r: LocalRelation => Some(r.data)
      case _ => None
    }
  }
  override def name(): String = fullName
  override def schema(): StructType = df.schema
  override def partitioning(): Array[V2Transform] = Array.empty
  override def properties(): util.Map[String, String] = util.Map.of()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => localRows match {
      case Some(data) => new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = df.schema
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
          data.toArray
      }
      case None => new org.apache.spark.sql.connector.read.V1Scan {
        override def readSchema(): StructType = df.schema
        override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan](
            context: org.apache.spark.sql.SQLContext): T =
          new org.apache.spark.sql.sources.BaseRelation
              with org.apache.spark.sql.sources.TableScan {
            override def sqlContext: org.apache.spark.sql.SQLContext = context
            override def schema: StructType = df.schema
            override def buildScan(): org.apache.spark.rdd.RDD[
              org.apache.spark.sql.Row] = df.rdd
          }.asInstanceOf[T]
      }
    }
}

/** V1 `Filter` → SQL text rendering, shared by the writable table's
  * DELETE translator and the projected scan's best-effort pushdown.
  * `None` = not expressible (the caller refuses or skips). */
private[graft] object GraftFilterSql {

  private def sqlLit(v: Any): Option[String] = v match {
    case null => None // NULL literals only reach us inside IsNull/IsNotNull
    case s: String => Some("'" + s.replace("'", "''") + "'")
    case s: org.apache.spark.unsafe.types.UTF8String =>
      Some("'" + s.toString.replace("'", "''") + "'")
    // Timestamps render as an ISO-8601 instant with an EXPLICIT 'Z'
    // zone designator: Spark parses a zoned string absolutely, so the
    // literal survives ANY session timezone (java.sql.Timestamp.toString
    // would render in the JVM default zone and re-parse in the session
    // zone — a skewed cutoff deletes the wrong rows; that risk is why
    // timestamps used to be refused outright).
    case t: java.sql.Timestamp =>
      Some(s"CAST('${java.time.format.DateTimeFormatter.ISO_INSTANT
        .format(t.toInstant)}' AS TIMESTAMP)")
    case t: java.time.Instant =>
      Some(s"CAST('${java.time.format.DateTimeFormatter.ISO_INSTANT
        .format(t)}' AS TIMESTAMP)")
    case d: java.sql.Date => Some(s"DATE '$d'")
    case d: java.time.LocalDate => Some(s"DATE '$d'")
    case n @ (_: Byte | _: Short | _: Int | _: Long) => Some(n.toString)
    // float/double round-trip through their shortest-repr toString CAST
    // back to the exact same value — a bare 0.1 literal would compare in
    // decimal/double space and silently match nothing for floats (and
    // NaN/Infinity only parse through the string form)
    case f: Float => Some(s"CAST('$f' AS FLOAT)")
    case d: Double => Some(s"CAST('$d' AS DOUBLE)")
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case b: Boolean => Some(b.toString)
    case _ => None
  }

  /** LIKE-pattern fragment: `~` as the escape character (no interaction
    * with string-literal backslash escaping), metacharacters `% _ ~`
    * neutralized, quotes doubled — a prefix like `50%_off` must match
    * literally, not as wildcards. */
  private def likePat(s: String): String =
    s.replace("~", "~~").replace("%", "~%").replace("_", "~_")
      .replace("'", "''")

  private def quoted(attr: String): String =
    attr.split('.').map(p => s"`${p.replace("`", "``")}`").mkString(".")

  def filterSql(
      f: org.apache.spark.sql.sources.Filter): Option[String] = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => sqlLit(v).map(l => s"${quoted(a)} = $l")
      case EqualNullSafe(a, v) =>
        sqlLit(v).map(l => s"${quoted(a)} <=> $l")
      case GreaterThan(a, v) => sqlLit(v).map(l => s"${quoted(a)} > $l")
      case GreaterThanOrEqual(a, v) =>
        sqlLit(v).map(l => s"${quoted(a)} >= $l")
      case LessThan(a, v) => sqlLit(v).map(l => s"${quoted(a)} < $l")
      case LessThanOrEqual(a, v) => sqlLit(v).map(l => s"${quoted(a)} <= $l")
      case In(a, vs) =>
        val ls = vs.toSeq.map(sqlLit)
        if (ls.exists(_.isEmpty) || ls.isEmpty) None
        else Some(s"${quoted(a)} IN (${ls.flatten.mkString(", ")})")
      case IsNull(a) => Some(s"${quoted(a)} IS NULL")
      case IsNotNull(a) => Some(s"${quoted(a)} IS NOT NULL")
      case And(l, r) =>
        for (ls <- filterSql(l); rs <- filterSql(r))
          yield s"($ls AND $rs)"
      case Or(l, r) =>
        for (ls <- filterSql(l); rs <- filterSql(r)) yield s"($ls OR $rs)"
      case Not(c) => filterSql(c).map(s => s"NOT ($s)")
      case StringStartsWith(a, p) =>
        Some(s"${quoted(a)} LIKE '${likePat(p)}%' ESCAPE '~'")
      case StringEndsWith(a, p) =>
        Some(s"${quoted(a)} LIKE '%${likePat(p)}' ESCAPE '~'")
      case StringContains(a, p) =>
        Some(s"${quoted(a)} LIKE '%${likePat(p)}%' ESCAPE '~'")
      case AlwaysTrue() => Some("TRUE")
      case AlwaysFalse() => Some("FALSE")
      case _ => None
    }
  }
}

/** Scan builder over a pre-composed DataFrame thunk — the serving path
  * for RENAMED tables, whose scans must coalesce old and new physical
  * column names. Column pruning pushes into the inner DataFrame (the
  * parquet scan reads only the requested generations' columns); filters
  * are applied inside the frame when the SQL translator can express them
  * (so parquet row-group skipping still fires) and are ALWAYS declared
  * residual, so Spark re-evaluates every predicate above the scan —
  * best-effort pushdown can never change results. */
private[graft] final class ProjectedScanBuilder(schema0: StructType,
    compute: () => org.apache.spark.sql.DataFrame,
    computeWithFilters: Option[Array[org.apache.spark.sql.sources.Filter] =>
      org.apache.spark.sql.DataFrame] = None) extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var pruned: StructType = schema0
  private var hint: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    pruned = requiredSchema
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    hint = filters
    filters // all residual: Spark re-applies them above the scan
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  override def build(): org.apache.spark.sql.connector.read.Scan =
    new org.apache.spark.sql.connector.read.V1Scan {
      override def readSchema(): StructType = pruned
      override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan](
          context: org.apache.spark.sql.SQLContext): T =
        new org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan {
          override def sqlContext: org.apache.spark.sql.SQLContext = context
          override def schema: StructType = pruned
          override def buildScan(): org.apache.spark.rdd.RDD[
              org.apache.spark.sql.Row] = {
            // filter-aware frames (the MoR serving path) receive the
            // pushed filters for scan-planning FILE pruning; the same
            // filters are re-applied below regardless — the frame-level
            // pruning narrows I/O, never decides row membership alone
            val df0 = computeWithFilters.fold(compute())(f => f(hint))
            val df1 = hint.flatMap(GraftFilterSql.filterSql)
              .foldLeft(df0)((d, sql) =>
                d.where(org.apache.spark.sql.functions.expr(sql)))
            df1.select(pruned.fieldNames.toIndexedSeq.map(df1.col): _*).rdd
          }
        }.asInstanceOf[T]
    }
}

/** Read-only renamed table (time-travel/branch loads): serves the
  * declared schema through [[ProjectedScanBuilder]]. */
private[graft] final class GraftProjectedTable(fullName: String,
    schema0: StructType,
    compute: () => org.apache.spark.sql.DataFrame,
    filterCompute: Option[Array[org.apache.spark.sql.sources.Filter] =>
      org.apache.spark.sql.DataFrame] = None)
    extends Table with SupportsRead {
  override def name(): String = fullName
  override def schema(): StructType = schema0
  override def partitioning(): Array[V2Transform] = Array.empty
  override def properties(): util.Map[String, String] = util.Map.of()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ProjectedScanBuilder(schema0, compute, filterCompute)
}

/** The catalog-side ingredients of scan-planning stats pruning: the
  * full path set, a table factory over a pruned subset, and the planner
  * that consults manifest stats ([[TableSink.planCandidates]]). */
private[graft] final case class GraftStatsPlanner(
    allPaths: Seq[String],
    rebuild: Seq[String] => FileTable,
    plan: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      Option[Seq[String]])

/** Writable catalog table: reads delegate to the native v2 file scan;
  * `INSERT INTO` routes through [[TableSink.append]] via the V1 write
  * bridge, so a SQL append takes the SAME staged write + optimistic
  * manifest commit (and CHECK-constraint gate) as the library API — the
  * invariant the read-only facade exists to protect. `INSERT OVERWRITE`
  * (whole-table) routes through [[TableSink.replaceAllRows]]'s guarded
  * crash-safe swap — gate, sidecars, history expiry included; FILTERED
  * overwrites stay refused (partial overwrite is upsert/delete's job,
  * with their partition-scoped protocols).
  *
  * `DELETE FROM … WHERE` routes through [[TableSink.delete]] (copy-on-
  * write) by default, or [[TableSink.deletePositions]] (merge-on-read,
  * O(matched) metadata, zero files rewritten) when the session sets
  * `spark.graft.sql.deleteMode=mor` — the catalog read path serves
  * tables with pending sidecars through the library read, so the MoR
  * flavor keeps the SQL door fully readable. Predicates the filter
  * translator cannot express in SQL text refuse at `canDeleteWhere`
  * with Spark's standard error rather than deleting the wrong rows. */
private[graft] final class GraftWritableTable(delegate: FileTable,
    fullName: String, declaredSchema: Option[StructType],
    private[graft] val insertCfg: SinkConfig,
    hideCols: Seq[String] = Nil,
    scanOverride: Option[(StructType, () => org.apache.spark.sql.DataFrame)] =
      None,
    scanFilterCompute: Option[Array[org.apache.spark.sql.sources.Filter] =>
      org.apache.spark.sql.DataFrame] = None,
    statsPlanner: Option[GraftStatsPlanner] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  private def deleteSql(
      filters: Array[org.apache.spark.sql.sources.Filter]): Option[String] =
    if (filters.isEmpty) Some("TRUE")
    else {
      val parts = filters.toSeq.map(GraftFilterSql.filterSql)
      if (parts.exists(_.isEmpty)) None
      else Some(parts.flatten.mkString("(", ") AND (", ")"))
    }

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    deleteSql(filters).isDefined

  /** SQL `DELETE WHERE`. Mode is session-selectable via
    * `spark.graft.sql.deleteMode`:
    *  - `cow` (default): copy-on-write through [[TableSink.delete]] —
    *    touched partitions rewrite, cost O(matching partitions' data).
    *  - `mor`: merge-on-read through [[TableSink.deletePositions]] —
    *    the predicate resolves ONCE, now, to deletion vectors committed
    *    as O(matched-row) metadata; ZERO data files rewrite, and the
    *    catalog's read path applies the sidecar, so the statement is
    *    O(scan + matches) instead of O(data rewritten). Exactly SQL
    *    DELETE semantics (later inserts that match are untouched).
    *    Tables the position flavor cannot serve (unversioned, non-
    *    parquet — no `_metadata.row_index` — uncommitted, or holding a
    *    live branch) fall back to copy-on-write: same result, the
    *    documented cost. This is the Iceberg
    *    `write.delete.mode=merge-on-read` dual for the SQL door. */
  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val sql = deleteSql(filters).getOrElse(sys.error(
      s"DELETE FROM $fullName: predicate not expressible — " +
        "use TableSink.delete"))
    val spark = SparkSession.active
    val sink = new TableSink(insertCfg)
    val mor = spark.conf.get("spark.graft.sql.deleteMode", "cow")
      .equalsIgnoreCase("mor")
    if (mor && sink.morServable(needsHead = true))
      sink.deletePositions(spark, sql)
    else sink.delete(spark, org.apache.spark.sql.functions.expr(sql))
    ()
  }
  override def name(): String = fullName
  /** Logical schema: hidden-transform partition columns (present only in
    * the directory spine, never in the files) are projected away — SQL
    * reads and writes see exactly the source columns, and the scan's
    * column pruning never requests the derived directory value. */
  override def schema(): StructType = {
    val base = declaredSchema.getOrElse(delegate.schema)
    if (hideCols.isEmpty) base
    else StructType(base.fields.filterNot(f =>
      hideCols.exists(_.equalsIgnoreCase(f.name))))
  }
  override def partitioning(): Array[V2Transform] =
    delegate.partitioning().filterNot(t => t.references.exists(r =>
      hideCols.exists(_.equalsIgnoreCase(r.fieldNames.mkString(".")))))
  /** Delegate props + the governing sink config, so `DESCRIBE TABLE
    * EXTENDED` / `SHOW TBLPROPERTIES` show what actually rules the
    * writes (versioning, format, constraint gate, write clustering). */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String](delegate.properties())
    m.put("versioned", insertCfg.versioned.toString)
    m.put("format", insertCfg.fileFormat)
    m.put("write.parallelism", insertCfg.numPartitions.toString)
    if (insertCfg.sortOrder.nonEmpty)
      m.put("write.sort-order", insertCfg.sortOrder.mkString(", "))
    insertCfg.checkConstraints.zipWithIndex.foreach { case (c, i) =>
      m.put(s"constraint.c$i", c)
    }
    util.Collections.unmodifiableMap(m)
  }
  // TRUNCATE admits whole-table `INSERT OVERWRITE` (planned as
  // OverwriteByExpression(true)); OVERWRITE_BY_FILTER admits the
  // FILTERED forms — `INSERT OVERWRITE … PARTITION(...)` and
  // `INSERT INTO … REPLACE WHERE` — routed through
  // [[TableSink.replaceWhere]]'s delete-matching + insert commit
  // (partition-scoped on identity-partitioned tables)
  // no OVERWRITE_DYNAMIC capability: Spark's dynamic-overwrite plan has
  // no V1 write fallback (TableCapabilityCheck demands true BATCH_WRITE
  // and the exec calls Write.toBatch) — instead the session extension
  // rule resolves OverwritePartitionsDynamic into
  // [[graft.GraftDynamicOverwriteCommand]] → TableSink.overwriteDynamic
  // BEFORE the capability check runs (round-12; the UPDATE/MERGE
  // interception pattern), so `INSERT OVERWRITE` under
  // partitionOverwriteMode=dynamic works through SQL too
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    scanOverride match {
      // renamed / MoR-pending table: scans serve through the library
      // frame (filter-aware for MoR — file pruning stays live)
      case Some((sch, compute)) =>
        new ProjectedScanBuilder(sch, compute, scanFilterCompute)
      case None => (statsPlanner, delegate.newScanBuilder(options)) match {
        // manifest-stats pruning at scan planning (Iceberg's manifest
        // evaluation): pushed filters also prune the FILE LIST
        case (Some(sp), f: org.apache.spark.sql.execution.datasources.v2
            .FileScanBuilder) =>
          new org.apache.spark.sql.graft.StatsPruningScanBuilder(f,
            pruned => sp.rebuild(pruned).newScanBuilder(options), sp.plan)
        case (_, b) => b
      }
    }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwrite {
      // V2Writes plans whole-table INSERT OVERWRITE as
      // OverwriteByExpression(true) → truncate(); the FILTERED forms
      // (PARTITION(...) static specs, REPLACE WHERE) arrive as
      // overwrite(filters) — SupportsOverwrite's default truncate()
      // delegates to overwrite(AlwaysTrue)
      private var overwriteAll = false
      private var overwriteCond: Option[String] = None
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : WriteBuilder = {
        if (filters.isEmpty ||
            filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue()))
          overwriteAll = true
        else {
          val parts = filters.toSeq.map(GraftFilterSql.filterSql)
          require(parts.forall(_.isDefined),
            s"INSERT OVERWRITE $fullName: the overwrite condition is not " +
              "expressible by the filter translator — overwrite the " +
              "whole table or route through the library API")
          overwriteCond = Some(parts.flatten.mkString("(", ") AND (", ")"))
        }
        this
      }
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                overwrite: Boolean): Unit = {
              val sink = new TableSink(insertCfg)
              if (overwriteCond.isDefined)
                // filtered overwrite: delete-matching + insert as ONE
                // commit, partition-scoped on identity-partitioned
                // tables (TableSink.replaceWhere)
                sink.replaceWhere(data.sparkSession, data,
                  overwriteCond.get)
              else if (overwrite || overwriteAll)
                // whole-table replace under the full guard battery:
                // constraint gate, crash-safe swap, declaration sidecars
                // carried, history expired (a rewrite invalidates it)
                sink.replaceAllRows(data, None, "INSERT OVERWRITE")
              else sink.append(data)
            }
          }
      }
    }
}
