package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration — the knobs
  * that matter when the same code moves from local[32] to a 1000-executor
  * cluster reading 100 TB. A user of the reference switching to this
  * library starts here.
  */
object GraftSession {

  /** Generated classes Spark's codegen cache keeps (Spark's default is
    * 100). The engine's working set is larger: one `llm_curation`
    * benchmark run cycles through about 114 distinct generated classes
    * and one `stream_cdc` run through about 166, so at 100 entries every
    * curation pass re-ran Janino over byte-identical source. 2000 holds
    * both working sets with room for a larger query mix; an entry is one
    * loaded class plus its source text.
    *
    * The setting lives on the session builder because Spark reads this
    * static conf exactly once per JVM, when `CodeGenerator` first
    * initializes: setting it on a running session changes nothing.
    */
  val CodegenCacheEntries = 2000

  /** @param shufflePartitions match total cluster cores (local: the `N` of
    *   local[N]); at 100 TB raise toward 2-4× cores — AQE coalesces down.
    */
  def builder(appName: String = "graft",
      master: Option[String] = None,
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // 128 MB splits keep scan tasks balanced on large parquet
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // the engine's SQL surface: native kernels as SQL functions
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    master.fold(b)(b.master)
  }

  /** Register a [[GraftCatalog]] named `catalogName` over `warehouse` on an
    * existing session, enabling `SELECT ... FROM <name>.<table> [VERSION AS
    * OF v | TIMESTAMP AS OF t]` over every versioned sink table there.
    * Idempotent; callable any time (v2 catalogs resolve lazily). */
  def registerCatalog(spark: SparkSession, warehouse: String,
      catalogName: String = "graft"): Unit = {
    spark.conf.set(s"spark.sql.catalog.$catalogName",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalogName.warehouse", warehouse)
  }

  /** Register a catalog FROM a [[SinkConfig]]'s catalog passthrough fields
    * — the reference's `catalog_type` / `catalog_uri` knobs
    * (models.py:131-147) actually consulted instead of merely carried.
    *
    *  - `catalogType` unset, `"graft"`, or `"hadoop"` (the warehouse-
    *    directory-backed flavor): registers a [[GraftCatalog]] named
    *    `catalogName` over `catalogUri` if set (a path/URI root — the
    *    local analogue of a catalog endpoint) else the config's
    *    `warehousePath`.
    *  - any service-backed type the reference lists (`hive`, `rest`,
    *    `nessie`, `glue`, …): rejected with the precise reason — those
    *    need catalog-client runtime jars this offline build does not
    *    ship — rather than silently registering the wrong thing.
    */
  def registerCatalog(spark: SparkSession, config: SinkConfig,
      catalogName: String): Unit =
    config.catalogType.map(_.toLowerCase) match {
      case None | Some("graft") | Some("hadoop") =>
        registerCatalog(spark,
          config.catalogUri.getOrElse(config.warehousePath), catalogName)
      case Some(other) =>
        throw new IllegalArgumentException(
          s"catalogType '$other' (models.py:143-147) is service-backed and " +
            "not available here: its catalog-client jars are not in " +
            "/opt/spark/jars — use 'graft' or 'hadoop' over a warehouse path")
    }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(master = Some(s"local[$cores]"), shufflePartitions = cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
