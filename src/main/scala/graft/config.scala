package graft

import org.apache.spark.sql.types.StructType

/** Sink configuration surface mirroring the reference's `IcebergSinkConfig`
  * (reference: models.py:104-262), re-expressed for a Spark parquet-warehouse
  * table sink.
  *
  * Differences from the reference, on purpose:
  *  - `sortOrder` actually sorts data within partitions before writing; in
  *    the reference the knob is only passed to table creation and never used
  *    to sort (connector.py:389 — dead knob, SURVEY.md §2.6).
  *  - `fileFormat` is honored (parquet/orc); in the reference it is declared
  *    but never read in the write path (models.py:169-172).
  *  - commit-conflict retry CONFIG is absent: the retry itself exists
  *    (TableSink.commitAppendedFiles — optimistic version claim with
  *    bounded retries, the reference's connector.py:242-257 loop realized
  *    Iceberg-style) but needs no user-facing knobs; Spark's commit
  *    protocol already serializes the data-file writes within one query.
  */
final case class SinkConfig(
    tableName: String,
    warehousePath: String,
    batchSize: Int = 1000,
    batchIntervalSeconds: Int = 15,
    numPartitions: Int = 1,
    fileFormat: String = "parquet",
    partitionSpec: Seq[PartitionField] = Nil,
    sortOrder: Seq[String] = Nil,
    tableSchema: Option[StructType] = None,
    location: Option[String] = None,
    extraOptions: Map[String, String] = Map.empty,
    // Catalog-surface passthroughs (models.py:131-147, 174-177).
    // GraftSession.registerCatalog(spark, config, name) consults them:
    // directory-backed types ("graft"/"hadoop", uri = warehouse root)
    // register a GraftCatalog; service-backed types (hive/rest/nessie/…)
    // are rejected with the reason (their client jars are not shipped).
    // tempDir is accepted for config-compatibility only — Spark manages
    // its own write staging.
    catalogUri: Option[String] = None,
    catalogType: Option[String] = None,
    tempDir: String = "/tmp",
    // CHECK constraints (Delta `ALTER TABLE ADD CONSTRAINT` analogue,
    // and the value-level extension of the reference's schema-validation
    // path §3.3): boolean SQL expressions every appended row must
    // satisfy. Enforced ATOMICALLY at the staged-write boundary — on a
    // versioned table the check scans only the files the write just
    // staged, and a violation aborts before any commit exists (nothing
    // to clean up, nothing half-visible). NULL evaluates as a violation
    // (a constraint must PROVE the row valid), same as SQL CHECK.
    checkConstraints: Seq[String] = Nil,
    // Snapshot log: when true, every batch commit records the table's data-
    // file manifest under _graft_log, enabling TableSink.readVersion time
    // travel over the append history (rewriting ops expire prior snapshots
    // — see TableSink.readVersion).
    versioned: Boolean = false,
    // Amortized manifest merge on commit (Iceberg's
    // commit.manifest.min-count-to-merge analogue): when a commit would
    // leave the head snapshot referencing MORE than this many delta
    // manifests, that commit folds the whole chain into one merged
    // manifest instead — paid once per `manifestMergeThreshold` commits,
    // so the per-commit amortized cost stays O(added + total/threshold)
    // while the manifest-count term (head reads, snapshot file size) is
    // bounded at any commit cadence. 0 disables (merge only via
    // TableSink.compactManifests / CALL system.compact_manifests).
    manifestMergeThreshold: Int = 64,
    // Amortized delete-sidecar consolidation for REPLICA tables (the
    // merge-on-read dual of manifestMergeThreshold): when a changelog
    // apply leaves more than this many snapshot versions carrying
    // pending delete sidecars, the apply folds them into ONE merged
    // sidecar commit (TableSink.consolidateDeletes) — so a long-running
    // replication's read cost stays bounded at `threshold` deletion
    // vectors instead of growing with every apply ever made. Consulted
    // only by the replication apply path (consolidation drops replica
    // history, which is the replica contract — time travel belongs to
    // the source); library users consolidate explicitly. 0 disables.
    deleteConsolidateThreshold: Int = 16) {

  require(tableName.nonEmpty, "tableName must be non-empty")
  require(batchSize >= 1 && batchSize <= 100000,
    s"batchSize must be in [1, 100000], got $batchSize")      // models.py:149-154
  require(batchIntervalSeconds >= 1 && batchIntervalSeconds <= 300,
    s"batchIntervalSeconds must be in [1, 300], got $batchIntervalSeconds") // models.py:155-160
  require(numPartitions >= 1 && numPartitions <= 100,
    s"numPartitions must be in [1, 100], got $numPartitions") // models.py:161-166
  // The reference enum (models.py:16-24) also lists avro; this build cannot
  // honor it and says so precisely rather than failing later in the writer.
  require(fileFormat != "avro",
    "fileFormat avro is declared by the reference (models.py:23) but not " +
      "available here: the spark-avro datasource jar is not in " +
      "/opt/spark/jars — use parquet or orc")
  require(Set("parquet", "orc").contains(fileFormat),
    s"fileFormat must be parquet or orc, got $fileFormat")
  require(tempDir.nonEmpty, "tempDir must be non-empty") // models.py:174-177
  require(manifestMergeThreshold >= 0,
    s"manifestMergeThreshold must be >= 0 (0 = never), " +
      s"got $manifestMergeThreshold")
  require(deleteConsolidateThreshold >= 0,
    s"deleteConsolidateThreshold must be >= 0 (0 = never), " +
      s"got $deleteConsolidateThreshold")

  /** Physical path of the table (reference: custom `location` override wins,
    * else warehouse/tableName — connector.py:380-386). */
  def tablePath: String = location.getOrElse(s"$warehousePath/$tableName")

  /** Soft-warning validators (reference: models.py:204-218). */
  def warnings: Seq[String] = {
    val w = Seq.newBuilder[String]
    if (batchIntervalSeconds > 60)
      w += s"batch interval ${batchIntervalSeconds}s > 60s: data freshness may suffer"
    if (numPartitions > 50)
      w += s"num_partitions $numPartitions > 50: coordination overhead may be high"
    w.result()
  }
}

object SinkConfig {
  /** models.py:220-233 */
  def forHighThroughput(tableName: String, warehousePath: String): SinkConfig =
    SinkConfig(tableName, warehousePath,
      batchSize = 10000, batchIntervalSeconds = 30, numPartitions = 8,
      fileFormat = "parquet")

  /** models.py:235-247 */
  def forLowLatency(tableName: String, warehousePath: String): SinkConfig =
    SinkConfig(tableName, warehousePath,
      batchSize = 100, batchIntervalSeconds = 5, numPartitions = 2)

  /** models.py:249-262 */
  def forPetabyteScale(tableName: String, warehousePath: String): SinkConfig =
    SinkConfig(tableName, warehousePath,
      batchSize = 50000, batchIntervalSeconds = 60, numPartitions = 32,
      fileFormat = "parquet")
}
