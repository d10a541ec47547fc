package graft

import org.scalatest.funsuite.AnyFunSuite

/** The cost contract of each copy-on-write and merge-on-read `TableSink`
  * operation, of each SQL DML door in merge-on-read mode and of the reads
  * of a table with pending deletes: one row per operation on a fixed
  * small table, recording the Spark jobs it launches
  * ([[TestSpark.jobsDuring]]) and the directory listings it makes
  * ([[WarehouseIO.dirListings]]). Each ceiling is a measured count, at or
  * below the count of the change before it; a change that lowers a count
  * tightens its row, one that raises a count says why. */
class CostContractSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = TestSpark.tmpDir("cost_wh")
  spark.conf.set("spark.sql.catalog.gcost", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.gcost.warehouse", wh)

  private val cats = Seq("a", "b", "c", "d")

  /** 40 rows, ten in each of the partitions a, b, c and d. */
  private def base = (1 to 40)
    .map(i => (i.toLong, cats(i % 4), i.toDouble)).toDF("id", "cat", "v")

  /** A fresh versioned table holding [[base]], partitioned by `cat`
    * unless `partitioned` is false, under the CHECK `constraints`. */
  private def table(name: String, partitioned: Boolean = true,
      constraints: Seq[String] = Nil): TableSink = {
    val s = new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true, checkConstraints = constraints,
      partitionSpec =
        if (partitioned) Seq(PartitionField("cat", Transform.Identity))
        else Nil))
    s.append(base)
    s
  }

  private def withConf(key: String)(body: => Unit): Unit = {
    spark.conf.set(key, "mor")
    try body finally spark.conf.unset(key)
  }

  private val mergeSql =
    """MERGE INTO gcost.%s t USING cost_merge_src s ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET v = s.v
      |WHEN NOT MATCHED THEN INSERT (id, cat, v) VALUES (s.id, s.cat, s.v)"""
      .stripMargin

  /** One operation: `prepare` builds its table (unmeasured) and returns
    * the measured call. */
  private final class Op(val name: String, val jobs: Int,
      val listings: Long)(val prepare: String => () => Unit)

  private val ops: Seq[Op] = Seq(
    new Op("delete scoped", 6, 1)(t => {
      val s = table(t); () => { s.delete(spark, $"id" === 3L); () } }),
    new Op("delete emptied", 9, 1)(t => {
      val s = table(t); () => { s.delete(spark, $"cat" === "a"); () } }),
    new Op("delete unpartitioned", 6, 1)(t => {
      val s = table(t, partitioned = false)
      () => { s.delete(spark, $"id" === 3L); () } }),
    new Op("update scoped", 6, 1)(t => {
      val s = table(t)
      () => { s.update(spark, $"id" === 3L, Seq("v" -> ($"v" + 1.0))); () } }),
    new Op("update unpartitioned", 6, 1)(t => {
      val s = table(t, partitioned = false)
      () => { s.update(spark, $"id" === 3L, Seq("v" -> ($"v" + 1.0))); () } }),
    new Op("upsert scoped", 12, 1)(t => {
      val s = table(t)
      () => s.upsert(Seq((3L, "d", 30.0), (41L, "a", 41.0))
        .toDF("id", "cat", "v"), Seq("id")) }),
    new Op("upsert emptied", 11, 1)(t => {
      val s = table(t)
      s.append(Seq((100L, "e", 1.0)).toDF("id", "cat", "v"))
      () => s.upsert(Seq((100L, "a", 1.0)).toDF("id", "cat", "v"),
        Seq("id")) }),
    new Op("overwriteDynamic", 2, 1)(t => {
      val s = table(t)
      () => s.overwriteDynamic(spark,
        Seq((50L, "b", 5.0), (51L, "b", 5.1)).toDF("id", "cat", "v")) }),
    new Op("replaceWhere", 6, 2)(t => {
      val s = table(t)
      () => s.replaceWhere(spark,
        Seq((60L, "c", 6.0)).toDF("id", "cat", "v"), "cat = 'c' AND v > 20") }),
    new Op("SQL MERGE scoped", 12, 5)(t => {
      table(t)
      () => { spark.sql(mergeSql.format(t)); () } }),
    new Op("SQL MERGE scoped, one CHECK constraint", 12, 5)(t => {
      table(t, constraints = Seq("v >= 0"))
      () => { spark.sql(mergeSql.format(t)); () } }),
    new Op("compact", 5, 1)(t => {
      val s = table(t); () => s.compact(spark) }),
    new Op("compactPartitions", 7, 1)(t => {
      val s = table(t)
      (1 to 2).foreach(_ => s.append(base))
      () => { s.compactPartitions(spark, maxFiles = 2); () } }),
    new Op("clusterBy", 5, 1)(t => {
      val s = table(t); () => s.clusterBy(spark, Seq("id"), nRanges = 4) }),
    new Op("SQL DELETE, deleteMode=mor", 1, 7)(t => {
      table(t)
      () => withConf("spark.graft.sql.deleteMode") {
        spark.sql(s"DELETE FROM gcost.$t WHERE id = 3"); () } }),
    new Op("SQL UPDATE, updateMode=mor", 6, 7)(t => {
      table(t)
      () => withConf("spark.graft.sql.updateMode") {
        spark.sql(s"UPDATE gcost.$t SET v = v + 1 WHERE id = 3"); () } }),
    new Op("SQL MERGE, mergeMode=mor", 8, 6)(t => {
      table(t)
      () => withConf("spark.graft.sql.mergeMode") {
        spark.sql(mergeSql.format(t)); () } }),
    new Op("upsertMor", 8, 4)(t => {
      val s = table(t)
      () => s.upsertMor(Seq((3L, "d", 30.0), (41L, "a", 41.0))
        .toDF("id", "cat", "v"), Seq("id")) }),
    new Op("updateMor", 6, 4)(t => {
      val s = table(t)
      () => { s.updateMor(spark, $"id" === 3L, Seq("v" -> ($"v" + 1.0))); () } }),
    new Op("deletePositions", 1, 3)(t => {
      val s = table(t)
      () => { s.deletePositions(spark, "id = 3"); () } }),
    new Op("consolidateDeletes over two position sidecars", 0, 6)(t => {
      val s = table(t)
      s.deletePositions(spark, "id = 3")
      s.deletePositions(spark, "id = 4")
      () => { s.consolidateDeletes(spark); () } }),
    new Op("SQL head aggregate under a pending position sidecar", 2, 3)(t => {
      table(t).deletePositions(spark, "id = 3")
      () => { spark.sql(s"SELECT cat, count(*), sum(v) FROM gcost.$t " +
        "GROUP BY cat").collect(); () } }),
    new Op("deletes metadata table", 1, 1)(t => {
      table(t).deletePositions(spark, "id = 3")
      () => { spark.sql(s"SELECT * FROM gcost.$t.deletes").collect(); () } })
  )

  Seq((3L, "d", 300.0), (99L, "a", 9.0)).toDF("id", "cat", "v")
    .createOrReplaceTempView("cost_merge_src")

  ops.zipWithIndex.foreach { case (op, i) =>
    test(s"cost contract: ${op.name}") {
      val call = op.prepare(s"cost_t$i")
      val before = WarehouseIO.dirListings.get()
      val jobs = TestSpark.jobsDuring(call()).size
      val listings = WarehouseIO.dirListings.get() - before
      info(s"${op.name}: $jobs jobs, $listings listings")
      assert(jobs <= op.jobs, s"${op.name} ran $jobs Spark jobs")
      assert(listings <= op.listings, s"${op.name} made $listings listings")
    }
  }
}
