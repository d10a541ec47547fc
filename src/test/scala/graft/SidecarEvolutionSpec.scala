package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Schema evolution OVER pending merge-on-read delete sidecars
  * (round-14): a sidecar records column names as of its commit, and a
  * later RENAME/DROP must not let it silently change meaning.
  *  - predicate + RENAME: the reference folds through the rename map —
  *    without it the old name resolved BENEATH the projection (NULL on
  *    post-rename files) and `not(NULL)` silently dropped every row
  *    appended after the rename;
  *  - key list + RENAME: the key frame folds the same way (the anti-
  *    join died unresolved before);
  *  - DROP of a referenced column: refused precisely — once the column
  *    is gone the predicate's meaning cannot be preserved. */
class SidecarEvolutionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = Fixtures.fresh("sidecar_evo_wh")
  spark.conf.set("spark.sql.catalog.gsec", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.gsec.warehouse", wh)

  test("a pending PREDICATE sidecar folds through a later RENAME: " +
    "post-rename rows obey the predicate instead of vanishing") {
    spark.sql("CREATE TABLE gsec.p (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gsec.p VALUES (1, 10.0), (2, 20.0)")
    val sink = new TableSink(SinkConfig(tableName = "p",
      warehousePath = wh, versioned = true))
    sink.deleteWhere("v < 15.0")
    spark.sql("ALTER TABLE gsec.p RENAME COLUMN v TO amount")
    // post-rename appends: one matches the live predicate (amount<15 —
    // deleteWhere is 'filter all rows forever'), one does not. Before
    // the fix BOTH vanished (v resolved NULL beneath the projection).
    spark.sql("INSERT INTO gsec.p VALUES (3, 5.0), (4, 50.0)")
    val lib = sink.read(spark).select($"id", $"amount")
      .as[(Long, Double)].collect().toSet
    assert(lib == Set((2L, 20.0), (4L, 50.0)), s"library read: $lib")
    val sql = spark.sql("SELECT id, amount FROM gsec.p ORDER BY id")
      .as[(Long, Double)].collect().toSet
    assert(sql == lib, s"sql read must agree: $sql vs $lib")
    // the changelog replays under the folded reference too
    val chg = sink.readChangelogAll(spark)
      .select($"id", $"_change_type").as[(Long, String)].collect().toSet
    assert(chg.contains((4L, "insert")) && !chg.contains((4L, "delete")),
      s"got: $chg")
    // compact materializes and the state is unchanged
    sink.compact(spark)
    assert(sink.read(spark).select($"id", $"amount")
      .as[(Long, Double)].collect().toSet == lib)
  }

  test("a pending KEY-LIST sidecar folds through a later RENAME of the " +
    "key column: the erasure keeps applying instead of failing the read") {
    spark.sql("CREATE TABLE gsec.k (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gsec.k VALUES (1, 10.0), (2, 20.0)")
    val sink = new TableSink(SinkConfig(tableName = "k",
      warehousePath = wh, versioned = true))
    sink.deleteKeys(Seq(1L).toDF("id"), Seq("id"))
    spark.sql("ALTER TABLE gsec.k RENAME COLUMN id TO uid")
    // a post-rename row re-using the erased key value: the key list is
    // row-scoped on this engine (same rule as predicates), so it stays
    // erased under the folded name
    spark.sql("INSERT INTO gsec.k VALUES (1, 30.0), (3, 30.0)")
    val lib = sink.read(spark).select($"uid", $"v")
      .as[(Long, Double)].collect().toSet
    assert(lib == Set((2L, 20.0), (3L, 30.0)), s"library read: $lib")
    assert(spark.sql("SELECT uid, v FROM gsec.k").as[(Long, Double)]
      .collect().toSet == lib, "sql read must agree")
  }

  test("DROP COLUMN of a sidecar-referenced column refuses precisely " +
    "with the consolidate/compact remedy; unrelated drops proceed") {
    spark.sql("CREATE TABLE gsec.d (id BIGINT, v DOUBLE, tag STRING) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gsec.d VALUES (1, 10.0, 'x'), (2, 20.0, 'y')")
    val sink = new TableSink(SinkConfig(tableName = "d",
      warehousePath = wh, versioned = true))
    sink.deleteWhere("v < 15.0")
    val e = intercept[Exception](
      spark.sql("ALTER TABLE gsec.d DROP COLUMN v"))
    assert(e.getMessage.contains("sidecar"), e.getMessage)
    assert(e.getMessage.contains("consolidate or compact"), e.getMessage)
    // a column no sidecar references drops fine
    spark.sql("ALTER TABLE gsec.d DROP COLUMN tag")
    // the remedy works: compact materializes, then the drop proceeds
    sink.compact(spark)
    spark.sql("ALTER TABLE gsec.d DROP COLUMN v")
    assert(spark.table("gsec.d").columns.toSeq == Seq("id"))
    // the key-list twin refuses too
    spark.sql("CREATE TABLE gsec.dk (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gsec.dk VALUES (1, 10.0), (2, 20.0)")
    new TableSink(SinkConfig(tableName = "dk", warehousePath = wh,
      versioned = true)).deleteKeys(Seq(1L).toDF("id"), Seq("id"))
    val ek = intercept[Exception](
      spark.sql("ALTER TABLE gsec.dk DROP COLUMN id"))
    assert(ek.getMessage.contains("sidecar"), ek.getMessage)
  }
}
