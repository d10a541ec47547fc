package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

/** [[MaterializedView]] — delete-aware incremental aggregate maintenance:
  * refresh folds only the changelog delta (inserts add, deletes
  * subtract), vanished groups drop out, state+cursor swap atomically,
  * and a half-swapped crash recovers. */
class MaterializedViewSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = Fixtures.fresh("mv_wh")

  private def mkSource(name: String): TableSink =
    new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))

  private def state(mv: MaterializedView): Seq[(String, Long, String)] =
    mv.read(spark).select($"cat", $"n", $"sum_v".cast("string"))
      .as[(String, Long, String)].collect().sortBy(_._1).toSeq

  test("refresh folds deltas; deletes subtract; vanished groups drop") {
    val src = mkSource("mv1")
    val mv = new MaterializedView(src, s"$wh/mv1_view", Seq("cat"), Seq("v"))
    src.append(Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "cat", "v"))
    assert(mv.refresh(spark) == (0, 1))
    assert(state(mv) == Seq(("a", 2L, "30.00"), ("b", 1L, "30.00")))
    src.append(Seq((4L, "b", 40.0)).toDF("id", "cat", "v"))
    src.deleteWhere("id = 1")
    assert(mv.refresh(spark) == (1, 3))
    assert(state(mv) == Seq(("a", 1L, "20.00"), ("b", 2L, "70.00")))
    // delete the whole of group a: it must vanish, not linger at n=0
    src.deleteKeys(Seq(2L).toDF("id"), Seq("id"))
    mv.refresh(spark)
    assert(state(mv) == Seq(("b", 2L, "70.00")),
      "a zero-count group must leave the view")
    // already current: refresh is a no-op returning (head, head)
    val (f, t) = mv.refresh(spark)
    assert(f == t)
    assert(state(mv) == Seq(("b", 2L, "70.00")))
  }

  test("state and reflects-marker swap atomically; half-swap recovers") {
    val src = mkSource("mv2")
    val mv = new MaterializedView(src, s"$wh/mv2_view", Seq("cat"), Seq("v"))
    src.append(Seq((1L, "a", 10.0)).toDF("id", "cat", "v"))
    mv.refresh(spark)
    assert(mv.reflects == 1)
    // crash between the two swap renames: state moved aside, staging not
    // yet in place — recovery must restore the previous state
    val stateDir = new HPath(s"$wh/mv2_view/state")
    val prevDir = new HPath(s"$wh/mv2_view/_prev_state")
    WarehouseIO.rename(stateDir, prevDir)
    assert(mv.reflects == 1, "recovery must restore the moved-aside state")
    assert(state(mv) == Seq(("a", 1L, "10.00")))
    // staging debris from a crashed write is dropped on the next pass
    WarehouseIO.writeString(
      new HPath(s"$wh/mv2_view/_staging_state/part-junk"), "junk")
    mv.refresh(spark)
    assert(!WarehouseIO.exists(new HPath(s"$wh/mv2_view/_staging_state")))
  }

  test("refresh refuses after a source rewrite restarts the history") {
    val src = mkSource("mv_gen")
    val mv = new MaterializedView(src, s"$wh/mv_gen_view", Seq("cat"), Seq("v"))
    src.append(Seq((1L, "a", 10.0)).toDF("id", "cat", "v"))
    src.append(Seq((2L, "b", 20.0)).toDF("id", "cat", "v"))   // head v2
    mv.refresh(spark)
    // rewrite restarts the log; appends bring the new history past v2
    src.upsert(Seq((1L, "a", 99.0)).toDF("id", "cat", "v"), Seq("id"))
    src.append(Seq((3L, "c", 30.0)).toDF("id", "cat", "v"))
    val e = intercept[IllegalArgumentException](mv.refresh(spark))
    assert(e.getMessage.contains("generation"), e.getMessage)
  }

  test("guards: unversioned source, rolled-back source") {
    val flat = new TableSink(SinkConfig("mv3_flat", wh))
    intercept[IllegalArgumentException](
      new MaterializedView(flat, s"$wh/mv3_view", Seq("cat"), Seq("v")))
    val src = mkSource("mv4")
    val mv = new MaterializedView(src, s"$wh/mv4_view", Seq("cat"), Seq("v"))
    src.append(Seq((1L, "a", 1.0)).toDF("id", "cat", "v"))
    src.append(Seq((2L, "b", 2.0)).toDF("id", "cat", "v"))
    mv.refresh(spark)
    src.rollbackTo(1)
    val e = intercept[IllegalArgumentException](mv.refresh(spark))
    assert(e.getMessage.contains("rolled back"), e.getMessage)
  }
}
