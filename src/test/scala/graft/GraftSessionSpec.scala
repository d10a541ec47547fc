package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession.builder]]: the session the engine's entry points and the
  * suite run on. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a generated class stays compiled while 150 others are generated") {
    // each projection multiplies by its own literal, which codegen inlines,
    // so every one is a distinct class: more than Spark's default cache of
    // 100 holds, well inside the engine's
    def project(i: Int): Unit = {
      spark.range(3).select(col("id") * lit(i)).collect(); ()
    }
    (1 to 150).foreach(project)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    project(1)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "the first projection's classes were compiled again")
  }
}
