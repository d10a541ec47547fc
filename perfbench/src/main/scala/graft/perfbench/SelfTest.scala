package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.{SinkConfig, TableSink}

/** The benchmark's own checks: `SelfTest --root <dir>`. Generators are
  * deterministic per seed, a throwing operation counts as failed and gets
  * no timing, and the order statistics are right. Prints one line per
  * check and exits 1 if any fails. */
object SelfTest {
  private val results = mutable.ArrayBuffer[(String, Boolean, String)]()

  private def check(name: String)(body: => (Boolean, String)): Unit = {
    val (ok, detail) =
      try body catch { case e: Throwable => (false, s"threw $e") }
    results += ((name, ok, detail))
  }

  private def streamDigest(seed: Long): String = {
    val s = new Gen.ChangeStream(seed, 2000, 40, 10, 2, 5)
    s.initial()
    (0 until 6).foreach(_ => s.next())
    s.inputDigest + ":" + s.state.asScala.toSeq.sorted.hashCode
  }

  private def corpusDigest(seed: Long): String = {
    val d = new Gen.Digest
    val sh = Gen.shard(seed, 3, 300, 900L)
    sh.docs.foreach(x => d.add(s"${x.docId}:${x.lang}:${x.text}"))
    sh.embeddings.foreach { case (id, v) => d.add(s"$id:${v.mkString(",")}") }
    d.add(sh.exactDupOf.toSeq.sorted.mkString(","))
    d.add(sh.nearPairs.mkString(","))
    d.hex
  }

  def main(argv: Array[String]): Unit = {
    val root = new java.io.File(argv.grouped(2).collect { case Array("--root", v) => v }
      .toSeq.headOption.getOrElse(sys.error("missing --root")))

    // ---- generator determinism ----
    check("change stream: same seed, same digest")(
      (streamDigest(7) == streamDigest(7), streamDigest(7).take(16)))
    check("change stream: another seed, another digest")(
      (streamDigest(7) != streamDigest(8), ""))
    check("corpus: same seed, same digest")((corpusDigest(7) == corpusDigest(7), ""))
    check("corpus: another seed, another digest")((corpusDigest(7) != corpusDigest(8), ""))
    check("corpus plants exact and near copies") {
      val sh = Gen.shard(7, 0, 1000, 0L)
      (sh.exactDupOf.nonEmpty && sh.nearPairs.nonEmpty &&
        sh.nearPairs.forall(_._3 >= 0.6),
        s"${sh.exactDupOf.size} exact, ${sh.nearPairs.size} near, " +
          s"min jaccard ${sh.nearPairs.map(_._3).min}")
    }
    check("change stream folds retractions out of the state") {
      val s = new Gen.ChangeStream(3, 1000, 20, 5, 1, 4)
      s.initial()
      val retracted = (0 until 5).flatMap(_ => s.next().retract)
      (retracted.size == 20 && retracted.forall(k => !s.state.containsKey(k)),
        s"${retracted.size} retracted")
    }

    // ---- order statistics ----
    val xs = (1 to 100).map(_.toDouble)
    check("nearest-rank percentiles")(
      (Stats.percentile(xs, 50) == 50 && Stats.percentile(xs, 75) == 75 &&
        Stats.percentile(xs, 100) == 100 && Stats.percentile(Seq(5.0), 90) == 5 &&
        Stats.median(Seq(3.0, 1.0, 2.0)) == 2, ""))
    check("tail percentile leaves ten samples beyond")(
      (Stats.tailPercentile(20) == 50 && Stats.tailPercentile(40) == 75 &&
        Stats.tailPercentile(100) == 90 && Stats.beyond(40, 75) == 10 &&
        Stats.tailPercentile(15) < 50,
        s"n=20 -> ${Stats.tailPercentile(20)}, n=40 -> ${Stats.tailPercentile(40)}, " +
          s"n=100 -> ${Stats.tailPercentile(100)}"))
    check("a timing with too few samples reports no tail")(
      (Stats.timing(Seq(1.0, 2.0, 3.0)).get("tail_percentile").isEmpty &&
        Stats.timing(xs)("tail_percentile") == 90, ""))
    check("driver-only time: union of task intervals inside the span")(
      (Trace.covered(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 150L), (-5L, 2L))) == 42 &&
        Trace.covered(0, 100, Nil) == 0, ""))

    // ---- a throwing operation is failed and untimed ----
    val spark = Main.session(root)
    try {
      val r = new Run(spark, new Tracer(spark, enabled = false), root, 1L, 1)
      val wh = r.dir("warehouse")
      val df = spark.createDataFrame(Seq(Row(1L, 2.0)).asJava, StructType(Seq(
        StructField("k", LongType, nullable = false), StructField("v", DoubleType, nullable = false))))
      val samples = mutable.ArrayBuffer[Double]()
      def timed(body: => Unit): Unit = {
        val t = System.nanoTime()
        r.attempt(body).foreach(_ => samples += (System.nanoTime() - t) / 1e6)
      }
      // an unversioned table refuses appendStreamBatch: the call throws
      timed(new TableSink(SinkConfig("flat", wh)).appendStreamBatch(df, "s", 0L))
      timed(new TableSink(SinkConfig("vers", wh, versioned = true)).appendStreamBatch(df, "s", 0L))
      check("a throwing engine call counts as failed and gets no timing")(
        (r.attempted == 2 && r.failed == 1 && samples.size == 1 && r.failedShare == 0.5,
          s"attempted ${r.attempted}, failed ${r.failed}, timings ${samples.size}, " +
            s"failed_share ${r.failedShare}; ${r.errors.mkString}"))
    } finally spark.stop()

    results.foreach { case (n, ok, d) =>
      println(Json(Map("check" -> n, "ok" -> ok, "detail" -> d)))
    }
    val failed = results.count(!_._2)
    println(Json(Map("selftest_checks" -> results.size, "failed" -> failed)))
    if (failed > 0) sys.exit(1)
  }
}
