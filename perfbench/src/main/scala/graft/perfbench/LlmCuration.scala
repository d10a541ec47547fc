package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Dedup, SinkConfig, TableSink, TextAnalysis}

/** `llm_curation`: the corpus curation batch job, run once per corpus
  * shard: Gopher quality rules + quality score, exact dedup, MinHash-LSH
  * near-dup, embedding LSH near-dup, then one `TableSink.append` of the
  * curated shard. Each shard carries planted exact copies, near copies at
  * known 5-shingle Jaccard, and near-copy embeddings; the checks compare
  * the job's decisions with them. */
object LlmCuration extends Workload {
  val name = "llm_curation"
  val DocsPerShard = 1000
  /** The warm-up pass runs on a small shard the passes never see. */
  val WarmupDocs = 500
  /** Shards each setup generates ahead; later passes generate their own
    * shard before their clock starts. */
  val ShardsAhead = 4
  val MinhashThreshold = 0.5
  val EmbedThreshold = 0.95
  val RecallFloor = 0.9
  /** One pass plus its dashboard refresh on a 4-core host. */
  val NominalOpSeconds = 7.0
  val PrecisionFloor = 0.95

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("text", StringType, nullable = false)))
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  final class State(val curated: TableSink, val dash: Dashboard,
      val ahead: IndexedSeq[Gen.Shard]) {
    var shardNo = 0
    var curatedRows = 0L
    var commits = 0
  }
  type S = State

  /** What one pass produced; the checks read the pinned frames after the
    * pass's timing has stopped. */
  final case class Pass(kept: DataFrame, exactRemoved: Long,
      afterExact: DataFrame, minhash: Seq[(Long, Long)], embed: Seq[(Long, Long)],
      curated: DataFrame)

  def setup(r: Run): State = {
    val wh = r.dir("warehouse")
    graft.GraftSession.registerCatalog(r.spark, wh, Dashboard.Catalog)
    val dash = new Dashboard(r, "curated",
      s"SELECT lang, count(*), avg(quality) FROM ${Dashboard.Catalog}.curated GROUP BY lang",
      v => s"SELECT count(*), avg(quality) FROM ${Dashboard.Catalog}.curated VERSION AS OF $v")
    new State(new TableSink(SinkConfig("curated", wh, versioned = true)), dash,
      (0 until ShardsAhead).map(shardFor(r, _)))
  }

  private def shardFor(r: Run, no: Int): Gen.Shard =
    Gen.shard(r.seed, no, DocsPerShard, no.toLong * DocsPerShard)

  def warmup(r: Run, st: State): Unit =
    st.curatedRows += pass(r, st, Gen.shard(r.seed ^ 0x5EED, 0, WarmupDocs, -1000000L))
      .curated.count()

  private def travelTarget(st: State): Int = {
    val vs = st.curated.snapshotVersions()
    vs(math.max(0, vs.size - 2))
  }

  private def pass(r: Run, st: State, shard: Gen.Shard): Pass = {
    val spark = r.spark
    val docs = spark.createDataFrame(
      shard.docs.map(d => Row(d.docId, d.lang, d.text)).asJava, docSchema)
    val embs = spark.createDataFrame(
      shard.embeddings.map { case (id, v) => Row(id, v.toSeq) }.asJava, embSchema)
    val kept = r.tracer.span("TextAnalysis.gopherRules") {
      docs.join(TextAnalysis.gopherRules(docs).filter(col("keep")).select("doc_id"),
          Seq("doc_id"), "left_semi")
        .join(TextAnalysis.qualityScore(docs), "doc_id")
        .localCheckpoint()
    }
    val (afterExact, exactRemoved) = r.tracer.span("Dedup.exact") {
      val ex = Dedup.exact(kept).localCheckpoint()
      val removed = ex.agg(sum(col("n_dups") - 1)).head().getLong(0)
      (kept.join(ex.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
        .localCheckpoint(), removed)
    }
    val mh = r.tracer.span("Dedup.minhashLsh") {
      Dedup.minhashLsh(afterExact, threshold = MinhashThreshold)
        .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    }
    val em = r.tracer.span("Dedup.embeddingNearDupLsh") {
      Dedup.embeddingNearDupLsh(
        embs.join(afterExact.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
        threshold = EmbedThreshold)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    }
    // a near-duplicate pair drops its larger id; the smaller survives
    val drop = (mh ++ em).map(_._2).distinct
    val curated = afterExact.join(
      spark.createDataFrame(drop.map(Row(_)).asJava,
        StructType(Seq(StructField("doc_id", LongType, nullable = false)))),
      Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "text", "quality")
    r.tracer.span("TableSink.append")(st.curated.append(curated))
    st.commits += 1
    Pass(kept, exactRemoved, afterExact, mh, em, curated)
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  def measure(r: Run, st: State): Outcome = {
    st.dash.reset()
    val passMs = mutable.ArrayBuffer[Double]()
    val readMs = mutable.ArrayBuffer[Double]()
    val passCpu = mutable.ArrayBuffer[Double]()
    val readCpu = mutable.ArrayBuffer[Double]()
    var exactOk = true
    var survivorsOk = true
    var planted = 0; var found = 0; var reported = 0; var truePairs = 0
    var embedPlanted = 0; var embedFound = 0
    var done = 0
    var lastAfterExact: DataFrame = null
    val ops = r.opCount(NominalOpSeconds)
    r.openWindow()
    while (done < ops && !r.overtime) {
      done += 1
      val no = st.shardNo
      st.shardNo += 1
      val shard = if (no < st.ahead.size) st.ahead(no) else shardFor(r, no)
      r.tracer.operation()
      val a = System.nanoTime()
      val cpu0 = r.cpuNs()
      r.attempt(pass(r, st, shard)).foreach { p =>
        passMs += (System.nanoTime() - a) / 1e6
        passCpu += (r.cpuNs() - cpu0) / 1e6
        // ---- per-pass checks (outside timing) ----
        val kept = ids(p.kept)
        val after = ids(p.afterExact)
        val texts = shard.docs.filter(d => kept(d.docId)).map(_.text)
        val plantedExact = shard.exactDupOf.count { case (c, o) => kept(c) && kept(o) }
        exactOk &&= p.exactRemoved == plantedExact &&
          p.exactRemoved == texts.size - texts.distinct.size &&
          after.size == kept.size - p.exactRemoved
        val byId = shard.docs.map(d => d.docId -> d.text).toMap
        val sh = mutable.Map[Long, Set[String]]()
        def jac(x: Long, y: Long) = Gen.jaccard(
          sh.getOrElseUpdate(x, Gen.shingles(byId(x))), sh.getOrElseUpdate(y, Gen.shingles(byId(y))))
        val got = p.minhash.map { case (x, y) => (math.min(x, y), math.max(x, y)) }.toSet
        val eligible = shard.nearPairs.filter { case (x, y, j) =>
          after(x) && after(y) && j >= MinhashThreshold }
        planted += eligible.size
        found += eligible.count { case (x, y, _) => got((x, y)) }
        reported += got.size
        truePairs += got.count { case (x, y) => jac(x, y) >= MinhashThreshold }
        val gotE = p.embed.toSet
        val eligibleE = shard.embedPairs.filter { case (x, y) => after(x) && after(y) }
        embedPlanted += eligibleE.size
        embedFound += eligibleE.count(gotE)
        val dropped = (p.minhash ++ p.embed).map(_._2).toSet
        val n = p.curated.count()
        survivorsOk &&= n == (after -- dropped).size
        st.curatedRows += n
        lastAfterExact = p.afterExact
      }
      val travel = travelTarget(st)
      val b = System.nanoTime()
      val cpu1 = r.cpuNs()
      r.attempt(st.dash.refresh(travel)).foreach { _ =>
        readMs += (System.nanoTime() - b) / 1e6
        readCpu += (r.cpuNs() - cpu1) / 1e6
      }
    }
    if (r.tracer.enabled && lastAfterExact != null) {
      // the MinHash kernel alone, without minhashLsh's banding shuffle
      r.tracer.span("kernel.minhash_sig") {
        lastAfterExact.select(element_at(graft.VectorExpressions.minhashTokensSig(r.spark,
          split(col("text"), " "), 5, 64), 1).as("h")).agg(bit_xor(col("h"))).head()
      }
    }

    r.closeWindow()
    val recall = if (planted == 0) 0.0 else found.toDouble / planted
    val precision = if (reported == 0) 0.0 else truePairs.toDouble / reported
    r.check("exact-duplicate removals equal the planted copies")((exactOk, s"exact ok=$exactOk"))
    r.check(s"minhash recall >= $RecallFloor and precision >= $PrecisionFloor")(
      (recall >= RecallFloor && precision >= PrecisionFloor,
        f"recall $recall%.4f ($found/$planted), precision $precision%.4f ($truePairs/$reported)"))
    r.check("every planted embedding near-copy is found")(
      (embedFound == embedPlanted && embedPlanted > 0, s"$embedFound/$embedPlanted"))
    r.check("curated rows equal the survivors")({
      val inTable = st.curated.read(r.spark).count()
      (survivorsOk && inTable == st.curatedRows, s"table $inTable vs survivors ${st.curatedRows}")
    })

    val p50 = Stats.median(passMs)
    val docsPerS = DocsPerShard / (p50 / 1e3)
    val readP50 = Stats.median(readMs)
    val bytesPerRow = Files.treeBytes(new java.io.File(st.curated.config.tablePath))
      .toDouble / st.curatedRows
    Outcome(
      e2e = Map("visible_p50_ms" -> p50, "rows_per_s" -> docsPerS,
        "read_p50_ms" -> readP50, "bytes_per_row" -> bytesPerRow,
        "op_cpu_ms" -> Stats.median(passCpu)),
      named = Map(
        "curation_docs_per_s" -> (docsPerS, "docs/s"),
        "curation_pass_p50_ms" -> (p50, "ms"),
        "curation_pass_cpu_ms" -> (Stats.median(passCpu), "ms"),
        "curation_read_cpu_ms" -> (Stats.median(readCpu), "ms"),
        "curation_read_p50_ms" -> (readP50, "ms"),
        "curation_bytes_per_row" -> (bytesPerRow, "B")),
      samples = Map("curation_pass_ms" -> passMs.toSeq, "curation_read_ms" -> readMs.toSeq,
        "curation_pass_cpu_ms" -> passCpu.toSeq, "curation_read_cpu_ms" -> readCpu.toSeq),
      record = Map(
        "passes" -> passMs.size,
        "window_s" -> r.windowSeconds,
        "docs_per_pass" -> DocsPerShard,
        "minhash_recall" -> recall,
        "minhash_precision" -> precision,
        "curated_rows" -> st.curatedRows),
      layers = st.dash.layers ++ Map(
        "TableSink.rows_per_commit" -> st.curatedRows.toDouble / st.commits,
        "dedup.minhash_recall" -> recall,
        "dedup.minhash_precision" -> precision))
  }
}
