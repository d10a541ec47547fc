package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (driver north star):
  * token counting, document statistics, marker-based language ID, quality
  * scoring, and rolling-hash fingerprinting — all pure Spark built-ins /
  * higher-order functions, oracle-reproducible in ANSI SQL.
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(text, " ")

  /** "BPE-ish" sub-word segmentation count: runs of letters, runs of
    * digits, runs of other non-space symbols each count as one token. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]+"), lit(0)))

  /** Per-document statistics. */
  def stats(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(t).cast("long").as("n_tokens"),
      size(array_distinct(t)).cast("long").as("n_distinct"),
      length(col("text")).cast("long").as("n_chars"),
      regexTokenCount(col("text")).cast("long").as("n_regex_tokens"),
      (size(array_distinct(t)) / size(t).cast("double")).as("ttr"),
      ((length(col("text")) - size(t) + 1) / size(t).cast("double")).as("avg_token_len"))
  }

  /** Language marker lexicons (tiny, deterministic — a heuristic n-gram/
    * stopword profile, not a trained model). Priority order below breaks
    * score ties. */
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es", "un"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "est"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "you"))

  private def markerScore(t: Column, lex: Seq[String]): Column =
    size(filter(t, tok => array_contains(
      array(lex.map(lit): _*), tok)))

  /** Heuristic language ID: highest marker-hit count wins, priority order
    * breaks ties, zero hits → "und". `lang` (the fixture's labeled column)
    * rides along for accuracy eyeballing. */
  def langId(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val scored = docs.select(
      (col("doc_id") +: col("lang") +:
        markers.map { case (l, lex) => markerScore(t, lex).as(s"s_$l") }): _*)
    val langs = markers.map(_._1)
    val best = langs.map(l => col(s"s_$l")).reduce((a, b) => greatest(a, b))
    val pred = langs.foldRight(lit("und")) { case (l, els) =>
      when(col(s"s_$l") === best && best > 0, lit(l)).otherwise(els)
    }
    // foldRight gives first-match-wins in declaration (priority) order
    scored.select(col("doc_id"), col("lang"), pred.as("pred_lang"))
  }

  /** Quality score in [0,1]: 0.4·length + 0.4·stopword-hit + 0.2·(1-punct),
    * NULL for an empty document (its punctuation ratio is 0/0). Fixed
    * evaluation order keeps the double arithmetic bit-identical to
    * the oracle. Exposed as a Column so pipelines attach it in-place
    * (no self-join, stays inside the document scan). */
  def qualityExpr(text: Column): Column = {
    val t = tokens(text)
    val nTok = size(t)
    val lengthScore = least(nTok / lit(100.0), lit(1.0))
    val stopHits = markerScore(t, markers.head._2) // en stopwords
    val stopScore = least((stopHits * lit(10.0)) / nTok, lit(1.0))
    val punct = length(text) - length(regexp_replace(text, "[^a-z0-9 ]", ""))
    // an empty document has no ratio: NULL, as the oracle SQL's
    // 0 / CAST(0 AS DOUBLE) is, where a bare division fails the whole
    // query under ANSI mode
    val punctRatio = punct / nullif(length(text), lit(0)).cast("double")
    lengthScore * lit(0.4) + stopScore * lit(0.4) +
      (lit(1.0) - punctRatio) * lit(0.2)
  }

  def qualityScore(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), qualityExpr(col("text")).as("quality"))

  /** Robust length-band filter — drop documents outside the corpus's
    * [loPct, hiPct] token-length percentile band (the standard
    * outlier/truncation screen before training).
    *
    * Scale design: exact global percentiles normally need a global sort;
    * instead the corpus aggregates to its length HISTOGRAM (distinct
    * lengths — bounded metadata at any corpus size), the cumulative sum
    * runs over that histogram, and the surviving length set broadcasts
    * back as a semi-join. Two shuffles on bounded keys, no global sort,
    * and all-integer arithmetic (cnt·100 vs total·pct) so there is no
    * float threshold for engines to disagree on. A length L survives iff
    * count(len ≤ L)·100 > total·loPct and count(len < L)·100 <
    * total·hiPct — boundary masses stay in. */
  def lengthBand(docs: DataFrame, loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(0 <= loPct && loPct < hiPct && hiPct <= 100, "need 0 <= lo < hi <= 100")
    // OPTIMIZATION r15 (guide §5): same three-reference shape as
    // qualityFloor — materialize the two-column lengths frame once.
    val lengths = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
      .localCheckpoint()
    val hist = lengths.groupBy(col("n_tokens")).agg(count(lit(1)).as("cnt"))
    // window over the aggregated histogram (bounded), never over documents
    val w = Window.partitionBy().orderBy(col("n_tokens").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum_le", sum(col("cnt")).over(w))
    val tot = lengths.agg(count(lit(1)).as("total"))
    val kept = cum.crossJoin(broadcast(tot))
      .filter(col("cum_le") * 100 > col("total") * loPct &&
        (col("cum_le") - col("cnt")) * 100 < col("total") * hiPct)
      .select(col("n_tokens"))
    lengths.join(broadcast(kept), Seq("n_tokens"), "left_semi")
      .select(col("doc_id"), col("n_tokens"))
  }

  /** Per-language quality floor — drop each language's bottom `pct`% by
    * [[qualityExpr]] score, the calibrated alternative to one global
    * threshold (a global cutoff over-prunes whichever language the scorer
    * is hardest on).
    *
    * Scale design mirrors [[lengthBand]], per group: scores quantize to a
    * 1e-4 grain (`floor(round(q,9)·10000)` — integer buckets both engines
    * compute identically), the per-language HISTOGRAM of buckets is
    * bounded (≤ languages × 10001 rows) so the cumulative window runs over
    * metadata, not documents, and the surviving (lang, bucket) set
    * broadcasts back as a semi-join. No global or per-group document sort.
    * Boundary convention matches lengthBand's lower bound: a bucket
    * survives iff count(score ≤ bucket)·100 > total_lang·pct, so boundary
    * mass stays in. */
  def qualityFloor(docs: DataFrame, pct: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(0 <= pct && pct < 100, "need 0 <= pct < 100")
    // OPTIMIZATION r15 (guide §5): three references (histogram, totals,
    // the survivor semi-join) each re-ran the quality kernel; the frame
    // is three narrow columns — one materialization, one quality scan.
    val scored = docs.select(col("doc_id"), col("lang"),
      floor(round(qualityExpr(col("text")), 9) * 10000).cast("long").as("qb"))
      .localCheckpoint()
    val hist = scored.groupBy(col("lang"), col("qb"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("qb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum_le", sum(col("cnt")).over(w))
    val tot = scored.groupBy(col("lang")).agg(count(lit(1)).as("total"))
    val kept = cum.join(broadcast(tot), "lang")
      .filter(col("cum_le") * 100 > col("total") * pct)
      .select(col("lang"), col("qb"))
    scored.join(broadcast(kept), Seq("lang", "qb"), "left_semi")
      .select(col("doc_id"), col("lang"), col("qb"))
  }

  /** Token-budget subset selection: keep the highest-quality-density
    * documents (quality per token — the marginal value of each token
    * spent) until the corpus token budget is exhausted, under the
    * deterministic total order (density desc, doc_id asc) with a strict
    * prefix rule (a document is kept iff the running token total THROUGH
    * it stays within budget). The standard shape for "we can afford N
    * tokens of pretraining data — which documents?".
    *
    * Engine portability: density is all-integer — the 9-dp-rounded
    * quality is quantized to 1e4 buckets exactly as [[qualityFloor]]
    * proves safe, scaled, and floor-divided by the token count — so no
    * engine can disagree on the order or the running sums.
    *
    * Scale design: a global running sum normally needs a global sort into
    * ONE partition; instead documents aggregate to their density-bucket
    * histogram (≤ 10001 rows — bounded metadata at any corpus size), the
    * budget line is located on that histogram, and only the ONE boundary
    * bucket pays an exact per-document running sum (window over that
    * bucket alone); every other bucket is kept or dropped wholesale by a
    * broadcast join. Same histogram-cumsum trick as [[lengthBand]] /
    * [[qualityFloor]], applied to a running-sum threshold. */
  def tokenBudget(docs: DataFrame, budgetDiv: Long = 10L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetDiv >= 1, "need budgetDiv >= 1")
    // n_tokens >= 1 always (split("") = [""]), so the prefix sums are
    // strictly increasing and the wholesale keep/drop rules below are
    // exact complements of the per-document rule.
    val d = docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        floor(round(qualityExpr(col("text")), 9) * 10000)
          .cast("long").as("qb"))
      .withColumn("density_nano", expr("(qb * 100000) div n_tokens"))
      .drop("qb")
    // OPTIMIZATION r15 (guide §5): the keep/drop join below references
    // this frame from BOTH its branches (whole + edge), and each
    // reference re-ran tokenize + the quality kernel over the corpus
    // (measured 1.4 of the query's 1.7 CPU-s in that one doubled scan).
    // The frame is four longs per document — text never rides along —
    // so one materialization turns the query into a single corpus scan.
    val bucketed = d.withColumn("bucket", expr("density_nano div 1000000"))
      .localCheckpoint()
    // checkpoint the TINY histogram: the keep/drop/edge branches below
    // each reference the bucket stats, and without materialization every
    // reference re-scans the corpus (measured: 6 parquet scans of
    // documents in the plan; with it, 2 data scans + 1 stats scan). The
    // corpus-token budget derives from the histogram too — never a
    // second corpus aggregate.
    val hist = bucketed.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("bt"))
      .localCheckpoint()
    val budget = hist.agg(expr(s"sum(bt) div $budgetDiv").as("budget"))
    val wb = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tagged = hist.withColumn("cum_thru", sum(col("bt")).over(wb))
      .withColumn("cum_before", col("cum_thru") - col("bt"))
      .crossJoin(broadcast(budget))
      .select(col("bucket"), col("cum_before"), col("budget"),
        when(col("cum_thru") <= col("budget"), "full")
          .when(col("cum_before") >= col("budget"), "drop")
          .otherwise("edge").as("state"))
      .localCheckpoint()
    val staged = bucketed.join(broadcast(tagged), "bucket")
    val whole = staged.filter(col("state") =!= "edge")
      .withColumn("keep", col("state") === "full")
    // only boundary-bucket rows reach the window; its partition is one
    // density bucket, not the corpus
    val we = Window.partitionBy(col("bucket"))
      .orderBy(col("density_nano").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val edge = staged.filter(col("state") === "edge")
      .withColumn("keep",
        col("cum_before") + sum(col("n_tokens")).over(we) <= col("budget"))
    whole.unionByName(edge)
      .select(col("doc_id"), col("n_tokens"), col("density_nano"),
        col("keep"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the word co-occurrence graph — nodes are content tokens (≥ 3 chars,
    * not an English stopword), edges join tokens ADJACENT in the filtered
    * sequence, weighted by corpus co-occurrence count. Five weighted
    * power steps in integer NANO units (contribution r·w div w_out, the
    * [[graft.Similarity.pageRank]] discipline), top `k` tokens emitted.
    *
    * Scale shape: the edge list aggregates map-side to distinct token
    * pairs (vocabulary-bounded, not corpus-bounded); each power step is
    * one src-keyed join plus one dst-keyed aggregate over that bounded
    * graph; the final top-k is TakeOrdered. The corpus is scanned ONCE
    * (edge extraction); the iteration never touches it again. */
  def textrank(docs: DataFrame, iters: Int = 5, k: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val NANO = 1000000000L
    val stop = markers.head._2
    val filtered = filter(tokens(col("text")),
      t => length(t) >= 3 && !t.isInCollection(stop))
    val pairs = docs.select(filtered.as("ft"))
      .select(explode(arrays_zip(
        slice(col("ft"), lit(1), greatest(size(col("ft")) - 1, lit(0))).as("x"),
        slice(col("ft"), lit(2), greatest(size(col("ft")) - 1, lit(0))).as("y")))
        .as("p"))
      .select(least(col("p.x"), col("p.y")).as("a"),
        greatest(col("p.x"), col("p.y")).as("b"))
      .filter(col("a") =!= col("b"))
    val und = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
    val edges = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .withColumn("outw",
        sum(col("w")).over(Window.partitionBy(col("src"))))
      .repartition(col("src"))
      .localCheckpoint()
    val nodes = edges.select(col("src").as("tok")).distinct()
      .repartition(col("tok"))
      .localCheckpoint()
    val n = nodes.count()
    val base = (NANO * 15L / 100L) / math.max(n, 1L)
    var r = nodes.withColumn("r", lit(NANO / math.max(n, 1L)))
    for (_ <- 1 to iters) {
      // DECIMAL(38,0) for the product: r ≤ NANO but w/outw are corpus
      // co-occurrence counts with no fixed bound
      val contrib = edges
        .join(r.withColumnRenamed("tok", "src"), "src")
        .select(col("dst"),
          expr("(CAST(r AS DECIMAL(38,0)) * w) div outw").as("c"))
      val s = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      r = nodes.join(s, nodes("tok") === s("dst"), "left")
        .select(col("tok"),
          (lit(base) +
            expr("85 * coalesce(s, CAST(0 AS BIGINT)) div 100")).as("r"))
    }
    val w = Window.orderBy(col("r").desc, col("tok").asc)
    r.orderBy(col("r").desc, col("tok").asc).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("tok"), col("r").as("r_nano"))
  }

  /** Mean token rarity — the integer-exact stand-in for a unigram-LM
    * perplexity filter: for each document, the average CORPUS frequency of
    * its tokens. Boilerplate-heavy documents (all stopwords / template
    * text) score high, rare-vocabulary documents score low, and unlike a
    * log-prob the statistic is a ratio of two integers — order-independent
    * and bit-identical on any engine (no transcendental functions to
    * disagree on).
    *
    * Scale shape: one token-count aggregate (map-side partial, shuffle on
    * token), one re-join of the exploded tokens to their counts (shuffle on
    * token — both sides partition the same way, so AQE plans it off the
    * first shuffle's output), one per-document sum. No collect, no window.
    */
  def tokenRarity(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
    toks.join(vocab, "tok")
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("freq_sum"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("freq_sum"), col("n_tokens"),
        round(col("freq_sum").cast("double") / col("n_tokens"), 9)
          .as("mean_freq9"))
  }

  /** Corpus vocabulary: the `k` most frequent tokens with deterministic
    * rank (count desc, token asc). The explode+count is one shuffle with
    * map-side partial aggregation; the ranking window runs over the
    * AGGREGATED vocabulary (distinct tokens, not token occurrences), which
    * is bounded — a 100 TB corpus still has a metadata-sized vocab, so the
    * single-partition top-k window is safe where one over raw tokens would
    * not be. */
  def vocabulary(docs: DataFrame, k: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy().orderBy(col("n").desc, col("tok").asc)
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("tok"), col("n"))
  }

  /** Zipf rank-frequency slope over the top-k tokens — the one-number
    * sanity check that a corpus looks like natural language (slope ≈ −1;
    * boilerplate-heavy or synthetic corpora flatten or steepen it). Least
    * squares of ln(freq) on ln(rank), computed over exactly k points.
    *
    * Engine portability: ln values are rounded to MICRO units (1e-6) and
    * the regression runs entirely in 64-bit integer sums — micro (not
    * nano) so Σx·y stays ~1e15, far under Long overflow — with the final
    * slope one double division, 9-dp rounded. Both engines replay the
    * identical integer path.
    *
    * Scale shape: one token count shuffle (map-side partials), a top-k
    * rank (TakeOrdered), and a 50-row aggregate — corpus-size-independent
    * after the count. */
  def zipfSlope(docs: DataFrame, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
    val w = Window.partitionBy().orderBy(col("f").desc, col("tok").asc)
    val pts = counts.withColumn("r", row_number().over(w).cast("long"))
      .filter(col("r") <= k)
      .select(round(log(col("r")) * 1000000.0).cast("long").as("x"),
        round(log(col("f")) * 1000000.0).cast("long").as("y"))
    pts.agg(count(lit(1)).as("n_points"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n_points"),
        round((col("n_points") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n_points") * col("sxx") - col("sx") * col("sx"))
            .cast("double"), 9).as("slope9"))
  }

  val zipfSlopeSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |counts AS (SELECT tok, COUNT(*) AS f FROM toks GROUP BY 1),
      |pts AS (
      |  SELECT CAST(round(ln(r) * 1000000) AS BIGINT) AS x,
      |    CAST(round(ln(f) * 1000000) AS BIGINT) AS y
      |  FROM (SELECT f, tok,
      |          ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS r
      |        FROM counts)
      |  WHERE r <= 50),
      |s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |        SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM pts)
      |SELECT CAST(n AS BIGINT) AS n_points,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE), 9) AS slope9
      |FROM s""".stripMargin

  /** Adjacent-token (bigram) statistics — the pair-count table the first
    * BPE-style merge step reads, and the standard collocation screen.
    * Same aggregated-then-rank shape as [[vocabulary]]: one shuffle with
    * map-side partial counts, ranking window over the bounded bigram
    * vocabulary only. */
  def bigrams(docs: DataFrame, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = tokens(col("text"))
    val pairs = docs.select(explode(
      when(size(t) >= 2,
        zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => concat(a, lit(" "), b)))
        .otherwise(array().cast("array<string>"))).as("bg"))
    val counts = pairs.groupBy(col("bg")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy().orderBy(col("n").desc, col("bg").asc)
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("bg"), col("n"))
  }

  /** Bigram language-model document scoring with Stupid Backoff (Brants et
    * al. 2007, "Large Language Models in Machine Translation" — the
    * web-scale LM the backoff was invented for): an LM is built from the
    * TRAIN half of the corpus (`doc_id % 2 = 0`) and scores the held-out
    * half, so unseen bigrams actually occur and the backoff path is
    * exercised — scoring a corpus against itself never backs off, which
    * would leave the interesting branch dead. Per scored bigram position:
    *
    *   score(cur | prev) = c2(prev,cur) / c1(prev)        if c2 > 0
    *                     = 0.4 · max(c1(cur), 1) / total   otherwise
    *
    * (the `max(·,1)` floor keeps fully-unseen tokens finite — documented
    * engine choice, replayed identically by the oracle). Output per scored
    * doc: bigram count, backed-off (OOV) count, and the mean log score —
    * the bigram upgrade of [[unigramLogProb]]'s perplexity proxy.
    *
    * Engine portability: each DISTINCT (prev, cur) pair's log score is
    * rounded to 9 dp and scaled to integer nano-units once; per-doc sums
    * are exact integer `tf · lp_e9` — aggregation-order-proof.
    *
    * Scale shape: the LM tables are token-keyed aggregates with map-side
    * partials; the score joins key on (prev, cur) / prev / cur with NO
    * broadcast hints (vocabulary and bigram tables grow with the corpus —
    * AQE picks the side while it fits); only the 1-row total is
    * hint-broadcast. One final doc_id shuffle. */
  def bigramLm(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    def docBigrams(d: DataFrame): DataFrame = d.select(col("doc_id"),
      explode(when(size(t) >= 2,
        zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => struct(a.as("prev"), b.as("cur"))))
        .otherwise(array().cast("array<struct<prev:string,cur:string>>")))
        .as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    val train = docs.filter(col("doc_id") % 2 === 0)
    val eval_ = docs.filter(col("doc_id") % 2 =!= 0)
    val c2 = docBigrams(train).groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("c2"))
    val c1 = train.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val total = c1.agg(sum(col("c1")).as("total"))
    val tf2 = docBigrams(eval_).groupBy(col("doc_id"), col("prev"), col("cur"))
      .agg(count(lit(1)).as("tf"))
    val lpE9 = round(
      round(when(col("c2").isNotNull,
        log(col("c2").cast("double") / col("c1_prev")))
        .otherwise(log(lit(0.4)
          * greatest(coalesce(col("c1_cur"), lit(0L)), lit(1L))
            .cast("double") / col("total"))), 9) * 1000000000.0).cast("long")
    tf2
      .join(c2, Seq("prev", "cur"), "left")
      .join(c1.select(col("tok").as("prev"), col("c1").as("c1_prev")),
        Seq("prev"), "left")
      .join(c1.select(col("tok").as("cur"), col("c1").as("c1_cur")),
        Seq("cur"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("tf"),
        when(col("c2").isNull, col("tf")).otherwise(lit(0L)).as("oov"),
        lpE9.as("lp_e9"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("oov")).as("oov_bigrams"),
        sum(col("tf") * col("lp_e9")).as("sum_lp_e9"))
      .select(col("doc_id"), col("n_bigrams"), col("oov_bigrams"),
        round(col("sum_lp_e9").cast("double") / 1000000000.0
          / col("n_bigrams"), 9).as("avg_logp"))
  }

  /** DuckDB oracle for [[bigramLm]]. */
  val bigramLmSql: String =
    """WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
      |ev AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |       WHERE doc_id % 2 <> 0),
      |tb0 AS (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
      |        FROM (SELECT string_split(text, ' ') AS t FROM train)
      |        WHERE len(t) >= 2),
      |tb AS (SELECT t[i] AS prev, t[i+1] AS cur FROM tb0),
      |c2 AS (SELECT prev, cur, count(*) AS c2 FROM tb GROUP BY 1, 2),
      |c1 AS (SELECT tok, count(*) AS c1 FROM (
      |         SELECT unnest(string_split(text, ' ')) AS tok FROM train)
      |       GROUP BY 1),
      |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS total FROM c1),
      |ev0 AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
      |        FROM ev WHERE len(t) >= 2),
      |tf2 AS (SELECT doc_id, t[i] AS prev, t[i+1] AS cur, count(*) AS tf
      |        FROM ev0 GROUP BY 1, 2, 3),
      |scored AS (
      |  SELECT doc_id, tf,
      |    CASE WHEN c2.c2 IS NULL THEN tf ELSE 0 END AS oov,
      |    CAST(round(round(
      |      CASE WHEN c2.c2 IS NOT NULL
      |        THEN ln(CAST(c2.c2 AS DOUBLE) / p.c1)
      |        ELSE ln(0.4 * greatest(coalesce(c.c1, 0), 1) / total) END, 9)
      |      * 1000000000.0) AS BIGINT) AS lp_e9
      |  FROM tf2
      |  LEFT JOIN c2 USING (prev, cur)
      |  LEFT JOIN c1 p ON tf2.prev = p.tok
      |  LEFT JOIN c1 c ON tf2.cur = c.tok
      |  CROSS JOIN tot)
      |SELECT doc_id,
      |  CAST(sum(tf) AS BIGINT) AS n_bigrams,
      |  CAST(sum(oov) AS BIGINT) AS oov_bigrams,
      |  round(CAST(sum(tf * lp_e9) AS BIGINT) / 1000000000.0 / sum(tf), 9)
      |    AS avg_logp
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** First BPE merge iteration (Sennrich et al. 2016, arXiv:1508.07909) —
    * adjacent CHARACTER-pair frequencies over the corpus vocabulary,
    * weighted by word frequency: the pair ranked first is the merge a BPE
    * tokenizer trainer would apply next. Complements [[bigrams]] (token
    * pairs): this is the sub-word layer tokenizer training actually reads.
    *
    * Scale shape: the corpus collapses to its vocabulary FIRST (one
    * map-side-partial shuffle on the word), so the character-pair explode
    * runs over Σ|word| distinct-vocab characters — bounded by vocabulary
    * size, not corpus size. Pair counts aggregate map-side again, and the
    * rank-≤k filter lets the optimizer cut to TakeOrderedAndProject before
    * the single-partition window (same shape as [[vocabulary]]). */
  def bpeMergePairs(docs: DataFrame, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val pairs = words.select(col("freq"),
      explode(transform(sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"))
    val counts = pairs.groupBy(col("pair")).agg(sum(col("freq")).as("n"))
    val w = Window.partitionBy().orderBy(col("n").desc, col("pair").asc)
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("pair"), col("n"))
  }

  /** Benchmark-contamination check — the share of each training document's
    * distinct shingles that also appear in a benchmark/probe document set
    * (the standard decontamination screen before LLM training). One shingle
    * explosion, one semi-join on the shingle (the benchmark shingle set is
    * bounded → broadcast), one aggregation; training docs with zero overlap
    * are kept at ratio 0. */
  def contamination(docs: DataFrame, benchmarkDocIds: Column, n: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val sh = docs.select(col("doc_id"),
      explode(VectorExpressions.shinglesOf(spark,
        tokens(col("text")), n)).as("sh"))
    val bench = sh.filter(benchmarkDocIds).select(col("sh")).distinct()
    val train = sh.filter(!benchmarkDocIds)
    val tot = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val hit = train.join(broadcast(bench), Seq("sh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    tot.join(hit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) / col("n_sh").cast("double"))
          .as("contamination"))
  }

  /** Bloom-prefiltered decontamination — the shape [[contamination]] takes
    * when the benchmark shingle set is too large to broadcast raw (a full
    * eval-suite shingle inventory runs to billions): build a Bloom filter
    * over the benchmark shingles with Spark's own distributed
    * BloomFilterAggregate (partial blooms OR-merged, ~1 byte/item), ship
    * the bytes into the probe predicate as a literal — exactly what
    * Spark's runtime row-group filtering does — and only bloom-positive
    * shingles reach the exact verify join. The driver touches ONLY the
    * bloom bytes (bounded metadata, like Spark's own runtime filters),
    * never data rows.
    *
    * Emitted audit: per training doc, total shingles and the EXACT hit
    * count — computed downstream OF the bloom. The oracle computes the
    * same counts with no bloom anywhere, so the hash comparison itself is
    * the no-false-negatives proof: one true member dropped by the bloom
    * and the counts diverge. The bloom-positive count is fpp-dependent
    * engine detail and deliberately not emitted. */
  def contaminationBloom(docs: DataFrame, benchmarkDocIds: Column,
      n: Int = 5, estItems: Long = 4096L, numBits: Long = 65536L): DataFrame = {
    val spark = docs.sparkSession
    VectorExpressions.register(spark)
    val sh = docs.select(col("doc_id"),
      explode(VectorExpressions.shinglesOf(spark,
        tokens(col("text")), n)).as("sh"))
    val bench = sh.filter(benchmarkDocIds).select(col("sh")).distinct()
    val bfBytes = bench
      .agg(call_function("graft_bloom_agg", xxhash64(col("sh")),
        lit(estItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val train = sh.filter(!benchmarkDocIds)
    val tot = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val candidates = train.filter(
      call_function("graft_bloom_contains", lit(bfBytes), xxhash64(col("sh"))))
    // exact verify ONLY over bloom survivors — the join the bloom exists
    // to shrink
    val hit = candidates.join(bench, Seq("sh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_exact"))
    tot.join(hit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"))
  }

  /** Rabin-Karp-style rolling-hash fingerprint over the character stream:
    * fp = fold(chars)(acc → (acc·31 + codepoint) mod 1e9+7). Stays well
    * inside Long, so no ANSI overflow; reproducible in any SQL dialect. */
  def fingerprint(text: Column): Column =
    aggregate(
      filter(split(text, ""), c => c =!= ""),
      lit(0L),
      (acc, c) => pmod(acc * 31 + ascii(c), lit(1000000007L)))

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** PII-ish patterns safe in BOTH Java regex (Spark) and RE2 (DuckDB,
    * Hyperscan-class scanners): no backrefs, no lookaround, plain classes
    * and bounded repetition — the subset that stays portable when the
    * scrubbing rules ship to a different engine. */
  val defaultPiiRules: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "[0-9]{3}-555-[0-9]{4}" -> "<PHONE>")

  /** PII redaction: replace every match of each rule with its placeholder
    * and count the redactions per document — the scrubbing pass an LLM
    * training pipeline runs before anything else sees the text. Pure
    * codegen'd `regexp_replace`/`regexp_count` per row: no shuffle, no
    * state, trivially parallel at any scale. Counts are taken BEFORE
    * replacement so overlapping rules can't hide each other's matches. */
  def redactPii(docs: DataFrame,
      rules: Seq[(String, String)] = defaultPiiRules): DataFrame = {
    require(rules.nonEmpty, "redactPii needs at least one rule")
    val n = rules.map { case (p, _) => regexp_count(col("text"), lit(p)) }
      .reduce(_ + _).cast("long")
    val redacted = rules.foldLeft(col("text")) { case (c, (p, r)) =>
      regexp_replace(c, p, r)
    }
    docs.select(col("doc_id"), redacted.as("redacted"), n.as("n_redactions"))
  }

  /** Non-distinct token n-grams, order-preserving and WITH duplicates —
    * unlike [[VectorExpressions.ShinglesExpr]] (a set, for dedup) this keeps
    * every occurrence, which is what repetition statistics need. Docs
    * shorter than `n` yield their single truncated gram, mirroring the
    * shingle convention. Pure built-ins (`sequence`/`slice`/`array_join`). */
  def ngramsAll(tokens: Column, n: Int): Column =
    transform(sequence(lit(1), greatest(size(tokens) - (n - 1), lit(1))),
      i => array_join(slice(tokens, i, lit(n)), " "))

  /** Gopher-style repetition filters: the fraction of n-grams taken by the
    * single most frequent n-gram (`top_frac`) and by all n-grams occurring
    * more than once (`dup_frac`) — the standard boilerplate/loop detector a
    * pretraining pipeline runs alongside the length/quality filters
    * (cf. Rae et al. 2021, "Scaling Language Models", table A1).
    *
    * Scale shape: explode is linear in corpus tokens; both groupBys run
    * map-side partial aggregation, and per-key state is bounded by a single
    * document's vocabulary — no corpus-wide state, no skew (the key always
    * includes doc_id). `min(struct(-cnt, gram))` is the arg-max with a
    * deterministic lexicographic tie-break, avoiding a second join or a
    * window over the counts. */
  def repetitionStats(docs: DataFrame, n: Int = 2,
      topFracMax: Double = 0.08, dupFracMax: Double = 0.12): DataFrame = {
    // OPTIMIZATION r14 (guide §2.4 remove shuffles, §4 built-ins): the
    // statistics are strictly PER-DOCUMENT, so the former explode →
    // groupBy(doc, gram) → groupBy(doc) pipeline shuffled the entire
    // n-gram stream twice for what one row-local fold computes: sort the
    // doc's grams (equal grams become adjacent), then a single
    // `aggregate` pass tracks the current run length, the best
    // (longest, lexicographically-first — strict > over the sorted
    // array) run, and the duplicated-occurrence count. Zero exchanges;
    // per-row state is one struct; identical values to the grouped form
    // (the old arg-max min(struct(-cnt, g)) is exactly "longest run,
    // lexicographically smallest gram").
    val folded = aggregate(
      sort_array(ngramsAll(tokens(col("text")), n)),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit(null).cast("string").as("bestg"),
        lit(0L).as("dup"), lit(0L).as("n")),
      (acc, g) => {
        val run = when(acc.getField("prev") === g,
          acc.getField("run") + 1L).otherwise(lit(1L))
        val dup = acc.getField("dup") + when(run === 2L, 2L)
          .when(run > 2L, 1L).otherwise(0L)
        val isBetter = run > acc.getField("best")
        struct(g.as("prev"), run.as("run"),
          when(isBetter, run).otherwise(acc.getField("best")).as("best"),
          when(isBetter, g).otherwise(acc.getField("bestg")).as("bestg"),
          dup.as("dup"), (acc.getField("n") + 1L).as("n"))
      })
    docs.select(col("doc_id"), folded.as("f"))
      .select(col("doc_id"), col("f.n").as("n_grams"),
        col("f.bestg").as("top_gram"),
        (col("f.best") / col("f.n")).as("top_frac"),
        (col("f.dup") / col("f.n")).as("dup_frac"))
      .withColumn("keep",
        col("top_frac") <= topFracMax && col("dup_frac") <= dupFracMax)
  }

  /** The remaining Gopher document-level rules (Rae et al. 2021, table A1)
    * not covered by [[repetitionStats]] (n-gram repetition), [[qualityExpr]]
    * (length/stopword/punct), or [[lengthBand]] (length percentiles):
    * mean word length in [3, 10]; ≥80% of words contain an alphabetic
    * character; symbol-to-word ratio (`#` and `...`) ≤ 0.1; ≤30% of lines
    * end with an ellipsis; ≤90% of lines start with a bullet. Together
    * these close out the standard pretraining rule battery.
    *
    * Every threshold is evaluated in cross-multiplied INTEGER arithmetic
    * (`n_alpha·10 ≥ n_words·8`, never `frac ≥ 0.8`), so the keep decision
    * has no float boundary for engines to disagree on; the reported ratio
    * columns are display-rounded doubles. Symbol occurrences are counted by
    * replace-length deltas — exact string ops both engines share, no regex
    * dialect in play.
    *
    * Scale shape: entirely row-local (split + higher-order filters +
    * length arithmetic, all codegen'd) — zero shuffles; composes with any
    * scan without changing its plan. */
  private def gopherCounts(text: Column) = {
    val t = tokens(text)
    val nWords = size(t).cast("long")
    val sumLen = aggregate(transform(t, w => length(w).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val nAlpha = size(filter(t, w => w.rlike("[a-zA-Z]"))).cast("long")
    val nSym = ((length(text)
      - length(regexp_replace(text, lit("#"), lit("")))) +
      (length(text)
        - length(regexp_replace(text, lit("\\.\\.\\."), lit("")))) / 3)
      .cast("long")
    val lines = split(text, "\n")
    val nLines = size(lines).cast("long")
    val nEll = size(filter(lines, l =>
      endswith(l, lit("...")) || endswith(l, lit("…")))).cast("long")
    val nBullet = size(filter(lines, l =>
      startswith(l, lit("- ")) || startswith(l, lit("* ")) ||
        startswith(l, lit("• ")))).cast("long")
    (nWords, sumLen, nAlpha, nSym, nLines, nEll, nBullet)
  }

  /** [[gopherRules]]' keep decision as a bare predicate `Column` — the form
    * a curation pipeline composes into its document scan (a row-local
    * filter, no self-join against the rule table). Single source of truth
    * with [[gopherRules]] via [[gopherCounts]]. */
  def gopherKeep(text: Column): Column = {
    val (nWords, sumLen, nAlpha, nSym, nLines, nEll, nBullet) =
      gopherCounts(text)
    sumLen >= nWords * 3 && sumLen <= nWords * 10 &&
      nAlpha * 10 >= nWords * 8 && nSym * 10 <= nWords &&
      nEll * 10 <= nLines * 3 && nBullet * 10 <= nLines * 9
  }

  def gopherRules(docs: DataFrame): DataFrame = {
    val (nWords, sumLen, nAlpha, nSym, nLines, nEll, nBullet) =
      gopherCounts(col("text"))
    docs.select(col("doc_id"), nWords.as("n_words"),
      round(sumLen.cast("double") / nWords, 9).as("mean_word_len"),
      round(nAlpha.cast("double") / nWords, 9).as("alpha_frac"),
      round(nSym.cast("double") / nWords, 9).as("symbol_ratio"),
      round(nEll.cast("double") / nLines, 9).as("ellipsis_line_frac"),
      round(nBullet.cast("double") / nLines, 9).as("bullet_line_frac"),
      (sumLen >= nWords * 3 && sumLen <= nWords * 10 &&
        nAlpha * 10 >= nWords * 8 && nSym * 10 <= nWords &&
        nEll * 10 <= nLines * 3 && nBullet * 10 <= nLines * 9).as("keep"))
  }

  /** DuckDB oracle for [[gopherRules]] — replays the split/filter/replace
    * chain with the same integer cross-multiplications. */
  val gopherRulesSql: String =
    """WITH base AS (
      |  SELECT doc_id, text,
      |    string_split(text, ' ') AS t,
      |    string_split(text, chr(10)) AS lines
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(t) AS BIGINT) AS n_words,
      |    CAST(coalesce(list_sum(list_transform(t, w -> length(w))), 0)
      |      AS BIGINT) AS sum_len,
      |    CAST(len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]')))
      |      AS BIGINT) AS n_alpha,
      |    CAST((length(text) - length(replace(text, '#', ''))) +
      |      (length(text) - length(replace(text, '...', ''))) // 3
      |      AS BIGINT) AS n_sym,
      |    CAST(len(lines) AS BIGINT) AS n_lines,
      |    CAST(len(list_filter(lines, l -> ends_with(l, '...')
      |      OR ends_with(l, chr(8230)))) AS BIGINT) AS n_ell,
      |    CAST(len(list_filter(lines, l -> starts_with(l, '- ')
      |      OR starts_with(l, '* ') OR starts_with(l, chr(8226) || ' ')))
      |      AS BIGINT) AS n_bullet
      |  FROM base)
      |SELECT doc_id, n_words,
      |  round(CAST(sum_len AS DOUBLE) / n_words, 9) AS mean_word_len,
      |  round(CAST(n_alpha AS DOUBLE) / n_words, 9) AS alpha_frac,
      |  round(CAST(n_sym AS DOUBLE) / n_words, 9) AS symbol_ratio,
      |  round(CAST(n_ell AS DOUBLE) / n_lines, 9) AS ellipsis_line_frac,
      |  round(CAST(n_bullet AS DOUBLE) / n_lines, 9) AS bullet_line_frac,
      |  (sum_len >= n_words * 3 AND sum_len <= n_words * 10 AND
      |   n_alpha * 10 >= n_words * 8 AND n_sym * 10 <= n_words AND
      |   n_ell * 10 <= n_lines * 3 AND n_bullet * 10 <= n_lines * 9) AS keep
      |FROM m ORDER BY doc_id""".stripMargin

  /** Overlapping token-window chunking — the RAG/pretraining chunker that
    * turns long documents into fixed-size windows with `overlap` tokens of
    * context carried across boundaries. Chunk i starts at token
    * `i * (chunkTokens - overlap)`; the chunk count
    * `ceil(max(n - overlap, 1) / stride)` guarantees full coverage with no
    * chunk that is wholly contained in its predecessor.
    *
    * Scale shape: entirely row-local (sequence/slice/array_join + one
    * explode) — no shuffle, no state; output amplification is the intended
    * ~n/stride rows per document. All arithmetic is exact integer, so the
    * chunk layout is bit-reproducible across engines. */
  def chunk(docs: DataFrame, chunkTokens: Int = 64,
      overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && chunkTokens > overlap,
      "need chunkTokens > overlap >= 0")
    val stride = chunkTokens - overlap
    val t = tokens(col("text"))
    val n = size(t).cast("long")
    val nch = floor((greatest(n - overlap, lit(1L)) + (stride - 1))
      / lit(stride)).cast("long")
    val chunks = transform(sequence(lit(0L), nch - 1), i => {
      val start = i * stride
      struct(i.as("chunk_id"), start.as("start_tok"),
        least(lit(chunkTokens.toLong), n - start).as("n_chunk_tokens"),
        array_join(slice(t, (start + 1).cast("int"), lit(chunkTokens)), " ")
          .as("chunk_text"))
    })
    docs.select(col("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.chunk_id"), col("c.start_tok"),
        col("c.n_chunk_tokens"), col("c.chunk_text"))
  }

  /** TF-IDF top-`k` terms per document: raw term frequency × smoothed
    * inverse document frequency `ln((N+1)/(df+1)) + 1`, ranked per doc with
    * a lexicographic tie-break. The irrational `ln` is rounded to 9 dp
    * before the multiply and the product re-rounded, so the score is
    * engine-portable (the proven cosine-parity pattern).
    *
    * Scale shape: tf aggregates on (doc_id, token) with map-side partials;
    * the df table is one row per DISTINCT token — it grows with vocabulary,
    * not corpus, but web-scale vocabularies (typos, ids) can still be
    * large, so the tf⋈df join carries NO broadcast hint: AQE picks
    * broadcast when df is actually small. Only the 1-row corpus count is
    * hint-broadcast. The final ranking shuffles once on doc_id. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    // OPTIMIZATION r15 (guide §2.4, §5): tf is referenced twice (df rolls
    // up from it, the scoring join reads it) and each reference re-ran the
    // tokenize+explode corpus pass (AQE does not dedupe identical shuffle
    // subtrees — the r14 finding). The frame is (doc_id, tok, tf) — narrow
    // at any corpus size — so one materialization makes the query a single
    // corpus scan. Measured: the duplicate pass was 0.27 + 0.22 of
    // text_tfidf's 1.16 warm CPU-s.
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "tok").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("tok"),
        round(col("tf") * round(
          log((col("n_docs") + 1).cast("double")
            / (col("df") + 1).cast("double")) + 1, 9), 9).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("tok"), col("rank"), col("score"))
  }

  /** Sequence packing: assign every document a (shard, sequence, offset)
    * slot in a stream of fixed-`seqLen`-token training sequences — the step
    * that turns a deduped corpus into the packed batches an LLM trainer
    * reads. Greedy global packing is inherently sequential; the scalable
    * form packs WITHIN deterministic shards: shard by the shared
    * [[PipelineQueries.splitBucket]] hash (reprocessing-stable, like the
    * train/val/test split), then one running token sum per shard gives each
    * document its start position, and integer division by `seqLen` its
    * sequence id + offset. Documents longer than the remaining budget span
    * sequence boundaries — (sequence, offset) is exactly what a downstream
    * chunker needs either way.
    *
    * Scale shape: one shuffle on shard, one within-shard sort by doc_id
    * (the window); `nShards` is chosen well above executor count so no
    * single sort dominates. All arithmetic is exact integer — the layout is
    * bit-reproducible across engines and corpus rebuilds. */
  def packSequences(docs: DataFrame, seqLen: Long = 2048,
      nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(seqLen >= 1 && nShards >= 1, "seqLen and nShards must be >= 1")
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"),
        pmod(PipelineQueries.splitBucket(col("doc_id")), lit(nShards.toLong))
          .as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("pack_start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"pack_start div ${seqLen}L").as("seq_id"),
        pmod(col("pack_start"), lit(seqLen)).as("seq_offset"))
  }

  /** Approximate heavy hitters over token occurrences — the answer to
    * "top-k most frequent items" when the full vocabulary is too large to
    * shuffle in one exact group-by (user ids, URLs, n-grams at corpus
    * scale). Three bounded stages, none of which shuffles the full key
    * space:
    *
    *  1. CANDIDATES from a deterministic occurrence sample: each token
    *     OCCURRENCE (not each token — a token-keyed sample would keep or
    *     drop all occurrences of a key together) is kept when the shared
    *     [[PipelineQueries.splitBucket]] hash of its (doc, position)
    *     coordinate falls under `samplePct`, and the top `candidateK` of
    *     the sampled counts become candidates. A true heavy hitter has
    *     occurrences ~ N/k, so missing every one of them in a samplePct
    *     sample has probability (1-p)^(N/k) — astronomically small, and
    *     deterministic (hash, not random()) so a passing corpus keeps
    *     passing on reprocessing.
    *  2. EXACT counts for candidates only: a broadcast semi-join keeps the
    *     aggregation state at `candidateK` groups regardless of vocabulary
    *     size.
    *  3. count-min-sketch BOUNDS from one mergeable aggregate (sketches
    *     combine associatively — the shuffle carries kilobytes): for every
    *     reported item the CMS estimate must sit in
    *     `[exact, exact + eps * N]`, and both checks ride in the output as
    *     pinned booleans, so the verification is part of the query's hash.
    *
    * Driver-side work is the sketch bytes plus `candidateK` count rows —
    * bounded metadata, independent of corpus size.
    */
  def heavyHitters(docs: DataFrame, k: Int = 5, samplePct: Int = 10,
      candidateK: Int = 50, eps: Double = 0.0005): DataFrame = {
    val spark = docs.sparkSession
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val sampled = toks
      .filter(PipelineQueries.splitBucket(
        col("doc_id") * lit(131071L) + col("pos")) < samplePct)
      .groupBy(col("tok")).agg(count(lit(1)).as("n_sample"))
    val w = Window.partitionBy().orderBy(col("n_sample").desc, col("tok").asc)
    val cands = sampled.withColumn("r", row_number().over(w))
      .filter(col("r") <= candidateK).select(col("tok"))
    val exact = toks.join(broadcast(cands), Seq("tok"), "left_semi")
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val Array(cmsRow) = toks
      .agg(count_min_sketch(col("tok"), lit(eps), lit(0.99), lit(42))
        .as("cms"), count(lit(1)).as("n_total"))
      .collect()
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(cmsRow.getAs[Array[Byte]]("cms"))
    val nTotal = cmsRow.getAs[Long]("n_total")
    val slack = math.ceil(eps * nTotal).toLong
    val rows = exact.orderBy(col("n").desc, col("tok").asc).limit(k)
      .collect() // <= k rows of (token, count): bounded metadata
      .zipWithIndex.map { case (r, i) =>
        val (tok, n) = (r.getString(0), r.getLong(1))
        val est = cms.estimateCount(tok)
        (i + 1L, tok, n, est >= n, est <= n + slack)
      }
    spark.createDataFrame(rows.toSeq)
      .toDF("rank", "tok", "n", "est_ok_lower", "est_ok_upper")
  }

  /** BM25 ranked retrieval: top-`k` documents for a bag-of-words query —
    * the lexical-search side of a training-data pipeline (mining documents
    * that match a topic, building retrieval eval sets). Okapi BM25 with
    * the non-negative smoothed idf `ln(1 + (N - df + 0.5)/(df + 0.5))`.
    *
    * Engine portability: the idf is rounded to 9 dp, each per-term score is
    * scaled to integer nano-units (`CAST(round(s * 1e9) AS BIGINT)`), and
    * the per-document SUM runs over those exact integers — associative, so
    * the aggregation order Spark picks cannot change the result, unlike a
    * double sum (the same trick [[unigramLogProb]] uses).
    *
    * Scale shape: the token explode is filtered to the query's terms BEFORE
    * the tf group-by, so only matching postings shuffle; df is at most
    * |query| rows and the corpus aggregate one row (both hint-broadcast —
    * bounded by the query, not the corpus); doc lengths join tf on doc_id.
    * The global ranking is orderBy+limit — Spark's TakeOrdered — so only
    * per-partition top-k rows reach the driver-side merge, and the
    * row_number window runs over k rows, not the corpus. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty && k >= 1, "need query terms and k >= 1")
    val withDl = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("dl"), col("text"))
    val corpus = withDl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_toks"))
    val tf = withDl
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok").isInCollection(terms))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val avgdl = col("total_toks").cast("double") / col("n_docs")
    val idf = round(log(lit(1.0)
      + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 9)
    val norm = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    val scored = tf.join(broadcast(dfreq), "tok").crossJoin(broadcast(corpus))
      .join(withDl.select(col("doc_id"), col("dl")), "doc_id")
      .select(col("doc_id"),
        round(idf * norm * 1000000000.0).cast("long").as("score_e9"))
    val agg = scored.groupBy(col("doc_id"))
      .agg(sum(col("score_e9")).as("bm25_e9"))
      .orderBy(col("bm25_e9").desc, col("doc_id").asc).limit(k)
    val w = Window.partitionBy().orderBy(col("bm25_e9").desc, col("doc_id").asc)
    agg.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("rank"), col("bm25_e9"),
        round(col("bm25_e9").cast("double") / 1000000000.0, 9).as("bm25"))
  }

  /** DuckDB oracle for [[bm25TopK]]; numeric constants are interpolated
    * from the SAME Scala doubles the Spark plan uses (Double.toString
    * round-trips exactly), so both engines evaluate identical IEEE ops. */
  def bm25TopKSql(terms: Seq[String], k: Int = 20, k1: Double = 1.2,
      b: Double = 0.75): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents),
       |corpus AS (SELECT count(*) AS n_docs, sum(dl) AS total_toks FROM dl),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
       |       WHERE tok IN ($inList) GROUP BY 1, 2),
       |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
       |s AS (SELECT tf.doc_id,
       |        CAST(round(
       |          round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 9)
       |          * (tf * ${k1 + 1.0}
       |             / (tf + $k1 * (${1.0 - b} + $b * dl
       |                / (CAST(total_toks AS DOUBLE) / n_docs))))
       |          * 1000000000.0) AS BIGINT) AS score_e9
       |      FROM tf JOIN df USING (tok) CROSS JOIN corpus
       |      JOIN dl ON tf.doc_id = dl.doc_id),
       |agg AS (SELECT doc_id, CAST(sum(score_e9) AS BIGINT) AS bm25_e9
       |        FROM s GROUP BY 1
       |        ORDER BY bm25_e9 DESC, doc_id LIMIT $k)
       |SELECT doc_id,
       |  CAST(row_number() OVER (ORDER BY bm25_e9 DESC, doc_id) AS BIGINT)
       |    AS rank,
       |  bm25_e9,
       |  round(CAST(bm25_e9 AS DOUBLE) / 1000000000.0, 9) AS bm25
       |FROM agg ORDER BY rank""".stripMargin
  }

  /** Corpus-unigram language-model score per document — the classic
    * perplexity-proxy quality signal (KenLM-style filtering with the LM
    * reduced to unigrams): `avg_logp = (1/|d|) Σ_tok ln(ctf(tok)/total)`.
    * The true log-prob companion to [[tokenRarity]]: that operator stays
    * in exact integers by averaging raw counts (an arithmetic-mean proxy);
    * this one delivers the real geometric-mean statistic and buys back
    * engine-exactness with the nano-unit trick below.
    * Low values flag documents full of corpus-rare tokens (gibberish, OCR
    * noise); high values flag boilerplate. Downstream filters cut on a
    * quantile of `avg_logp`.
    *
    * Engine portability: per-token log-probs are rounded to 9 dp and scaled
    * to integer nano-units once per VOCABULARY entry; each document then
    * sums exact integers (`tf * lp_e9`), so Spark's aggregation order
    * cannot perturb the result. The only double ops — `ln`, the final
    * division — are single expressions evaluated identically by DuckDB.
    *
    * Scale shape: the corpus term-frequency table is a word-count (one
    * shuffle over tokens WITH map-side partial aggregation); the tf⋈lp join
    * is keyed on token and carries NO broadcast hint — vocabulary grows
    * with corpus at web scale, so AQE must stay free to pick the join side
    * (same policy as [[tfidfTopTerms]]). The per-document aggregation
    * shuffles once on doc_id. Nothing touches the driver. */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val ctf = tf.groupBy(col("tok")).agg(sum(col("tf")).as("ctf"))
    val tot = ctf.agg(sum(col("ctf")).as("total"))
    val lp = ctf.crossJoin(broadcast(tot))
      .select(col("tok"),
        round(round(log(col("ctf").cast("double") / col("total")), 9)
          * 1000000000.0).cast("long").as("lp_e9"))
    tf.join(lp, "tok")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("lp_e9")).as("sum_lp_e9"))
      .select(col("doc_id"), col("n_tokens"), col("sum_lp_e9"),
        round(col("sum_lp_e9").cast("double") / 1000000000.0
          / col("n_tokens"), 9).as("avg_logp"))
  }

  /** Per-document token-distribution entropy — the low-diversity / spam
    * signal the ratio-based filters miss: keyword-stuffed or
    * template-generated text can pass length and punctuation screens while
    * its token distribution collapses onto a few values. `H = ln(N) -
    * (1/N)·Σ_t c_t·ln(c_t)` in nats (0 for a one-token document, ln(N)
    * when every token is distinct); downstream filters cut on a low
    * quantile. `ttr` (type-token ratio) rides along as the cheap linear
    * companion.
    *
    * Engine portability (the [[unigramLogProb]] nano-unit discipline):
    * `ln(c_t)` is rounded to 9 dp and scaled to integer nano-units once
    * per (doc, token) COUNT — the sum `Σ c_t·lnc_e9` is exact integer
    * arithmetic, immune to aggregation order; the only double ops (`ln N`,
    * one division) are single expressions both engines evaluate
    * identically.
    *
    * Scale shape: one shuffle to (doc, tok) counts with map-side partial
    * aggregation, one re-key to doc_id for the bounded per-doc sums.
    * Per-doc state is three integers — no token list is ever held. */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("tf") *
          round(round(log(col("tf").cast("double")), 9) * 1000000000.0)
            .cast("long")).as("sum_clnc_e9"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(log(col("n_tokens").cast("double"))
          - col("sum_clnc_e9").cast("double") / 1000000000.0
            / col("n_tokens"), 9).as("entropy"),
        round(col("n_distinct").cast("double") / col("n_tokens"), 9)
          .as("ttr"))
  }

  /** DuckDB oracle for [[tokenEntropy]]. */
  val tokenEntropySql: String =
    """WITH tf AS (
      |  SELECT doc_id, tok, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |    FROM documents)
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT doc_id,
      |    CAST(sum(tf) AS BIGINT) AS n_tokens,
      |    count(*) AS n_distinct,
      |    CAST(sum(tf * CAST(round(round(ln(CAST(tf AS DOUBLE)), 9)
      |      * 1000000000.0) AS BIGINT)) AS BIGINT) AS sum_clnc_e9
      |  FROM tf GROUP BY 1)
      |SELECT doc_id, n_tokens, n_distinct,
      |  round(ln(CAST(n_tokens AS DOUBLE))
      |    - CAST(sum_clnc_e9 AS DOUBLE) / 1000000000.0 / n_tokens, 9)
      |    AS entropy,
      |  round(CAST(n_distinct AS DOUBLE) / n_tokens, 9) AS ttr
      |FROM agg ORDER BY doc_id""".stripMargin

  /** DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169 —
    * Data Selection via Importance Resampling): score every document by
    * how much more likely its tokens are under a TARGET distribution
    * (e.g. the high-quality subset you want more of) than under the raw
    * corpus, using hashed-unigram bag-of-buckets LMs:
    * `logw(d) = Σ_tok [ln p_tgt(bucket(tok)) - ln p_raw(bucket(tok))]`
    * with Laplace +1 smoothing. Positive `avg_logw` ⇒ the document looks
    * like the target; resampling by these weights (compose with
    * [[weightedSample]]'s Gumbel top-k — DSIR's published recipe is
    * exactly weights → resample) tilts a 100 TB crawl toward the target
    * domain without training a classifier.
    *
    * Token hashing reuses the [[fingerprint]] fold (mod 1e9+7, then mod
    * `buckets`) so the bucket assignment is bit-identical in any SQL
    * dialect; `buckets` defaults small for the fixture — web scale uses
    * 10⁴-10⁵ buckets (the paper's hashed n-gram table).
    *
    * Engine portability: the two `ln`s are each rounded to 9 dp and
    * scaled to integer nano-units once per BUCKET (vocabulary-bounded);
    * each document then sums exact integers `tf_b · lr_e9` — aggregation
    * order cannot perturb `logw_e9`.
    *
    * Scale shape: one token-bucket shuffle with map-side partials for the
    * two histograms (bounded at `buckets` rows — broadcast-sized by
    * construction), a 1-row totals broadcast, one (doc, bucket) shuffle
    * for per-doc tf, and one doc_id re-key for the bounded final sum. The
    * target subset is a predicate column, not a separate scan — one pass
    * over the corpus feeds both distributions. */
  def dsirWeights(docs: DataFrame, targetCond: Column,
      buckets: Int = 64): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val tb = docs.select(col("doc_id"), targetCond.as("is_target"),
        explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("is_target"),
        pmod(fingerprint(col("tok")), lit(buckets.toLong)).as("b"))
    // OPTIMIZATION r14 (guide §2.4): the bucket histograms aggregate FROM
    // the per-doc tf rollup (Σ tf ≡ token count; is_target rides the
    // grouping — it is per-doc constant) instead of re-keying the raw
    // token stream. The former two groupBys on different keys tokenized
    // the corpus twice with no reusable exchange; now both consumers
    // share one (doc, is_target, bucket) exchange and the histogram
    // shuffle carries ≤ |docs|·buckets pre-reduced rows.
    val db = tb.groupBy(col("doc_id"), col("is_target"), col("b"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint() // 3 consumers; see naiveBayesConfusion's note
    val bc = db.groupBy(col("b"))
      .agg(sum(col("tf")).as("raw_c"),
        sum(when(col("is_target"), col("tf")).otherwise(0L)).as("tgt_c"))
    val tot = bc.agg(sum(col("raw_c")).as("r_tot"), sum(col("tgt_c")).as("t_tot"))
    val lr = bc.crossJoin(broadcast(tot))
      .select(col("b"),
        (round(round(log((col("tgt_c") + 1).cast("double")
            / (col("t_tot") + buckets).cast("double")), 9)
            * 1000000000.0).cast("long")
          - round(round(log((col("raw_c") + 1).cast("double")
            / (col("r_tot") + buckets).cast("double")), 9)
            * 1000000000.0).cast("long")).as("lr_e9"))
    // lr is bounded at `buckets` rows — broadcast-sized by construction;
    // without the hint the join shuffles the (doc, bucket) table onto
    // only `buckets` distinct keys (measured 18x at gen sf1 vs sf0.1)
    db.join(broadcast(lr), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("lr_e9")).as("logw_e9"))
      .select(col("doc_id"), col("n_tokens"), col("logw_e9"),
        round(col("logw_e9").cast("double") / 1000000000.0
          / col("n_tokens"), 9).as("avg_logw"))
  }

  /** DuckDB oracle for [[dsirWeights]] with target `lang = 'en'` — the
    * bucket fold, both smoothed LMs, and the nano-unit sum replayed
    * exactly. */
  def dsirWeightsSql(buckets: Int = 64): String =
    s"""WITH tb AS (
       |  SELECT doc_id, lang = 'en' AS is_target,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        [CAST(unicode(c) AS BIGINT)
       |         FOR c IN string_split(tok, '') IF c <> '']),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) % $buckets AS b
       |  FROM (SELECT doc_id, lang,
       |          unnest(string_split(text, ' ')) AS tok FROM documents)),
       |db AS (SELECT doc_id, b, count(*) AS tf FROM tb GROUP BY 1, 2),
       |bc AS (SELECT b, count(*) AS raw_c,
       |    count(*) FILTER (WHERE is_target) AS tgt_c
       |  FROM tb GROUP BY 1),
       |tot AS (SELECT CAST(sum(raw_c) AS BIGINT) AS r_tot,
       |    CAST(sum(tgt_c) AS BIGINT) AS t_tot FROM bc),
       |lr AS (SELECT b,
       |    CAST(round(round(ln(CAST(tgt_c + 1 AS DOUBLE)
       |        / CAST(t_tot + $buckets AS DOUBLE)), 9)
       |      * 1000000000.0) AS BIGINT)
       |    - CAST(round(round(ln(CAST(raw_c + 1 AS DOUBLE)
       |        / CAST(r_tot + $buckets AS DOUBLE)), 9)
       |      * 1000000000.0) AS BIGINT) AS lr_e9
       |  FROM bc CROSS JOIN tot)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |  CAST(sum(tf * lr_e9) AS BIGINT) AS logw_e9,
       |  round(CAST(sum(tf * lr_e9) AS DOUBLE) / 1000000000.0
       |    / sum(tf), 9) AS avg_logw
       |FROM db JOIN lr USING (b)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Multinomial Naive Bayes over hashed-unigram buckets, trained and
    * applied IN ONE QUERY — the counts-based stand-in for the linear
    * quality/domain classifier stage of CCNet/RefinedWeb-style curation
    * (fastText there; NB here because count-based training is exactly
    * replayable by any engine, where gradient training is not).
    * `score(d, c) = ln prior(c) + Σ_b tf_db · ln p(b | c)` with Laplace
    * +1 smoothing over [[fingerprint]]-hashed buckets; prediction is the
    * argmax with a lexicographic class tie-break. Output is the confusion
    * matrix (label, pred, n) — the self-classification audit that shows
    * whether the hashed vocabulary separates the classes at all.
    *
    * Engine portability: class-conditional `ln`s and the prior `ln` are
    * rounded to 9 dp and scaled to nano-units once per (class, bucket) /
    * class; per-document scores are exact integer sums, and the argmax
    * compares exact integers — no float accumulation anywhere.
    *
    * Scale shape: the model IS an aggregate — (class, bucket) counts
    * bounded at |classes|·buckets rows (broadcast-sized by construction,
    * hint-broadcast onto the per-doc tf table), class priors a |classes|-
    * row aggregate. Scoring is one (doc, bucket) shuffle, one per-doc
    * re-key, and a |classes|-candidate argmax window per doc. Train and
    * apply are the same two passes at any corpus size. */
  def naiveBayesConfusion(docs: DataFrame, labelCol: String = "lang",
      buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets > 0, "buckets must be positive")
    val lbl = col(labelCol)
    val tb = docs.select(col("doc_id"), lbl.as("label"),
        explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("label"),
        pmod(fingerprint(col("tok")), lit(buckets.toLong)).as("b"))
    // OPTIMIZATION r14 (guide §2.4, §5): label rides the per-doc tf
    // rollup so the class-conditional counts aggregate FROM it (Σ tf ≡
    // the token count) instead of from the raw token stream — the former
    // two groupBys keyed the same tokenize+hash subtree on different
    // keys and tokenized the corpus twice. The rollup is MATERIALIZED
    // once (≤ |docs|·buckets rows of four longs): its three consumers
    // (class histogram, its totals, the scoring join) each re-ran the
    // tokenize map stage otherwise — measured 3 identical 96 k-row map
    // stages per query at sf0.1; AQE's stage cache did not deduplicate
    // them.
    val db = tb.groupBy(col("doc_id"), col("label"), col("b"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // class-conditional bucket log-probs: |classes| x buckets rows
    val cb = db.groupBy(col("label"), col("b")).agg(sum(col("tf")).as("cnt"))
    val ctot = cb.groupBy(col("label")).agg(sum(col("cnt")).as("c_tot"))
    val lp = cb.join(ctot, "label")
      .select(col("label").as("cls"), col("b"),
        round(round(log((col("cnt") + 1).cast("double")
            / (col("c_tot") + buckets).cast("double")), 9)
          * 1000000000.0).cast("long").as("lp_e9"))
    // unseen (class, bucket) pairs still carry smoothing mass: the dense
    // class x bucket grid left-joins the observed counts
    val classes = ctot.select(col("label").as("cls"), col("c_tot"))
    val grid = classes.crossJoin(
        docs.sparkSession.range(buckets).select(col("id").as("b")))
      .join(lp, Seq("cls", "b"), "left")
      .select(col("cls"), col("b"),
        coalesce(col("lp_e9"),
          round(round(log(lit(1.0)
              / (col("c_tot") + buckets).cast("double")), 9)
            * 1000000000.0).cast("long")).as("lp_e9"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val prior = docs.groupBy(lbl.as("cls")).agg(count(lit(1)).as("n_c"))
      .crossJoin(broadcast(nDocs))
      .select(col("cls"),
        round(round(log(col("n_c").cast("double") / col("n_docs")), 9)
          * 1000000000.0).cast("long").as("prior_e9"))
    // label rides the score rows (functionally determined by doc_id), so
    // the confusion rollup needs no second docs scan and no re-join — a
    // token-less doc has no score row, exactly as the former inner join
    // dropped it (OPTIMIZATION r14).
    val scores = db.join(broadcast(grid), "b")
      .groupBy(col("doc_id"), col("label"), col("cls"))
      .agg(sum(col("tf") * col("lp_e9")).as("ll_e9"))
      .join(broadcast(prior), "cls")
      .select(col("doc_id"), col("label"), col("cls"),
        (col("ll_e9") + col("prior_e9")).as("score_e9"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_e9").desc, col("cls").asc)
    scores.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("label"), col("cls").as("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** DuckDB oracle for [[naiveBayesConfusion]] on the `lang` label. */
  def naiveBayesConfusionSql(buckets: Int = 64): String =
    s"""WITH tb AS (
       |  SELECT doc_id, label,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        [CAST(unicode(c) AS BIGINT)
       |         FOR c IN string_split(tok, '') IF c <> '']),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) % $buckets AS b
       |  FROM (SELECT doc_id, lang AS label,
       |          unnest(string_split(text, ' ')) AS tok FROM documents)),
       |db AS (SELECT doc_id, b, count(*) AS tf FROM tb GROUP BY 1, 2),
       |cb AS (SELECT label, b, count(*) AS cnt FROM tb GROUP BY 1, 2),
       |ctot AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS c_tot
       |  FROM cb GROUP BY 1),
       |grid AS (SELECT c.label AS cls, g.b,
       |    CAST(round(round(ln(CAST(COALESCE(cb.cnt, 0) + 1 AS DOUBLE)
       |        / CAST(c.c_tot + $buckets AS DOUBLE)), 9)
       |      * 1000000000.0) AS BIGINT) AS lp_e9
       |  FROM ctot c
       |  CROSS JOIN (SELECT unnest(generate_series(0, $buckets - 1)) AS b) g
       |  LEFT JOIN cb ON cb.label = c.label AND cb.b = g.b),
       |prior AS (SELECT lang AS cls,
       |    CAST(round(round(ln(CAST(count(*) AS DOUBLE)
       |        / (SELECT count(*) FROM documents)), 9)
       |      * 1000000000.0) AS BIGINT) AS prior_e9
       |  FROM documents GROUP BY 1),
       |scores AS (SELECT db.doc_id, grid.cls,
       |    CAST(sum(db.tf * grid.lp_e9) AS BIGINT)
       |      + any_value(prior.prior_e9) AS score_e9
       |  FROM db JOIN grid USING (b) JOIN prior ON prior.cls = grid.cls
       |  GROUP BY 1, 2),
       |pred AS (SELECT doc_id, cls AS pred FROM (
       |    SELECT doc_id, cls, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score_e9 DESC, cls ASC) AS rn FROM scores)
       |  WHERE rn = 1)
       |SELECT d.lang AS label, p.pred, count(*) AS n
       |FROM documents d JOIN pred p USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Corpus-derived stopword list: tokens appearing in at least `pct`% of
    * documents — the data-driven replacement for a hand-curated stopword
    * file, feeding the quality/rarity operators (a multilingual corpus
    * derives per-corpus stopwords instead of assuming English). The ratio
    * is kept as exact integers (df·100 ≥ n_docs·pct) for the cut and
    * exposed as a single-division double for reporting.
    *
    * Scale shape: one document-frequency aggregate (distinct (doc, tok)
    * explode, two map-side-partial shuffles), a 1-row corpus count
    * hint-broadcast; output is the high-df tail of the vocabulary —
    * metadata-sized by construction. */
  def stopwords(docs: DataFrame, pct: Int = 50): DataFrame = {
    require(pct >= 1 && pct <= 100, "pct must be in [1, 100]")
    val df = docs
      .select(col("doc_id"), explode(array_distinct(tokens(col("text"))))
        .as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    df.crossJoin(broadcast(n))
      .filter(col("df") * 100 >= col("n_docs") * pct)
      .select(col("tok"), col("df"),
        round(col("df").cast("double") / col("n_docs"), 9).as("doc_ratio"))
      .orderBy(col("df").desc, col("tok").asc)
  }

  /** DuckDB oracle for [[stopwords]] at the default 50% threshold. */
  val stopwordsSql: String =
    """WITH df AS (
      |  SELECT tok, count(*) AS df FROM (
      |    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      |    FROM documents)
      |  GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT tok, df,
      |  round(CAST(df AS DOUBLE) / n_docs, 9) AS doc_ratio
      |FROM df CROSS JOIN n
      |WHERE df * 100 >= n_docs * 50
      |ORDER BY df DESC, tok""".stripMargin

  /** PMI-ranked collocations: the top-`k` adjacent token pairs by
    * pointwise mutual information `ln(p(ab) / (p(a)·p(b)))` among bigrams
    * with at least `minCount` occurrences — the standard corpus-mining
    * pass for multi-word expressions (and for spotting boilerplate phrases
    * a near-dup pass should treat as one token). PMI is a per-bigram
    * SCALAR (no cross-row float sum), so one 9-dp rounding after the `ln`
    * makes it engine-exact.
    *
    * Scale shape: unigram and bigram counts are word-counts (map-side
    * partials, one shuffle each on the gram); the count-join is keyed on
    * token with NO broadcast hint (vocabulary grows with the corpus);
    * only the two 1-row totals are hint-broadcast. The `minCount` filter
    * runs BEFORE the unigram joins, so only candidate collocations join.
    * Ranking is TakeOrdered top-k like [[bm25TopK]]. */
  def pmiTopK(docs: DataFrame, k: Int = 20, minCount: Long = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = tokens(col("text"))
    val toks = docs.select(explode(t).as("tok"))
    // OPTIMIZATION r15 (guide §2.4, §5): the unigram counts are referenced
    // three times (total + both candidate joins) and the bigram counts
    // twice (total + candidates) — each reference re-ran its full
    // tokenize/explode corpus pass (AQE does not dedupe identical shuffle
    // subtrees, the r14 finding). Both frames are vocabulary-sized, so one
    // materialization each makes the query exactly two corpus scans, and
    // the corpus-wide totals fold out of the counts (sum of group counts
    // ≡ count of exploded rows). Measured: the standalone totals passes
    // were 0.34 + 0.03 of text_pmi's 1.02 warm CPU-s.
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val nUni = uni.agg(sum(col("c")).as("n_uni"))
    val bi = docs.select(explode(
      when(size(t) >= 2,
        zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => concat(a, lit(" "), b)))
        .otherwise(array().cast("array<string>"))).as("bg"))
    val bgCounts = bi.groupBy(col("bg")).agg(count(lit(1)).as("c_ab"))
      .localCheckpoint()
    val nBi = bgCounts.agg(sum(col("c_ab")).as("n_bi"))
    val cand = bgCounts
      .filter(col("c_ab") >= minCount)
      .select(col("bg"), col("c_ab"),
        element_at(split(col("bg"), " "), 1).as("tok_a"),
        element_at(split(col("bg"), " "), 2).as("tok_b"))
    val scored = cand
      .join(uni.select(col("tok").as("tok_a"), col("c").as("c_a")), "tok_a")
      .join(uni.select(col("tok").as("tok_b"), col("c").as("c_b")), "tok_b")
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .select(col("bg"), col("c_ab"),
        round(log((col("c_ab").cast("double") / col("n_bi"))
          / ((col("c_a").cast("double") / col("n_uni"))
            * (col("c_b").cast("double") / col("n_uni")))), 9).as("pmi"))
    val top = scored.orderBy(col("pmi").desc, col("bg").asc).limit(k)
    val w = Window.partitionBy().orderBy(col("pmi").desc, col("bg").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("bg"), col("c_ab"), col("pmi"))
  }

  /** DuckDB oracle for [[pmiTopK]]. */
  def pmiTopKSql(k: Int = 20, minCount: Long = 5): String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |uni AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
       |n_u AS (SELECT count(*) AS n_uni FROM toks),
       |bi AS (
       |  SELECT unnest([t[i] || ' ' || t[i+1]
       |                 FOR i IN generate_series(1, len(t) - 1)]) AS bg
       |  FROM (SELECT string_split(text, ' ') AS t FROM documents)),
       |n_b AS (SELECT count(*) AS n_bi FROM bi),
       |cand AS (SELECT bg, count(*) AS c_ab FROM bi GROUP BY 1
       |         HAVING count(*) >= $minCount),
       |scored AS (
       |  SELECT bg, c_ab,
       |    round(ln((CAST(c_ab AS DOUBLE) / n_bi)
       |      / ((CAST(a.c AS DOUBLE) / n_uni)
       |        * (CAST(b.c AS DOUBLE) / n_uni))), 9) AS pmi
       |  FROM cand
       |  JOIN uni a ON a.tok = string_split(bg, ' ')[1]
       |  JOIN uni b ON b.tok = string_split(bg, ' ')[2]
       |  CROSS JOIN n_u CROSS JOIN n_b)
       |SELECT CAST(row_number() OVER (ORDER BY pmi DESC, bg) AS BIGINT)
       |    AS rank, bg, c_ab, pmi
       |FROM (SELECT * FROM scored ORDER BY pmi DESC, bg LIMIT $k)
       |ORDER BY rank""".stripMargin

  /** Weight-proportional sampling WITHOUT replacement via the
    * Efraimidis–Spirakis A-ES scheme: each document draws a deterministic
    * hash-uniform `u ∈ (0,1)` and the k largest `u^(1/w)` win — inclusion
    * probability proportional to weight `w` (here `n_chars`; any positive
    * score column works). The quality-weighted subset selection a
    * training-data pipeline runs when it wants "pick 1M docs, favoring
    * high quality" rather than a uniform sample.
    *
    * Determinism/portability: `u` comes from splitmix64(doc_id) — top 53
    * bits plus ½, over 2^53, a dyadic rational both engines hold exactly —
    * and ranking uses `ln(u)/w` (monotone in `u^(1/w)`, avoids pow()
    * whose libm rounding differs across engines) with a doc_id tie-break.
    * Ranking is on the UNROUNDED key — rounding belongs to the report
    * column only (`key9`), because a rounded ranking key collapses onto a
    * 1e-9 lattice for weights near 1e9 and would degrade selection among
    * heavy documents to the tie-break instead of A-ES inclusion.
    * Reprocessing-stable like every sampler here: the sample never changes
    * across reruns or engine versions.
    *
    * Scale shape: one map-side key per row, TakeOrdered top-k — no full
    * sort, no shuffle beyond the per-partition top-k merge. */
  def weightedSample(docs: DataFrame, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val w = greatest(col("n_chars"), lit(1L))
    val u53 = shiftrightunsigned(
      VectorExpressions.mix64Col(spark, col("doc_id")), 11)
    val u = (u53.cast("double") + lit(0.5)) / lit(9007199254740992.0)
    val top = docs.select(col("doc_id"), w.cast("long").as("w"),
        (log(u) / w).as("key"))
      .orderBy(col("key").desc, col("doc_id").asc).limit(k)
    val win = Window.partitionBy().orderBy(col("key").desc, col("doc_id").asc)
    top.withColumn("rank", row_number().over(win).cast("long"))
      .select(col("rank"), col("doc_id"), col("w"),
        round(col("key"), 9).as("key9"))
  }

  /** Per-source KL divergence `KL(p_source ‖ p_corpus)` over the unigram
    * distribution — the domain-skew report a mixture designer reads next
    * to [[PipelineQueries.textMixtureReport]]: sources with high KL
    * contribute distinctive vocabulary; near-zero KL sources duplicate
    * the corpus average. Each (source, token) term is a scalar double
    * (9-dp-rounded `ln`), scaled to integer nano-units before the
    * per-source sum — the [[unigramLogProb]] exactness trick, so Spark's
    * aggregation order cannot perturb the report.
    *
    * Scale shape: one (source, token) count (map-side partials), source
    * and token marginals re-aggregated FROM that table (no second corpus
    * scan), the marginal joins keyed on source/token with no broadcast
    * hints (both grow), one final per-source sum — |sources| rows out. */
  def domainKl(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"), explode(tokens(col("text"))).as("tok"))
    val st = toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c_st"))
    val srcTot = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val tokTot = st.groupBy(col("tok")).agg(sum(col("c_st")).as("c_t"))
    val tot = tokTot.agg(sum(col("c_t")).as("n"))
    val term = st.join(srcTot, "source").join(tokTot, "tok")
      .crossJoin(broadcast(tot))
      .select(col("source"),
        round((col("c_st").cast("double") / col("n_s"))
          * round(log((col("c_st").cast("double") / col("n_s"))
            / (col("c_t").cast("double") / col("n"))), 9)
          * 1000000000.0).cast("long").as("term_e9"))
    term.groupBy(col("source")).agg(sum(col("term_e9")).as("kl_e9"))
      .join(srcTot, "source")
      .select(col("source"), col("n_s").cast("long").as("n_tokens"),
        col("kl_e9"),
        round(col("kl_e9").cast("double") / 1000000000.0, 9).as("kl"))
  }

  /** DuckDB oracle for [[domainKl]]. */
  val domainKlSql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      |st AS (SELECT source, tok, count(*) AS c_st FROM toks GROUP BY 1, 2),
      |src_tot AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
      |            FROM st GROUP BY 1),
      |tok_tot AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t
      |            FROM st GROUP BY 1),
      |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM tok_tot),
      |term AS (
      |  SELECT source,
      |    CAST(round((CAST(c_st AS DOUBLE) / n_s)
      |      * round(ln((CAST(c_st AS DOUBLE) / n_s)
      |        / (CAST(c_t AS DOUBLE) / n)), 9)
      |      * 1000000000.0) AS BIGINT) AS term_e9
      |  FROM st JOIN src_tot USING (source) JOIN tok_tot USING (tok)
      |  CROSS JOIN tot),
      |agg AS (SELECT source, CAST(sum(term_e9) AS BIGINT) AS kl_e9
      |        FROM term GROUP BY 1)
      |SELECT a.source, s.n_s AS n_tokens, a.kl_e9,
      |  round(CAST(a.kl_e9 AS DOUBLE) / 1000000000.0, 9) AS kl
      |FROM agg a JOIN src_tot s USING (source) ORDER BY source""".stripMargin

  /** DuckDB oracle for [[unigramLogProb]]. */
  val unigramLogProbSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      |ctf AS (SELECT tok, sum(tf) AS ctf FROM tf GROUP BY 1),
      |tot AS (SELECT sum(ctf) AS total FROM ctf),
      |lp AS (SELECT tok,
      |         CAST(round(round(ln(CAST(ctf AS DOUBLE) / total), 9)
      |           * 1000000000.0) AS BIGINT) AS lp_e9
      |       FROM ctf CROSS JOIN tot),
      |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |          CAST(sum(tf * lp_e9) AS BIGINT) AS sum_lp_e9
      |        FROM tf JOIN lp USING (tok) GROUP BY 1)
      |SELECT doc_id, n_tokens, sum_lp_e9,
      |  round(CAST(sum_lp_e9 AS DOUBLE) / 1000000000.0 / n_tokens, 9)
      |    AS avg_logp
      |FROM agg ORDER BY doc_id""".stripMargin
}
