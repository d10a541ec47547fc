package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines (driver
  * north star; not present in the reference, which only writes records —
  * these extend the same engine over the `documents`/`embeddings` fixtures).
  *
  * Scale design notes (100 TB):
  *  - exact dedup is a hash-groupBy on a 128-bit fingerprint — map-side
  *    partial aggregation + one shuffle on the fingerprint;
  *  - n-gram Jaccard joins on exploded shingles: the shuffle key is the
  *    shingle, so ultra-common shingles create skew — `maxShingleDf` drops
  *    them (standard practice; near-dup pairs share *rare* shingles too);
  *  - MinHash/LSH and SimHash banding turn the O(n²) pair space into
  *    per-bucket joins — candidate generation is a shuffle on band hash,
  *    verification touches only candidates;
  *  - embedding near-dup: brute force is quadratic (kept for the oracle /
  *    small dims); the LSH variant buckets by hyperplane sign bits first.
  *
  * All expressions are Spark built-ins / higher-order functions — fully
  * codegen-compatible, no UDFs, no driver-side collection.
  */
object Dedup {

  /** Distinct word-n-gram shingles of a token array (declarative form —
    * kept as the reference semantics / spec cross-check for the native
    * kernel used on the hot paths). */
  def shingles(tokens: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(tokens) - (n - 1), lit(1))),
      i => array_join(slice(tokens, i, lit(n)), " ")))

  /** Ordered (a < b) pairs from a posting list — the key trick shared by
    * every banded/bucketed candidate generator here: group members by
    * bucket key ONCE, then explode the within-bucket pairs, instead of
    * self-joining two full copies of the corpus-derived stream (which
    * scans and computes signatures twice). */
  private def pairExplode(ids: Column): Column =
    flatten(transform(ids, a =>
      transform(filter(ids, b => b > a), b => struct(a.as("a"), b.as("b")))))

  /** Exact dedup via md5 fingerprint: one row per distinct text with the
    * surviving (minimum) doc id and the duplicate count. */
  def exact(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** PARAGRAPH-level exact dedup — the granularity document-level [[exact]]
    * misses: repeated boilerplate (headers, license blocks, navigation
    * chrome) recurs across documents whose full texts differ, and a
    * training pipeline strips the repeats while keeping each document's
    * unique remainder.
    *
    * Paragraph boundary: split on blank lines (`\n{2,}`), then segment any
    * paragraph longer than `maxParaTokens` tokens into fixed windows — the
    * bound keeps a pathological single-paragraph document from defeating
    * the granularity (and on fixtures with no blank lines, IS the
    * paragraph structure). Both stages are row-local array ops flattened
    * into one ordered per-doc paragraph list.
    *
    * Output: one row per (doc_id, para_idx) with the paragraph fingerprint
    * and `keep` — true iff this occurrence is the canonical owner (first by
    * (doc_id, para_idx)) of its fingerprint. The kept spans per doc are
    * exactly the rows with `keep`; a writer emits those and drops the rest.
    *
    * Scale shape: identical to [[exact]] — splitting/segmenting is
    * codegen'd per-row (no shuffle), then ONE shuffle on the fingerprint;
    * the per-fingerprint window is bounded by duplicate multiplicity (the
    * posting-list shape, never all-pairs). Reference: the dedup family in
    * SURVEY.md §2.5; same granularity ladder as Dolma/CCNet paragraph
    * dedup. */
  def paragraphs(docs: DataFrame, maxParaTokens: Int = 25): DataFrame = {
    require(maxParaTokens >= 1, "need maxParaTokens >= 1")
    val m = maxParaTokens
    val blocks = split(col("text"), "\\n{2,}")
    val paras = flatten(transform(blocks, p => {
      val t = split(p, " ")
      val nseg = floor((greatest(size(t), lit(1)) + (m - 1)) / lit(m))
        .cast("int")
      transform(sequence(lit(0), nseg - 1),
        i => array_join(slice(t, i * m + 1, lit(m)), " "))
    }))
    docs.select(col("doc_id"), posexplode(paras).as(Seq("para_idx", "para")))
      .select(col("doc_id"), col("para_idx").cast("long").as("para_idx"),
        md5(col("para")).as("fp"))
  }

  /** [[paragraphs]] + canonical-occurrence marking (see above). */
  def paragraphDedup(docs: DataFrame, maxParaTokens: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("fp"))
      .orderBy(col("doc_id"), col("para_idx"))
    paragraphs(docs, maxParaTokens)
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("para_idx"), col("fp"), col("keep"))
  }

  /** The WRITE side of paragraph dedup: reconstruct each document's text
    * with only the paragraphs it canonically owns (first occurrence by
    * (doc_id, para_idx) corpus-wide — same ownership rule as
    * [[paragraphDedup]], same boundary rule as [[paragraphs]]). This is the
    * operator a cleaning pipeline actually materializes; `paragraphDedup`'s
    * keep-marks are its audit trail.
    *
    * Output: one row per doc with paragraph counts and `clean_text` — the
    * kept paragraphs in original order joined by a blank line (the same
    * boundary that split them; a doc whose every paragraph is owned
    * elsewhere keeps an empty string, letting a downstream length filter
    * drop it).
    *
    * Scale shape: [[paragraphDedup]]'s single fingerprint shuffle, plus one
    * doc_id shuffle to reassemble — per-doc state is the document's own
    * paragraph list, so memory is bounded by document size exactly as the
    * input rows are. No all-pairs stage anywhere. */
  def cleanParagraphs(docs: DataFrame, maxParaTokens: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxParaTokens >= 1, "need maxParaTokens >= 1")
    val m = maxParaTokens
    val blocks = split(col("text"), "\\n{2,}")
    val paras = flatten(transform(blocks, p => {
      val t = split(p, " ")
      val nseg = floor((greatest(size(t), lit(1)) + (m - 1)) / lit(m))
        .cast("int")
      transform(sequence(lit(0), nseg - 1),
        i => array_join(slice(t, i * m + 1, lit(m)), " "))
    }))
    val w = Window.partitionBy(col("fp"))
      .orderBy(col("doc_id"), col("para_idx"))
    val marked = docs
      .select(col("doc_id"), posexplode(paras).as(Seq("para_idx", "para")))
      .select(col("doc_id"), col("para_idx").cast("long").as("para_idx"),
        col("para"), md5(col("para")).as("fp"))
      .withColumn("keep", row_number().over(w) === 1)
    marked.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_paras"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      // collect_list drops nulls, so the when() keeps only owned paragraphs;
      // struct sort restores original order without a per-doc window
      array_join(transform(
        array_sort(collect_list(
          when(col("keep"), struct(col("para_idx"), col("para"))))),
        s => s.getField("para")), "\n\n").as("clean_text"))
  }

  /** Substring-level duplicate-span detection (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): slide a `w`-token window over every document
    * (stride 1) and mark each position whose window text also occurs in at
    * least one OTHER document. Catches repeated boilerplate/quotes inside
    * otherwise-unique documents — the case document- and paragraph-level
    * dedup both miss. Documents shorter than `w` tokens contribute their
    * whole text as one window (mirrors [[ngramJaccard]]'s short-doc rule).
    *
    * Output: one row per doc with total window positions, positions whose
    * window is shared cross-doc, and the duplicated fraction — the
    * per-document signal a span-removal pass would key on.
    *
    * Scale shape: ONE corpus scan, three keyed exchanges of shrinking
    * frames, zero self-joins. Window fingerprints are 8-byte rolling
    * hashes (never the window text); the position stream collapses to
    * (doc, fp) counts first (map-side partial aggregation), the cross-doc
    * test is a count over the fp-partitioned window of that DISTINCT
    * (doc, fp) frame — so a window partition is one fingerprint's
    * document-posting list, the same bounded shape [[paragraphDedup]]
    * windows over — and the per-doc statistics aggregate once more on
    * doc_id. The join-based formulation was measured to re-scan the corpus
    * once per statistic (the optimizer prunes the shared aggregate into
    * unequal subtrees, defeating exchange reuse); this pipeline cannot. */
  def substringDedup(docs: DataFrame, w: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 2, "need window width >= 2")
    // OPTIMIZATION r14 (guide §2.3 narrower shuffle keys): 8-byte window
    // fingerprints (was md5's 32-hex-char string) — the fingerprint never
    // leaves the query (only per-doc counts do) and window equality is
    // what both engines compare, so the oracle's md5 replay yields
    // identical counts (64-bit collisions are ~p<1e-7 even at 10⁹
    // windows, the same regime the md5 truncation lived in).
    // OPTIMIZATION r15 (guide §4 per-row kernels): the fingerprints come
    // from ONE rolling M61 prefix-hash pass per document (WindowFpsExpr —
    // MinhashTokensSig's algebra with every window fp emitted) instead of
    // `transform(starts, i => xxhash64(array_join(slice(toks, i, w))))`,
    // which rebuilt and rehashed each w-token window string: O(code
    // points) per doc, not O(w · code points). Measured: the kernel stage
    // was 1.76 of dedup_substring's 1.77 warm CPU-s.
    val wins = docs.select(col("doc_id"),
      explode(VectorExpressions.windowFpsOf(docs.sparkSession,
        split(col("text"), " "), w)).as("fp"))
    // rows are distinct (doc, fp) after the aggregate, so a plain count
    // over the fp window IS the distinct-document count for that window
    val nd = count(lit(1)).over(Window.partitionBy(col("fp")))
    wins.groupBy(col("doc_id"), col("fp"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("nd", nd)
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_windows"),
        sum(when(col("nd") > 1, col("cnt")).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_windows")).as("dup_ratio"))
  }

  /** Shared candidate machinery of the exact-shingle family
    * ([[ngramJaccard]], [[containment]]): distinct word n-shingles per
    * doc, per-doc shingle counts, and ordered (a < b) candidate pairs
    * with shared-shingle counts from (optionally df-capped) posting
    * lists — one scan, one shuffle on the shingle; singleton postings
    * carry no pairs, capped postings bound skew. Returns (pairs with
    * `id_a`/`id_b`/`inter`, sizes with `doc_id`/`n_sh`). Both consumers'
    * DuckDB oracles replay exactly this construction, so any change
    * here must land in BOTH oracle SQL texts. */
  private def shingleCandidates(docs: DataFrame, n: Int,
      maxShingleDf: Option[Int]): (DataFrame, DataFrame) = {
    // OPTIMIZATION r15 (guide §2.3 narrower shuffle keys — same move as
    // r14's substringDedup md5→xxhash64): the posting-list shuffle only
    // ever GROUPS shingles by equality (the shingle text never reaches a
    // consumer — pairs carry doc ids and counts), so ship the 8-byte
    // xxhash64 of each shingle instead of its ~30-60-byte string.
    // Measured: this one exchange carries 237,849 rows at sf0.1 and
    // dominates eight declared queries (ngram/containment/components/
    // canonical/families/recall). Collision math: P(any collision) ≈
    // k²/2⁶⁵ ≈ 1.5e-9 at k = 2.4e5 distinct shingles — and the oracle
    // gate recomputes the exact string-keyed answer on every SF, so a
    // collision would be a loud mismatch, not silent drift. Hashing
    // INSIDE the array (transform) keeps the explode operator on longs.
    val sh = docs.select(col("doc_id"),
      explode(transform(VectorExpressions.shinglesOf(docs.sparkSession,
        split(col("text"), " "), n), s => xxhash64(s))).as("sh"))
    // OPTIMIZATION r14 (guide §2.4): shinglesOf emits DISTINCT shingles,
    // so the per-doc shingle count is just size() of the un-exploded
    // array — map-side, one row per doc, no explode pass and no
    // groupBy(doc_id) exchange. The former count-after-explode shape
    // re-evaluated the whole tokenize+shingle pipeline a second time and
    // shuffled |corpus|·|shingles| rows to count them. (cast long keeps
    // the n_sh column type the count() produced — consumers emit it.)
    // The explicit repartition makes the two join references (sa/sb in
    // the consumers) share ONE reused exchange — without it each side
    // re-evaluates the tokenize+shingle projection — and lands the frame
    // pre-partitioned on the join key.
    val sizes = docs.select(col("doc_id"),
      size(VectorExpressions.shinglesOf(docs.sparkSession,
        split(col("text"), " "), n)).cast("long").as("n_sh"))
      .repartition(col("doc_id"))
    val postings = sh.groupBy("sh").agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
    val capped = maxShingleDf.fold(postings)(cap =>
      postings.filter(size(col("ids")) <= cap))
    val pairs = capped
      .select(explode(pairExplode(col("ids"))).as("p"))
      .groupBy(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    (pairs, sizes)
  }

  /** Near-duplicate pairs by exact n-gram Jaccard similarity.
    * Exact (no approximation): pairs sharing zero shingles are not near-dups
    * at any useful threshold, so the shingle self-join enumerates exactly
    * the candidate pairs; Jaccard = |A∩B| / (|A|+|B|-|A∩B|).
    *
    * @param maxShingleDf drop shingles appearing in more than this many docs
    *   (skew guard for the shuffle key; None = exact, used by the oracle).
    */
  def ngramJaccard(docs: DataFrame, n: Int = 5, threshold: Double = 0.5,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val (pairs, sizes) = shingleCandidates(docs, n, maxShingleDf)
    // no broadcast hint: sizes has one row per corpus document, so the
    // planner (AQE) must stay free to pick a shuffle join at real scale
    pairs
      .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        (col("inter") / (col("sa.n_sh") + col("sb.n_sh") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric shingle CONTAINMENT (Broder 1997's second resemblance
    * measure): C(inner→outer) = |S(inner) ∩ S(outer)| / |S(inner)| — the
    * doc-in-doc duplication symmetric Jaccard structurally misses. A short
    * document quoted wholesale inside a long one (boilerplate inclusion,
    * license blocks, syndicated articles with added chrome) scores
    * near-zero Jaccard (the union is dominated by the long side) but
    * containment ≈ 1 for the short side, so a curation pipeline screens
    * on BOTH: Jaccard for near-clones, containment for engulfed docs.
    *
    * Candidates ride the same capped posting lists as [[ngramJaccard]]
    * (a pair with containment ≥ t shares ≥ t·|inner| shingles, so at
    * least one posting joins them — lossless under the same cap caveat),
    * then each unordered candidate pair is tested in BOTH directions.
    * The emitted pair is ordered (inner_id = the contained side) and the
    * score ships as exact integers (`inter`, `n_inner`) with the
    * threshold applied as `inter·td ≥ tn·n_inner` — no double division
    * to drift between engines (default tn/td = 9/10).
    *
    * Scale shape: identical to [[ngramJaccard]] — one scan, one shuffle
    * on the shingle, posting-list pair explosion bounded by
    * `maxShingleDf`, then two bounded joins against the per-doc size
    * table; the direction test doubles only the candidate PAIR rows,
    * never the corpus-derived stream. */
  def containment(docs: DataFrame, n: Int = 5, tn: Int = 9, td: Int = 10,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val (pairs, sizes) = shingleCandidates(docs, n, maxShingleDf)
    val directed = pairs.select(col("id_a").as("inner_id"),
        col("id_b").as("outer_id"), col("inter"))
      .unionAll(pairs.select(col("id_b").as("inner_id"),
        col("id_a").as("outer_id"), col("inter")))
    directed
      .join(sizes, directed("inner_id") === sizes("doc_id"))
      .filter(col("inter") * td >= col("n_sh") * tn)
      .select(col("inner_id"), col("outer_id"), col("inter"),
        col("n_sh").as("n_inner"))
  }

  /** PPJoin-style word-set similarity self-join (Xiao et al. 2008 prefix
    * filtering): pairs of documents whose DISTINCT-word Jaccard meets the
    * threshold, found without examining every token-sharing pair
    * (threshold as an
    * exact rational tn/td — default 4/5, which on a shared-vocabulary
    * corpus is the line between "same template" and "everything matches
    * everything"). Under any global token order, two sets with J ≥ t must
    * share a token within their first |T| − ⌈t·|T|⌉ + 1 tokens (the
    * prefix) — so posting lists are
    * built over PREFIXES only, ordered rarest-token-first (df asc, token
    * asc), which puts high-df stopword-like tokens outside most prefixes
    * and collapses the candidate count the full posting lists would
    * explode. The filter is LOSSLESS: the DuckDB oracle computes the
    * exact quadratic answer and must match.
    *
    * All threshold math is integer (prefix length
    * sz − ((tn·sz + td − 1) div td) + 1, final test
    * inter·(td + tn) ≥ tn·(n_a + n_b) ⟺ J ≥ tn/td), so no float boundary
    * can disagree between engines.
    *
    * Scale shape: one df aggregate (token-keyed), one per-doc rank window
    * (doc-keyed), prefix posting-list pair explosion (the PPJoin win:
    * bounded by prefix df, not token df), then the intersection count is
    * computed ONLY for candidate pairs by routing each pair through its
    * two documents' token lists (two id-keyed joins) — never an all-pairs
    * stage. */
  def ppjoinWords(docs: DataFrame, tn: Int = 4, td: Int = 5): DataFrame = {
    require(tn >= 1 && td > tn, "need a threshold 0 < tn/td < 1")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val ranked = toks.join(dfreq, "tok")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
      .withColumn("sz", count(lit(1)).over(
        Window.partitionBy(col("doc_id"))))
    val prefix = ranked
      .filter(expr(s"rn <= sz - (($tn * sz + ${td - 1}) div $td) + 1"))
      .select(col("doc_id"), col("tok"), col("sz"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sz").as("n_a"), col("b.sz").as("n_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(toks.select(col("doc_id").as("id_a"), col("tok")), Seq("id_a"))
      .join(toks.select(col("doc_id").as("id_b"), col("tok")),
        Seq("id_b", "tok"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"))
      .filter(expr(s"inter * ${td + tn} >= $tn * (n_a + n_b)"))
      .select(col("id_a"), col("id_b"), col("inter"),
        col("n_a"), col("n_b"),
        round(col("inter").cast("double")
          / (col("n_a") + col("n_b") - col("inter")), 9).as("jaccard9"))
  }

  /** MinHash signature: element i = min over shingles of xxhash64(sh, i) —
    * native one-pass kernel (see [[VectorExpressions.MinhashSig]]). */
  def minhashSignature(spark: org.apache.spark.sql.SparkSession,
      sh: Column, numHashes: Int): Column =
    VectorExpressions.minhashSig(spark, sh, numHashes)

  /** MinHash + LSH banding near-dup candidates with estimated Jaccard.
    *
    * numHashes=64, bands=16 (4 rows/band) targets recall ≈ 1-(1-j^4)^16:
    * ~99.9% at j=0.9, ~50% at j=0.5 — the standard knee for 0.7+ dedup.
    * Candidates sharing ≥1 band are verified by signature agreement
    * (estimated Jaccard), never by re-reading the corpus.
    */
  def minhashLsh(docs: DataFrame, n: Int = 5, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rpb = numHashes / bands
    // OPTIMIZATION r14 (guide §4 + §8): (a) fused token-array kernel —
    // same lanes as minhashSignature(shinglesOf(...)) (KernelFusionSpec
    // pins the equality) without materializing a shingle string per
    // window; (b) the banding shuffle carries ONLY (doc_id, band, h) —
    // the former shape shipped the full numHashes-long signature on
    // every one of its `bands` posting rows (a 16× payload
    // amplification; measured 5 CPU-sec in the posting-list aggregate
    // alone at sf0.1) — and the signatures are attached to the BOUNDED
    // candidate-pair list afterwards, moving each signature once. The
    // signature table is materialized once (one corpus pass) and reused
    // by the banding and both attach sides.
    val sig = docs.select(col("doc_id"),
      VectorExpressions.minhashTokensSig(docs.sparkSession,
        split(col("text"), " "), n, numHashes).as("sig"))
      .localCheckpoint()
    val bucketed = sig.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          xxhash64(slice(col("sig"), b * lit(rpb) + 1, lit(rpb))).as("h"))))
        .as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.h"))
    // posting list per (band, bucket): ids only, pairs exploded within
    // buckets, candidate dedup across bands on (id_a, id_b)
    val cand = bucketed
      .groupBy(col("band"), col("h"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(pairExplode(col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(sig.select(col("doc_id").as("id_a"), col("sig").as("sig_a")),
        "id_a")
      .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sig_b")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          b => b)) / lit(numHashes.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** MinHash accuracy audit: every [[minhashLsh]] candidate pair carries
    * BOTH its signature-estimated Jaccard and the true shingle-set
    * Jaccard, plus the 9-dp absolute error — the QA report that tells a
    * pipeline owner whether 64 hashes are enough for their corpus before
    * they trust the estimate at 100 TB. (Expected |err| ≈ √(j(1−j)/64)
    * ≈ 0.06 at j=0.5; the report shows the realized distribution.)
    *
    * Scale shape: the candidate set is the LSH output (already bounded);
    * the true-Jaccard join ships each candidate's distinct-shingle array
    * — at full scale this runs as a sampled audit (LIMIT the candidates),
    * not over every pair; the shape is the same either way. */
  def minhashAudit(docs: DataFrame, n: Int = 5, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    val cand = minhashLsh(docs, n, numHashes, bands, threshold)
    val shs = docs.select(col("doc_id"),
      VectorExpressions.shinglesOf(spark, split(col("text"), " "), n).as("shs"))
    val inter = size(array_intersect(col("a.shs"), col("b.shs")))
    cand.join(shs.as("a"), col("id_a") === col("a.doc_id"))
      .join(shs.as("b"), col("id_b") === col("b.doc_id"))
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        (inter.cast("double") /
          (size(col("a.shs")) + size(col("b.shs")) - inter))
          .as("true_jaccard"))
      .withColumn("err9", round(abs(col("est_jaccard") - col("true_jaccard")), 9))
  }

  /** MinHash recall/precision report — one row quantifying the LSH dial
    * against ground truth on the same corpus: |exact ∩ found| / |exact|
    * (recall: near-dup pairs at true Jaccard ≥ threshold the sketch
    * surfaced) and / |found| (precision: surfaced pairs that are truly
    * near-dups). The companion to [[minhashAudit]]'s per-pair error — run
    * both on a sample before trusting the 16-band knee at full scale.
    *
    * Scale shape: both inputs are pair lists (posting-list shaped); the
    * full-outer join keys on the pair and the final aggregate is one row.
    * At 100 TB the exact side is the expensive input — run on a sampled
    * partition, same shape. */
  def minhashRecall(docs: DataFrame, n: Int = 5,
      threshold: Double = 0.5): DataFrame = {
    val exact = ngramJaccard(docs, n, threshold)
      .select(col("id_a"), col("id_b"), lit(1L).as("in_exact"))
    val found = minhashLsh(docs, n, threshold = threshold)
      .select(col("id_a"), col("id_b"), lit(1L).as("in_found"))
    exact.join(found, Seq("id_a", "id_b"), "full_outer")
      .agg(sum(coalesce(col("in_exact"), lit(0L))).as("n_exact"),
        sum(coalesce(col("in_found"), lit(0L))).as("n_found"),
        sum(coalesce(col("in_exact"), lit(0L)) *
          coalesce(col("in_found"), lit(0L))).as("n_both"))
      .select(col("n_exact"), col("n_found"), col("n_both"),
        (col("n_both").cast("double") / col("n_exact")).as("recall"),
        (col("n_both").cast("double") / col("n_found")).as("precision"))
  }

  /** 64-bit SimHash of a token array: one xxhash64 per token, its 64 bits
    * vote ±1 per output bit — native one-pass kernel
    * (see [[VectorExpressions.SimhashExpr]]). */
  def simhash(spark: org.apache.spark.sql.SparkSession, tokens: Column): Column =
    VectorExpressions.simhash(spark, tokens)

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist.
    * Banding into 4×16-bit chunks is EXACT for maxDist ≤ 3 (pigeonhole: 3
    * differing bits cannot touch all 4 bands), so candidates are complete;
    * the final bit_count filter gives exact distances.
    *
    * Same posting-list `pairExplode` shape as [[minhashLsh]]: one signature
    * pass, one shuffle on (band, bucket), pairs exploded within buckets —
    * not a banded self-join, which would evaluate the signature stream
    * twice and shuffle both copies.
    *
    * @param maxBucket drop buckets larger than this many docs (skew guard
    *   for a degenerate hot bucket, e.g. a corpus full of one boilerplate
    *   page). None (default) keeps the ≤3-distance guarantee exact — but
    *   note the posting-list form materializes each bucket (and its
    *   within-bucket pair array) inside single rows, so an uncapped
    *   mega-bucket (~10⁶ identical docs) is an executor OOM where a
    *   self-join would have spilled; at corpus scale ALWAYS set a cap
    *   (duplicates that extreme are caught by exact dedup first anyway).
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
      maxBucket: Option[Int] = None): DataFrame = {
    require(maxDist <= 3, "4x16-bit banding is only exact for maxDist <= 3")
    val sh = docs.select(col("doc_id"),
      simhash(docs.sparkSession, split(col("text"), " ")).as("simhash"))
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(k => struct(lit(k).as("band"),
        shiftrightunsigned(col("simhash"), 16 * k).bitwiseAND(lit(0xFFFFL))
          .as("h"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.h"))
    val buckets = banded
      .groupBy(col("band"), col("h"))
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ms"))
      .filter(size(col("ms")) > 1)
    val capped = maxBucket.fold(buckets)(cap =>
      buckets.filter(size(col("ms")) <= cap))
    capped
      .select(explode(pairExplode(col("ms"))).as("p"))
      .select(col("p.a.doc_id").as("id_a"), col("p.b.doc_id").as("id_b"),
        bit_count(col("p.a.simhash").bitwiseXOR(col("p.b.simhash")))
          .cast("long").as("hamming")) // long: matches the oracle's BIGINT
      // OPTIMIZATION r14 (guide §2.3): hamming is a pure function of the
      // pair — identical on every duplicate of the same (a, b) — so the
      // distance filter commutes with the cross-band dedup; filtering
      // FIRST shuffles only the ≤ maxDist survivors instead of the full
      // Σ|bucket|² candidate fan-out (measured 768 k → ~6 k rows at
      // sf0.1 through the dedup exchange).
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("id_a", "id_b")
  }

  /** Connected components over the near-duplicate pair graph: the step
    * that turns pairwise matches into dedup GROUPS (one canonical survivor
    * per component). Iterative min-label propagation — each round every
    * node takes the minimum label among itself and its neighbors; converged
    * when the label-sum stops changing (it is strictly decreasing while any
    * label moves, and one cheap scalar aggregate per round is the whole
    * convergence test — no plan-comparison or collect of labels).
    *
    * Scale notes: rounds needed = graph diameter (near-dup components are
    * short chains/cliques in practice, so a handful); each round is one
    * shuffle-join on the edge list + one aggregation; labels are
    * checkpointed via localCheckpoint every few rounds so the lineage (and
    * the task binary) does not grow unboundedly — the standard
    * Pregel-on-DataFrames shape.
    */
  def nearDupComponents(docs: DataFrame, n: Int = 5, threshold: Double = 0.5,
      maxIter: Int = 20, maxShingleDf: Option[Int] = None): DataFrame = {
    val pairs = ngramJaccard(docs, n, threshold, maxShingleDf)
      .select(col("id_a"), col("id_b"))
    val edges = pairs.unionAll(
        pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .localCheckpoint() // pairs are reused every round: cut the recompute
    var labels = docs.select(col("doc_id"), col("doc_id").as("component"))
    // exact decimal sum: overflow-proof at any corpus size, and coalesced
    // so an empty corpus converges immediately instead of NPE-ing
    def labelSum(): java.math.BigDecimal = labels
      .agg(coalesce(sum(col("component").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")))
      .head().getDecimal(0)
    var prevSum: java.math.BigDecimal = null
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // SHUFFLE_HASH hints (guide §3.1): the label vector is the smaller
      // per-partition side of both joins and neither needs sort order —
      // skips sort-merge's two sorts per join per round; strategy only.
      val nbrMin = edges.join(labels.hint("shuffle_hash"),
          edges("id_b") === labels("doc_id"))
        .groupBy(col("id_a")).agg(min(col("component")).as("nbr_comp"))
      val updated = labels
        .join(nbrMin.hint("shuffle_hash"),
          labels("doc_id") === nbrMin("id_a"), "left")
        .select(col("doc_id"),
          least(col("component"), coalesce(col("nbr_comp"), col("component")))
            .as("component"))
      // OPTIMIZATION r14 (guide §5 caching): checkpoint EVERY round, not
      // every 3rd — `labels` is referenced twice per round (the neighbor
      // join AND the update join) plus once by the convergence aggregate,
      // so an unmaterialized round re-ran its whole since-last-checkpoint
      // lineage up to 3× per reference. The label frame is |docs| rows of
      // two longs — materializing it is the cheap side of that trade at
      // any corpus size.
      labels = updated.localCheckpoint()
      val s = labelSum()
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    // a silently truncated propagation would report duplicate canonicals —
    // refuse to return wrong components
    if (!converged) throw new IllegalStateException(
      s"component propagation did not converge in $maxIter rounds " +
        "(graph diameter exceeds maxIter) — raise maxIter")
    labels.withColumn("is_canonical", col("component") === col("doc_id"))
  }

  /** The user-facing form of near-dup dedup: one SURVIVOR per duplicate
    * cluster, keeping the longest copy (ties broken by smallest doc id) —
    * the standard "keep the best representative" policy, since truncated
    * scrapes of a page near-dup against the full copy and the full copy is
    * the one worth training on.
    *
    * Scale shape: [[nearDupComponents]] supplies (doc_id, component); the
    * survivor pick is one `row_number` window PER COMPONENT — partitions
    * are duplicate clusters (bounded by cluster size, never corpus size),
    * so the window never concentrates data. `n_members` rides the same
    * window spec, adding no extra shuffle.
    */
  def canonicalSurvivors(docs: DataFrame, n: Int = 5, threshold: Double = 0.5,
      maxIter: Int = 20, maxShingleDf: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comps = nearDupComponents(docs, n, threshold, maxIter, maxShingleDf)
    val w = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    comps.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("rk", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("component"), col("n_chars"),
        col("n_members"))
  }

  /** Incremental ingest dedup — the continuous-pipeline form of [[exact]]:
    * an incoming batch is deduplicated (a) against the already-ingested
    * corpus and (b) within itself, WITHOUT re-reading corpus text. The
    * corpus side reduces to its fingerprint set (one md5 per distinct
    * text — at 100 TB that set is the compact state a streaming ingester
    * checkpoints, not the corpus itself); the batch joins it anti on the
    * fingerprint, then keeps its own min-id survivor per remaining
    * fingerprint. One map-side md5 per row, one anti-join shuffle on the
    * fingerprint, one partial-agg groupBy — no text column ever shuffles.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val seen = corpus.select(md5(col(textCol)).as("fp")).distinct()
    batch.select(md5(col(textCol)).as("fp"), col(idCol))
      .join(seen, Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** Cosine similarity between two double-array columns — sequential
    * left-to-right accumulation, bit-compatible with the DuckDB oracle. */
  def cosine(a: Column, b: Column): Column = {
    def ssum(arr: Column) = aggregate(arr, lit(0.0), (acc, v) => acc + v)
    val dot = ssum(zip_with(a, b, (x, y) => x * y))
    dot / (sqrt(ssum(transform(a, x => x * x))) * sqrt(ssum(transform(b, x => x * x))))
  }

  /** Embedding near-duplicate pairs by exact cosine ≥ threshold.
    * Vectors are l2-normalized ONCE (O(n·dim)), so each pair costs a single
    * native dot product. The threshold compares the cosine ROUNDED to 9 dp
    * — far above accumulation-order noise (~1e-15), far below any real
    * similarity gap — so a borderline pair can never flip between this
    * engine's and the oracle's IEEE op orders. Quadratic — the
    * oracle-checkable baseline; [[embeddingNearDupLsh]] is the scale path. */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.5): DataFrame = {
    val spark = embeddings.sparkSession
    val e = embeddings.select(col("vec_id"),
      VectorExpressions.vecNormalize(spark,
        col("embedding").cast("array<double>")).as("v"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(round(VectorExpressions.vecDot(spark, col("a.v"), col("b.v")), 9)
        >= threshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
  }

  /** Cross-corpus embedding contamination: for each corpus vector, the
    * best (9-dp-rounded) cosine against a PROBE set — restricted to
    * hyperplane-LSH bucket-sharing candidates — plus the match count at
    * the threshold. The embedding-space sibling of the shingle-based
    * decontamination screen: "is this training vector suspiciously close
    * to a held-out benchmark vector?".
    *
    * Scale shape: probes are a bounded benchmark set → broadcast; the
    * corpus streams through its bucket signatures once, candidates are
    * bucket-joined, and only candidates pay the exact dot product. A pair
    * sharing several tables appears once per table — max / countDistinct
    * absorb the duplicates without a pre-dedup shuffle. */
  def embeddingCrossMatches(corpus: DataFrame, probes: DataFrame,
      threshold: Double = 0.3, dim: Int = 64, bitsPerTable: Int = 8,
      numTables: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    val planes = hyperplanes(bitsPerTable * numTables, dim)
    def bucketed(df: DataFrame, idAs: String, vAs: String): DataFrame =
      df.select(col("vec_id").as(idAs),
        VectorExpressions.vecNormalize(spark,
          col("embedding").cast("array<double>")).as(vAs),
        posexplode(VectorExpressions.hyperplaneSig(spark,
          col("embedding").cast("array<double>"), planes, bitsPerTable))
          .as(Seq("t", "h")))
    val c = bucketed(corpus, "vec_id", "v")
    val p = bucketed(probes, "probe_id", "pv")
    c.join(broadcast(p), Seq("t", "h"))
      .select(col("vec_id"), col("probe_id"),
        round(VectorExpressions.vecDot(spark, col("v"), col("pv")), 9).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("vec_id"))
      .agg(max(col("cos")).as("max_cos"),
        countDistinct(col("probe_id")).as("n_matches"))
  }

  /** Deterministic pseudo-random hyperplanes for sign-LSH. Component (p, d)
    * is an LCG draw mapped to [-0.5, 0.5): a closed-form integer formula
    * (not a stateful RNG) so the DuckDB oracle rebuilds the identical
    * planes inline and sign bits match bit-for-bit — every value is a
    * dyadic rational, exactly representable in a double on both engines. */
  private[graft] def hyperplanes(numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim) { (p, d) =>
      val k = p.toLong * dim + d
      ((1103515245L * k + 12345L) % 2147483648L) / 2147483648.0 - 0.5
    }

  /** Scale path: hyperplane-sign LSH bucketing, exact cosine only within
    * buckets. Multiple independent tables (bands of sign bits) trade
    * recall for candidate count; recall is asserted against the brute-force
    * result in the spec rather than an oracle.
    *
    * @param maxBucket drop (table, hash) buckets with more members than
    *   this before pairing — the skew guard the sf1 scaling run proved
    *   necessary: when the corpus has a DENSE cosine tail (correlated
    *   vectors collapse onto few sign patterns), the within-bucket join
    *   degenerates toward quadratic; the cap bounds per-bucket work at the
    *   cost of recall inside mega-clusters, which a dedup pass usually
    *   WANTS to handle via the component/canonical path anyway. None =
    *   exact bucketing (the oracle baseline).
    */
  def embeddingNearDupLsh(embeddings: DataFrame, threshold: Double = 0.5,
      dim: Int = 64, bitsPerTable: Int = 8, numTables: Int = 8,
      maxBucket: Option[Int] = None): DataFrame = {
    val spark = embeddings.sparkSession
    val planes = hyperplanes(bitsPerTable * numTables, dim)
    // sign bits are computed on the RAW vector (sign(dot(v,p)) is
    // normalization-invariant): the oracle replays the identical IEEE
    // multiply-accumulate sequence without a normalize step in between
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("raw"),
      VectorExpressions.vecNormalize(spark,
        col("embedding").cast("array<double>")).as("v"))
    val all = e.select(col("vec_id"), col("v"),
      posexplode(VectorExpressions.hyperplaneSig(spark, col("raw"), planes,
        bitsPerTable)).as(Seq("t", "h")))
    // OPTIMIZATION r14 (guide §2.4, §2.3 — same shape as knnGraph): ONE
    // groupBy-collect_list pass per (t, h) bucket (signature pipeline
    // evaluated once, the cap a free size() filter) instead of the
    // bucket self-join that re-ran it per side; the 9-dp cosine rides
    // the exploded pair (pure per pair, so it commutes with the
    // cross-table dedup) and only threshold survivors' 16-byte id pairs
    // reach the dedup exchange — never the vectors.
    val grouped = all.groupBy(col("t"), col("h"))
      .agg(collect_list(struct(col("vec_id"), col("v"))).as("xs"))
    val capped = maxBucket.fold(grouped)(c =>
      grouped.filter(size(col("xs")) <= c))
    capped
      .select(explode(col("xs")).as("a"), col("xs"))
      .select(col("a"), explode(col("xs")).as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        VectorExpressions.vecDot(spark, col("a.v"), col("b.v")).as("dot"))
      // 9-dp rounding before the threshold: same borderline-pair armor
      // as embeddingNearDup / the sim_* rankings. Rounding moves a value
      // by at most 5e-10, so no pair with a raw dot below
      // `threshold - 1e-9` can pass; the raw test runs first and spares
      // those pairs the rounding's decimal round trip
      .filter(col("dot") >= threshold - 1e-9 &&
        round(col("dot"), 9) >= threshold)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space with a coarse
    * k-means quantizer, compare cosines only WITHIN each cell, and keep
    * one survivor per duplicate set — the published recipe for semantic
    * dedup at LAION/web scale, where the quadratic [[embeddingNearDup]]
    * is unpayable. Survivor policy: a vector is dropped iff some
    * smaller-id vector in its cell matches at `threshold` (greedy min-id,
    * the same deterministic policy as [[exact]]'s min-id survivor).
    *
    * Output: (vec_id, cell, n_dups_lower, kept) — one row per vector, so
    * the result is audit-friendly (drop rate per cell falls out of a
    * group-by).
    *
    * Scale shape: one k-means fit (capped iterations, seeded — see
    * [[Similarity.trainCentroids]]), one map-side cell assignment with
    * centroids riding in-expression, then a self-join ON CELL — cost is
    * Σ|cell|², the SemDeDup contract, tuned by `nlist`; the shuffle is
    * keyed on cell, duplicate counting aggregates map-side on vec_id.
    * `nlist = 1` degenerates to the exact quadratic form, which is what
    * the DuckDB oracle replays (k-means centroids are engine-specific,
    * same adjudication as `sim_ivf` / `sim_ivf_full`).
    */
  def semanticDedup(embeddings: DataFrame, nlist: Int = 8,
      threshold: Double = 0.35,
      centroidCacheKey: Option[String] = None): DataFrame = {
    val spark = embeddings.sparkSession
    require(nlist >= 1, "nlist must be >= 1")
    val e = embeddings.select(col("vec_id"),
      VectorExpressions.vecNormalize(spark,
        col("embedding").cast("array<double>")).as("v"))
    val cells =
      if (nlist == 1) e.withColumn("cell", lit(0))
      else {
        val cents = Similarity.trainCentroids(embeddings, nlist,
          centroidCacheKey)
        e.withColumn("cell", element_at(
          VectorExpressions.nearestCells(spark, col("v"), cents, 1), 1))
      }
    val dupCounts = cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") > col("b.vec_id"))
      .filter(round(VectorExpressions.vecDot(spark, col("a.v"), col("b.v")), 9)
        >= threshold)
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg(count(lit(1)).as("n_dups_lower"))
    cells.join(dupCounts, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        coalesce(col("n_dups_lower"), lit(0L)).as("n_dups_lower"),
        (coalesce(col("n_dups_lower"), lit(0L)) === 0).as("kept"))
  }
}
