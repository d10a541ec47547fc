package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor similarity search over an embedding column
  * (driver north star). Brute-force cosine top-k is the oracle-checkable
  * baseline; hyperplane-LSH candidate routing is the scale path.
  *
  * Input contract (all operators here): corpus/query DataFrames carry an
  * id column (BIGINT) and a vector column (ARRAY<FLOAT> or ARRAY<DOUBLE>).
  * The `idCol`/`vecCol` parameters name those INPUT columns (defaults match
  * the `embeddings` fixture: vec_id/embedding) and apply to both the corpus
  * and the query frame; output columns are always
  * (query_id, neighbor_id, rank).
  *
  * Scale design: the query set is broadcast (it is small by construction —
  * a probe batch), so the corpus is scanned exactly once with no shuffle at
  * all for the score phase; only the per-query top-k window shuffles, and
  * it shuffles `|queries| × |corpus-partition|` pre-reduced rows. At 100 TB
  * the LSH variant routes each query to a handful of buckets instead of the
  * full scan.
  */
object Similarity {

  /** Cosine (dot of pre-normalized vectors) rounded to 9 dp: well above
    * accumulation-order noise (~1e-15), well below any real similarity
    * gap — makes rank ties deterministic and oracle-reproducible. */
  private def roundedDot(df: DataFrame, a: Column, b: Column): Column =
    round(VectorExpressions.vecDot(df.sparkSession, a, b), 9)

  private def normalized(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String): DataFrame =
    df.select(col(idCol).as(idAs),
      VectorExpressions.vecNormalize(df.sparkSession,
        col(vecCol).cast("array<double>")).as(vecAs))

  /** Exact top-k neighbors (by cosine) for each query vector. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = normalized(corpus, idCol, vecCol, "vec_id", "v")
    val q = normalized(queries, idCol, vecCol, "query_id", "qv")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        roundedDot(corpus, col("qv"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** Fitted coarse quantizers, keyed by caller-provided identity — an IVF
    * index is built once and queried many times; retraining k-means per
    * query batch would dominate the probe cost. Seeded fit ⇒ deterministic
    * per key. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  def trainCentroids(corpus: DataFrame, nlist: Int,
      cacheKey: Option[String] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    def fit(): Array[Array[Double]] = {
      val train = normalized(corpus, idCol, vecCol, "vec_id", "v")
        .select(array_to_vector(col("v")).as("features"))
      // seeded random init + capped iterations: a coarse quantizer needs
      // rough cells, not converged clusters — kmeans|| init alone costs
      // several extra Spark jobs, and every iteration is a full pass over
      // the corpus. Probe correctness never depends on centroid quality
      // (sim_ivf_full proves exact recovery at nprobe=nlist for ANY cells).
      new KMeans().setK(nlist).setSeed(42L).setFeaturesCol("features")
        .setInitMode("random").setMaxIter(10)
        .fit(train).clusterCenters.map(_.toArray)
    }
    cacheKey match {
      case Some(key) =>
        centroidCache.computeIfAbsent(s"${key}_$nlist", _ => fit())
      case None => fit()
    }
  }

  /** IVF (inverted-file) ANN: a coarse k-means quantizer partitions the
    * corpus into `nlist` cells; each query exact-searches only its
    * `nprobe` nearest cells. The standard billion-scale layout: the
    * centroid table is metadata-sized, cell assignment is one scan, and
    * the probe join touches ~nprobe/nlist of the corpus per query.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      centroidCacheKey: Option[String] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val e = normalized(corpus, idCol, vecCol, "vec_id", "v")
    // centroids ride inside the cell-assignment kernel: one map-side pass
    // per row, no centroid join, no row amplification
    val cents = trainCentroids(corpus, nlist, centroidCacheKey, idCol, vecCol)
    val corpusCells = e.select(col("vec_id"), col("v"),
      element_at(VectorExpressions.nearestCells(spark, col("v"), cents, 1), 1)
        .as("cell"))
    val queryCells = normalized(queries, idCol, vecCol, "query_id", "qv")
      .select(col("query_id"), col("qv"),
        explode(VectorExpressions.nearestCells(spark, col("qv"), cents, nprobe))
          .as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    // each corpus vector lives in exactly one cell and (query, cell) rows
    // are distinct, so the join cannot emit duplicate pairs — no dedup step
    corpusCells.join(broadcast(queryCells), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        roundedDot(corpus, col("qv"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** IVF ANN with a DATA-DERIVED coarse quantizer: the cells are the
    * first `nlist` corpus vectors (normalized), and both cell assignment
    * and query probing rank by the same 9-dp-rounded cosine the final
    * rerank uses. Unlike [[ivfTopK]]'s k-means quantizer (floating-point
    * iterations no other engine can replay), every step here is exactly
    * reproducible by an independent engine — which is what lets the
    * recall audit (`sim_ivf_recall`) be HASH-checked end-to-end against
    * DuckDB rather than rows-only. Cell quality is whatever the first
    * `nlist` vectors give (fine for an audit; [[ivfTopK]] remains the
    * production quantizer).
    *
    * Scale shape: identical to [[ivfTopK]] — centroid set is
    * metadata-sized and broadcast, assignment is one corpus scan, the
    * probe join touches ~nprobe/nlist of the corpus per query. */
  def ivfTopKSeeded(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 8, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = normalized(corpus, idCol, vecCol, "vec_id", "v")
    val cents = e.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cell"), col("v").as("cv"))
    def cellsFor(df: DataFrame, idAs: String, vecAs: String,
        nTop: Int): DataFrame = {
      val w = Window.partitionBy(col(idAs))
        .orderBy(col("cscore").desc, col("cell"))
      df.join(broadcast(cents))
        .withColumn("cscore", roundedDot(df, col(vecAs), col("cv")))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") <= nTop)
        .drop("cscore", "crn", "cv")
    }
    val corpusCells = cellsFor(e, "vec_id", "v", 1)
    val q = normalized(queries, idCol, vecCol, "query_id", "qv")
    val queryCells = cellsFor(q, "query_id", "qv", nprobe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    corpusCells.join(broadcast(queryCells), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        roundedDot(corpus, col("qv"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** HYBRID retrieval — the RAG-pipeline staple: one query ranked two
    * ways (lexically by BM25 over the document text, semantically by
    * exact cosine over the embedding) and fused with reciprocal-rank
    * fusion. RRF needs no score calibration between the two systems
    * (only ranks enter), which is why it is the standard hybrid
    * combiner; scores ship as integer `rrf_e9` = Σ round(10⁹/(rrfK +
    * rank)) so no float division feeds the result. `n_lists` says
    * whether a hit came from one ranker or both — the agreement signal
    * a downstream re-ranker weighs.
    *
    * Scale shape: both input rankings are top-`poolK` lists (bounded
    * metadata); the fusion is a groupBy over ≤ 2·poolK rows. The
    * lexical side's corpus scan and the semantic side's broadcast-probe
    * join are exactly the audited plans of `text_bm25` / `sim_topk`. */
  def hybridSearch(docs: DataFrame, embeddings: DataFrame,
      terms: Seq[String], queryVecId: Long, k: Int = 10, poolK: Int = 20,
      rrfK: Int = 60): DataFrame = {
    val lex = TextAnalysis.bm25TopK(docs, terms, poolK)
      .select(col("doc_id"), col("rank"))
    val sem = topK(embeddings,
        embeddings.filter(col("vec_id") === queryVecId), poolK)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    val fused = lex.unionByName(sem)
      .groupBy(col("doc_id"))
      .agg(sum(round(lit(1000000000.0) / (lit(rrfK) + col("rank")))
          .cast("long")).as("rrf_e9"),
        count(lit(1)).as("n_lists"))
    val w = Window.orderBy(col("rrf_e9").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("rrf_e9"), col("n_lists"))
  }

  /** LSH-bucketed ANN: generate candidates from shared hyperplane-sign
    * buckets across `numTables` independent tables, exact-rerank only the
    * candidates. Returns up to k neighbors per query (fewer if the buckets
    * are sparse — the recall/cost dial is bitsPerTable × numTables).
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int = 64, bitsPerTable: Int = 8, numTables: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val planes = Dedup.hyperplanes(bitsPerTable * numTables, dim)
    // sign bits on the RAW vector (normalization-invariant sign, and the
    // oracle replays the same IEEE op sequence with no normalize rounding)
    def bucketed(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      df.select(col(idCol).as(idAs),
        VectorExpressions.vecNormalize(spark,
          col(vecCol).cast("array<double>")).as(vecAs),
        posexplode(VectorExpressions.hyperplaneSig(spark,
          col(vecCol).cast("array<double>"), planes,
          bitsPerTable)).as(Seq("t", "h")))
    val e = bucketed(corpus, "vec_id", "v")
    val q = bucketed(queries, "query_id", "qv")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    e.as("e").join(broadcast(q).as("q"),
        col("e.t") === col("q.t") && col("e.h") === col("q.h") &&
          col("e.vec_id") =!= col("q.query_id"))
      .select(col("query_id"), col("qv"), col("vec_id").as("neighbor_id"), col("v"))
      .dropDuplicates("query_id", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        roundedDot(corpus, col("qv"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** Corpus self-kNN graph: for EVERY vector, its top-k neighbors among
    * hyperplane-LSH bucket-mates (exact 9-dp cosine rerank, neighbor-id
    * tie-break). The structure a curation pipeline builds once and reuses
    * everywhere — duplicate clustering, diversity sampling, and
    * density-based quality screens all read the same graph.
    *
    * Unlike [[annTopK]] (bounded probe batch → broadcast), BOTH sides here
    * are the corpus, so the candidate join shuffles on the (table, hash)
    * bucket key — the partitioning a self-join wants at 100 TB — and
    * `maxBucket` caps the per-bucket fan-out exactly as
    * [[Dedup.embeddingNearDupLsh]] does (sign-collapsed mega-buckets
    * degenerate toward quadratic without it). Candidate pairs dedup on
    * (query, neighbor) before the exact rerank so a pair sharing several
    * tables pays one dot product.
    */
  def knnGraph(corpus: DataFrame, k: Int = 5,
      dim: Int = 64, bitsPerTable: Int = 8, numTables: Int = 8,
      maxBucket: Option[Int] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val planes = Dedup.hyperplanes(bitsPerTable * numTables, dim)
    // sign bits on the RAW vector (normalization-invariant), same as
    // annTopK, so the oracle replays the identical IEEE op sequence
    val all = corpus.select(col(idCol).as("vec_id"),
      VectorExpressions.vecNormalize(spark,
        col(vecCol).cast("array<double>")).as("v"),
      posexplode(VectorExpressions.hyperplaneSig(spark,
        col(vecCol).cast("array<double>"), planes, bitsPerTable))
        .as(Seq("t", "h")))
    // OPTIMIZATION r14 (guide §2.4): the bucket self-join is folded into
    // ONE groupBy-collect_list pass. The former shape — a bucket-size
    // aggregate, a broadcast semi-join cap filter, and a self-join of two
    // copies of the signature pipeline — evaluated the scan + normalize +
    // 4096-multiply hyperplane signature FOUR times (both join sides +
    // both cap aggregates; no exchange to reuse once the planner
    // broadcasts a side) across 16 exchanges. Grouping each (t, h)
    // bucket once and exploding pairs inside it computes the signature
    // ONCE behind a single exchange, and the cap becomes a free
    // `size(xs) <= cap` filter. Per-group state is bounded by the cap
    // (cap · ~0.5 KB); the uncapped form stays the documented-quadratic
    // audit baseline it always was (Σ|bucket|² pairs either way).
    val grouped = all.groupBy(col("t"), col("h"))
      .agg(collect_list(struct(col("vec_id"), col("v"))).as("xs"))
    val capped = maxBucket.fold(grouped)(c =>
      grouped.filter(size(col("xs")) <= c))
    // cos rides the exploded pair (identical across a pair's duplicate
    // buckets — same normalized vectors, same fold), so the per-pair
    // dedup aggregates 24-byte (query, neighbor, cos) rows via max()
    // instead of shuffling two 0.5 KB vectors per candidate the way the
    // former dropDuplicates did (guide §2.3: shuffle fewer bytes). The
    // explicit repartition on query_id lets the dedup groupBy AND the
    // top-k window share one exchange (hash(query_id) clusters
    // (query_id, neighbor_id) too — guide §2.4: one exchange, two ops).
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    capped
      .select(explode(col("xs")).as("a"), col("xs"))
      .select(col("a"), explode(col("xs")).as("b"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"),
        col("b.vec_id").as("neighbor_id"),
        roundedDot(corpus, col("a.v"), col("b.v")).as("cos"))
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cos")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** Mutual-kNN pairs: (a, b) where each is in the other's top-k — the
    * standard symmetric-neighbor filter that strips hub vectors (high
    * in-degree points that appear in everyone's top-k without reciprocity)
    * before clustering. `rank_sum` (sum of the two directed ranks, 2 =
    * closest-mutual) orders pairs by tie strength.
    *
    * Scale shape: the directed graph is k·|corpus| rows; the reciprocity
    * join is keyed on the (query, neighbor) pair — at 100 TB the graph is
    * materialized to a table once and this join reads it twice rather
    * than recomputing. The localCheckpoint realizes that here too: without
    * it the self-join replays the whole LSH candidate pipeline per side
    * (measured 3.7 s vs 1.9 s for one graph build at sf0.1).
    */
  def mutualKnn(corpus: DataFrame, k: Int = 5,
      dim: Int = 64, bitsPerTable: Int = 8, numTables: Int = 8,
      maxBucket: Option[Int] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val g = knnGraph(corpus, k, dim, bitsPerTable, numTables, maxBucket,
      idCol, vecCol).localCheckpoint()
    // SHUFFLE_HASH (guide §3.1): the reciprocity self-join needs no sort
    // order — hash-joining the reversed side skips sort-merge's two
    // k·|corpus|-row sorts; strategy only, same pairs.
    g.as("f").join(g.as("r").hint("shuffle_hash"),
        col("f.query_id") === col("r.neighbor_id") &&
          col("f.neighbor_id") === col("r.query_id") &&
          col("f.query_id") < col("f.neighbor_id"))
      .select(col("f.query_id").as("id_a"), col("f.neighbor_id").as("id_b"),
        (col("f.rank") + col("r.rank")).cast("long").as("rank_sum"))
  }

  /** PageRank over the directed kNN graph — similarity centrality: vectors
    * many neighbors point at rank high, the signal a curation pass uses to
    * pick canonical representatives (high rank = well-connected cluster
    * core) or to downweight redundant mass. Fixed `iters` power steps of
    * the standard d=0.85 update, dangling mass dropped (every engine
    * replaying the same rule).
    *
    * Engine portability: ranks live in integer NANO units and every step
    * is integer-only — r/outdeg and (85·s)/100 use floor division — so
    * iteration order and float accumulation cannot perturb a single unit;
    * the oracle unrolls the same five integer steps as chained CTEs.
    *
    * Scale shape: per iteration, one join of the edge list with the rank
    * vector (both keyed on the source id) and one aggregate keyed on the
    * destination — the textbook distributed power iteration; the rank
    * vector is |nodes| rows, never materialized on the driver (the one
    * driver scalar is N, a count). */
  def pageRank(corpus: DataFrame, k: Int = 5, iters: Int = 5,
      maxBucket: Option[Int] = Some(64),
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val NANO = 1000000000L
    // materialize the edge list ONCE: every power step joins against it,
    // and without the checkpoint Spark re-evaluates the whole LSH
    // candidate pipeline per iteration (measured 2x end-to-end cost at
    // gen sf1). k·|nodes| rows — executor-resident, never on the driver.
    // outdeg rides ON the edge list (one window over the query_id
    // partitioning the kNN build already has) instead of a per-iteration
    // groupBy+join; the repartition before the checkpoint pins hash
    // partitioning on query_id, which localCheckpoint PRESERVES in the
    // LogicalRDD — so every power step shuffles only the rank vector,
    // never the (larger) edge list. Same for the node list on vec_id.
    val edges = knnGraph(corpus, k, maxBucket = maxBucket,
      idCol = idCol, vecCol = vecCol)
      .select(col("query_id"), col("neighbor_id"))
      .withColumn("outdeg",
        count(lit(1)).over(Window.partitionBy(col("query_id"))))
      .repartition(col("query_id"))
      .localCheckpoint()
    val nodes = corpus.select(col(idCol).as("vec_id"))
      .repartition(col("vec_id"))
      .localCheckpoint()
    val n = nodes.count() // the one driver scalar: graph size
    val base = (NANO * 15L / 100L) / n
    var r = nodes.withColumn("r", lit(NANO / n))
    // OPTIMIZATION r14 (guide §3.1): both per-step joins hint SHUFFLE_HASH
    // on the rank-vector side — it is the smaller side per partition
    // (|nodes| rows of two longs vs the k·|nodes| edge list), and
    // sort-merge was paying two sorts per join per iteration (10 sorts
    // over 5 steps) for inputs that need no order. Same rows, same
    // integer arithmetic — join strategy only.
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(r.withColumnRenamed("vec_id", "query_id").hint("shuffle_hash"),
          "query_id")
        .select(col("neighbor_id"),
          expr("r div outdeg").as("c"))
      val s = contrib.groupBy(col("neighbor_id")).agg(sum(col("c")).as("s"))
      r = nodes.join(s.hint("shuffle_hash"),
          nodes("vec_id") === s("neighbor_id"), "left")
        .select(col("vec_id"),
          (lit(base) +
            expr("85 * coalesce(s, CAST(0 AS BIGINT)) div 100")).as("r"))
    }
    val w = Window.orderBy(col("r").desc, col("vec_id").asc)
    r.orderBy(col("r").desc, col("vec_id").asc).limit(20)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("vec_id"), col("r").as("r_nano"))
  }

  /** Nearest-class-mean classification over the labeled embedding table —
    * the standard linear probe for "do these embeddings separate the
    * classes?": per-label mean vectors (centroids), every vector assigned
    * to its highest-dot-product centroid, reported as a confusion matrix
    * (label, pred, n). Run after an embedding refresh to catch representa-
    * tion regressions before they hit retrieval.
    *
    * Engine portability: centroid components come from EXACT integer sums
    * (each float32 component scaled to nano-units — the corpus sum order
    * cannot perturb them), divided once in double space; the score is the
    * sequential-fold dot product both engines replay term-for-term
    * ([[VectorExpressions.vecDot]] ↔ DuckDB list_reduce), rounded to 9 dp
    * with a label tie-break.
    *
    * Scale shape: the moment pass explodes to |rows|·dim entries but
    * aggregates map-side down to |labels|·dim — one shuffle bounded by
    * the class count; the centroid table is |labels| rows (bounded
    * metadata → hint-broadcast) so assignment is one scan with a
    * per-vector top-1 window over |labels| candidates. */
  def centroidClassify(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    // `dim` pins the evaluated prefix on BOTH sides: the plan slices every
    // vector to exactly `dim` components, and [[centroidClassifySql]](dim)
    // generates the matching generate_series bound — the pair cannot
    // silently diverge on non-default dimensions.
    val e = embeddings.select(col("vec_id"),
      col("label").cast("long").as("label"),
      slice(col("embedding").cast("array<double>"), 1, dim).as("v"))
    val dims = e.select(col("label"), posexplode(col("v")).as(Seq("d0", "x")))
      .select(col("label"), (col("d0") + 1).as("d"),
        round(col("x") * 1000000000.0).cast("long").as("x_e9"))
    val cent = dims.groupBy(col("label"), col("d"))
      .agg(sum(col("x_e9")).as("s_e9"), count(lit(1)).as("n"))
      .select(col("label"), col("d"),
        (col("s_e9").cast("double") / col("n") / 1000000000.0).as("c"))
    val carr = cent.groupBy(col("label"))
      .agg(transform(sort_array(collect_list(struct(col("d"), col("c")))),
        s => s.getField("c")).as("cv"))
    val scored = e.crossJoin(
        broadcast(carr.select(col("label").as("cand"), col("cv"))))
      .select(col("vec_id"), col("label"), col("cand"),
        round(VectorExpressions.vecDot(spark, col("v"), col("cv")), 9)
          .as("dot9"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dot9").desc, col("cand").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .groupBy(col("label"), col("cand").as("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Leave-one-out kNN majority-vote classifier over the capped self-kNN
    * graph ([[knnGraph]] — self is excluded by construction): each vector
    * is assigned the plurality label of its surviving neighbors, ties
    * broken by smaller summed rank (closer neighbors win) then smaller
    * label. Output is the (label, pred, n) confusion matrix — the audit a
    * curation pipeline runs to decide whether embedding neighborhoods are
    * label-coherent enough to drive semantic dedup or stratified sampling.
    *
    * Scale shape: the graph is k·|corpus| rows; the label join shuffles on
    * neighbor id and the vote aggregate on query id — both bounded keys,
    * map-side partial aggregation throughout. Vectors whose buckets were
    * all cap-dropped have no neighbors and are excluded (inner-join
    * semantics, mirrored by the oracle). */
  def knnClassify(embeddings: DataFrame, k: Int = 5,
      maxBucket: Option[Int] = Some(64)): DataFrame = {
    val g = knnGraph(embeddings, k, maxBucket = maxBucket).localCheckpoint()
    val labels = embeddings.select(col("vec_id"),
      col("label").cast("long").as("label"))
    val votes = g
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel")).hint("shuffle_hash"), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("nlabel"))
      .agg(count(lit(1)).as("n_votes"), sum(col("rank")).as("rank_sum"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("rank_sum").asc, col("nlabel").asc)
    votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .join(labels.select(col("vec_id").as("query_id"),
        col("label")).hint("shuffle_hash"), Seq("query_id"))
      .groupBy(col("label"), col("nlabel").as("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-node triangle participation and local clustering coefficient over
    * the mutual-kNN graph — the community-structure audit a curation pass
    * reads next to [[pageRank]]: high clustering = tight near-duplicate
    * cliques worth collapsing, near-zero clustering on a high-degree node =
    * a hub stitching unrelated regions together.
    *
    * Algorithm: the mutual edge list (already id-ordered, id_a < id_b) is
    * its own orientation, so each triangle x < y < z is enumerated exactly
    * once by the compact-forward join — wedges (x,y)+(y,z) closed by
    * (x,z). Coefficient = 2·tri / (deg·(deg−1)) in integer NANO units
    * (floor division), so no engine can disagree on a unit.
    *
    * Scale shape: mutual-kNN degree is ≤ k by construction, so the wedge
    * join fans out at most k·|edges| rows and the id-orientation cannot
    * meet a high-degree hub (general graphs orient by (degree, id) for the
    * same bound; with the degree cap the id order already has it). The
    * edge list is checkpointed once and re-read by all three join sides,
    * and every stage shuffles on an edge endpoint — no all-pairs form
    * anywhere. */
  def triangleStats(corpus: DataFrame, k: Int = 5,
      maxBucket: Option[Int] = Some(64),
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val NANO = 1000000000L
    val m = mutualKnn(corpus, k, maxBucket = maxBucket,
        idCol = idCol, vecCol = vecCol)
      .select(col("id_a"), col("id_b")).localCheckpoint()
    // SHUFFLE_HASH (guide §3.1): wedge formation and closure are pure
    // hash lookups against the bounded (≤ k·|corpus|) mutual edge list —
    // no sort order needed, so skip sort-merge's per-side sorts.
    val tri = m.as("e1").join(m.as("e2").hint("shuffle_hash"),
        col("e1.id_b") === col("e2.id_a"))
      .select(col("e1.id_a").as("x"), col("e1.id_b").as("y"),
        col("e2.id_b").as("z"))
      .join(m.as("e3").hint("shuffle_hash"),
        col("x") === col("e3.id_a") && col("z") === col("e3.id_b"))
      .select(col("x"), col("y"), col("z"))
    val deg = m.select(col("id_a").as("vec_id"))
      .union(m.select(col("id_b").as("vec_id")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("degree"))
    val tn = tri.select(col("x").as("vec_id"))
      .union(tri.select(col("y").as("vec_id")))
      .union(tri.select(col("z").as("vec_id")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_triangles"))
    deg.join(tn, Seq("vec_id"), "left")
      .select(col("vec_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering_nano",
        when(col("degree") >= 2,
          expr(s"(2 * n_triangles * ${NANO}L) div (degree * (degree - 1))"))
          .otherwise(lit(0L)))
  }

  /** Hard-negative mining for contrastive training: for each anchor
    * vector, the top-k most-similar vectors carrying a DIFFERENT label —
    * the pairs that teach a metric model the most (near in embedding
    * space, apart in label space). Same LSH candidate machinery as
    * [[knnGraph]] (shared hyperplane buckets, skew cap, exact 9-dp
    * rerank); the label-mismatch predicate prunes candidates BEFORE the
    * rank window, so the k slots are spent entirely on negatives.
    *
    * Scale shape: identical to [[knnGraph]] — the candidate join shuffles
    * on the bounded (table, hash) bucket key, the cap bounds per-bucket
    * fan-out, and labels ride the signature rows (no second corpus join).
    */
  def hardNegatives(corpus: DataFrame, k: Int = 5,
      dim: Int = 64, bitsPerTable: Int = 8, numTables: Int = 8,
      maxBucket: Option[Int] = Some(64),
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val spark = corpus.sparkSession
    val planes = Dedup.hyperplanes(bitsPerTable * numTables, dim)
    val all = corpus.select(col(idCol).as("vec_id"),
      col(labelCol).cast("long").as("label"),
      VectorExpressions.vecNormalize(spark,
        col(vecCol).cast("array<double>")).as("v"),
      posexplode(VectorExpressions.hyperplaneSig(spark,
        col(vecCol).cast("array<double>"), planes, bitsPerTable))
        .as(Seq("t", "h")))
    // OPTIMIZATION r14: same one-pass bucket-grouping shape as
    // [[knnGraph]] (see the comment there) — signature computed once,
    // cap as a size() filter, pair fan-out inside the grouped bucket,
    // per-pair dedup on small (id, id, label, cos) rows. The
    // label-mismatch predicate prunes pairs before anything shuffles.
    val grouped = all.groupBy(col("t"), col("h"))
      .agg(collect_list(struct(col("vec_id"), col("label"), col("v")))
        .as("xs"))
    val capped = maxBucket.fold(grouped)(c =>
      grouped.filter(size(col("xs")) <= c))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    capped
      .select(explode(col("xs")).as("a"), col("xs"))
      .select(col("a"), explode(col("xs")).as("b"))
      .filter(col("a.vec_id") =!= col("b.vec_id") &&
        col("a.label") =!= col("b.label"))
      .select(col("a.vec_id").as("query_id"),
        col("b.vec_id").as("neighbor_id"),
        col("b.label").as("neighbor_label"),
        roundedDot(corpus, col("a.v"), col("b.v")).as("cos"))
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("neighbor_label")).as("neighbor_label"),
        max(col("cos")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        col("rank").cast("long").as("rank"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of the exact and the
    * LSH-ANN rankers: fused score = Σ_lists 1/(k₀ + rank), the standard
    * way a retrieval stack combines rankers with incomparable scores
    * (here: exhaustive cosine and bucket-routed ANN — their cosines agree
    * but their COVERAGE differs, which is what fusion smooths). Scores
    * are integer NANO units (10⁹ div (k₀+rank)), so the fused ranking is
    * engine-exact; ties break on neighbor id.
    *
    * Scale shape: both input rankings are (probe × k)-bounded; the fuse
    * is one groupBy on (query, neighbor) plus a per-query top-k window
    * over ≤ 2k candidates. The expensive parts are the two rankers,
    * already scale-shaped ([[topK]] broadcast probes, [[annTopK]] bucket
    * routing). */
  def rrfFusion(corpus: DataFrame, queries: DataFrame, k: Int,
      k0: Int = 60): DataFrame = {
    val lists = topK(corpus, queries, k)
      .unionByName(annTopK(corpus, queries, k))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_nano").desc, col("neighbor_id"))
    lists
      .withColumn("s", expr(s"1000000000 div ($k0 + rank)"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("s")).as("rrf_nano"), count(lit(1)).as("n_lists"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rrf_nano"),
        col("n_lists"), col("rank").cast("long").as("rank"))
  }

  /** DuckDB oracle for [[centroidClassify]] at the same `dim` — generated,
    * not hardcoded, so the Spark slice and the SQL generate_series bound
    * stay pinned to the same dimension. */
  def centroidClassifySql(dim: Int = 64): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label,
       |    CAST(embedding AS DOUBLE[])[1:$dim] AS v
       |  FROM embeddings),
       |dims AS (
       |  SELECT label, d,
       |    CAST(round(v[d] * 1000000000.0) AS BIGINT) AS x_e9
       |  FROM e CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS d)),
       |cent AS (
       |  SELECT label, d,
       |    CAST(CAST(sum(x_e9) AS BIGINT) AS DOUBLE) / count(*)
       |      / 1000000000.0 AS c
       |  FROM dims GROUP BY 1, 2),
       |carr AS (SELECT label, list(c ORDER BY d) AS cv FROM cent GROUP BY 1),
       |scored AS (
       |  SELECT e.vec_id, e.label, c.label AS cand,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      [e.v[d] * c.cv[d] FOR d IN generate_series(1, $dim)]),
       |      (acc, x) -> acc + x), 9) AS dot9
       |  FROM e CROSS JOIN carr c),
       |top AS (
       |  SELECT vec_id, label, cand,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY dot9 DESC, cand) AS rk
       |  FROM scored)
       |SELECT label, cand AS pred, count(*) AS n
       |FROM top WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
