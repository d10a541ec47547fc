package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val docs = Tables.documents(spark, TestSpark.sfDir).cache()
  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("clean paragraphs: owned paragraphs reassembled in order, rest dropped") {
    // maxParaTokens=3 so segmentation is visible. d1 owns everything; d2's
    // first paragraph is d1's boilerplate (dropped) but its tail is unique;
    // d3 is d1's text verbatim — every paragraph owned elsewhere, so its
    // cleaned text must be empty
    val docs = Seq(
      (1L, "a b c\n\nx y z"),
      (2L, "a b c\n\nq r s"),
      (3L, "a b c\n\nx y z"))
      .toDF("doc_id", "text")
    val r = Dedup.cleanParagraphs(docs, maxParaTokens = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_paras", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(r == Seq(
      (1L, 2L, 2L, "a b c\n\nx y z"),
      (2L, 2L, 1L, "q r s"),
      (3L, 2L, 0L, "")), s"got $r")
    // long paragraphs segment before ownership: the repeated 3-token window
    // inside one paragraph dedups against its first occurrence
    val seg = Dedup.cleanParagraphs(
      Seq((1L, "p q r p q r")).toDF("doc_id", "text"), maxParaTokens = 3)
      .select("n_paras", "n_kept", "clean_text")
      .as[(Long, Long, String)].head()
    assert(seg == ((2L, 1L, "p q r")), s"got $seg")
  }

  test("substring dedup: cross-doc windows counted, intra-doc repeats not") {
    // d1/d2 share the 3-token spans "a b c" and "b c d"; d3 is shorter
    // than the window (whole text = one window, unique); d4 repeats a
    // window WITHIN itself only — cross-doc definition must not flag it
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d y"),
      (3L, "q r"),
      (4L, "m m m m"))
      .toDF("doc_id", "text")
    val r = Dedup.substringDedup(docs, w = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_windows", "n_dup")
      .as[(Long, Long, Long)].collect().toSeq
    assert(r == Seq((1L, 3L, 2L), (2L, 4L, 2L), (3L, 1L, 0L),
      (4L, 2L, 0L)), s"got $r")
    val ratios = Dedup.substringDedup(docs, w = 3)
      .orderBy("doc_id").select("dup_ratio").as[Double].collect().toSeq
    assert(ratios == Seq(2.0 / 3, 0.5, 0.0, 0.0), s"got $ratios")
  }

  test("paragraph dedup: blank-line split, segmentation, canonical owner") {
    // d1 and d2 share a boilerplate paragraph (d1 owns it: lower doc_id);
    // d3 repeats a paragraph WITHIN itself (first occurrence owns); d4 has
    // one long paragraph that must segment into 3-token windows, one of
    // which ("x y z") collides with d1's second paragraph
    val docs = Seq(
      (1L, "same boilerplate here\n\nx y z"),
      (2L, "same boilerplate here\n\nunique tail two"),
      (3L, "repeat me\n\nrepeat me"),
      (4L, "a b c x y z d"))
      .toDF("doc_id", "text")
    val r = Dedup.paragraphDedup(docs, maxParaTokens = 3)
      .orderBy("doc_id", "para_idx")
      .select("doc_id", "para_idx", "keep")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(r == Seq(
      (1L, 0L, true),  // boilerplate, canonical
      (1L, 1L, true),  // "x y z", canonical (beats d4's segment)
      (2L, 0L, false), // boilerplate repeat across docs
      (2L, 1L, true),
      (3L, 0L, true),  // intra-doc repeat: first occurrence owns
      (3L, 1L, false),
      (4L, 0L, true),  // "a b c"
      (4L, 1L, false), // "x y z" — owned by d1's paragraph
      (4L, 2L, true)), // "d" remainder window
      s"got $r")
  }

  test("native shingle kernel matches the declarative reference semantics") {
    val tok = split($"text", " ")
    val both = docs.select(
      Dedup.shingles(tok, 5).as("ref"),
      VectorExpressions.shinglesOf(spark, tok, 5).as("native"))
    assert(both.filter(not($"ref" === $"native")).count() == 0)
    // edge: fewer tokens than n -> single whole-text shingle
    val tiny = Seq((1L, "a b")).toDF("doc_id", "text")
    val s = tiny.select(VectorExpressions.shinglesOf(spark, split($"text", " "), 5))
      .collect()(0).getSeq[String](0)
    assert(s == Seq("a b"))
  }

  test("exact dedup keeps one survivor per distinct text") {
    val d = docs.unionAll(docs.limit(50)) // inject 50 true duplicates
    val out = Dedup.exact(d)
    assert(out.count() == 500)
    assert(out.filter($"n_dups" === 2).count() == 50)
    assert(out.filter($"n_dups" === 1).count() == 450)
  }

  test("ngram jaccard finds the fixture near-dup pairs, symmetric-free and thresholded") {
    val pairs = Dedup.ngramJaccard(docs, threshold = 0.5)
    val rows = pairs.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs must be ordered (no symmetric dupes)")
      assert(r.getDouble(2) >= 0.5 && r.getDouble(2) <= 1.0)
    }
  }

  test("ngram jaccard with a shingle-frequency cap still finds rare-shingle pairs") {
    val all = pairSet(Dedup.ngramJaccard(docs, threshold = 0.5))
    val capped = pairSet(Dedup.ngramJaccard(docs, threshold = 0.5, maxShingleDf = Some(50)))
    assert(capped == all, "df-cap at 50 should not lose near-dup pairs on this corpus")
  }

  test("shingle-df cap drops hot-boilerplate pairs but keeps rare-shingle near-dups") {
    // 40 docs that share ONE boilerplate 5-gram (df = 40 — the hot shuffle
    // key that O(df²)-explodes at corpus scale) plus 2 true near-dups that
    // share only rare (df = 2) shingles
    val boiler = (0L until 40L).map(i => (i,
      s"terms of service apply here u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h"))
    val near = Seq(
      (100L, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11 v12"),
      (101L, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11 wx"))
    val df = (boiler ++ near).toDF("doc_id", "text")
    // threshold 0.05 is low enough that boilerplate-only pairs (J = 1/17)
    // qualify, so the cap's effect is observable at the pair level
    val uncapped = pairSet(Dedup.ngramJaccard(df, threshold = 0.05))
    val capped = pairSet(
      Dedup.ngramJaccard(df, threshold = 0.05, maxShingleDf = Some(8)))
    assert(uncapped.contains((100L, 101L)))
    assert(uncapped.count { case (a, b) => a < 40 && b < 40 } == 40 * 39 / 2,
      "uncapped path must enumerate every boilerplate-glued pair")
    assert(capped.contains((100L, 101L)),
      "rare-shingle near-dup must survive the cap")
    assert(!capped.exists { case (a, b) => a < 40 && b < 40 },
      "pairs glued only by the hot shingle must be dropped")
    // capped components inherit the capped pair graph: exactly one
    // non-singleton component (100, 101)
    val comps = Dedup.nearDupComponents(df, threshold = 0.05,
      maxShingleDf = Some(8))
    val byDoc = comps.select("doc_id", "component")
      .as[(Long, Long)].collect().toMap
    assert(byDoc(100L) == 100L && byDoc(101L) == 100L)
    assert(byDoc.count { case (d, c) => d != c } == 1)
  }

  test("containment flags doc-in-doc inclusion that Jaccard misses") {
    // d2 is d1's text with a long unique suffix: every d1 shingle appears
    // in d2 (containment d1->d2 = 1) while Jaccard is diluted far below
    // any clone threshold. d3 shares nothing.
    val inner = (1 to 10).map(i => s"w$i").mkString(" ")
    val outer = inner + " " + (1 to 40).map(i => s"u$i").mkString(" ")
    val planted = Seq(
      (1L, inner), (2L, outer), (3L, (1 to 30).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.containment(planted, n = 5, tn = 9, td = 10)
      .select("inner_id", "outer_id", "inter", "n_inner")
      .as[(Long, Long, Long, Long)].collect().toSet
    // d1 has 6 distinct 5-shingles, all inside d2; the reverse direction
    // (d2 in d1) fails: 6 of d2's 46 shingles shared
    assert(got == Set((1L, 2L, 6L, 6L)), s"got $got")
    // symmetric Jaccard on the same pair: 6 / (6 + 46 - 6) < 0.5 — the
    // clone threshold misses it, which is exactly why containment exists
    val jac = Dedup.ngramJaccard(planted, n = 5, threshold = 0.5)
    assert(jac.count() == 0)
  }

  test("minhash LSH recalls >=90% of exact jaccard>=0.7 pairs") {
    val exact = pairSet(Dedup.ngramJaccard(docs, threshold = 0.7))
    val mh = pairSet(Dedup.minhashLsh(docs, threshold = 0.5))
    assert(exact.nonEmpty)
    val recall = exact.count(mh.contains).toDouble / exact.size
    assert(recall >= 0.9, s"minhash recall $recall over ${exact.size} exact pairs")
  }

  test("simhash banding finds the bulk of exact near-dup pairs") {
    val exact = pairSet(Dedup.ngramJaccard(docs, threshold = 0.7))
    val sh = pairSet(Dedup.simhashPairs(docs, maxDist = 3))
    val recall = exact.count(sh.contains).toDouble / exact.size
    assert(recall >= 0.6, s"simhash recall $recall over ${exact.size} exact pairs")
    // hamming is exact: re-check one pair's distance independently
    val sig = docs.select($"doc_id", Dedup.simhash(spark, split($"text", " ")).as("s"))
      .as[(Long, Long)].collect().toMap
    sh.take(5).foreach { case (a, b) =>
      assert(java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 3)
    }
  }

  test("simhash bucket cap bounds a degenerate hot bucket") {
    // 30 byte-identical docs: hamming 0 pairwise, one hot bucket per band
    val clones = (0L until 30L)
      .map(i => (i, "the same boilerplate text repeated on every page"))
    val df = clones.toDF("doc_id", "text")
    val uncapped = pairSet(Dedup.simhashPairs(df, maxDist = 3))
    val capped = pairSet(Dedup.simhashPairs(df, maxDist = 3,
      maxBucket = Some(8)))
    assert(uncapped.size == 30 * 29 / 2, "identical docs must all pair up")
    assert(capped.isEmpty, "buckets over the cap must not explode to pairs")
    assert(capped.subsetOf(uncapped))
  }

  test("connected components merge chained near-dups to one canonical id") {
    val comps = Dedup.nearDupComponents(docs)
    val byDoc = comps.select("doc_id", "component")
      .as[(Long, Long)].collect().toMap
    // every pair must share a component; components are min-reachable ids
    val pairs = pairSet(Dedup.ngramJaccard(docs, threshold = 0.5))
    pairs.foreach { case (a, b) =>
      assert(byDoc(a) == byDoc(b), s"pair ($a,$b) split across components")
      assert(byDoc(a) <= a && byDoc(a) <= b, "component id must be the min")
    }
    // canonical flag marks exactly the component representatives
    val canon = comps.filter($"is_canonical").select("doc_id")
      .as[Long].collect().toSet
    assert(canon == byDoc.values.toSet)
  }

  test("incremental dedup drops corpus repeats and dedups within the batch") {
    val corpus = Seq((1L, "seen before"), (2L, "also seen")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "seen before"),   // dup of corpus -> dropped
      (11L, "brand new"),     // survives
      (12L, "brand new"),     // in-batch dup -> folded into 11
      (13L, "another new")).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(corpus, batch)
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toSet
    assert(out == Set((11L, 2L), (13L, 1L)))
  }

  test("canonical survivors keep the longest copy per cluster and all singletons") {
    // three near-identical docs of different lengths + one unrelated doc
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", 35L),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", 45L), // longest
      (3L, "alpha beta gamma delta epsilon", 30L),
      (9L, "totally different words nothing shared here at all", 50L))
      .toDF("doc_id", "text", "n_chars")
    val out = Dedup.canonicalSurvivors(d, n = 2, threshold = 0.5)
      .select("doc_id", "component", "n_members")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((2L, 1L, 3L), (9L, 9L, 1L)))
  }

  test("canonical survivor ties break to the smallest doc id") {
    val d = Seq(
      (7L, "one two three four five six", 27L),
      (4L, "one two three four five six", 27L)) // same length, lower id
      .toDF("doc_id", "text", "n_chars")
    val out = Dedup.canonicalSurvivors(d, n = 2, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSeq
    assert(out == Seq(4L))
  }

  test("embedding LSH finds identical-vector clones with certainty and only true pairs") {
    val e = Tables.embeddings(spark, TestSpark.sfDir)
    val clones = e.filter($"vec_id" < 10)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding", $"label")
    val data = e.unionAll(clones)
    val brute = pairSet(Dedup.embeddingNearDup(data, threshold = 0.5))
    val lsh = pairSet(Dedup.embeddingNearDupLsh(data, threshold = 0.5))
    (0L until 10L).foreach { i =>
      assert(lsh.contains((i, i + 10000)), s"clone pair $i missed")
    }
    assert(lsh.subsetOf(brute), "LSH must not invent pairs (exact cosine verify)")
  }

  test("embedding LSH decides borderline pairs on the 9-dp rounded cosine") {
    // four families of six near copies: a family's pairs share sign
    // buckets, and their cosines carry digits past the 9th place
    val rnd = new scala.util.Random(11)
    val bases = Array.fill(4, 8)(rnd.nextGaussian().toFloat)
    val df = (0 until 24).map { i =>
      (i.toLong, bases(i / 6).map(_ + 0.05f * rnd.nextFloat()))
    }.toDF("vec_id", "embedding")
    def lsh(t: Double) =
      pairSet(Dedup.embeddingNearDupLsh(df, threshold = t, dim = 8))
    // every bucketed pair, with its raw cosine and the 9-dp rounding the
    // threshold is compared against
    val v = df.select($"vec_id", VectorExpressions.vecNormalize(spark,
      $"embedding".cast("array<double>")).as("v"))
    val dots = lsh(-2.0).toSeq.toDF("id_a", "id_b")
      .join(v.as("a"), $"id_a" === $"a.vec_id")
      .join(v.as("b"), $"id_b" === $"b.vec_id")
      .select($"id_a", $"id_b",
        VectorExpressions.vecDot(spark, $"a.v", $"b.v").as("d"))
      .select($"id_a", $"id_b", $"d", round($"d", 9).as("c9"))
      .as[(Long, Long, Double, Double)].collect().toSeq
    // a pair that rounding lifts passes at its rounded cosine although its
    // raw cosine is below it; one that rounding lowers fails at its raw
    // cosine
    val up = dots.find(r => r._4 > r._3)
    val down = dots.find(r => r._4 < r._3)
    assert(up.nonEmpty && down.nonEmpty, s"no borderline pairs in $dots")
    Seq(up.get._4, up.get._3 + 1e-9, down.get._3, down.get._4).foreach { t =>
      val want = dots.collect { case (a, b, _, c9) if c9 >= t => (a, b) }
      assert(lsh(t) == want.toSet, s"threshold $t")
    }
  }

  test("semantic dedup keeps the min-id survivor of each duplicate set") {
    val data = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(2.0f, 0.0f, 0.0f), 0),  // same direction as 1: duplicate
      (3L, Array(0.0f, 1.0f, 0.0f), 0),  // orthogonal: kept
      (4L, Array(1.0f, 0.01f, 0.0f), 0)) // near-dup of 1 AND 2
      .toDF("vec_id", "embedding", "label")
    val r = Dedup.semanticDedup(data, nlist = 1, threshold = 0.9)
      .orderBy($"vec_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(r == Seq((1L, 0L, 0L, true), (2L, 0L, 1L, false),
      (3L, 0L, 0L, true), (4L, 0L, 2L, false)), s"got $r")
  }

  test("semantic dedup with cells is deterministic and never drops more than nlist=1") {
    val e = Tables.embeddings(spark, TestSpark.sfDir)
    val cellRun = Dedup.semanticDedup(e, nlist = 4, threshold = 0.35)
    val again = Dedup.semanticDedup(e, nlist = 4, threshold = 0.35)
    assert(cellRun.orderBy($"vec_id").collect()
      .sameElements(again.orderBy($"vec_id").collect()),
      "seeded k-means must make cell dedup deterministic")
    val keptCells = cellRun.filter($"kept").count()
    val keptFull = Dedup.semanticDedup(e, nlist = 1, threshold = 0.35)
      .filter($"kept").count()
    // cells only REMOVE comparisons: the exact form drops at least as many
    assert(keptCells >= keptFull, s"$keptCells vs $keptFull")
    assert(cellRun.count() === e.count(), "one audit row per vector")
  }

  test("minhash audit bounds the estimate error and covers every candidate") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val audit = Dedup.minhashAudit(docs).cache()
    val cand = Dedup.minhashLsh(docs)
    assert(audit.count() == cand.count(),
      "one audit row per LSH candidate pair")
    // 64 hashes: binomial std dev at j=0.5 is ~0.0625; 5 sigma = 0.31.
    // A bigger error means the signature kernel and the shingle sets
    // disagree about WHICH sets they hash — a wiring bug, not noise.
    val bad = audit.filter($"err9" > 0.32).count()
    assert(bad == 0, s"$bad pairs exceed any plausible 64-hash error")
    val off = audit.filter($"true_jaccard" < 0 || $"true_jaccard" > 1).count()
    assert(off == 0, "true Jaccard stays in [0, 1]")
  }

  test("source matrix cells sum to the LSH pair count, canonical order") {
    val m = PipelineQueries
      .dedupSourceMatrix(spark, TestSpark.sfDir).cache()
    val total = m.agg(sum($"n_pairs")).head().getLong(0)
    assert(total == Dedup.minhashLsh(docs).count(),
      "every near-dup pair lands in exactly one cell")
    assert(m.filter($"src_a" > $"src_b").count() == 0,
      "cells are canonicalized by source-name order")
  }

  test("ppjoin prefix filter is lossless vs the exact quadratic answer") {
    val out = Dedup.ppjoinWords(docs).cache()
    // exact quadratic recomputation over distinct word sets
    val toks = docs.select($"doc_id",
      explode(array_distinct(split($"text", " "))).as("tok"))
    val sz = toks.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val exact = toks.as("a").join(toks.as("b"),
        $"a.tok" === $"b.tok" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("n", "n_a"), Seq("id_a"))
      .join(sz.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("n", "n_b"), Seq("id_b"))
      .filter($"inter" * 9 >= ($"n_a" + $"n_b") * 4)
    assert(out.count() == exact.count(),
      "prefix filtering must find exactly the exact-threshold pairs")
    val missed = exact.join(out.select($"id_a", $"id_b"),
      Seq("id_a", "id_b"), "left_anti").count()
    assert(missed == 0, "no qualifying pair may be lost")
    // the efficiency claim: prefixes are strictly smaller than full sets
    val fullPostings = toks.count()
    val prefixLen = sz.agg(sum(expr("n - ((4 * n + 4) div 5) + 1")))
      .head().getLong(0)
    assert(prefixLen < fullPostings / 2,
      s"prefix postings $prefixLen must be well under full $fullPostings")
  }

  test("split leakage keeps exactly the cross-split LSH pairs, splits " +
       "agreeing with the published assignment") {
    val leak = PipelineQueries
      .dedupSplitLeakage(spark, TestSpark.sfDir).cache()
    assert(leak.filter($"split_a" === $"split_b").count() == 0)
    // the kept pairs are the LSH candidate pairs minus same-split ones
    val splits = PipelineQueries.datasetSplit(spark, TestSpark.sfDir)
    val all = Dedup.minhashLsh(docs)
      .join(splits.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("split", "sa"), Seq("id_a"))
      .join(splits.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("split", "sb"), Seq("id_b"))
    assert(leak.count() == all.filter($"sa" =!= $"sb").count())
    // reported splits never disagree with datasetSplit's published column
    val wrong = leak
      .join(splits.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
      .filter($"split_a" =!= $"split").count()
    assert(wrong == 0, "split_a must equal the datasetSplit assignment")
  }
}
