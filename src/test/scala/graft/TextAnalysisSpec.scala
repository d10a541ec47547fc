package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stats computes hand-checked values") {
    val df = Seq((1L, "the quick brown fox the end")).toDF("doc_id", "text")
    val r = TextAnalysis.stats(df).collect()(0)
    assert(r.getLong(1) == 6)          // n_tokens
    assert(r.getLong(2) == 5)          // n_distinct ("the" twice)
    assert(r.getLong(3) == 27)         // n_chars
    assert(math.abs(r.getDouble(5) - 5.0 / 6.0) < 1e-12) // ttr
  }

  test("regex token count segments letters/digits/symbols") {
    val df = Seq((1L, "abc123 def!")).toDF("doc_id", "text")
    val n = df.select(TextAnalysis.regexTokenCount($"text")).collect()(0).getInt(0)
    assert(n == 4) // abc | 123 | def | !
  }

  test("lengthBand keeps the middle percentile band with integer-exact cutoffs") {
    // 20 docs with token lengths 1..20, one each: 5%/95% band = lengths 2..19
    val docs = (1 to 20).map(n => (n.toLong, Seq.fill(n)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val kept = TextAnalysis.lengthBand(docs, loPct = 5, hiPct = 95)
      .select("n_tokens").as[Long].collect().sorted.toSeq
    assert(kept == (2L to 19L), s"expected 2..19, got $kept")
  }

  test("bigrams count adjacent pairs; single-token docs contribute none") {
    val df = Seq((1L, "a b a b c"), (2L, "solo"), (3L, "a b")).toDF("doc_id", "text")
    val v = TextAnalysis.bigrams(df, k = 2)
      .as[(Long, String, Long)].collect().toSeq
    assert(v == Seq((1L, "a b", 3L), (2L, "b a", 1L)),
      s"'a b' appears 3x (2 in doc 1, 1 in doc 3): $v")
  }

  test("token entropy: uniform maxes at ln(N), constant floors at 0") {
    val df = Seq(
      (1L, "a b c d"),    // uniform: H = ln(4)
      (2L, "a a a a"),    // constant: H = 0
      (3L, "a a b b b c")) // H = ln(6) - (2ln2 + 3ln3)/6
      .toDF("doc_id", "text")
    val r = TextAnalysis.tokenEntropy(df).orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_distinct", "entropy", "ttr")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(r(0) == ((1L, 4L, 4L,
      BigDecimal(math.log(4)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .toDouble, 1.0)), s"got ${r(0)}")
    assert(r(1) == ((2L, 4L, 1L, 0.0, 0.25)), s"got ${r(1)}")
    val h3 = math.log(6) -
      (2 * math.rint(math.log(2) * 1e9) + 3 * math.rint(math.log(3) * 1e9)) /
        1e9 / 6
    assert(r(2)._1 == 3L && r(2)._2 == 6L && r(2)._3 == 3L &&
      math.abs(r(2)._4 - h3) < 1e-9, s"got ${r(2)}, want entropy ~$h3")
  }

  test("bigram LM scores seen bigrams from counts, backs off on unseen") {
    // train (even ids): "a b a c" + "a b" → c2(a,b)=2, c2(b,a)=1,
    // c2(a,c)=1; c1(a)=3, c1(b)=2, c1(c)=1, total=6.
    // eval doc 1: "a b b c" → (a,b) seen: ln(2/3); (b,b) UNSEEN,
    // c1(b)=2 → ln(0.4·2/6); (b,c) UNSEEN, c1(c)=1 → ln(0.4·1/6).
    val docs = Seq(
      (2L, "a b a c"), (4L, "a b"),
      (1L, "a b b c"), (3L, "z z"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.bigramLm(docs).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    def e9(x: Double): Double = math.rint(
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e9)
    val want1 = math.rint(
      (e9(math.log(2.0 / 3)) + e9(math.log(0.4 * 2 / 6)) +
        e9(math.log(0.4 * 1 / 6))) / 3.0) / 1e9
    assert(r.map(x => (x._1, x._2, x._3)) == Seq((1L, 3L, 2L), (3L, 1L, 1L)),
      s"counts/oov: $r")
    assert(math.abs(r(0)._4 - want1) < 1e-9, s"got ${r(0)._4}, want $want1")
    // doc 3's (z,z) is fully unseen: both bigram and unigram back off to
    // the max(c1,1)=1 floor
    val want3 = math.rint(e9(math.log(0.4 * 1 / 6))) / 1e9
    assert(math.abs(r(1)._4 - want3) < 1e-9, s"got ${r(1)._4}, want $want3")
  }

  test("gopher rules: each rule trips on its designed offender") {
    val docs = Seq(
      (1L, "clean healthy prose with normal words here"), // passes all
      (2L, "a b c d e f"),                       // mean word len 1 < 3
      (3L, "1 2 33 44 55 678 999 000 11 22"),    // zero alphabetic words
      (4L, "# # # tag # # word # # more # #"),   // symbol ratio > 0.1
      (5L, "one...\ntwo...\nthree...\nkeep"),    // 3/4 lines end ...
      (6L, "- a point\n- another\n- third\n- more\n- all bullets")) // 5/5
      .toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(docs).orderBy("doc_id")
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toSeq
    assert(r == Seq((1L, true), (2L, false), (3L, false), (4L, false),
      (5L, false), (6L, false)), s"got $r")
    val m = TextAnalysis.gopherRules(docs).orderBy("doc_id")
      .select("mean_word_len", "alpha_frac", "ellipsis_line_frac")
      .as[(Double, Double, Double)].collect()
    assert(m(1)._1 == 1.0 && m(2)._2 == 0.0 && m(4)._3 == 0.75,
      s"ratio columns must report the offending stat: ${m.toSeq}")
  }

  test("bpe merge pairs weight character pairs by corpus word frequency") {
    // vocab: "aab" freq 2, "ab" freq 1; "x" dropped (single char).
    // pairs: "aa" from aab (x2) = 2; "ab" from aab (x2) + ab (x1) = 3.
    val df = Seq((1L, "aab aab x"), (2L, "ab")).toDF("doc_id", "text")
    val v = TextAnalysis.bpeMergePairs(df, k = 5)
      .as[(Long, String, Long)].collect().toSeq
    assert(v == Seq((1L, "ab", 3L), (2L, "aa", 2L)),
      s"'ab' (3) must outrank 'aa' (2): $v")
  }

  test("vocabulary ranks by count desc with token tie-break") {
    val df = Seq((1L, "b a a c b a"), (2L, "c b d")).toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(df, k = 3)
      .as[(Long, String, Long)].collect().toSeq
    assert(v == Seq((1L, "a", 3L), (2L, "b", 3L), (3L, "c", 2L)),
      s"ties (a=3, b=3) must break on token order: $v")
  }

  test("contamination reports shingle-overlap share against the benchmark set") {
    // doc 0 is the benchmark; doc 100 copies half of it; doc 101 is clean
    val df = Seq(
      (0L, "a b c d e f g h"),             // shingles: 4
      (100L, "a b c d e x y z"),           // shares "a b c d e" only
      (101L, "p q r s t u v w"))           // no overlap
      .toDF("doc_id", "text")
    val out = TextAnalysis.contamination(df, col("doc_id") < 20)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(!out.contains(0L), "benchmark docs are screened, not scored")
    assert(out(100L)._2 == 4 && out(100L)._3 == 1 &&
      out(100L)._4 == 0.25, s"${out(100L)}")
    assert(out(101L)._3 == 0 && out(101L)._4 == 0.0)
  }

  test("langId prefers the highest marker count with priority tie-break") {
    val df = Seq(
      (1L, "xx", "the cat and the dog of it"),   // en markers
      (2L, "xx", "der hund und die katze"),      // de markers
      (3L, "xx", "zz yy ww")                     // no markers -> und
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.langId(df).orderBy("doc_id")
      .select("pred_lang").as[String].collect()
    assert(out.toSeq == Seq("en", "de", "und"))
  }

  test("quality score stays in [0,1] on the corpus") {
    val q = TextAnalysis.qualityScore(Tables.documents(spark, TestSpark.sfDir))
      .select("quality").as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("quality score is NULL for an empty document and bit-identical " +
    "for the others") {
    val docs = Tables.documents(spark, TestSpark.sfDir).select("doc_id", "text")
    val withEmpty = docs.unionByName(Seq((-1L, "")).toDF("doc_id", "text"))
    val got = TextAnalysis.qualityScore(withEmpty)
      .select($"doc_id", $"quality").as[(Long, Option[Double])]
      .collect().toMap
    assert(got(-1L).isEmpty, "an empty document has no punctuation ratio")
    // the score as the bare division computed it, on non-empty documents
    val t = split($"text", " ")
    val punct = length($"text") -
      length(regexp_replace($"text", "[^a-z0-9 ]", ""))
    val stopHits = size(filter(t, tok => array_contains(
      array(TextAnalysis.markers.head._2.map(lit): _*), tok)))
    val reference = least(size(t) / lit(100.0), lit(1.0)) * lit(0.4) +
      least((stopHits * lit(10.0)) / size(t), lit(1.0)) * lit(0.4) +
      (lit(1.0) - punct / length($"text").cast("double")) * lit(0.2)
    val expected = docs.select($"doc_id", reference.as("quality"))
      .as[(Long, Double)].collect()
    assert(expected.nonEmpty)
    expected.foreach { case (id, q) =>
      assert(got(id).map(java.lang.Double.doubleToRawLongBits)
        .contains(java.lang.Double.doubleToRawLongBits(q)), s"doc $id")
    }
  }

  test("fingerprint matches a hand-rolled rolling hash and detects changes") {
    val df = Seq((1L, "ab"), (2L, "ab"), (3L, "ba")).toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprints(df).orderBy("doc_id")
      .select("fp").as[Long].collect()
    val expected = "ab".foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
    assert(fps(0) == expected)
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2)) // rolling hash is order-sensitive
  }

  test("redactPii scrubs all matches and counts before replacement") {
    val docs = Seq(
      (1L, "mail a@b.co and c.d+x@e-f.org end"),
      (2L, "call 212-555-0187 twice 999-555-0000"),
      (3L, "clean text"),
      (4L, "a@b.co 123-555-4567 both")).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(docs).orderBy("doc_id")
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(out(0) == ("mail <EMAIL> and <EMAIL> end", 2L))
    assert(out(1) == ("call <PHONE> twice <PHONE>", 2L))
    assert(out(2) == ("clean text", 0L))
    assert(out(3) == ("<EMAIL> <PHONE> both", 2L))
  }

  test("repetitionStats measures top-gram and duplicate-gram fractions") {
    val docs = Seq(
      (1L, "a b a b a b"),          // grams: ab,ba,ab,ba,ab -> top 3/5, dup 5/5
      (2L, "x y z w v u"),          // all bigrams unique
      (3L, "q")                     // shorter than n: single truncated gram
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs).orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 5L && out(0).getString(2) == "a b")
    assert(out(0).getDouble(3) == 0.6 && out(0).getDouble(4) == 1.0)
    assert(!out(0).getBoolean(5))
    assert(out(1).getLong(1) == 5L && out(1).getDouble(4) == 0.0)
    assert(out(1).getString(2) == "v u") // lexicographic tie-break on count 1
    assert(out(2).getLong(1) == 1L && out(2).getString(2) == "q")
    assert(out(2).getDouble(3) == 1.0) // degenerate doc: top gram is all of it
  }

  test("chunk covers every token with the declared overlap") {
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4"), // 5 tokens, chunk 3 stride 2 -> 2 chunks
      (2L, "a b c"),          // exactly one chunk
      (3L, "x")               // shorter than chunk
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunk(docs, chunkTokens = 3, overlap = 1)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(out.toSeq == Seq(
      (1L, 0L, 0L, 3L, "t0 t1 t2"),
      (1L, 1L, 2L, 3L, "t2 t3 t4"),
      (2L, 0L, 0L, 3L, "a b c"),
      (3L, 0L, 0L, 1L, "x")))
  }

  test("tfidfTopTerms ranks rare repeated terms over common ones") {
    val docs = Seq(
      (1L, "rare rare common"),
      (2L, "common other"),
      (3L, "common third")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, k = 2)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // "rare" (tf=2, df=1) must outscore "common" (tf=1, df=3) in doc 1
    assert(out(0) == ((1L, "rare", 1L)) && out(1) == ((1L, "common", 2L)))
    // doc 2: "other" (df=1) beats "common" (df=3) despite equal tf
    assert(out(2) == ((2L, "other", 1L)) && out(3) == ((2L, "common", 2L)))
  }

  test("temperatureRebalance keeps the smallest group whole and flattens") {
    // 400 majority docs vs 100 minority docs, T=2:
    // keep_frac(maj) = (100/400)^0.5 = 0.5, keep_frac(min) = 1.0
    val docs = spark.range(500).select($"id".as("doc_id"),
      when($"id" < 400, "en").otherwise("rare").as("lang"))
    val out = PipelineQueries.temperatureRebalance(docs)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("rare") == 100L)                 // smallest group untouched
    assert(out("en") > 150L && out("en") < 250L) // ~200 expected of 400
    // deterministic: a second run selects the exact same docs
    val a = PipelineQueries.temperatureRebalance(docs).collect().toSet
    val b = PipelineQueries.temperatureRebalance(docs).collect().toSet
    assert(a == b)
  }

  test("epochMixture repeats small groups, never touches the largest, splits fractions") {
    // 400 majority vs 100 minority docs, T=2:
    // epochs(en) = 1.0 exactly; epochs(rare) = (400/100)^0.5 = 2.0 exactly
    val docs = spark.range(500).select($"id".as("doc_id"),
      when($"id" < 400, "en").otherwise("rare").as("lang"))
    val copies = PipelineQueries.epochMixture(docs)
      .groupBy("lang", "doc_id").count()
    val byLang = copies.groupBy("lang")
      .agg(min("count").as("lo"), max("count").as("hi"), sum("count").as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(byLang("en") == ((1L, 1L, 400L)))    // largest group: 1 epoch flat
    assert(byLang("rare") == ((2L, 2L, 200L)))  // integral 2.0 epochs flat
    // fractional case: 9 vs 4 → epochs(b) = 1.5 — every b doc gets 1 or 2
    // copies and the total lands near 6 (hash decides which get the extra)
    val frac = spark.range(13).select($"id".as("doc_id"),
      when($"id" < 9, "a").otherwise("b").as("lang"))
    val bCopies = PipelineQueries.epochMixture(frac)
      .filter($"lang" === "b").groupBy("doc_id").count()
      .collect().map(_.getLong(1))
    assert(bCopies.forall(c => c == 1L || c == 2L))
    assert(bCopies.length == 4)
    // deterministic: a second run yields the identical multiset
    val a = PipelineQueries.epochMixture(frac).collect().toSet
    val b = PipelineQueries.epochMixture(frac).collect().toSet
    assert(a == b)
  }

  test("tokenBudget keeps a greedy maximal prefix of the density order") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val out = TextAnalysis.tokenBudget(docs).cache()
    assert(out.count() == docs.count(), "one audit row per document")
    val total = out.agg(sum($"n_tokens")).head().getLong(0)
    val budget = total / 10
    val keptTokens = out.filter($"keep").agg(sum($"n_tokens"))
      .head().getLong(0)
    assert(keptTokens <= budget, s"$keptTokens exceeds budget $budget")
    // the prefix rule makes keep monotone in the (density desc, doc_id)
    // total order: once over budget, never kept again
    val flags = out.orderBy($"density_nano".desc, $"doc_id")
      .select($"keep").collect().map(_.getBoolean(0))
    assert(!flags.sliding(2).exists(p => !p(0) && p.length == 2 && p(1)),
      "keep flags form a contiguous prefix of the density order")
    // greedy maximality: the FIRST dropped document would not have fit
    val firstDroppedTokens = out.filter(!$"keep")
      .orderBy($"density_nano".desc, $"doc_id")
      .select($"n_tokens").head().getLong(0)
    assert(keptTokens + firstDroppedTokens > budget,
      "the selection is maximal: the next candidate overflows the budget")
  }

  test("sourceTrend slope matches a BigInt re-derivation from raw moments") {
    val r = PipelineQueries
      .textSourceTrend(spark, TestSpark.sfDir).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (n, sx, sy, sxx, sxy) = (BigInt(row.getLong(1)),
        BigInt(row.getLong(2)), BigInt(row.getLong(3)),
        BigInt(row.getLong(4)), BigInt(row.getLong(5)))
      val num = n * sxy - sx * sy
      val den = n * sxx - sx * sx
      if (den > 0) {
        val want = (num.sign.toLong *
          ((num.abs * BigInt(1000000000)) / den)).toLong
        assert(!row.isNullAt(6) && row.getLong(6) == want,
          s"source ${row.getString(0)}: slope must equal the exact form")
      } else assert(row.isNullAt(6), "degenerate variance reports NULL")
    }
  }

  test("ksDrift: a two-point mixture gives each half exactly KS = 1/2") {
    // source a: all docs one quality value; source b: all docs another.
    // each source's CDF is a step at its own bucket, the corpus CDF steps
    // 0 -> 1/2 -> 1, so sup|CDF_s - CDF_corpus| = 1/2 for BOTH sources
    val lo = "zzzz qqqq xxxx !!!! ####"     // punct-heavy, no stopwords
    val hi = "the and of to a in is it the and of to a in is it"
    val docs = (1 to 10).map(i => (i.toLong, lo, "src_a")) ++
      (11 to 20).map(i => (i.toLong, hi, "src_b"))
    val df = docs.toDF("doc_id", "text", "source")
    // sanity: the two texts land in different quality buckets
    val qb = df.select(
      floor(round(TextAnalysis.qualityExpr($"text"), 9) * 10000))
      .distinct().count()
    assert(qb == 2, "fixture texts must occupy two distinct buckets")
    val scored = df.select($"source",
      floor(round(TextAnalysis.qualityExpr($"text"), 9) * 10000)
        .cast("long").as("qb"))
    // replicate textKsDrift's integer chain on the local frame
    val hist = scored.groupBy($"source", $"qb").agg(count(lit(1)).as("cnt"))
    val n = scored.count()
    val ks = hist.collect().map { r =>
      val cumS = r.getLong(2)                     // each source: one bucket
      val cumAllAtOwn = scored.filter($"qb" <= r.getLong(1)).count()
      val nS = 10L
      (r.getString(0),
        math.abs(cumS * n - cumAllAtOwn * nS) * 1000000000L / (nS * n))
    }.toMap
    // the lower-bucket source is the binding boundary: |1 - 1/2| = 1/2
    assert(ks.values.exists(_ == 500000000L), s"got $ks")
    // and on the fixture corpus the statistic stays a probability
    val fx = PipelineQueries.textKsDrift(spark, TestSpark.sfDir).collect()
    fx.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 1000000000L,
        s"${r.getString(0)}: ks out of [0, 1]")
    }
  }

  test("quantileNorm preserves within-source order and corpus support") {
    val out = PipelineQueries
      .textQuantileNorm(spark, TestSpark.sfDir).cache()
    val docs = Tables.documents(spark, TestSpark.sfDir)
    assert(out.count() == docs.count(), "one normalized row per doc")
    // normalized values come from the CORPUS bucket support
    val support = out.select($"qb").distinct()
      .collect().map(_.getLong(0)).toSet
    out.select($"qnorm_b").distinct().collect().foreach { r =>
      assert(support.contains(r.getLong(0)),
        "qnorm must be an observed corpus bucket")
    }
    // monotone within each source: higher raw bucket never normalizes lower
    val m = out.select($"source", $"qb", $"qnorm_b").distinct()
      .orderBy($"source", $"qb").collect()
      .groupBy(_.getString(0)).values
    m.foreach { rows =>
      rows.map(_.getLong(2)).sliding(2).foreach { p =>
        if (p.length == 2) assert(p(0) <= p(1), "normalization is monotone")
      }
    }
  }

  test("textrank ranks the co-occurrence hub above peripheral tokens") {
    val docs = Seq(
      (1L, "alpha beta"), (2L, "alpha gamma"), (3L, "alpha delta"),
      (4L, "epsilon zeta")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.textrank(docs, k = 10).cache()
    val byTok = r.collect().map(x => x.getString(1) -> x.getLong(2)).toMap
    assert(byTok("alpha") > byTok("beta"),
      "the hub outranks its spokes")
    assert(byTok("alpha") > byTok("epsilon"),
      "the hub outranks isolated-pair tokens")
    assert(r.filter($"tok" === "the").count() == 0, "stopwords never rank")
    // integer iteration is deterministic
    val again = TextAnalysis.textrank(docs, k = 10).collect()
      .map(x => x.getString(1) -> x.getLong(2)).toMap
    assert(again == byTok)
  }

  test("qualityFloor drops each language's bottom quartile independently") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val out = PipelineQueries.textQualityFloor(spark, TestSpark.sfDir)
    val keptByLang = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totByLang = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    totByLang.foreach { case (lang, tot) =>
      val kept = keptByLang.getOrElse(lang, 0L)
      // boundary-mass-in convention: at least 75% survives, never all-drop;
      // quantized score ties can only push the kept share ABOVE the floor
      assert(kept * 100 >= tot * 75 && kept <= tot,
        s"$lang kept $kept of $tot — outside [75%, 100%]")
    }
    // the floor is per-language: survivors' min quantized score differs
    // from a global cutoff whenever languages score on different bands
    assert(out.count() < docs.count(), "a 25% floor must drop something")
  }

  test("bloom prefilter never drops a true member and matches exact counts") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val exact = TextAnalysis.contamination(docs, $"doc_id" < 20)
      .select("doc_id", "n_hit").as[(Long, Long)].collect().toMap
    val bloom = TextAnalysis.contaminationBloom(docs, $"doc_id" < 20)
      .select("doc_id", "n_exact").as[(Long, Long)].collect().toMap
    assert(bloom.keySet == exact.keySet)
    exact.foreach { case (id, n) =>
      assert(bloom(id) == n, s"doc $id: bloom path $n vs exact ${bloom(id)}")
    }
  }

  test("graft_bloom functions are callable from pure SQL") {
    VectorExpressions.register(spark)
    // might_contain demands a constant or scalar-subquery bloom — the
    // planner inlines the subquery result, same as runtime row-group
    // filters
    val n = spark.sql(
      """WITH b AS (
        |  SELECT graft_bloom_agg(xxhash64(CAST(id AS STRING)), 100L, 1024L) AS bf
        |  FROM range(50))
        |SELECT count(*) AS n FROM range(50)
        |WHERE graft_bloom_contains((SELECT bf FROM b),
        |                           xxhash64(CAST(id AS STRING)))""".stripMargin)
      .as[Long].head()
    assert(n == 50L, "every inserted member must probe positive")
  }

  test("tokenRarity averages corpus frequencies exactly") {
    // corpus counts: a=3, b=2, c=1  →  doc 1 "a b" mean (3+2)/2
    val d = Seq((1L, "a b"), (2L, "a b c"), (3L, "a")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenRarity(d)
      .select("doc_id", "freq_sum", "n_tokens", "mean_freq9")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 5L, 2L, 2.5)))
    assert(out(1) == ((2L, 6L, 3L, 2.0)))
    assert(out(2) == ((3L, 3L, 1L, 3.0)))
  }

  test("samplePerSource takes at most K per stratum, deterministically") {
    val out = PipelineQueries.samplePerSource(spark, TestSpark.sfDir)
    val perSource = out.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(perSource.values.forall(_ <= 20))
    val again = PipelineQueries.samplePerSource(spark, TestSpark.sfDir)
    assert(out.collect().toSeq == again.collect().toSeq)
  }

  test("mixture report shares sum to one") {
    val shares = PipelineQueries.textMixtureReport(spark, TestSpark.sfDir)
      .select("share9").as[Double].collect()
    assert(math.abs(shares.sum - 1.0) < 1e-6)
  }

  test("packSequences lays docs head-to-tail per shard with exact offsets") {
    val docs = spark.range(200).select(
      $"id".as("doc_id"),
      // doc i has (i % 7) + 1 tokens
      concat_ws(" ", (0 until 7).map(j =>
        when($"id" % 7 >= j, lit("w")).otherwise(lit(null))): _*).as("text"))
    val seqLen = 10L
    val packed = TextAnalysis.packSequences(docs, seqLen, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(packed.length == 200)
    packed.groupBy(_._2).foreach { case (_, rows) =>
      var expectStart = 0L
      rows.sortBy(_._1).foreach { case (id, _, n, seq, off) =>
        assert(seq == expectStart / seqLen && off == expectStart % seqLen,
          s"doc $id expected start $expectStart, got seq=$seq off=$off")
        expectStart += n
      }
    }
    // shard assignment is the shared deterministic hash
    val byHash = docs.select($"doc_id",
      pmod(PipelineQueries.splitBucket($"doc_id"), lit(4L)).as("s"))
      .as[(Long, Long)].collect().toMap
    packed.foreach { case (id, shard, _, _, _) => assert(shard == byHash(id)) }
  }

  test("heavy hitters: scale path matches exact top-k, bounds hold") {
    // zipf-ish synthetic corpus: token t_i appears ~ (40 - i) * 30 times,
    // scattered across docs so the occurrence sample sees every hot token
    val docs = spark.range(300).select(
      $"id".as("doc_id"),
      concat_ws(" ", (0 until 40).map(i =>
        when($"id" % (i + 1) === 0, lit(s"t$i")).otherwise(lit(""))): _*)
        .as("text"))
    val hh = TextAnalysis.heavyHitters(docs, k = 3)
      .orderBy("rank").collect()
    // exact ranks: "" tokens from the otherwise-branches flood rank 1;
    // t0 (300 docs) beats t1 (150) beats t2 (100)
    val exact = docs.select(explode(split($"text", " ")).as("tok"))
      .groupBy("tok").count().orderBy($"count".desc, $"tok".asc)
      .limit(3).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(hh.map(r => (r.getString(1), r.getLong(2))).toSeq == exact.toSeq)
    assert(hh.forall(r => r.getBoolean(3) && r.getBoolean(4)),
      "CMS estimate outside [exact, exact + eps*N]")
  }

  test("heavy hitters ranks deterministically under count ties") {
    val docs = Seq((1L, "b a"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    // a and b tie at 2 -> token tie-break, c=1 third
    val hh = TextAnalysis.heavyHitters(docs, k = 3, samplePct = 100)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(hh.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("bm25 ranks term-dense docs first and ignores non-query terms") {
    val docs = Seq(
      (1L, "spark spark spark"),       // dense in one query term
      (2L, "spark join pad pad pad"),  // two query terms, longer doc
      (3L, "pad pad pad pad"),         // no query terms: absent from top-k
      (4L, "spark pad pad pad pad"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.bm25TopK(docs, Seq("spark", "join"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(r.map(_._1).toSeq == Seq(2L, 1L, 4L),
      s"doc 2 hits two terms (idf of 'join' is higher: df=1), doc 3 absent: ${r.toSeq}")
    assert(r.map(_._2).toSeq == Seq(1L, 2L, 3L))
  }

  test("bm25 length normalization favors the shorter doc at equal tf") {
    val docs = Seq(
      (1L, "spark pad"),
      (2L, "spark pad pad pad pad pad pad pad"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.bm25TopK(docs, Seq("spark"), k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(r == Seq(1L, 2L), s"got $r")
  }

  test("stopwords keep high-df tokens; repeats within a doc count once") {
    val docs = Seq(
      (1L, "the the cat"), (2L, "the dog"), (3L, "the fish"), (4L, "bird"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.stopwords(docs, pct = 75)
      .as[(String, Long, Double)].collect().toSeq
    assert(r == Seq(("the", 3L, 0.75)), s"'the' in 3/4 docs (>=75%): $r")
  }

  test("pmi ranks the always-together pair above the independent pair") {
    // "x y" always adjacent (perfect association); "a b" co-occurs once
    // out of many appearances of each
    val docs = Seq(
      (1L, "x y a c x y b d"),
      (2L, "a e b f x y a b"),
      (3L, "x y a g b h")).toDF("doc_id", "text")
    val r = TextAnalysis.pmiTopK(docs, k = 5, minCount = 2)
      .orderBy("rank").collect().map(x => (x.getString(1), x.getDouble(3)))
    assert(r.nonEmpty && r.head._1 == "x y", s"got ${r.toSeq}")
    val m = r.toMap
    assert(!m.contains("a b") || m("x y") > m("a b"))
  }

  test("domain KL matches hand-computed divergences") {
    // corpus: a=b=c=z=3, N=12 → p=1/4 each.
    // same*: p_s=1/3 over {a,b,c} → KL = ln(4/3).
    // skew: p_s = 1/6,1/6,1/6,1/2 → KL = ln(2)/2 + ln(2/3)/2 — LOWER than
    // same* because skew dominates the corpus and so DEFINES its average.
    val docs = Seq(
      (1L, "a b c", "en", "same1"), (2L, "a b c", "en", "same2"),
      (3L, "a b c", "en", "skew"), (4L, "z z z", "en", "skew"))
      .toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.domainKl(docs).orderBy("source")
      .collect().map(x => (x.getString(0), x.getDouble(3))).toMap
    assert(r("same1") == r("same2"))
    assert(math.abs(r("same1") - math.log(4.0 / 3.0)) < 1e-8, s"got $r")
    assert(math.abs(r("skew")
      - (math.log(2.0) / 2 + math.log(2.0 / 3.0) / 2)) < 1e-8, s"got $r")
    assert(r.values.forall(_ >= 0.0), s"KL must be non-negative: $r")
  }

  test("weighted sample ranks overwhelming-weight docs first, deterministically") {
    // 50 docs at weight 1 vs 3 at weight 1e9: a weight-1 doc would need
    // u > 1 - ~4e-8 to outrank ANY heavy doc — outside the 53-bit hash
    // lattice for these ids, so the heavy trio must occupy ranks 1-3
    val docs = ((1L to 50L).map(i => (i, 1L))
      ++ Seq((100L, 1000000000L), (101L, 1000000000L), (102L, 1000000000L)))
      .toDF("doc_id", "n_chars")
    val r = TextAnalysis.weightedSample(docs, k = 5)
      .orderBy("rank").as[(Long, Long, Long, Double)].collect().toSeq
    assert(r.take(3).map(_._2).toSet == Set(100L, 101L, 102L), s"got $r")
    assert(r == TextAnalysis.weightedSample(docs, k = 5)
      .orderBy("rank").as[(Long, Long, Long, Double)].collect().toSeq,
      "sample must be reprocessing-stable")
  }

  test("extreme weights rank by the unrounded A-ES key, not the doc_id tie-break") {
    // At w = 2e9 every ln(u)/w key rounds onto the 1e-9 lattice (mostly to
    // -0.0), so a 9-dp-rounded ranking key would collapse selection to the
    // doc_id tie-break. Ranking must instead follow the unrounded key —
    // i.e. descending u — which for these ids is NOT doc_id order.
    val w = 2000000000L
    val ids = (1L to 8L).toSeq
    def u(id: Long): Double =
      ((VectorExpressions.mix64(id) >>> 11).toDouble + 0.5) / 9007199254740992.0
    val expected = ids.sortBy(id => (-u(id), id))
    assert(expected != ids, "fixture ids must not already be in u order")
    val docs = ids.map(i => (i, w)).toDF("doc_id", "n_chars")
    val r = TextAnalysis.weightedSample(docs, k = 8).orderBy("rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(r.map(_._2) == expected, s"got ${r.map(_._2)}, want $expected")
    assert(r.map(_._4).distinct.size < r.size,
      "the 9-dp report column should collapse on the lattice here — " +
        "otherwise this test no longer exercises the rounding hazard")
  }

  test("unigram log-prob matches hand-computed corpus probabilities") {
    val docs = Seq((1L, "a a"), (2L, "b")).toDF("doc_id", "text")
    // corpus: a=2, b=1, total=3
    val r = TextAnalysis.unigramLogProb(docs).orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(3)))
    assert(r(0)._2 == 2 && r(1)._2 == 1)
    assert(math.abs(r(0)._3 - math.log(2.0 / 3.0)) < 1e-8)
    assert(math.abs(r(1)._3 - math.log(1.0 / 3.0)) < 1e-8)
    // rarer-token doc scores LOWER (the filter-signal direction)
    assert(r(1)._3 < r(0)._3)
  }

  test("DSIR weights tilt toward the target distribution") {
    // target docs speak a disjoint vocabulary from the rest; a held-out
    // doc in the target vocabulary must out-score one in the raw-only
    // vocabulary (the importance-resampling direction)
    val docs = Seq(
      (1L, "alpha beta gamma delta", "en"),
      (2L, "alpha beta beta gamma", "en"),
      (3L, "uno dos tres cuatro", "es"),
      (4L, "uno uno dos tres", "es"),
      (5L, "alpha gamma delta beta", "de"), // target-like, not in target
      (6L, "dos tres cuatro uno", "de"))    // raw-only-like
      .toDF("doc_id", "text", "lang")
    val r = TextAnalysis.dsirWeights(docs, col("lang") === "en",
        buckets = 1024)
      .orderBy("doc_id").select("doc_id", "avg_logw")
      .as[(Long, Double)].collect().toMap
    assert(r(5) > r(6),
      s"target-vocabulary doc must out-score raw-only doc: $r")
    // every target-vocabulary doc outranks every raw-only-vocabulary doc
    // (absolute sign is smoothing-dependent on a tiny corpus — the
    // RANKING is the resampling semantic)
    assert(Seq(1L, 2L, 5L).map(r).min > Seq(3L, 4L, 6L).map(r).max,
      s"target-vocab docs must all outrank raw-only docs: $r")
    // weights are length-normalized comparisons via avg; totals exact
    val n = TextAnalysis.dsirWeights(docs, col("lang") === "en")
      .agg(sum($"n_tokens")).as[Long].head()
    assert(n == 24L, s"token accounting must cover the corpus, got $n")
  }

  test("Naive Bayes confusion is diagonal on a separable corpus") {
    // disjoint vocabularies per class with many buckets → hash
    // collisions are unlikely and self-classification must be perfect
    val docs = Seq(
      (1L, "alpha beta gamma", "x"), (2L, "beta alpha alpha", "x"),
      (3L, "uno dos tres", "y"), (4L, "dos dos uno tres", "y"),
      (5L, "gamma alpha beta beta", "x"), (6L, "tres uno dos", "y"))
      .toDF("doc_id", "text", "lang")
    val r = TextAnalysis.naiveBayesConfusion(docs, buckets = 4096)
      .orderBy("label").as[(String, String, Long)].collect().toSeq
    assert(r == Seq(("x", "x", 3L), ("y", "y", 3L)),
      s"expected a diagonal confusion matrix, got $r")
  }

  test("curation report: gate drops symbol docs, dedup reassigns shared paragraphs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps\n\nshared boilerplate paragraph here", "a"),
      (2L, "another clean document text\n\nshared boilerplate paragraph here", "b"),
      (3L, "# # # # #", "b")) // zero alpha tokens → Gopher gate rejects
      .toDF("doc_id", "text", "source")
    val r = PipelineE2E.curationReportOf(docs).collect()
      .map(x => (x.getString(0), (1 to 6).map(x.getLong)))
    // source a: doc 1 passes the gate and owns both its paragraphs
    assert(r(0) == ("a", Seq(1L, 1L, 2L, 2L, 1L,
      "the quick brown fox jumps\n\nshared boilerplate paragraph here".length.toLong)))
    // source b: doc 3 gated out; doc 2's shared paragraph is owned by
    // doc 1, so only its lead paragraph survives into clean_text
    assert(r(1) == ("b", Seq(2L, 1L, 2L, 1L, 1L,
      "another clean document text".length.toLong)))
  }
}
