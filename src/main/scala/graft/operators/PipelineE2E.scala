package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Flagship end-to-end training-data pipeline: compose the engine's layers
  * the way a 100 TB corpus build would —
  *
  *   documents → validate (schema/emptiness) → quality score → filter
  *     → exact dedup survivor join → deterministic split assignment
  *     → per-language corpus stats → sink
  *
  * Everything is one declarative plan until the sink write: Catalyst fuses
  * the validation predicate, quality expression and dedup fingerprint into
  * the document scan, the survivor semi-join shuffles only (fp, doc_id)
  * pairs, and the final stats aggregate is map-side partial. The write
  * clusters by language via the hidden-partition spec, so a downstream
  * per-language read prunes to one directory.
  */
object PipelineE2E {

  val QualityThreshold = 0.5

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)

    // 1. validation split (reference O2 semantics: bad records routed out)
    val validated = Ops.validateSchema(docs,
      $"text".isNotNull && length($"text") > 0 && $"lang".isNotNull,
      "invalid document")

    // 2. quality scoring + filter — attached in-place, no self-join:
    // Catalyst keeps the whole predicate inside the document scan stage
    val scored = validated.oks
      .withColumn("quality", TextAnalysis.qualityExpr($"text"))
      .filter($"quality" >= QualityThreshold)

    // 3. exact dedup: keep the minimum doc_id per fingerprint.
    // OPTIMIZATION r15 (guide §2.4, §5): the deduped frame fed BOTH the
    // stats aggregate and the sink append, and each reference re-ran the
    // scan + validity + quality + fingerprint pipeline (measured: three
    // 5000-doc corpus passes writing the same 4036-row frame, ~0.8 of
    // 1.19 warm CPU-s). The survivor ids (one long per kept doc) and the
    // scored columns both consumers share (4 narrow columns, text never
    // rides) pin once; stats aggregates the pin, and the sink append
    // re-attaches `text` with one id semi-join against the raw scan —
    // the only pass that still touches payload bytes.
    val scoredNarrow = scored
      .select($"doc_id", $"lang", $"n_chars", $"quality",
        md5($"text").as("fp"))
      .localCheckpoint()
    // [[Dedup.exact]]'s keep rule (min doc_id per md5(text) group),
    // computed over the pin so the fingerprint pass shares the one
    // quality-scoring scan
    val survivors = scoredNarrow.groupBy($"fp")
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id").localCheckpoint()
    val dedupedNarrow = scoredNarrow.join(survivors, "doc_id")

    // 4. deterministic train-split assignment (THE shared splitBucket hash,
    // so flagship membership can never diverge from q_dataset_split), then
    // per-language corpus stats over the kept set
    // exact-decimal quality sum → order-independent, oracle-bit-identical avg
    val bucket = PipelineQueries.splitBucket($"doc_id")
    val stats = dedupedNarrow
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        (sum($"quality".cast("decimal(28,15)")).cast("double") / count(lit(1)))
          .as("avg_quality"),
        sum(when(bucket < 90, 1L).otherwise(0L)).as("n_train"))

    // 5. sink: language-partitioned corpus table (hidden partitioning).
    // doc_id is the primary key, so the id semi-join against the raw scan
    // selects exactly the deduped rows (validated + quality-gated +
    // fingerprint-surviving) without re-deriving their quality.
    val sink = new TableSink(SinkConfig(
      tableName = "corpus",
      warehousePath = Fixtures.fresh("pipeline"),
      numPartitions = 4,
      partitionSpec = Seq(PartitionField("lang", Transform.Identity)),
      sortOrder = Seq("doc_id")))
    sink.append(docs.join(survivors, Seq("doc_id"), "left_semi")
      .select($"doc_id", $"lang", $"source", $"n_chars", $"text"))

    // read the table back for the final stats — proves the sink round-trip
    sink.read(spark)
      .groupBy($"lang").agg(count(lit(1)).as("n_docs_sunk"))
      .join(stats, "lang")
      .select($"lang", $"n_docs", $"n_docs_sunk", $"total_chars",
        $"avg_quality", $"n_train")
      .orderBy($"lang")
  }

  val sql: String = {
    val stop = TextAnalysis.markers.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
    """WITH q AS (
      |  SELECT doc_id, lang, n_chars,
      |    least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.4
      |    + least((len(list_filter(string_split(text, ' '), t -> list_contains(STOPLIST, t))) * 10.0) / len(string_split(text, ' ')), 1.0) * 0.4
      |    + (1.0 - (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) / CAST(length(text) AS DOUBLE)) * 0.2 AS quality,
      |    md5(text) AS fp
      |  FROM documents
      |  WHERE text IS NOT NULL AND length(text) > 0 AND lang IS NOT NULL),
      |kept AS (
      |  SELECT * FROM q WHERE quality >= 0.5
      |    AND doc_id IN (SELECT MIN(doc_id) FROM q q2
      |                   WHERE q2.quality >= 0.5 GROUP BY q2.fp))
      |SELECT lang, COUNT(*) AS n_docs, COUNT(*) AS n_docs_sunk,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(CAST(quality AS DECIMAL(28,15))) AS DOUBLE) / COUNT(*) AS avg_quality,
      |  CAST(SUM(CASE WHEN SPLIT_BUCKET < 90
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_train
      |FROM kept GROUP BY lang ORDER BY lang""".stripMargin
      .replace("STOPLIST", stop)
      .replace("SPLIT_BUCKET", PipelineQueries.splitBucketSql("doc_id"))
  }

  /** Curation end-to-end: the round-5 text-cleaning operators composed the
    * way a corpus build chains them —
    *
    *   documents → Gopher rule gate → corpus-wide paragraph dedup over the
    *     SURVIVORS (ownership is decided on the gated corpus, so boilerplate
    *     from rejected docs cannot claim a paragraph) → drop docs whose
    *     every paragraph is owned elsewhere → per-source retention report.
    *
    * Output: one row per source with the full funnel — docs in, docs past
    * the Gopher gate, docs surviving paragraph cleaning, paragraph
    * totals/kept, and the cleaned character volume.
    *
    * Scale shape: the Gopher gate is row-local (codegen'd into the scan);
    * paragraph ownership is [[Dedup.cleanParagraphs]]'s single fingerprint
    * shuffle + one doc_id re-key; the report is two |sources|-row
    * aggregates joined — every stage is the bounded-state shape its
    * component operator already proved, composition adds no new shuffle
    * beyond the per-source rollup. */
  def curationReport(spark: SparkSession, sfDir: String): DataFrame =
    curationReportOf(Tables.documents(spark, sfDir))

  /** [[curationReport]] over any (doc_id, text, source) frame. */
  def curationReportOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // the gate is a bare row-local predicate fused into the document scan —
    // NOT a self-join against the gopherRules table (that plan rescans and
    // reshuffles the corpus for a decision each row can make alone)
    val gated = docs.filter(TextAnalysis.gopherKeep($"text"))
    val cleaned = Dedup.cleanParagraphs(gated)
      .join(gated.select($"doc_id", $"source"), "doc_id")
    val funnel = cleaned.groupBy($"source").agg(
      count(lit(1)).as("n_gated"),
      sum($"n_paras").as("n_paras"),
      sum($"n_kept").as("n_kept_paras"),
      sum(when(length($"clean_text") > 0, 1L).otherwise(0L)).as("n_final"),
      sum(length($"clean_text").cast("long")).as("clean_chars"))
    docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .join(funnel, Seq("source"), "left")
      .select($"source", $"n_docs",
        coalesce($"n_gated", lit(0L)).as("n_gated"),
        coalesce($"n_paras", lit(0L)).as("n_paras"),
        coalesce($"n_kept_paras", lit(0L)).as("n_kept_paras"),
        coalesce($"n_final", lit(0L)).as("n_final"),
        coalesce($"clean_chars", lit(0L)).as("clean_chars"))
      .orderBy($"source")
  }

  /** DuckDB oracle for [[curationReport]] — replays the Gopher gate
    * ([[TextAnalysis.gopherRulesSql]]'s integer cross-multiplications), the
    * paragraph pipeline on the gated set
    * ([[PipelineQueries.dedupCleanTextSql]]'s split/segment/own chain), and
    * the per-source funnel rollup. */
  val curationReportSql: String =
    """WITH gm AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(coalesce(list_sum(list_transform(string_split(text, ' '),
      |      w -> length(w))), 0) AS BIGINT) AS sum_len,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
      |    CAST((length(text) - length(replace(text, '#', ''))) +
      |      (length(text) - length(replace(text, '...', ''))) // 3
      |      AS BIGINT) AS n_sym,
      |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      |    CAST(len(list_filter(string_split(text, chr(10)),
      |      l -> ends_with(l, '...') OR ends_with(l, chr(8230))))
      |      AS BIGINT) AS n_ell,
      |    CAST(len(list_filter(string_split(text, chr(10)),
      |      l -> starts_with(l, '- ') OR starts_with(l, '* ')
      |        OR starts_with(l, chr(8226) || ' '))) AS BIGINT) AS n_bullet
      |  FROM documents),
      |gate AS (
      |  SELECT doc_id FROM gm
      |  WHERE sum_len >= n_words * 3 AND sum_len <= n_words * 10
      |    AND n_alpha * 10 >= n_words * 8 AND n_sym * 10 <= n_words
      |    AND n_ell * 10 <= n_lines * 3 AND n_bullet * 10 <= n_lines * 9),
      |gated AS (
      |  SELECT d.doc_id, d.text, d.source
      |  FROM documents d JOIN gate USING (doc_id)),
      |blocks AS (SELECT doc_id, string_split_regex(text, '\n{2,}') AS ps
      |           FROM gated),
      |bi0 AS (SELECT doc_id, ps, unnest(generate_series(1, len(ps))) AS pi
      |        FROM blocks),
      |bi AS (SELECT doc_id, pi, string_split(ps[pi], ' ') AS t FROM bi0),
      |seg AS (SELECT doc_id, pi, t,
      |          unnest(generate_series(0, (greatest(len(t), 1)+24)//25 - 1))
      |            AS j
      |        FROM bi),
      |paras AS (SELECT doc_id,
      |            CAST(row_number() OVER (
      |              PARTITION BY doc_id ORDER BY pi, j) - 1 AS BIGINT)
      |              AS para_idx,
      |            array_to_string(t[j*25+1 : j*25+25], ' ') AS para
      |          FROM seg),
      |marked AS (SELECT doc_id, para_idx, para,
      |             row_number() OVER (
      |               PARTITION BY md5(para) ORDER BY doc_id, para_idx) = 1
      |               AS keep
      |           FROM paras),
      |perdoc AS (SELECT doc_id, COUNT(*) AS n_paras,
      |             CAST(COALESCE(SUM(CASE WHEN keep THEN 1 ELSE 0 END), 0)
      |               AS BIGINT) AS n_kept,
      |             COALESCE(string_agg(para, e'\n\n' ORDER BY para_idx)
      |                        FILTER (WHERE keep), '') AS clean_text
      |           FROM marked GROUP BY doc_id),
      |funnel AS (
      |  SELECT g.source,
      |    CAST(COUNT(*) AS BIGINT) AS n_gated,
      |    CAST(SUM(p.n_paras) AS BIGINT) AS n_paras,
      |    CAST(SUM(p.n_kept) AS BIGINT) AS n_kept_paras,
      |    CAST(SUM(CASE WHEN length(p.clean_text) > 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_final,
      |    CAST(SUM(length(p.clean_text)) AS BIGINT) AS clean_chars
      |  FROM perdoc p JOIN gated g USING (doc_id) GROUP BY 1)
      |SELECT t.source, CAST(t.n_docs AS BIGINT) AS n_docs,
      |  COALESCE(f.n_gated, 0) AS n_gated,
      |  COALESCE(f.n_paras, 0) AS n_paras,
      |  COALESCE(f.n_kept_paras, 0) AS n_kept_paras,
      |  COALESCE(f.n_final, 0) AS n_final,
      |  COALESCE(f.clean_chars, 0) AS clean_chars
      |FROM (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1) t
      |LEFT JOIN funnel f USING (source)
      |ORDER BY t.source""".stripMargin
}
