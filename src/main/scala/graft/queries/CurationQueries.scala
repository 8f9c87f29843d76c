package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{DedupOps, TextOps}

/** The end-to-end training-data curation flow — the composition the whole
  * extension surface exists for: score quality, identify language,
  * near-dup-cluster, and emit per-document keep/drop decisions plus
  * dataset-mixing statistics. Everything derives from operators that are
  * individually oracle-checked; the composed queries are oracle-checked
  * again as a whole.
  */
object CurationQueries {

  val QualityKeep = 5000L // quality_e4 threshold for the keep flag
  val KeepLang = "en"
  val PackBudget = 256L // q_token_packing context-window token budget

  /** quality_e4 (same formula as text_stats). */
  private[graft] def qualityE4(text: Column): Column = {
    val toks = TextOps.tokens(text)
    val nToks = TextOps.tokenCount(text)
    val nChars = length(text)
    val alpha = regexp_count(text, lit("[A-Za-z]"))
    val stops = TextOps.stopwordHits(toks, TextOps.Stopwords.head._2)
    round(lit(10000.0) * (
      lit(0.5) * least(stops * 5.0 / nToks, lit(1.0)) +
        lit(0.3) * least(nToks / 200.0, lit(1.0)) +
        lit(0.2) * (alpha * 1.0 / nChars))).cast("long")
  }

  private[queries] val SqlQuality: String = {
    val stopList = TextOps.Stopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""q AS (
       |  SELECT doc_id,
       |    CAST(round(10000.0 * (
       |      0.5 * least(len(list_filter(regexp_extract_all(lower(text), '\\S+'),
       |                    t -> t IN ($stopList))) * 5.0
       |            / len(regexp_extract_all(text, '\\S+')), 1.0)
       |      + 0.3 * least(len(regexp_extract_all(text, '\\S+')) / 200.0, 1.0)
       |      + 0.2 * (len(regexp_extract_all(text, '[A-Za-z]')) * 1.0 / length(text))))
       |      AS BIGINT) AS quality_e4
       |  FROM documents WHERE len(regexp_extract_all(text, '\\S+')) > 0)""".stripMargin
  }

  private val SqlLang: String = {
    val scores = TextOps.Stopwords.map { case (lang, words) =>
      val l = words.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(regexp_extract_all(lower(text), '\\S+'), t -> t IN ($l))) AS BIGINT) AS s_$lang"
    }.mkString(",\n    ")
    val langs = TextOps.Stopwords.map(_._1)
    val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN s_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
    s"""lg AS (
       |  SELECT doc_id, CASE $cases ELSE 'und' END AS pred_lang
       |  FROM (SELECT doc_id, $scores FROM documents) t)""".stripMargin
  }

  /** Per-document curation decision: quality, language, near-dup cluster,
    * canonical flag, and the final keep flag. */
  val corpusCuration: Q = new Q {
    val name = "corpus_curation"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val docs = Tables.documents(spark, dir)
      val scored = docs
        .where(TextOps.tokenCount(col("text")) > 0)
        .select(col("doc_id"), qualityE4(col("text")).as("quality_e4"),
          TextOps.langId(TextOps.tokens(col("text"))).as("pred_lang"))
      val cc = DedupQueries.nearDupClusters(spark, dir)
      scored.join(cc, scored("doc_id") === cc("node"))
        .withColumn("is_canonical", (col("doc_id") === col("cluster_id")).cast("int"))
        .withColumn("keep",
          (col("is_canonical") === 1 && col("quality_e4") >= QualityKeep &&
            col("pred_lang") === KeepLang).cast("int"))
        .select("doc_id", "quality_e4", "pred_lang", "cluster_id", "is_canonical", "keep")
        .orderBy("doc_id")
    }
    val oracle = Some(
      s"""WITH RECURSIVE ${DedupQueries.SqlMinhashPairCtes},
         |pairs AS (SELECT id_l, id_r FROM j WHERE jac >= ${DedupQueries.JaccardThreshold}),
         |base AS (
         |  SELECT id_l AS a, id_r AS b FROM pairs
         |  UNION SELECT id_r, id_l FROM pairs
         |  UNION SELECT doc_id, doc_id FROM documents),
         |reach(a, b) AS (
         |  SELECT a, b FROM base
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN base e ON r.b = e.a),
         |cc AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
         |$SqlQuality,
         |$SqlLang
         |SELECT q.doc_id, q.quality_e4, lg.pred_lang, cc.cluster_id,
         |  CAST(q.doc_id = cc.cluster_id AS INT) AS is_canonical,
         |  CAST(q.doc_id = cc.cluster_id AND q.quality_e4 >= $QualityKeep
         |       AND lg.pred_lang = '$KeepLang' AS INT) AS keep
         |FROM q JOIN lg ON q.doc_id = lg.doc_id JOIN cc ON q.doc_id = cc.doc_id
         |ORDER BY q.doc_id""".stripMargin)
  }

  /** Dataset-mixing statistics per source over the curated corpus. */
  val corpusStatsBySource: Q = new Q {
    val name = "corpus_stats_by_source"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.documents(spark, dir)
        .where(TextOps.tokenCount(col("text")) > 0)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("total_tokens"),
          round(avg(qualityE4(col("text")))).cast("long").as("avg_quality_e4"))
        .orderBy("source")
    val oracle = Some(
      s"""WITH $SqlQuality,
         |t AS (
         |  SELECT d.source, q.quality_e4,
         |    CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS n_toks
         |  FROM documents d JOIN q ON d.doc_id = q.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         |  CAST(round(avg(quality_e4)) AS BIGINT) AS avg_quality_e4
         |FROM t GROUP BY source ORDER BY source""".stripMargin)
  }

  /** Per-source exact-duplication rate — the data-quality dashboard mart
    * (which ingestion source ships how much verbatim-duplicate content):
    * docs are globally dup-ranked by content hash (keep-lowest-id), then
    * rolled up to source grain with the e4 duplicate share.
    *
    * Scale shape: one window by content hash (the dedup shuffle the
    * pipeline runs anyway), one aggregate at source grain. */
  val dedupRateBySource: Q = new Q {
    val name = "dedup_rate_by_source"
    def run(spark: SparkSession, dir: String): DataFrame =
      DedupOps.exactDupRank(Tables.documents(spark, dir), md5(col("text")), col("doc_id"))
        .withColumn("is_dup", (col("dup_rank") > 1).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("n_dups"))
        .withColumn("dup_e4", expr("n_dups * 10000 div n_docs"))
        .orderBy("source")
    val oracle = Some(
      """WITH r AS (
        |  SELECT source,
        |    CASE WHEN row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1
        |         THEN 1 ELSE 0 END AS is_dup
        |  FROM documents)
        |SELECT source, count(*) AS n_docs, CAST(sum(is_dup) AS BIGINT) AS n_dups,
        |  CAST(sum(is_dup) * 10000 // count(*) AS BIGINT) AS dup_e4
        |FROM r GROUP BY source ORDER BY source""".stripMargin)
  }

  /** C4/RefinedWeb-style BOILERPLATE detection: a 3-gram shingle that
    * recurs across ≥ 8% of a source's documents is template text (nav
    * bars, footers, license blurbs), and each document is scored by the
    * fraction of its distinct shingles that are boilerplate — the signal
    * a curation pass uses to strip or down-weight templated pages.
    *
    * Scale shape: shingle hashes are computed in-row (codegen kernel);
    * per-(source, shingle) df is ONE groupBy over the exploded shingles
    * (map-side combine; output bounded by per-source vocab, not corpus
    * rows); the per-source doc counts are a tiny dim joined broadcast;
    * the boilerplate probe back into the exploded frame is a left-semi
    * equi-join on (source, shingle). No stage is pairwise. */
  val boilerplateNgrams: Q = new Q {
    val name = "boilerplate_ngrams"
    val DfPct = 8L // shingle is boilerplate if present in ≥ 8% of source docs
    def run(spark: SparkSession, dir: String): DataFrame = {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          TextOps.shingleHashes(col("text"), 3).as("hs"))
        .persist()
      val nDocs = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      // shingleHashes is distinct-per-doc, so count(*) per (source, h) = df
      val ex = docs.select(col("doc_id"), col("source"), explode(col("hs")).as("h"))
      val bp = ex.groupBy("source", "h").agg(count(lit(1)).as("h_df"))
        // hint kept: one row per source, estimated at the documents' size
        .join(broadcast(nDocs), Seq("source"))
        .where(col("h_df") * 100 >= col("n_docs") * DfPct)
        .select("source", "h")
      val perDoc = ex.join(bp, Seq("source", "h"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_bp"))
      docs.select(col("doc_id"), col("source"), size(col("hs")).cast("long").as("n_sh"))
        .join(perDoc, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_bp"))
        .withColumn("bp_e4",
          when(col("n_sh") > 0, expr("n_bp * 10000 div n_sh")).otherwise(lit(0L)))
        .orderBy("doc_id")
    }
    val oracle = {
      val toks = "regexp_extract_all(lower(text), '\\S+')"
      val shs = "list_distinct(list_transform(" +
        s"list_transform(range(1, greatest(len($toks) - 2, 0) + 1), " +
        s"i -> array_to_string(list_slice($toks, i, i + 2), ' ')), " +
        s"s -> ${graft.ops.HashOps.sqlHashP("s")}))"
      Some(
        s"""WITH sh AS (SELECT doc_id, source, $shs AS hs FROM documents),
           |ex AS (SELECT doc_id, source, unnest(hs) AS h FROM sh),
           |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
           |bp AS (
           |  SELECT ex.source, h FROM ex JOIN nd USING (source)
           |  GROUP BY ex.source, h, n_docs HAVING count(*) * 100 >= n_docs * 8),
           |pd AS (
           |  SELECT doc_id, count(*) AS n_bp FROM ex
           |  WHERE (source, h) IN (SELECT (source, h) FROM bp) GROUP BY doc_id)
           |SELECT sh.doc_id, sh.source, CAST(len(hs) AS BIGINT) AS n_sh,
           |  CAST(coalesce(n_bp, 0) AS BIGINT) AS n_bp,
           |  CASE WHEN len(hs) > 0
           |       THEN CAST(coalesce(n_bp, 0) * 10000 // len(hs) AS BIGINT)
           |       ELSE 0 END AS bp_e4
           |FROM sh LEFT JOIN pd ON sh.doc_id = pd.doc_id
           |ORDER BY sh.doc_id""".stripMargin)
    }
  }

  /** One-row dataset DATASHEET ("Datasheets for Datasets", Gebru et al.
    * 2021) — the summary card published alongside a training-data release:
    * corpus size, composition, token budget, exact-dup rate, English
    * share, and mean quality, every figure integer-exact and derived in
    * ONE pass over the corpus plus one md5-grain aggregate (no joins, no
    * windows — partial aggregation end to end). */
  val datasetDatasheet: Q = new Q {
    val name = "q_dataset_datasheet"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val d = Tables.documents(spark, dir)
      val base = d.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(TextOps.tokenCount(col("text")).cast("long")).as("ws_tokens"),
        sum(TextOps.bpeTokenCount(col("text")).cast("long")).as("bpe_tokens"),
        sum((col("lang") === KeepLang).cast("long")).as("n_en"),
        sum(when(TextOps.tokenCount(col("text")) > 0, qualityE4(col("text")))
          .otherwise(0L)).as("q_sum"),
        sum((TextOps.tokenCount(col("text")) > 0).cast("long")).as("n_scored"))
      val dups = d.groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") - 1).as("n_exact_dups"))
      base.crossJoin(dups)
        .select(col("n_docs"), col("n_sources"), col("n_langs"),
          col("ws_tokens"), col("bpe_tokens"),
          expr("n_en * 10000 div n_docs").as("pct_en_e4"),
          expr("q_sum div n_scored").as("mean_quality_e4"),
          col("n_exact_dups"),
          expr("n_exact_dups * 10000 div n_docs").as("dup_rate_e4"))
    }
    val oracle = Some(
      s"""WITH $SqlQuality,
         |base AS (
         |  SELECT count(*) AS n_docs,
         |    count(DISTINCT source) AS n_sources,
         |    count(DISTINCT lang) AS n_langs,
         |    sum(len(regexp_extract_all(text, '\\S+'))) AS ws_tokens,
         |    sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS bpe_tokens,
         |    sum(CASE WHEN lang = '$KeepLang' THEN 1 ELSE 0 END) AS n_en,
         |    sum(CASE WHEN len(regexp_extract_all(text, '\\S+')) > 0 THEN 1 ELSE 0 END) AS n_scored
         |  FROM documents),
         |qs AS (SELECT sum(quality_e4) AS q_sum FROM q),
         |dup AS (
         |  SELECT sum(c - 1) AS n_exact_dups
         |  FROM (SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY 1) g)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_sources AS BIGINT) AS n_sources,
         |  CAST(n_langs AS BIGINT) AS n_langs,
         |  CAST(ws_tokens AS BIGINT) AS ws_tokens,
         |  CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
         |  CAST(n_en * 10000 // n_docs AS BIGINT) AS pct_en_e4,
         |  CAST(q_sum // n_scored AS BIGINT) AS mean_quality_e4,
         |  CAST(n_exact_dups AS BIGINT) AS n_exact_dups,
         |  CAST(n_exact_dups * 10000 // n_docs AS BIGINT) AS dup_rate_e4
         |FROM base CROSS JOIN qs CROSS JOIN dup""".stripMargin)
  }

  /** Gopher-style per-document quality rule battery (MassiveText §A1.1
    * family, re-expressed as exact rational-threshold integer
    * comparisons so both engines agree bit-for-bit): word count in
    * [10, 100 000]; mean token length in [3, 10] (as 3n ≤ Σ|t| ≤ 10n);
    * ≥ 80 % of tokens contain a letter (5·alpha ≥ 4n); ≥ 2 stopword
    * hits; symbol density ≤ 10 % (10·hits(# | ...) ≤ n); duplicate
    * 2-gram mass ≤ 20 % (5·(total − distinct) ≤ total). Every rule is
    * computed IN-ROW from one token array — the whole battery is one
    * scan, zero shuffles, codegen-friendly; at 100 TB it is the
    * map-side filter stage it would be in a production curation run.
    * The 2-gram distinct runs on the in-row array (array_distinct), so
    * no per-doc explode ever reaches a shuffle. */
  val qGopherRules: Q = new Q {
    val name = "q_gopher_rules"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val stopList = TextOps.Stopwords.head._2
      Tables.documents(spark, dir, fanned = true)
        .where(TextOps.tokenCount(col("text")) > 0)
        .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("tk"))
        .withColumn("n_toks", size(col("tk")).cast("long"))
        .withColumn("tok_chars",
          expr("aggregate(tk, 0L, (s, t) -> s + length(t))"))
        .withColumn("alpha_toks",
          expr("size(filter(tk, t -> t rlike '[a-z]'))").cast("long"))
        .withColumn("stop_hits",
          TextOps.stopwordHits(col("tk"), stopList).cast("long"))
        .withColumn("sym_hits",
          regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("long"))
        .withColumn("bi_total", greatest(col("n_toks") - 1, lit(0L)))
        .withColumn("bi_distinct", expr(
          """if(size(tk) < 2, 0L, size(array_distinct(transform(
            |  sequence(0, size(tk) - 2),
            |  i -> concat(element_at(tk, i + 1), ' ', element_at(tk, i + 2))))))
            |""".stripMargin).cast("long"))
        .select(col("doc_id"), col("n_toks"),
          (col("n_toks") >= 10L && col("n_toks") <= 100000L).cast("int").as("r_wordcount"),
          (col("tok_chars") >= col("n_toks") * 3L &&
            col("tok_chars") <= col("n_toks") * 10L).cast("int").as("r_meanwordlen"),
          (col("alpha_toks") * 5L >= col("n_toks") * 4L).cast("int").as("r_alpha"),
          (col("stop_hits") >= 2L).cast("int").as("r_stopwords"),
          (col("sym_hits") * 10L <= col("n_toks")).cast("int").as("r_symbols"),
          ((col("bi_total") - col("bi_distinct")) * 5L <= col("bi_total"))
            .cast("int").as("r_dupbigram"))
        .withColumn("n_rules_passed",
          expr("CAST(r_wordcount + r_meanwordlen + r_alpha + r_stopwords + r_symbols + r_dupbigram AS BIGINT)"))
        .withColumn("pass", (col("n_rules_passed") === 6L).cast("int"))
        .orderBy("doc_id")
    }
    val oracle = {
      val stopList = TextOps.Stopwords.head._2.map(w => s"'$w'").mkString(", ")
      Some(
        s"""WITH t AS (
           |  SELECT doc_id, text, regexp_extract_all(lower(text), '\\S+') AS tk
           |  FROM documents WHERE len(regexp_extract_all(text, '\\S+')) > 0),
           |m AS (
           |  SELECT doc_id,
           |    CAST(len(tk) AS BIGINT) AS n_toks,
           |    CAST(coalesce(list_sum(list_transform(tk, x -> strlen(x))), 0) AS BIGINT) AS tok_chars,
           |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_toks,
           |    CAST(len(list_filter(tk, x -> x IN ($stopList))) AS BIGINT) AS stop_hits,
           |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS sym_hits,
           |    CAST(greatest(len(tk) - 1, 0) AS BIGINT) AS bi_total,
           |    CAST(CASE WHEN len(tk) < 2 THEN 0 ELSE len(list_distinct(
           |      list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])))
           |      END AS BIGINT) AS bi_distinct
           |  FROM t),
           |r AS (
           |  SELECT doc_id, n_toks,
           |    CAST(n_toks >= 10 AND n_toks <= 100000 AS INT) AS r_wordcount,
           |    CAST(tok_chars >= n_toks * 3 AND tok_chars <= n_toks * 10 AS INT) AS r_meanwordlen,
           |    CAST(alpha_toks * 5 >= n_toks * 4 AS INT) AS r_alpha,
           |    CAST(stop_hits >= 2 AS INT) AS r_stopwords,
           |    CAST(sym_hits * 10 <= n_toks AS INT) AS r_symbols,
           |    CAST((bi_total - bi_distinct) * 5 <= bi_total AS INT) AS r_dupbigram
           |  FROM m)
           |SELECT doc_id, n_toks, r_wordcount, r_meanwordlen, r_alpha,
           |  r_stopwords, r_symbols, r_dupbigram,
           |  CAST(r_wordcount + r_meanwordlen + r_alpha + r_stopwords
           |       + r_symbols + r_dupbigram AS BIGINT) AS n_rules_passed,
           |  CAST(r_wordcount + r_meanwordlen + r_alpha + r_stopwords
           |       + r_symbols + r_dupbigram = 6 AS INT) AS pass
           |FROM r ORDER BY doc_id""".stripMargin)
    }
  }

  /** Greedy sequence packing — the training-data step after curation:
    * concatenate documents (per source, in doc_id order) into fixed
    * token-budget context windows, starting a new pack when the next doc
    * would overflow the budget (an oversized doc gets its own pack).
    * Greedy packing is ORDER-DEFINED and therefore inherently sequential
    * per source; the scale shape is the canonical secondary sort —
    * repartition by source, sortWithinPartitions(source, doc_id), then a
    * streaming mapPartitions fold with O(1) state (current source, pack
    * index, tokens used) — no group is ever materialized in memory, so a
    * source of any size streams. Parallelism is across sources; a corpus
    * dominated by ONE giant source needs the fixed-boundary variant
    * (pack = cum_tokens div B, docs may straddle) which this library
    * would add as a twin — noted, not silently substituted, because the
    * two packings differ. The DuckDB oracle replays the same fold as a
    * recursive CTE, so the sequential semantics are cross-checked, not
    * assumed. */
  val qTokenPacking: Q = new Q {
    val name = "q_token_packing"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import spark.implicits._
      val budget = PackBudget
      Tables.documents(spark, dir)
        .select(col("source"), col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .as[PackDoc]
        .repartition(col("source"))
        .sortWithinPartitions("source", "doc_id")
        .mapPartitions { it =>
          var src: String = null
          var pack = 0L
          var used = 0L
          var pos = 0L
          it.map { d =>
            if (d.source != src) { src = d.source; pack = 0L; used = d.n_tokens; pos = 1L }
            else if (used + d.n_tokens > budget) { pack += 1L; used = d.n_tokens; pos = 1L }
            else { used += d.n_tokens; pos += 1L }
            PackedDoc(d.source, d.doc_id, d.n_tokens, pack, pos, used)
          }
        }
        .toDF()
        .orderBy("source", "doc_id")
    }
    val oracle = Some(
      s"""WITH RECURSIVE t AS (
         |  SELECT source, doc_id,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
         |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM documents),
         |r AS (
         |  SELECT source, doc_id, n_tokens, rn,
         |    CAST(0 AS BIGINT) AS pack_idx, n_tokens AS pack_used,
         |    CAST(1 AS BIGINT) AS pack_pos
         |  FROM t WHERE rn = 1
         |  UNION ALL
         |  SELECT t.source, t.doc_id, t.n_tokens, t.rn,
         |    CASE WHEN r.pack_used + t.n_tokens > $PackBudget
         |         THEN r.pack_idx + 1 ELSE r.pack_idx END,
         |    CASE WHEN r.pack_used + t.n_tokens > $PackBudget
         |         THEN t.n_tokens ELSE r.pack_used + t.n_tokens END,
         |    CASE WHEN r.pack_used + t.n_tokens > $PackBudget
         |         THEN CAST(1 AS BIGINT) ELSE r.pack_pos + 1 END
         |  FROM r JOIN t ON t.source = r.source AND t.rn = r.rn + 1)
         |SELECT source, doc_id, n_tokens, pack_idx, pack_pos, pack_used
         |FROM r ORDER BY source, doc_id""".stripMargin)
  }

  /** Deterministic corpus mixture sampling — downsample every source to
    * the SMALLEST source's document count ("balanced mixture") by
    * md5-hash thresholding: keep doc iff hash60("mix:" || doc_id) mod
    * 1e6 < rate_ppm, rate_ppm = min_docs·1e6 div n_docs(source). The
    * decision is a pure function of the doc id — reproducible across
    * runs, engines, and cluster sizes, which is what makes a mixture
    * schedule auditable (re-running the pipeline cannot resample). The
    * per-source keep counts concentrate at min_docs (hash-uniformity);
    * the query emits the realized counts and token mass so the mixture
    * report is exact, not expected-value.
    * Scale shape: one count-by-source aggregate broadcast back, one
    * in-row hash filter on the fact scan, one final aggregate — the
    * sampled corpus itself never re-shuffles. */
  val qCorpusMixture: Q = new Q {
    val name = "q_corpus_mixture"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val docs = Tables.documents(spark, dir)
        .select(col("source"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          (graft.ops.HashOps.hash60(
            concat(lit("mix:"), col("doc_id").cast("string"))) % 1000000L).as("h_ppm"))
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val minDocs = counts.agg(min("n_docs").as("min_docs"))
      docs
        // hint kept: one row per source, estimated at the documents' size
        .join(broadcast(counts), Seq("source"))
        .crossJoin(minDocs)
        .withColumn("rate_ppm",
          least(lit(1000000L), expr("min_docs * 1000000 div n_docs")))
        .groupBy("source")
        .agg(max("n_docs").as("n_docs"), max("rate_ppm").as("rate_ppm"),
          sum(when(col("h_ppm") < col("rate_ppm"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("h_ppm") < col("rate_ppm"), col("n_tokens")).otherwise(0L))
            .as("tokens_kept"))
        .orderBy("source")
    }
    val oracle = Some(
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |    CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |         AS BIGINT) % 1000000 AS h_ppm
        |  FROM documents),
        |c AS (SELECT source, count(*) AS n_docs FROM d GROUP BY 1),
        |m AS (SELECT min(n_docs) AS min_docs FROM c),
        |j AS (
        |  SELECT d.source, d.n_tokens, d.h_ppm, c.n_docs,
        |    least(1000000, m.min_docs * 1000000 // c.n_docs) AS rate_ppm
        |  FROM d JOIN c USING (source) CROSS JOIN m)
        |SELECT source, CAST(max(n_docs) AS BIGINT) AS n_docs,
        |  CAST(max(rate_ppm) AS BIGINT) AS rate_ppm,
        |  CAST(sum(CASE WHEN h_ppm < rate_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN h_ppm < rate_ppm THEN n_tokens ELSE 0 END) AS BIGINT)
        |    AS tokens_kept
        |FROM j GROUP BY source ORDER BY source""".stripMargin)
  }

  /** Soft-dedup downweighting — the alternative to dropping duplicates:
    * every document in an exact-dup group of size g contributes weight
    * 1/g, so each distinct text carries total weight 1 regardless of how
    * many times it was crawled. Emits per-source corpus mass before and
    * after downweighting (eff_tokens_e6 = Σ n_tokens·(1e6 div g),
    * floor-div — identical quantization in both engines). Int64 bound:
    * eff_tokens_e6 ≤ 1e6·Σn_tokens, safe for per-source token mass up to
    * ~9×10¹² (≈50 TB of text per source at 5 bytes/token); above that,
    * drop the scale to e4.
    * Scale shape: one content-hash shuffle (the same shuffle exact dedup
    * already pays) for the group-size window, then a source-grain
    * aggregate — no joins, no second fact pass. */
  val qSoftDedupWeights: Q = new Q {
    val name = "q_soft_dedup_weights"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(spark, dir)
        .select(col("source"), md5(col("text")).as("k"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("g", count(lit(1)).over(Window.partitionBy("k")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum(expr("n_tokens * (1000000 div g)")).as("eff_tokens_e6"),
          sum(when(col("g") > 1L, 1L).otherwise(0L)).as("n_in_dup_groups"))
        .orderBy("source")
    }
    val oracle = Some(
      """WITH d AS (
        |  SELECT source, md5(text) AS k,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |w AS (
        |  SELECT source, n_tokens,
        |    count(*) OVER (PARTITION BY k) AS g
        |  FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_tokens * (1000000 // g)) AS BIGINT) AS eff_tokens_e6,
        |  CAST(sum(CASE WHEN g > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_dup_groups
        |FROM w GROUP BY source ORDER BY source""".stripMargin)
  }

  /** Fixed-boundary packing — the PARALLEL twin of [[qTokenPacking]] for
    * the corpus a greedy fold cannot shard: one giant source. Packs are
    * fixed [k·B, (k+1)·B) token windows of the per-source concatenated
    * stream; a document may straddle packs (pack_first ≠ pack_last →
    * n_splits boundary crossings), which is exactly how production
    * pretraining tokenizers pack. Semantically this is
    * [[MixQueries.packSequences]] (`pack_sequences`) — the SCALE TWIN
    * relationship: pack_sequences states the definition with a per-source
    * window cumsum (one reducer per source), this query computes the same
    * assignment with the two-pass prefix sum, and `Wave27QueriesSpec`
    * pins their parity row-for-row on the shared grain. The running token offset comes from
    * [[graft.ops.PrefixOps.cumBefore]] — a two-pass distributed prefix
    * sum (per-partition subtotals → exclusive offsets → streaming
    * in-partition scan), NOT a per-key window, so one source of any size
    * spreads over every partition of its range. Zero-token docs occupy
    * zero stream space and land whole in their boundary pack
    * (greatest(n,1) in the last-pack formula keeps the div well-formed).
    * The DuckDB oracle computes the same offsets with a window cumsum —
    * the parallel scan is checked against the sequential definition. */
  val qTokenPackingFixed: Q = new Q {
    val name = "q_token_packing_fixed"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import spark.implicits._
      val b = PackBudget
      val docs = Tables.documents(spark, dir)
        .select(col("source"), col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .as[PackDoc]
      graft.ops.PrefixOps
        .cumBefore(docs, spark.sessionState.conf.numShufflePartitions)
        .map { case (d, cum) =>
          val first = cum / b
          val last = (cum + math.max(d.n_tokens, 1L) - 1L) / b
          PackSpan(d.source, d.doc_id, d.n_tokens, cum, first, last, last - first)
        }
        .toDF()
        .orderBy("source", "doc_id")
    }
    val oracle = Some(
      s"""WITH t AS (
         |  SELECT source, doc_id,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cum_before
         |  FROM t)
         |SELECT source, doc_id, n_tokens, cum_before,
         |  cum_before // $PackBudget AS pack_first,
         |  (cum_before + greatest(n_tokens, 1) - 1) // $PackBudget AS pack_last,
         |  (cum_before + greatest(n_tokens, 1) - 1) // $PackBudget
         |    - cum_before // $PackBudget AS n_splits
         |FROM c ORDER BY source, doc_id""".stripMargin)
  }

  /** Temperature-scaled mixture weights (α = 1/2) — the up/down-weighting
    * schedule multilingual/multi-source pretraining uses to keep small
    * sources from vanishing (w_s ∝ T_s^α flattens the source
    * distribution). The complement of [[MixQueries.mixTemperature]]
    * (`mix_temperature`, T = 1/2 ⇒ p ∝ c² — SHARPENING via an integer
    * square): α < 1 needs a fractional power, which is why the exact
    * integer sqrt below exists — together the two queries cover both
    * directions of the temperature dial in exact arithmetic. T^(1/2) is computed as an EXACT integer sqrt: the
    * float floor(sqrt(x)) seed is corrected by ±1 integer comparisons
    * ((i+1)² ≤ x, i² > x), so both engines agree bit-for-bit wherever the
    * double seed is within one of truth — guaranteed for x < 2⁵² (a
    * 4-petabyte-of-text source at 1 byte/token; far above any real
    * source). Weights ship as ppm via floor div of the isqrt mass.
    * Scale shape: one source-grain aggregate, a 1-row broadcast total,
    * in-row isqrt arithmetic — nothing fact-sized moves twice. */
  /** Exact integer sqrt for x < 2⁵²: float seed ±1-corrected by integer
    * comparisons (see [[qMixtureTemperature]]). */
  private[graft] def isqrt(x: Column): Column = {
    val seed = floor(sqrt(x.cast("double"))).cast("long")
    seed + when((seed + 1L) * (seed + 1L) <= x, 1L).otherwise(0L) -
      when(seed * seed > x, 1L).otherwise(0L)
  }

  val qMixtureTemperature: Q = new Q {
    val name = "q_mixture_temperature"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val bySrc = Tables.documents(spark, dir)
        .groupBy("source")
        .agg(sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"))
        .withColumn("isqrt_tokens", isqrt(col("n_tokens")))
      val totals = bySrc.agg(sum("n_tokens").as("tot_tokens"),
        sum("isqrt_tokens").as("tot_isqrt"))
      bySrc.crossJoin(totals)
        .select(col("source"), col("n_tokens"),
          expr("n_tokens * 1000000 div tot_tokens").as("share_ppm"),
          col("isqrt_tokens"),
          expr("isqrt_tokens * 1000000 div tot_isqrt").as("temp_weight_ppm"))
        .orderBy("source")
    }
    val oracle = Some(
      """WITH s AS (
        |  SELECT source,
        |    CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |i AS (
        |  SELECT source, n_tokens,
        |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
        |      + CASE WHEN (CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) + 1)
        |                  * (CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) + 1)
        |                  <= n_tokens THEN 1 ELSE 0 END
        |      - CASE WHEN CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
        |                  * CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
        |                  > n_tokens THEN 1 ELSE 0 END AS isqrt_tokens
        |  FROM s),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
        |             CAST(sum(isqrt_tokens) AS BIGINT) AS tot_isqrt FROM i)
        |SELECT source, n_tokens,
        |  n_tokens * 1000000 // tot_tokens AS share_ppm,
        |  isqrt_tokens,
        |  isqrt_tokens * 1000000 // tot_isqrt AS temp_weight_ppm
        |FROM i CROSS JOIN t ORDER BY source""".stripMargin)
  }

  /** Sampling-bias audit — the gate [[qCorpusMixture]] needs before its
    * sample ships: hash-thresholded downsampling is UNIFORM per source by
    * construction, but uniform-in-doc-id is not uniform-in-quality if ids
    * correlate with content, so the audit MEASURES it: per source, mean
    * quality (e4) and mean token count of the full population vs the
    * sampled one (same deterministic keep rule as the mixture query but
    * at a HALF-min budget — every source, including the smallest, is
    * genuinely thinned, so the audit always exercises the sampling path —
    * computed in-row, no join against a sample table), plus the absolute
    * quality drift. Everything is one conditional-aggregate pass over the
    * corpus; populations are the tokenized (n_toks > 0) grain, and the
    * rate derives from that same grain so the audit is self-consistent.
    * Empty samples report −1 means rather than dividing by zero. */
  val qSampleRepresentativeness: Q = new Q {
    val name = "q_sample_representativeness"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val docs = Tables.documents(spark, dir)
        .where(TextOps.tokenCount(col("text")) > 0)
        .select(col("source"),
          qualityE4(col("text")).as("q_e4"),
          TextOps.tokenCount(col("text")).cast("long").as("n_toks"),
          (graft.ops.HashOps.hash60(
            concat(lit("mix:"), col("doc_id").cast("string"))) % 1000000L).as("h_ppm"))
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val minDocs = counts.agg(min("n_docs").as("min_docs"))
      // hint kept: one row per source, estimated at the documents' size
      docs.join(broadcast(counts), Seq("source"))
        .crossJoin(minDocs)
        .withColumn("rate_ppm",
          least(lit(1000000L), expr("min_docs * 500000 div n_docs")))
        .withColumn("kept", (col("h_ppm") < col("rate_ppm")).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_full"), sum("kept").as("n_sampled"),
          max("rate_ppm").as("rate_ppm"),
          sum("q_e4").as("q_sum_full"),
          sum(col("q_e4") * col("kept")).as("q_sum_samp"),
          sum("n_toks").as("t_sum_full"),
          sum(col("n_toks") * col("kept")).as("t_sum_samp"))
        .select(col("source"), col("n_full"), col("n_sampled"), col("rate_ppm"),
          expr("q_sum_full div n_full").as("q_mean_full_e4"),
          expr("CASE WHEN n_sampled = 0 THEN -1 ELSE q_sum_samp div n_sampled END")
            .as("q_mean_samp_e4"),
          expr("CASE WHEN n_sampled = 0 THEN -1 ELSE " +
            "abs(q_sum_full div n_full - q_sum_samp div n_sampled) END")
            .as("q_drift_e4"),
          expr("t_sum_full div n_full").as("tok_mean_full"),
          expr("CASE WHEN n_sampled = 0 THEN -1 ELSE t_sum_samp div n_sampled END")
            .as("tok_mean_samp"))
        .orderBy("source")
    }
    val oracle = Some(
      s"""WITH $SqlQuality,
         |d AS (
         |  SELECT dd.source, q.quality_e4 AS q_e4,
         |    CAST(len(regexp_extract_all(dd.text, '\\S+')) AS BIGINT) AS n_toks,
         |    CAST('0x' || substr(md5('mix:' || CAST(dd.doc_id AS VARCHAR)), 1, 15)
         |         AS BIGINT) % 1000000 AS h_ppm
         |  FROM documents dd JOIN q ON dd.doc_id = q.doc_id),
         |c AS (SELECT source, count(*) AS n_docs FROM d GROUP BY 1),
         |m AS (SELECT min(n_docs) AS min_docs FROM c),
         |j AS (
         |  SELECT d.*, least(1000000, m.min_docs * 500000 // c.n_docs) AS rate_ppm,
         |    CAST(d.h_ppm < least(1000000, m.min_docs * 500000 // c.n_docs) AS BIGINT)
         |      AS kept
         |  FROM d JOIN c USING (source) CROSS JOIN m),
         |a AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_full,
         |    CAST(sum(kept) AS BIGINT) AS n_sampled,
         |    CAST(max(rate_ppm) AS BIGINT) AS rate_ppm,
         |    CAST(sum(q_e4) AS BIGINT) AS q_sum_full,
         |    CAST(sum(q_e4 * kept) AS BIGINT) AS q_sum_samp,
         |    CAST(sum(n_toks) AS BIGINT) AS t_sum_full,
         |    CAST(sum(n_toks * kept) AS BIGINT) AS t_sum_samp
         |  FROM j GROUP BY source)
         |SELECT source, n_full, n_sampled, rate_ppm,
         |  q_sum_full // n_full AS q_mean_full_e4,
         |  CASE WHEN n_sampled = 0 THEN -1 ELSE q_sum_samp // n_sampled END
         |    AS q_mean_samp_e4,
         |  CASE WHEN n_sampled = 0 THEN -1
         |       ELSE abs(q_sum_full // n_full - q_sum_samp // n_sampled) END
         |    AS q_drift_e4,
         |  t_sum_full // n_full AS tok_mean_full,
         |  CASE WHEN n_sampled = 0 THEN -1 ELSE t_sum_samp // n_sampled END
         |    AS tok_mean_samp
         |FROM a ORDER BY source""".stripMargin)
  }

  val all: Seq[Q] = Seq(corpusCuration, corpusStatsBySource, dedupRateBySource,
    boilerplateNgrams, datasetDatasheet, qGopherRules, qTokenPacking,
    qCorpusMixture, qSoftDedupWeights, qTokenPackingFixed,
    qMixtureTemperature, qSampleRepresentativeness)
}

/** Row shapes for [[CurationQueries.qTokenPacking]]'s streaming fold. */
case class PackDoc(source: String, doc_id: Long, n_tokens: Long)
case class PackedDoc(source: String, doc_id: Long, n_tokens: Long,
  pack_idx: Long, pack_pos: Long, pack_used: Long)
/** Row shape for [[CurationQueries.qTokenPackingFixed]]. */
case class PackSpan(source: String, doc_id: Long, n_tokens: Long,
  cum_before: Long, pack_first: Long, pack_last: Long, n_splits: Long)
