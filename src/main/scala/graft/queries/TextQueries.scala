package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints._
import graft.Tables
import graft.ops.{HashOps, TextOps}

/** Text-analysis extension queries over `documents` (no analogue in the
  * reference — LLM-training-pipeline surface): quality stats, language ID,
  * token counting, fingerprinting, term frequencies. All pure column
  * expressions; every query oracle-checked.
  */
object TextQueries {
  import HashOps.P

  private val SqlToks = "regexp_extract_all(lower(text), '\\S+')"
  private def sqlHashP(e: String) = HashOps.sqlHashP(e)

  /** Per-document quality statistics: token/char counts, punctuation and
    * stopword ratios, and a composite quality score — the usual first-pass
    * quality filter of a training-data pipeline. */
  val textStats: Q = new Q {
    val name = "text_stats"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val toks = TextOps.tokens(col("text"))
      val nToks = TextOps.tokenCount(col("text"))
      val nChars = length(col("text"))
      val tokChars = length(regexp_replace(col("text"), "\\s", ""))
      val punct = TextOps.punctCount(col("text"))
      val alpha = regexp_count(col("text"), lit("[A-Za-z]"))
      val stops = TextOps.stopwordHits(toks, TextOps.Stopwords.head._2)
      val quality = round(lit(10000.0) * (
        lit(0.5) * least(stops * 5.0 / nToks, lit(1.0)) +
          lit(0.3) * least(nToks / 200.0, lit(1.0)) +
          lit(0.2) * (alpha * 1.0 / nChars))).cast("long")
      Tables.documents(spark, dir)
        .where(nToks > 0)
        .select(col("doc_id"),
          nToks.cast("long").as("n_tokens"),
          nChars.cast("long").as("n_chars_obs"),
          round(tokChars * 100.0 / nToks).cast("long").as("avg_token_len_e2"),
          round(punct * 10000.0 / nChars).cast("long").as("punct_ratio_e4"),
          round(stops * 10000.0 / nToks).cast("long").as("stop_ratio_e4"),
          quality.as("quality_e4"))
        // persisted before the global sort: the range sampler otherwise
        // re-runs the regex/stopword kernels a second time (OPTIMIZATION_r18)
        .persist()
        .orderBy("doc_id")
    }
    val oracle = {
      val stopList = TextOps.Stopwords.head._2.map(w => s"'$w'").mkString(", ")
      Some(
        s"""WITH b AS (
           |  SELECT doc_id,
           |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
           |    CAST(length(text) AS BIGINT) AS n_chars,
           |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS tok_chars,
           |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS punct,
           |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS alpha,
           |    CAST(len(list_filter($SqlToks, t -> t IN ($stopList))) AS BIGINT) AS stops
           |  FROM documents)
           |SELECT doc_id, n_tokens, n_chars AS n_chars_obs,
           |  CAST(round(tok_chars * 100.0 / n_tokens) AS BIGINT) AS avg_token_len_e2,
           |  CAST(round(punct * 10000.0 / n_chars) AS BIGINT) AS punct_ratio_e4,
           |  CAST(round(stops * 10000.0 / n_tokens) AS BIGINT) AS stop_ratio_e4,
           |  CAST(round(10000.0 * (0.5 * least(stops * 5.0 / n_tokens, 1.0)
           |       + 0.3 * least(n_tokens / 200.0, 1.0)
           |       + 0.2 * (alpha * 1.0 / n_chars))) AS BIGINT) AS quality_e4
           |FROM b WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin)
    }
  }

  /** Stopword-profile language ID vs the table's claimed language. */
  val langId: Q = new Q {
    val name = "lang_id"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val toks = TextOps.tokens(col("text"))
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang").as("claimed_lang"),
          TextOps.langId(toks).as("pred_lang"))
        .withColumn("is_match", (col("claimed_lang") === col("pred_lang")).cast("int"))
        .orderBy("doc_id")
    }
    val oracle = {
      val scores = TextOps.Stopwords.map { case (lang, words) =>
        val l = words.map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter($SqlToks, t -> t IN ($l))) AS BIGINT) AS s_$lang"
      }.mkString(",\n    ")
      val langs = TextOps.Stopwords.map(_._1)
      val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
      Some(
        s"""WITH s AS (
           |  SELECT doc_id, lang AS claimed_lang,
           |    $scores
           |  FROM documents),
           |g AS (SELECT *, $best AS best FROM s)
           |SELECT doc_id, claimed_lang,
           |  CASE $cases ELSE 'und' END AS pred_lang,
           |  CAST(claimed_lang = (CASE $cases ELSE 'und' END) AS INT) AS is_match
           |FROM g ORDER BY doc_id""".stripMargin)
    }
  }

  /** Whitespace vs BPE-ish token counts (cost estimation for training). */
  val tokenCounts: Q = new Q {
    val name = "token_counts"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("ws_tokens"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"),
          length(col("text")).cast("long").as("n_chars_obs"))
        .orderBy("doc_id")
    val oracle = Some(
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars_obs
         |FROM documents ORDER BY doc_id""".stripMargin)
  }

  /** Rolling polynomial fingerprint over token hashes (portable 60-bit md5
    * base, sequential fold — bit-identical across engines). */
  val docFingerprint: Q = new Q {
    val name = "doc_fingerprint"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          TextOps.fingerprint(TextOps.tokens(col("text"))).as("fingerprint"))
        .orderBy("doc_id")
    val oracle = Some(
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform($SqlToks, t -> ${sqlHashP("t")})),
         |    (a, b) -> (a * 31 + b) % $P) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin)
  }

  /** Corpus term frequencies: explode → count → global top-50
    * (deterministic tie-break on the term). */
  val topTerms: Q = new Q {
    val name = "top_terms"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.documents(spark, dir)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term").asc)
        .limit(50)
    val oracle = Some(
      s"""SELECT term, count(*) AS cnt
         |FROM (SELECT unnest($SqlToks) AS term FROM documents) t
         |GROUP BY term ORDER BY cnt DESC, term LIMIT 50""".stripMargin)
  }

  /** Within-document repetition: fraction of duplicate k-gram shingles
    * (1 − distinct/total) — the Gopher-style repetitiveness quality signal.
    * Spark side counts total shingles arithmetically (n_tokens − k + 1) and
    * distinct via the sorted-set kernel. */
  val textRepetition: Q = new Q {
    val name = "text_repetition"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val k = 3
      val nToks = TextOps.tokenCount(col("text"))
      val total = greatest(nToks - (k - 1), lit(0)).cast("long")
      val distinctSh = size(TextOps.shingleHashes(col("text"), k)).cast("long")
      Tables.documents(spark, dir)
        .select(col("doc_id"), total.as("n_shingles"), distinctSh.as("n_distinct"))
        .withColumn("rep_ratio_e4",
          when(col("n_shingles") > 0,
            round((lit(1.0) - col("n_distinct") * 1.0 / col("n_shingles")) * 10000)
              .cast("long"))
            .otherwise(lit(0L)))
        .orderBy("doc_id")
    }
    val oracle = {
      val toks = "regexp_extract_all(lower(text), '\\S+')"
      Some(
        s"""WITH b AS (
           |  SELECT doc_id,
           |    CAST(greatest(len($toks) - 2, 0) AS BIGINT) AS n_shingles,
           |    CAST(len(list_distinct(list_transform(
           |      list_transform(range(1, greatest(len($toks) - 2, 0) + 1),
           |        i -> array_to_string(list_slice($toks, i, i + 2), ' ')),
           |      s -> ${HashOps.sqlHashP("s")}))) AS BIGINT) AS n_distinct
           |  FROM documents)
           |SELECT doc_id, n_shingles, n_distinct,
           |  CASE WHEN n_shingles > 0
           |       THEN CAST(round((1.0 - n_distinct * 1.0 / n_shingles) * 10000) AS BIGINT)
           |       ELSE 0 END AS rep_ratio_e4
           |FROM b ORDER BY doc_id""".stripMargin)
    }
  }

  /** PII redaction: scrub emails and phone numbers with regex rewrite and
    * count the hits. The corpus text carries no contact strings, so each
    * document is suffixed with a deterministic doc_id-derived contact line
    * (same derivation in the oracle) — the regexes then have real matches
    * to find, and the md5 of the redacted text value-checks the whole
    * rewrite, not just the counts. Pure per-row column expressions
    * (codegen'd regexp_replace/regexp_count) — trivially partition-parallel
    * at any scale. Patterns stay in the RE2 ∩ Java-regex common subset so
    * both engines match identically. */
  val piiRedact: Q = new Q {
    val name = "pii_redact"
    private val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    private val phone = "\\+\\d[\\d-]{6,}\\d"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val withPii = concat(col("text"),
        lit(" contact doc"), col("doc_id"), lit("@mail.example.com or call +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      val redacted = regexp_replace(regexp_replace(withPii, email, "<EMAIL>"),
        phone, "<PHONE>")
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          regexp_count(withPii, lit(email)).cast("long").as("n_emails"),
          regexp_count(withPii, lit(phone)).cast("long").as("n_phones"),
          md5(redacted).as("redacted_md5"))
        // persisted before the global sort: the range sampler otherwise
        // re-runs the regex+md5 kernel a second time (OPTIMIZATION_r18)
        .persist()
        .orderBy("doc_id")
    }
    val oracle = Some(
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact doc' || doc_id || '@mail.example.com or call +1-555-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS with_pii
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(with_pii, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(with_pii, '\+\d[\d-]{6,}\d')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(with_pii,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+\d[\d-]{6,}\d', '<PHONE>', 'g')) AS redacted_md5
        |FROM p ORDER BY doc_id""".stripMargin)
  }

  /** Per-document salient-term extraction (keyword tagging for corpus
    * curation): the term with the highest in-document frequency, rarest
    * corpus-wide document frequency as tie-break — TF-IDF's ranking
    * expressed in pure integers (tf DESC, df ASC, term ASC) so both
    * engines agree bit-for-bit (a float idf = ln(N/df) can flip a scaled
    * rounding at the last digit between libm implementations). Scale: tf
    * is one shuffle on (doc, term); df re-aggregates tf map-side; the
    * top-1 window partitions by doc — state is one group's terms, and no
    * stage rescans raw text. */
  val docSalientTerm: Q = new Q {
    val name = "doc_salient_term"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val tf = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      tf.join(dfreq, Seq("term"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("term").as("salient_term"), col("tf"), col("df"))
        .orderBy("doc_id")
    }
    val oracle = Some(
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($SqlToks) AS term FROM documents) t
         |  GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |r AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rn
         |  FROM tf JOIN dfreq ON tf.term = dfreq.term)
         |SELECT doc_id, term AS salient_term, tf, df
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)
  }

  /** Context-window chunking with overlap (the embedding-pipeline shape:
    * fixed 500-char windows at stride 400 → 100-char overlap between
    * neighbors). Pure per-row `sequence`+`explode` — narrow, no shuffle
    * before the output sort, and the chunk count is derived arithmetically
    * (never by scanning the text twice). Each chunk exports its md5 so the
    * oracle proves the SUBSTRINGS agree byte-for-byte, not just the
    * counts. At 100 TB this is the map-side prelude to embedding: rows
    * fan out ~len/stride×, so the op must stay off the shuffle path —
    * and here it does. */
  val docChunks: Q = new Q {
    val name = "doc_chunks"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.documents(spark, dir)
        .where(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          expr("(length(text) - 1) div 400").as("last_idx"))
        .withColumn("chunk_idx", explode(sequence(lit(0L), col("last_idx"))))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * 400).as("chunk_start"),
          expr("length(substring(text, chunk_idx * 400 + 1, 500))").as("chunk_len"),
          expr("md5(substring(text, chunk_idx * 400 + 1, 500))").as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    val oracle = Some(
      """WITH d AS (
        |  SELECT doc_id, text, CAST((length(text) - 1) // 400 AS BIGINT) AS last_idx
        |  FROM documents WHERE length(text) > 0),
        |s AS (
        |  SELECT unnest(generate_series(0, (SELECT max(last_idx) FROM d))) AS gs)
        |SELECT doc_id, gs AS chunk_idx, gs * 400 AS chunk_start,
        |  CAST(length(substr(text, CAST(gs * 400 + 1 AS BIGINT), 500)) AS BIGINT)
        |    AS chunk_len,
        |  md5(substr(text, CAST(gs * 400 + 1 AS BIGINT), 500)) AS chunk_md5
        |FROM d JOIN s ON s.gs <= d.last_idx
        |ORDER BY doc_id, chunk_idx""".stripMargin)
  }

  /** BM25 relevance ranking for a fixed query-term set — the retrieval
    * scorer of a data-curation / RAG pipeline, expressed in EXACT rational
    * arithmetic so the ranking is bit-deterministic across engines:
    * k1 = 6/5 and b = 3/4 make every BM25 factor a ratio of BIGINTs
    * (tf·(k1+1) / (tf + k1(1−b+b·dl/avgdl)) ≡ 44·tf·avgdl / (20·tf·avgdl
    * + 6·avgdl + 18·dl)), idf is the probabilistic rational
    * (2(N−df)+1)/(2df+1), and avgdl is the INTEGER mean (sumdl div N,
    * documented quantization). The idf and tf factors are EACH e4-scaled
    * by their own integer division, then multiplied and re-normalized —
    * never the fused (2N±1)·44·tf·avgdl·1e4 product, whose int64 overflow
    * at N~1e9 corpora would wrap silently under Spark's non-ANSI
    * arithmetic while DuckDB promotes (round-5 advice). Bounds: the
    * binding step is the idf_e4 · tf_e4 product — tf_e4 < 2.2e4 and
    * idf_e4 ≈ 6667·N at df=1, so scores stay in int64 for any
    * N ≲ 6e10 docs (≈300 TB at 5 KB/doc — above this library's target;
    * for larger corpora pre-divide idf_e4 by 1e2 and re-scale). The
    * separate requirement tf·avgdl ≤ 2e13 bounds the tf factor's own
    * numerator. Scores are integer-summed per doc — no float ever
    * enters.
    *
    * Scale shape: the only fact-cardinality pass is tokenize+filter to the
    * |terms|-bounded postings (explode is pre-filtered by the IN list);
    * corpus stats (N, sumdl) and per-term df are broadcast 1-row/|terms|-row
    * aggregates; the final top-50 is TakeOrdered, never a global sort. */
  val bm25Topk: Q = new Q {
    val name = "bm25_topk"
    private val Terms = Seq("join", "window", "stream", "sort")
    def run(spark: SparkSession, dir: String): DataFrame = {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
      val stats = docs.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
        .select(col("n_docs"), expr("sum_dl div n_docs").as("avgdl"))
      val tf = docs
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
        .where(col("term").isin(Terms: _*))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      // hint kept: one row per query term, estimated at the documents' size
      tf.join(broadcast(dfreq), Seq("term"))
        .join(stats)
        .withColumn("idf_e4",
          expr("((2 * (n_docs - df) + 1) * 10000) div (2 * df + 1)"))
        .withColumn("tf_e4", expr(
          "(44 * tf * avgdl * 10000) div (20 * tf * avgdl + 6 * avgdl + 18 * dl)"))
        .withColumn("term_score_e4", expr("(idf_e4 * tf_e4) div 10000"))
        .groupBy("doc_id")
        .agg(sum("term_score_e4").as("score_e4"),
          count(lit(1)).as("n_terms_hit"))
        .orderBy(col("score_e4").desc, col("doc_id"))
        .limit(50)
    }
    val oracle = Some {
      val termList = Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH docs AS (
         |  SELECT doc_id, $SqlToks AS toks,
         |    CAST(len($SqlToks) AS BIGINT) AS dl
         |  FROM documents),
         |stats AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) // count(*) AS avgdl
         |  FROM docs),
         |tf AS (
         |  SELECT doc_id, dl, term, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs) t
         |  WHERE term IN ($termList)
         |  GROUP BY doc_id, dl, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |scored AS (
         |  SELECT tf.doc_id,
         |    ((((2 * (s.n_docs - d.df) + 1) * 10000) // (2 * d.df + 1))
         |     * ((44 * tf.tf * s.avgdl * 10000)
         |        // (20 * tf.tf * s.avgdl + 6 * s.avgdl + 18 * tf.dl))) // 10000
         |      AS term_score_e4
         |  FROM tf JOIN dfreq d ON tf.term = d.term CROSS JOIN stats s)
         |SELECT doc_id, CAST(sum(term_score_e4) AS BIGINT) AS score_e4,
         |  count(*) AS n_terms_hit
         |FROM scored GROUP BY doc_id
         |ORDER BY score_e4 DESC, doc_id LIMIT 50""".stripMargin
    }
  }

  /** Bigram language-model fluency scoring (the perplexity-proxy quality
    * signal of a training-data pipeline, integer-exact): the corpus bigram
    * table gives MLE conditionals p(w2|w1) = c(w1,w2) / c(w1 as history),
    * e6-quantized by integer division; a document's fluency is the mean
    * conditional over its bigram positions (again integer division) — no
    * log, no float, so the score is bit-identical on any engine. The
    * history count is derived FROM the bigram table (Σ_w2 c(w1,w2)), so
    * the model is self-consistent: conditionals per history sum to ~1e6.
    * Scale shape: one shuffle keyed by bigram (counts), one re-aggregate
    * keyed by w1 (histories — shrinks to vocab²→vocab), one equi-join of
    * positions to conditionals keyed by bigram, one final per-doc
    * aggregate. Nothing rescans text twice; no driver-side state. */
  val bigramLm: Q = new Q {
    val name = "q_bigram_lm"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 2)
      val positions = toks
        .select(col("doc_id"), explode(TextOps.shingles(col("toks"), 2)).as("bigram"))
        .withColumn("w1", substring_index(col("bigram"), " ", 1))
      val c2 = positions.groupBy("bigram").agg(count(lit(1)).as("c2"))
      val c1 = c2.withColumn("w1", substring_index(col("bigram"), " ", 1))
        .groupBy("w1").agg(sum("c2").as("c1"))
      val cond = c2.withColumn("w1", substring_index(col("bigram"), " ", 1))
        .join(c1, Seq("w1"))
        .select(col("bigram"), expr("c2 * 1000000 div c1").as("p_e6"))
      positions.join(cond, Seq("bigram"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("p_e6").as("sum_p_e6"))
        .withColumn("fluency_e6", expr("sum_p_e6 div n_bigrams"))
        .select("doc_id", "n_bigrams", "fluency_e6")
        .orderBy("doc_id")
    }
    val oracle = Some(
      s"""WITH toks AS (
         |  SELECT doc_id, $SqlToks AS t FROM documents
         |  WHERE len($SqlToks) >= 2),
         |positions AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
         |    i -> t[i] || ' ' || t[i + 1])) AS bigram
         |  FROM toks),
         |c2 AS (SELECT bigram, count(*) AS c2 FROM positions GROUP BY bigram),
         |c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
         |       FROM c2 GROUP BY 1),
         |cond AS (
         |  SELECT bigram, (c2 * 1000000) // c1 AS p_e6
         |  FROM c2 JOIN c1 ON split_part(bigram, ' ', 1) = w1)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(p_e6) // count(*) AS BIGINT) AS fluency_e6
         |FROM positions JOIN cond USING (bigram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two retrieval
    * rankings — the standard hybrid-search combiner (lexical BM25 +
    * a second signal, here the bigram-LM fluency prior): each list
    * contributes 1e6 div (60 + rank) and absent documents contribute 0,
    * all integer, so the fused ordering is engine-exact. Both input
    * rankings are top-k bounded (k = 50, a deployment constant), so the
    * fusion join and re-rank run over ≤ 2k rows regardless of corpus
    * size — the expensive parts are the upstream scorers, which keep
    * their own distributed shapes. */
  val rrfFusion: Q = new Q {
    val name = "q_rrf_fusion"
    private val TopK = 50
    private val RrfK = 60
    def run(spark: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val rel = bm25Topk.run(spark, dir)
        .withColumn("rank_rel", row_number().over(
          Window.orderBy(col("score_e4").desc, col("doc_id"))).cast("long"))
        .select("doc_id", "rank_rel")
      val flu = bigramLm.run(spark, dir)
        .orderBy(col("fluency_e6").desc, col("doc_id")).limit(TopK)
        .withColumn("rank_flu", row_number().over(
          Window.orderBy(col("fluency_e6").desc, col("doc_id"))).cast("long"))
        .select("doc_id", "rank_flu")
      rel.join(flu, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("rank_rel"), lit(0L)).as("rank_rel"),
          coalesce(col("rank_flu"), lit(0L)).as("rank_flu"),
          (coalesce(expr(s"1000000 div ($RrfK + rank_rel)"), lit(0L)) +
            coalesce(expr(s"1000000 div ($RrfK + rank_flu)"), lit(0L)))
            .as("rrf_e6"))
        .orderBy(col("rrf_e6").desc, col("doc_id"))
        .limit(20)
    }
    val oracle = Some(
      s"""WITH a AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score_e4 DESC, doc_id) AS BIGINT)
         |      AS rank_rel
         |  FROM (${bm25Topk.oracle.get}) bm),
         |b AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY fluency_e6 DESC, doc_id) AS BIGINT)
         |      AS rank_flu
         |  FROM (SELECT * FROM (${bigramLm.oracle.get}) lm
         |        ORDER BY fluency_e6 DESC, doc_id LIMIT $TopK) t),
         |f AS (
         |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, a.rank_rel, b.rank_flu
         |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
         |SELECT doc_id,
         |  CAST(COALESCE(rank_rel, 0) AS BIGINT) AS rank_rel,
         |  CAST(COALESCE(rank_flu, 0) AS BIGINT) AS rank_flu,
         |  CAST(COALESCE(1000000 // ($RrfK + rank_rel), 0)
         |     + COALESCE(1000000 // ($RrfK + rank_flu), 0) AS BIGINT) AS rrf_e6
         |FROM f ORDER BY rrf_e6 DESC, doc_id LIMIT 20""".stripMargin)
  }

  /** Inverted-index construction (the retrieval-infra build step BM25
    * queries against): for the 10 highest-df terms, the full postings list
    * as an ordered doc-id string. Postings for ONLY the selected terms are
    * built — the 10-term frame broadcasts into the term-doc stream, so the
    * expensive ordered collect runs over a selective slice, not the whole
    * vocabulary; df ranking itself is one distinct + one count shuffle.
    * Postings render as a comma-joined SORTED string (arrays are banned
    * from checked outputs — driver compare limitation, FIXTURES.md). */
  val invertedIndex: Q = new Q {
    val name = "q_inverted_index"
    private val TopTerms = 10
    def run(spark: SparkSession, dir: String): DataFrame = {
      val td = Tables.documents(spark, dir)
        .select(explode(TextOps.tokens(col("text"))).as("term"), col("doc_id"))
        .distinct().cutLineage()
      val top = td.groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term")).limit(TopTerms)
      td.join(top, Seq("term"))
        .groupBy("term", "df")
        .agg(array_join(sort_array(collect_list(col("doc_id"))), ",")
          .as("postings"))
        .orderBy(col("df").desc, col("term"))
    }
    val oracle = Some(
      s"""WITH td AS (
         |  SELECT DISTINCT term, doc_id
         |  FROM (SELECT unnest($SqlToks) AS term, doc_id FROM documents) t),
         |dfreq AS (SELECT term, count(*) AS df FROM td GROUP BY term),
         |top AS (SELECT term, df FROM dfreq ORDER BY df DESC, term LIMIT $TopTerms)
         |SELECT t.term, CAST(t.df AS BIGINT) AS df,
         |  string_agg(CAST(td.doc_id AS VARCHAR), ',' ORDER BY td.doc_id)
         |    AS postings
         |FROM top t JOIN td ON t.term = td.term
         |GROUP BY t.term, t.df ORDER BY df DESC, t.term""".stripMargin)
  }

  /** BPE vocabulary induction (Sennrich et al. 2016) — the first 3 merge
    * rules of byte-pair-encoding tokenizer training, exactly as a trainer
    * computes them: words are reduced to a WORD-COUNT table first (the
    * standard trick — pair statistics are vocab-weighted sums, so every
    * subsequent pass is vocabulary-sized, not corpus-sized), each word
    * becomes a space-separated symbol string with sentinel padding, and
    * each round (a) sums adjacent-pair frequencies weighted by word count,
    * (b) picks the most frequent pair (ties lexicographic — the
    * determinism contract), (c) applies the merge as a string replace of
    * ' a b ' with ' ab ' on the padded representation, ITERATED 4× — a
    * single left-to-right scan consumes the trailing space of each match,
    * which would skip a back-to-back second occurrence ('a b a b'), so
    * the replace is reapplied until no occurrence remains — each pass
    * applies ⌈m/2⌉ of m back-to-back sites, so 5 passes cover every
    * ≤31-site (≤64-symbol) word; at the fixpoint all merge sites are applied,
    * which for distinct-symbol pairs is exactly greedy BPE. Words
    * containing a TRIPLED character are excluded from the vocabulary up
    * front: for runs of one symbol ('aaaaa') the merge ORDER is ambiguous
    * under replace semantics and the fixpoint can bracket differently
    * than per-symbol greedy (the excluded mass is a handful of
    * exclamation-style tokens; a residual caveat remains if ≥2 merges
    * ever rebuild a ≥5-run of one MERGED symbol — not reachable in 3
    * rounds on natural text). Both engines implement replace() with the
    * same scan, so the evolving segmentation is bit-identical; the
    * oracle unrolls the same rounds and passes as CTEs.
    *
    * Scale shape: one corpus-sized shuffle builds the word-count table;
    * each merge round is then an explode+sum and a narrow map over the
    * VOCABULARY — the reason real BPE trainers handle web-scale corpora. */
  private object Bpe {
    val Rounds = 3
    val Passes = 5
    // RE2 (DuckDB) has no backreferences, so "a char appears 3× in a row"
    // is spelled as a literal alternation usable by BOTH engines
    val TripleRe: String = ('a' to 'z').map(c => s"$c$c$c").mkString("|")

    /** The (word, wc, segmentation) vocabulary before any merge. Every
      * round of [[train]] reads it, so callers pass it in settled. */
    def words(spark: SparkSession, dir: String): DataFrame =
      Tables.documents(spark, dir)
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .where(col("word").rlike("^[a-z]+$") && !col("word").rlike(TripleRe))
        .groupBy("word").agg(count(lit(1)).as("wc"))
        .select(col("word"), col("wc"),
          concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("s"))

    /** Train from the settled vocabulary `w0`: the evolving (word, wc,
      * segmentation) vocabulary after every round (it reads `w0`), plus
      * each round's chosen (pair, cnt) — shared by the
      * train-side query (q_bpe_merges) and the apply-side encoder
      * (q_bpe_encode). Each round's winner is ONE row by construction
      * (orderBy+limit 1); collecting it and inlining the pair as a
      * literal replaces the former per-round crossJoin(broadcast) +
      * localCheckpoint pair of jobs with a single TakeOrdered job
      * (OPTIMIZATION_r18 — driver state: one (string, long) per round,
      * bounded). Arithmetic unchanged, so segmentations are
      * bit-identical. */
    def train(w0: DataFrame): (DataFrame, Seq[(String, Long)]) = {
      def bestPair(words: DataFrame): Option[(String, Long)] = words
        .select(col("wc"),
          explode(TextOps.shingles(split(trim(col("s")), " "), 2)).as("pair"))
        .groupBy("pair").agg(sum("wc").as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .collect().headOption
        .map(r => (r.getString(0), r.getAs[Number](1).longValue))
      def applyMerge(words: DataFrame, pair: String): DataFrame = {
        val merged = pair.replace(" ", "")
        words.select(col("word"), col("wc"),
          (1 to Passes).foldLeft(col("s"))((e, _) =>
            org.apache.spark.sql.functions.replace(
              e, lit(s" $pair "), lit(s" $merged "))).as("s"))
      }
      (1 to Rounds).foldLeft((w0, Seq.empty[(String, Long)])) {
        case ((words, acc), _) => bestPair(words) match {
          case Some(best) => (applyMerge(words, best._1), acc :+ best)
          // no pairs this round (empty/degenerate vocabulary): mirror the
          // former crossJoin-with-empty-best — the vocabulary empties and
          // every later round stays empty (EmptyInputSpec)
          case None => (words.where(lit(false)), acc)
        }
      }
    }

    /** The oracle-side CTE chain w0..w{Rounds} (carrying word), b1..b{Rounds}. */
    def sqlCtes(sqlToks: String): String = {
      val replaced = (1 to Passes).foldLeft("w.s")((e, _) =>
        s"replace($e, ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' ')")
      val rounds = (1 to Rounds).map { i =>
        s"""pr$i AS (
           |  SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt FROM (
           |    SELECT wc, unnest(list_transform(range(1, len(a)),
           |      j -> a[j] || ' ' || a[j + 1])) AS pair
           |    FROM (SELECT wc, string_split(trim(s), ' ') AS a FROM w${i - 1}) t) p
           |  GROUP BY pair),
           |b$i AS (SELECT pair, cnt FROM pr$i ORDER BY cnt DESC, pair LIMIT 1),
           |w$i AS (
           |  SELECT w.word, w.wc, $replaced AS s
           |  FROM w${i - 1} w CROSS JOIN b$i b)""".stripMargin
      }.mkString(",\n")
      s"""w0 AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS wc,
         |    ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s
         |  FROM (SELECT unnest($sqlToks) AS word FROM documents) t
         |  WHERE regexp_matches(word, '^[a-z]+$$')
         |    AND NOT regexp_matches(word, '$TripleRe')
         |  GROUP BY word),
         |$rounds""".stripMargin
    }
  }

  val bpeMerges: Q = new Q {
    val name = "q_bpe_merges"
    def run(spark: SparkSession, dir: String): DataFrame = {
      // only the merges are kept, so the vocabulary lives for the training
      val bests = settled(Bpe.words(spark, dir))(w0 => Bpe.train(w0)._2)
      import spark.implicits._
      bests.zipWithIndex.map { case ((pair, cnt), i) =>
        (i + 1L, pair.replace(" ", ""), cnt)
      }.toDF("step", "merged", "cnt").orderBy("step")
    }
    val oracle = Some {
      val out = (1 to Bpe.Rounds).map { i =>
        s"SELECT $i AS step, replace(pair, ' ', '') AS merged, cnt FROM b$i"
      }.mkString("\nUNION ALL\n")
      s"""WITH ${Bpe.sqlCtes(SqlToks)}
         |SELECT CAST(step AS BIGINT) AS step, merged, cnt FROM (
         |$out) m ORDER BY step""".stripMargin
    }
  }

  /** MMR diversified re-ranking (Carbonell & Goldstein 1998): greedily
    * select 5 of the BM25 top-20 maximizing relevance minus redundancy —
    *   mmr(d) = rel_e4(d) − max_{s ∈ selected} sim_e4(d, s)
    * with sim = exact token-set Jaccard ×1e4 by integer division, ties by
    * doc_id, so every greedy step is engine-deterministic; the oracle
    * unrolls the same 5 selections as chained CTEs. Greedy selection is
    * inherently sequential, but each step operates on the CANDIDATE set —
    * k and the candidate pool are deployment constants, so the whole
    * re-rank (20 candidates, ≤380 sim pairs, 5 argmax steps) is
    * driver-scale constant work after the distributed BM25 scorer. */
  val mmrDiversify: Q = new Q {
    val name = "q_mmr_diversify"
    private val Pool = 20
    private val Select = 5
    def run(spark: SparkSession, dir: String): DataFrame = {
      // The candidate pool (Pool = 20 rows) and its pairwise sims (≤ 380
      // rows) are DEPLOYMENT CONSTANTS — "driver-scale constant work
      // after the distributed BM25 scorer". The former distributed greedy
      // loop materialized a localCheckpoint per pick (~30 jobs for 20
      // rows; OPTIMIZATION_r18): collect the two constant-size frames and
      // run the greedy argmax on the driver instead. BM25 scoring and the
      // pairwise-Jaccard computation stay distributed; identical integer
      // arithmetic and tie-breaks, so the output is bit-identical.
      // the pool is settled only for the two collects: the result is built
      // on the driver and reads none of it
      val chosen = settled(bm25Topk.run(spark, dir)
        .orderBy(col("score_e4").desc, col("doc_id")).limit(Pool)
        .select(col("doc_id"), col("score_e4").as("rel"))) { cand =>
        val ct = cand.join(Tables.documents(spark, dir), Seq("doc_id"))
          .select(col("doc_id"),
            sort_array(array_distinct(TextOps.tokens(col("text")))).as("tk"))
        val simRows = ct.alias("x").join(ct.alias("y"),
            col("x.doc_id") =!= col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
            size(array_intersect(col("x.tk"), col("y.tk"))).as("inter"),
            (size(col("x.tk")) + size(col("y.tk"))).as("sz"))
          .select(col("a"), col("b"),
            expr("CAST(inter AS BIGINT) * 10000 div CAST(sz - inter AS BIGINT)")
              .as("sim_e4"))
          // sim_e4 is NULL when both token sets are empty (0 div 0 under
          // non-ANSI SQL); the oracle's COALESCE(max(sim),0) ignores such
          // rows, and the greedy loop's getOrElse(0) does the same once they
          // are dropped here — keeping them would NPE on .longValue
          // (ADVICE r18 low).
          .collect().filter(_.get(2) != null).map(r => (r.getAs[Number](0).longValue,
            r.getAs[Number](1).longValue) -> r.getAs[Number](2).longValue).toMap
        val candRows = cand.collect()
          .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
          .sortBy { case (id, rel) => (-rel, id) }.toVector
        // empty/short pool (EmptyInputSpec): select as many as exist, like
        // the former per-step limit(1)-of-empty frames did
        val picks = scala.collection.mutable.ArrayBuffer(candRows.take(1): _*)
        for (_ <- 2 to Select if picks.size < candRows.size) {
          val selIds = picks.map(_._1).toSet
          val next = candRows.filterNot(c => selIds(c._1))
            .map { case (id, rel) =>
              val maxsim = selIds.map(s => simRows.getOrElse((id, s), 0L)).max
              (id, rel - maxsim)
            }
            .minBy { case (id, mmr) => (-mmr, id) }
          picks += next
        }
        picks.toSeq
      }
      import spark.implicits._
      chosen.zipWithIndex
        .map { case ((id, mmr), i) => (i + 1L, id, mmr) }
        .toDF("sel_rank", "doc_id", "mmr_e4")
        .orderBy("sel_rank")
    }
    val oracle = Some {
      val toks = "regexp_extract_all(lower(text), '\\S+')"
      val steps = (2 to Select).map { t =>
        s"""m$t AS (
           |  SELECT c.doc_id, c.rel - COALESCE(max(s.sim_e4), 0) AS mmr_e4
           |  FROM cand c
           |  LEFT JOIN (SELECT a, sim_e4 FROM sim
           |             WHERE b IN (SELECT doc_id FROM sel${t - 1})) s
           |    ON s.a = c.doc_id
           |  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel${t - 1})
           |  GROUP BY c.doc_id, c.rel),
           |s$t AS (SELECT doc_id, mmr_e4 FROM m$t
           |        ORDER BY mmr_e4 DESC, doc_id LIMIT 1),
           |sel$t AS (SELECT doc_id FROM sel${t - 1}
           |          UNION ALL SELECT doc_id FROM s$t)""".stripMargin
      }.mkString(",\n")
      val out = (1 to Select).map { t =>
        s"SELECT $t AS sel_rank, doc_id, mmr_e4 FROM s$t"
      }.mkString("\nUNION ALL\n")
      s"""WITH cand AS (
         |  SELECT doc_id, score_e4 AS rel
         |  FROM (${bm25Topk.oracle.get}) bm
         |  ORDER BY rel DESC, doc_id LIMIT $Pool),
         |ct AS (
         |  SELECT c.doc_id, list_sort(list_distinct($toks)) AS tk
         |  FROM cand c JOIN documents d ON d.doc_id = c.doc_id),
         |sim AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b,
         |    CAST(len(list_intersect(x.tk, y.tk)) * 10000
         |      // (len(x.tk) + len(y.tk) - len(list_intersect(x.tk, y.tk)))
         |      AS BIGINT) AS sim_e4
         |  FROM ct x JOIN ct y ON x.doc_id <> y.doc_id),
         |s1 AS (SELECT doc_id, rel AS mmr_e4 FROM cand
         |       ORDER BY rel DESC, doc_id LIMIT 1),
         |sel1 AS (SELECT doc_id FROM s1),
         |$steps
         |SELECT CAST(sel_rank AS BIGINT) AS sel_rank, doc_id,
         |  CAST(mmr_e4 AS BIGINT) AS mmr_e4
         |FROM ($out) m ORDER BY sel_rank""".stripMargin
    }
  }

  /** BPE ENCODING with the trained vocabulary — the apply side of
    * tokenizer training (`q_bpe_merges` is the train side): the final
    * per-word segmentation after 3 merge rounds becomes a broadcastable
    * word → symbol-count dictionary; each document's BPE token count is
    * one narrow join of its (filtered) word stream against it, summed per
    * doc, next to the char mass and the e4 chars-per-token compression
    * ratio — the number a training-cost estimate is built on. Scale
    * shape: training passes are vocabulary-sized (see q_bpe_merges);
    * encoding is one broadcast-join pass over the corpus word stream. */
  val bpeEncode: Q = new Q {
    val name = "q_bpe_encode"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val (vocab, _) = Bpe.train(Bpe.words(spark, dir).cutLineage())
      val dict = vocab.select(col("word"),
        size(split(trim(col("s")), " ")).cast("long").as("n_syms"))
      val dw = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
        .where(col("word").rlike("^[a-z]+$") && !col("word").rlike(Bpe.TripleRe))
      // hint kept: the vocabulary is estimated at the documents' size
      dw.join(broadcast(dict), Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("n_syms").as("n_bpe_tokens"),
          sum(length(col("word")).cast("long")).as("n_word_chars"))
        .withColumn("compression_e4",
          expr("n_word_chars * 10000 div n_bpe_tokens"))
        .orderBy("doc_id")
    }
    val oracle = Some {
      s"""WITH ${Bpe.sqlCtes(SqlToks)},
         |dict AS (
         |  SELECT word, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_syms
         |  FROM w${Bpe.Rounds}),
         |dw AS (
         |  SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest($SqlToks) AS word FROM documents) t
         |  WHERE regexp_matches(word, '^[a-z]+$$')
         |    AND NOT regexp_matches(word, '${Bpe.TripleRe}')),
         |j AS (SELECT dw.doc_id, dw.word, dict.n_syms FROM dw
         |      JOIN dict ON dw.word = dict.word)
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(CAST(length(word) AS BIGINT)) AS BIGINT) AS n_word_chars,
         |  CAST(sum(CAST(length(word) AS BIGINT)) * 10000
         |       // sum(n_syms) AS BIGINT) AS compression_e4
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }
  }

  /** Model-based quality filtering — the fastText-style classifier pass of
    * an LLM data pipeline — as hashing-trick linear inference: each token is
    * hashed into one of [[QualityModel.Buckets]] feature buckets, each
    * bucket carries a deterministic integer weight (derived arithmetically
    * from the bucket id — no weight table to broadcast or join), and the
    * document score is the tf-weighted sum. The whole model application is
    * ONE in-row higher-order expression: no shuffle, no UDF, no lookup —
    * whole-stage codegen end to end, which is exactly how classifier
    * inference should run over 100 TB (PlanSpec pins the no-Exchange shape).
    * A real deployment swaps the arithmetic weight for a learned
    * `Map[bucket, weight]` compiled into the same expression. */
  object QualityModel {
    val Buckets = 1024
    /** weight(bucket) ∈ [-1000, 1000], pseudo-random but engine-exact:
      * md5-derived from the bucket id. */
    def weight(bucket: Column): Column =
      conv(substring(md5(concat(lit("w"), bucket.cast("string"))), 1, 15), 16, 10)
        .cast("long") % 2001 - 1000
    def bucket(tok: Column): Column = HashOps.hashP(tok) % Buckets
    def sqlScore(toksExpr: String): String =
      s"""CAST(coalesce(list_aggregate(list_transform($toksExpr,
         |  t -> ${HashOps.sqlHash60(s"'w' || CAST(${sqlHashP("t")} % ${Buckets} AS VARCHAR)")}
         |       % 2001 - 1000), 'sum'), 0) AS BIGINT)""".stripMargin
  }

  val qualityLinearScore: Q = new Q {
    val name = "quality_linear_score"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val toks = TextOps.tokens(col("text"))
      val score = aggregate(
        transform(toks, t => QualityModel.weight(QualityModel.bucket(t))),
        lit(0L), (acc, x) => acc + x)
      Tables.documents(spark, dir, fanned = true)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          score.as("score"))
        .withColumn("keep", (col("score") > 0).cast("int"))
        // persisted before the global sort: the range partitioner's sample
        // pass otherwise re-executes the per-token md5 scoring kernel a
        // second time (OPTIMIZATION_r18 — map-only plan, nothing below the
        // sort is materialized for the sampler to reuse)
        .persist()
        .orderBy("doc_id")
    }
    val oracle = Some(
      s"""SELECT doc_id,
         |  CAST(len($SqlToks) AS BIGINT) AS n_tokens,
         |  ${QualityModel.sqlScore(SqlToks)} AS score,
         |  CAST(${QualityModel.sqlScore(SqlToks)} > 0 AS INT) AS keep
         |FROM documents ORDER BY doc_id""".stripMargin)
  }

  /** Per-document n-gram novelty — the memorization/boilerplate signal of
    * a training-data pipeline: novelty_e4 = share of a doc's trigram
    * POSITIONS whose trigram occurs exactly once in the whole corpus
    * (corpus-unique), e4-quantized by integer division. Boilerplate and
    * near-dup text scores low; genuinely novel text scores high.
    *
    * Scale shape: identical to the bigram-LM pipeline — one shuffle keyed
    * by trigram (corpus counts), one equi-join of positions to counts on
    * the trigram key, one per-doc aggregate. No driver state, fan-out
    * linear in token count. */
  val docNovelty: Q = new Q {
    val name = "doc_novelty"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val toks = Tables.documents(spark, dir, fanned = true)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 3)
      // persisted: referenced as both the count build side and the join
      // probe side — lineage would re-tokenize + re-explode the corpus for
      // the second reference
      val positions = toks
        .select(col("doc_id"), explode(TextOps.shingles(col("toks"), 3)).as("tri"))
        .persist()
      val counts = positions.groupBy("tri").agg(count(lit(1)).as("c"))
      positions.join(counts, Seq("tri"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_trigrams"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_unique"))
        .withColumn("novelty_e4", expr("n_unique * 10000 div n_trigrams"))
        .select("doc_id", "n_trigrams", "n_unique", "novelty_e4")
        .orderBy("doc_id")
    }
    val oracle = Some(
      s"""WITH toks AS (
         |  SELECT doc_id, $SqlToks AS t FROM documents
         |  WHERE len($SqlToks) >= 3),
         |positions AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
         |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS tri
         |  FROM toks),
         |counts AS (SELECT tri, count(*) AS c FROM positions GROUP BY tri)
         |SELECT doc_id, count(*) AS n_trigrams,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
         |    AS novelty_e4
         |FROM positions JOIN counts USING (tri)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** Text normalization — the cleanup stage every ingestion pipeline runs
    * before tokenizing: control characters → space, whitespace runs
    * collapsed to single spaces, ends trimmed. Exported as lengths + an
    * md5 of the cleaned text (the compare-friendly shape; raw cleaned text
    * stays out of the oracle output by convention). Patterns use explicit
    * byte classes (`[\x00-\x1F\x7F]`, `\s+`) that mean the same thing in
    * Java regex and RE2, so both engines clean identically.
    *
    * Scale shape: pure row-local narrow ops — no shuffle except the
    * output order. */
  val docClean: Q = new Q {
    val name = "doc_clean"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val cleaned = trim(regexp_replace(
        regexp_replace(col("text"), "[\\x00-\\x1F\\x7F]", " "), "\\s+", " "))
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_raw"),
          length(cleaned).cast("long").as("n_clean"),
          md5(cleaned).as("clean_md5"),
          when(cleaned === col("text"), 0L).otherwise(1L).as("changed"))
        .orderBy("doc_id")
    }
    val oracle = Some(
      """WITH c AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
        |         '\s+', ' ', 'g')) AS cleaned
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_raw,
        |  CAST(length(cleaned) AS BIGINT) AS n_clean,
        |  md5(cleaned) AS clean_md5,
        |  CAST(CASE WHEN cleaned = text THEN 0 ELSE 1 END AS BIGINT) AS changed
        |FROM c ORDER BY doc_id""".stripMargin)
  }

  /** Term association by lift (the rational-arithmetic face of PMI —
    * lift = P(a,b)/(P(a)P(b)), e6-quantized; log-free so it is
    * oracle-exact): co-occurrence of the corpus's TOP-40
    * document-frequency terms within documents, support ≥ 3 docs.
    *
    * Scale shape: the pair space is bounded by the top-k vocabulary (a
    * deployment constant — C(40,2) possible pairs), the per-doc expansion
    * by C(min(tokens, 40), 2); candidates come from one doc-grain
    * collect_set over the broadcast-filtered postings, the same basket
    * shape as the co-purchase miner. df/totals joins are broadcasts. */
  val qTermLift: Q = new Q {
    val name = "q_term_lift"
    private val TopT = 40
    private val MinCoDf = 3
    def run(spark: SparkSession, dir: String): DataFrame = {
      // persisted: postings feed the df count AND the pair expansion
      val e = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
        .persist()
      val dfq = e.groupBy("term").agg(count(lit(1)).as("df"))
      // top-40 terms and |docs| are DEPLOYMENT CONSTANTS (TopT rows + one
      // scalar): collect once and inline — the former three broadcast(top)
      // subtrees each re-aggregated the postings and built a broadcast per
      // consumer (OPTIMIZATION_r18; driver state bounded by TopT)
      val topRows = dfq.orderBy(col("df").desc, col("term")).limit(TopT)
        .collect().map(r => r.getString(0) -> r.getAs[Number](1).longValue)
      val nDocs = e.select(countDistinct("doc_id")).collect()(0)
        .getAs[Number](0).longValue
      val dfMap = typedLit(topRows.toMap)
      val pe = e.where(col("term").isin(topRows.map(_._1): _*))
      val pairs = pe.groupBy("doc_id").agg(sort_array(collect_set(col("term"))).as("ps"))
        .select(explode(col("ps")).as("ta"), col("ps"))
        .select(col("ta"), explode(expr("filter(ps, t -> t > ta)")).as("tb"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("co_df"))
        .where(col("co_df") >= MinCoDf)
      pairs
        .withColumn("df_a", element_at(dfMap, col("ta")))
        .withColumn("df_b", element_at(dfMap, col("tb")))
        .withColumn("lift_e6",
          expr(s"co_df * ${nDocs}L * 1000000 div (df_a * df_b)"))
        .select(col("ta").as("term_a"), col("tb").as("term_b"),
          col("co_df"), col("df_a"), col("df_b"), col("lift_e6"))
        .orderBy("term_a", "term_b")
    }
    val oracle = Some(
      s"""WITH dt AS (
         |  SELECT doc_id, list_distinct($SqlToks) AS ts FROM documents
         |  WHERE len($SqlToks) > 0),
         |e AS (SELECT doc_id, unnest(ts) AS term FROM dt),
         |dfq AS (SELECT term, count(*) AS df FROM e GROUP BY term),
         |top AS (SELECT term, df FROM dfq ORDER BY df DESC, term LIMIT $TopT),
         |pe AS (SELECT e.doc_id, e.term FROM e JOIN top USING (term)),
         |co AS (
         |  SELECT a.term AS term_a, b.term AS term_b, count(*) AS co_df
         |  FROM pe a JOIN pe b ON a.doc_id = b.doc_id AND a.term < b.term
         |  GROUP BY 1, 2 HAVING count(*) >= $MinCoDf),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM e)
         |SELECT co.term_a, co.term_b, co.co_df,
         |  CAST(da.df AS BIGINT) AS df_a, CAST(db.df AS BIGINT) AS df_b,
         |  CAST(co.co_df * n.n_docs * 1000000 // (da.df * db.df) AS BIGINT) AS lift_e6
         |FROM co
         |  JOIN top da ON co.term_a = da.term
         |  JOIN top db ON co.term_b = db.term
         |  CROSS JOIN n
         |ORDER BY term_a, term_b""".stripMargin)
  }

  /** Language-ID CONFIDENCE margin — the curation-side companion to
    * `lang_id`: besides the argmax language, emit the best and runner-up
    * stopword-hit counts and their difference. A margin of 0 means two
    * languages tied (or nothing matched) — exactly the docs a pipeline
    * routes to a heavier classifier instead of trusting the cheap n-gram
    * vote. Pure in-row integer arithmetic (codegen'd set probes + a
    * 4-element sort), no shuffle before the output ordering. */
  val docLangMargin: Q = new Q {
    val name = "doc_lang_margin"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val toks = TextOps.tokens(col("text"))
      val hits = TextOps.Stopwords.map { case (_, words) =>
        TextOps.stopwordHits(toks, words)
      }
      val sorted = sort_array(array(hits: _*), asc = false)
      Tables.documents(spark, dir)
        .select(col("doc_id"), TextOps.langId(toks).as("pred_lang"),
          sorted.getItem(0).as("hits_best"), sorted.getItem(1).as("hits_second"))
        .withColumn("margin", col("hits_best") - col("hits_second"))
        .withColumn("is_confident", (col("margin") > 0).cast("long"))
        .orderBy("doc_id")
    }
    val oracle = {
      val scores = TextOps.Stopwords.map { case (lang, words) =>
        val l = words.map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter($SqlToks, t -> t IN ($l))) AS BIGINT) AS s_$lang"
      }.mkString(",\n    ")
      val langs = TextOps.Stopwords.map(_._1)
      val lst = langs.map(l => s"s_$l").mkString("[", ", ", "]")
      val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
      Some(
        s"""WITH s AS (
           |  SELECT doc_id,
           |    $scores
           |  FROM documents),
           |g AS (SELECT *, $best AS best,
           |        list_sort($lst, 'DESC') AS srt FROM s)
           |SELECT doc_id,
           |  CASE $cases ELSE 'und' END AS pred_lang,
           |  srt[1] AS hits_best, srt[2] AS hits_second,
           |  srt[1] - srt[2] AS margin,
           |  CAST(CASE WHEN srt[1] - srt[2] > 0 THEN 1 ELSE 0 END AS BIGINT)
           |    AS is_confident
           |FROM g ORDER BY doc_id""".stripMargin)
    }
  }

  /** Cross-source vocabulary overlap — the corpus-composition QA matrix
    * ("are these two crawls actually the same distribution?"): exact
    * Jaccard between each source pair's distinct-term vocabularies.
    * Scale shape: one distinct at (source, term) grain (the only
    * fact-sized pass), then a term-keyed self-join whose fan-out per term
    * is C(#sources-containing-term, 2) ≤ C(|sources|, 2) — bounded by the
    * SOURCE dimension, a deployment constant, never by corpus size; the
    * output is |sources|² rows. Pairs with empty intersection are omitted
    * (they never meet in the term join — defined semantics, mirrored by
    * the oracle's inner join). */
  val vocabOverlap: Q = new Q {
    val name = "q_vocab_overlap"
    def run(spark: SparkSession, dir: String): DataFrame = {
      // persisted: feeds both the per-source sizes and the pair join
      val st = Tables.documents(spark, dir)
        .select(col("source"), explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
        .distinct().persist()
      val sizes = st.groupBy("source").agg(count(lit(1)).as("vocab"))
      val inter = st.select(col("source").as("source_a"), col("term"))
        .join(st.select(col("source").as("source_b"), col("term")), Seq("term"))
        .where(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.select(col("source").as("source_a"), col("vocab").as("vocab_a")), Seq("source_a"))
        .join(sizes.select(col("source").as("source_b"), col("vocab").as("vocab_b")), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("vocab_a"), col("vocab_b"),
          col("inter"),
          expr("inter * 10000 div (vocab_a + vocab_b - inter)").as("jac_e4"))
        .orderBy("source_a", "source_b")
    }
    val oracle = Some(
      s"""WITH st AS (
         |  SELECT DISTINCT source, unnest(list_distinct($SqlToks)) AS term
         |  FROM documents),
         |sz AS (SELECT source, count(*) AS vocab FROM st GROUP BY source),
         |iv AS (
         |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter
         |  FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT iv.source_a, iv.source_b,
         |  CAST(za.vocab AS BIGINT) AS vocab_a, CAST(zb.vocab AS BIGINT) AS vocab_b,
         |  CAST(iv.inter AS BIGINT) AS inter,
         |  CAST(iv.inter * 10000 // (za.vocab + zb.vocab - iv.inter) AS BIGINT) AS jac_e4
         |FROM iv JOIN sz za ON iv.source_a = za.source
         |        JOIN sz zb ON iv.source_b = zb.source
         |ORDER BY source_a, source_b""".stripMargin)
  }

  /** Tokenizer fertility audit — tokens-per-character by (source, lang),
    * for BOTH the whitespace and the BPE-ish pre-tokenizer: the
    * cost-estimation table a training pipeline builds before budgeting
    * compute ("how many tokens does a byte of this source buy?"). One
    * partial-aggregated groupBy; fertility is an exact integer e6 ratio of
    * two sums, so per-doc rounding never accumulates. */
  val tokenFertility: Q = new Q {
    val name = "q_token_fertility"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.documents(spark, dir)
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("ws_tokens"),
          sum(TextOps.bpeTokenCount(col("text")).cast("long")).as("bpe_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .select(col("source"), col("lang"), col("n_docs"),
          col("ws_tokens"), col("bpe_tokens"), col("n_chars"),
          expr("ws_tokens * 1000000 div n_chars").as("ws_fert_e6"),
          expr("bpe_tokens * 1000000 div n_chars").as("bpe_fert_e6"))
        .orderBy("source", "lang")
    val oracle = Some(
      s"""WITH g AS (
         |  SELECT source, lang, count(*) AS n_docs,
         |    sum(len(regexp_extract_all(text, '\\S+'))) AS ws_tokens,
         |    sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS bpe_tokens,
         |    sum(length(text)) AS n_chars
         |  FROM documents GROUP BY source, lang)
         |SELECT source, lang, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(ws_tokens AS BIGINT) AS ws_tokens,
         |  CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
         |  CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST(ws_tokens * 1000000 // n_chars AS BIGINT) AS ws_fert_e6,
         |  CAST(bpe_tokens * 1000000 // n_chars AS BIGINT) AS bpe_fert_e6
         |FROM g ORDER BY source, lang""".stripMargin)
  }

  /** Context-length histogram — document token counts in power-of-two
    * bins per source (the "will it fit the context window?" profile every
    * packing/curriculum stage consults). The bin is the bit length of the
    * token count (floor(log2)+1), an exact integer both engines compute
    * as length(bin(n)) — no float log. Zero-token docs get bin 0. One
    * partial-aggregated groupBy at (source, bin) grain. */
  val lengthHistogram: Q = new Q {
    val name = "q_length_histogram"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.documents(spark, dir)
        .select(col("source"),
          when(TextOps.tokenCount(col("text")) === 0, 0L)
            .otherwise(length(bin(TextOps.tokenCount(col("text")).cast("long"))))
            .cast("long").as("p2_bin"),
          TextOps.tokenCount(col("text")).cast("long").as("n_toks"))
        .groupBy("source", "p2_bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("sum_toks"),
          min("n_toks").as("min_toks"), max("n_toks").as("max_toks"))
        .orderBy("source", "p2_bin")
    val oracle = Some(
      s"""WITH d AS (
         |  SELECT source,
         |    CASE WHEN len(regexp_extract_all(text, '\\S+')) = 0 THEN 0
         |         ELSE length(bin(len(regexp_extract_all(text, '\\S+')))) END AS p2_bin,
         |    len(regexp_extract_all(text, '\\S+')) AS n_toks
         |  FROM documents)
         |SELECT source, CAST(p2_bin AS BIGINT) AS p2_bin, count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS sum_toks,
         |  CAST(min(n_toks) AS BIGINT) AS min_toks,
         |  CAST(max(n_toks) AS BIGINT) AS max_toks
         |FROM d GROUP BY source, p2_bin ORDER BY source, p2_bin""".stripMargin)
  }

  /** χ²-significant term–label association (feature selection with a
    * significance gate, beyond `q_term_lift`'s raw strength): for the
    * top-20 df terms, the 2×2 document-presence table against the
    * English label and the χ² > 3.8415 verdict decided by ONE integer
    * inequality (denominators cleared; both sides exported as
    * DECIMAL(38)/HUGEINT digit strings — they pass BIGINT at sf0.01 and
    * overflow it at sf0.1, the q_ab_test device).
    *
    * Scale shape: one (doc, term)-distinct explode (fact-cardinality
    * pass), top-20 by df via a rank window over the TERM-VOCABULARY
    * frame, a broadcast semi-probe of those 20 terms back over the
    * corpus, 20-row arithmetic after. */
  val qChi2Terms: Q = new Q {
    val name = "q_chi2_terms"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), (col("lang") === "en").cast("long").as("en"),
          col("text"))
      val totals = docs.agg(count(lit(1)).as("n_docs"), sum("en").as("n_en"))
      val docTerm = docs
        .select(col("doc_id"), col("en"),
          explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
      val top = docTerm.groupBy("term")
        .agg(count(lit(1)).as("df"), sum("en").as("a"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("df").desc, col("term"))).cast("long"))
        .where(col("rank") <= 20)
      top.crossJoin(totals)
        .withColumn("b", col("df") - col("a"))
        .withColumn("c", col("n_en") - col("a"))
        .withColumn("d", col("n_docs") - col("n_en") - col("b"))
        .withColumn("det",
          expr("cast(a as decimal(38,0)) * d - cast(b as decimal(38,0)) * c"))
        .select(col("term"), col("rank"), col("a"), col("b"), col("c"), col("d"),
          expr("cast(cast(n_docs as decimal(38,0)) * det * det * 10000 as string)")
            .as("chi2_lhs"),
          expr("cast(38415 * cast(a + b as decimal(38,0)) * (c + d)" +
            " * (a + c) * (b + d) as string)").as("chi2_rhs"),
          expr("cast(cast(n_docs as decimal(38,0)) * det * det * 10000 >" +
            " 38415 * cast(a + b as decimal(38,0)) * (c + d) * (a + c) * (b + d)" +
            " as long)").as("significant"))
        .orderBy("rank")
    }
    val oracle = Some(
      s"""WITH docs AS (
         |  SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS en, text FROM documents),
         |tot AS (SELECT count(*) AS n_docs, sum(en) AS n_en FROM docs),
         |dt AS (
         |  SELECT DISTINCT doc_id, en, unnest($SqlToks) AS term FROM docs),
         |top AS (
         |  SELECT term, count(*) AS df, sum(en) AS a,
         |    row_number() OVER (ORDER BY count(*) DESC, term) AS rank
         |  FROM dt GROUP BY term),
         |t20 AS (SELECT * FROM top WHERE rank <= 20),
         |x AS (
         |  SELECT t.term, t.rank, t.a, t.df - t.a AS b,
         |    o.n_en - t.a AS c, o.n_docs - o.n_en - (t.df - t.a) AS d,
         |    o.n_docs,
         |    CAST(t.a AS HUGEINT) * (o.n_docs - o.n_en - (t.df - t.a))
         |      - CAST(t.df - t.a AS HUGEINT) * (o.n_en - t.a) AS det
         |  FROM t20 t CROSS JOIN tot o)
         |SELECT term, CAST(rank AS BIGINT) AS rank, CAST(a AS BIGINT) AS a,
         |  CAST(b AS BIGINT) AS b, CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
         |  CAST(CAST(n_docs AS HUGEINT) * det * det * 10000 AS VARCHAR) AS chi2_lhs,
         |  CAST(38415 * CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d)
         |       AS VARCHAR) AS chi2_rhs,
         |  CAST(CAST(n_docs AS HUGEINT) * det * det * 10000 >
         |       38415 * CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d)
         |       AS BIGINT) AS significant
         |FROM x ORDER BY rank""".stripMargin)
  }

  /** Vocabulary construction — the token→id dictionary a tokenizer ships:
    * dense CONTIGUOUS ids in (frequency DESC, token ASC) order plus the
    * cumulative-coverage curve (what share of the corpus token mass the
    * first k vocab entries explain — the artifact that picks V).
    *
    * The scale problem is the id assignment: `row_number()` over a global
    * ORDER BY funnels the whole vocabulary through ONE reducer. Here ids
    * come from `rdd.zipWithIndex` over a range-partitioned, in-partition-
    * sorted dictionary — Spark's two-pass prefix COUNT (per-partition
    * sizes job → exclusive offsets in the closure), every partition
    * indexing its slice independently; cumulative token mass rides
    * [[graft.ops.PrefixOps.cumBefore]], the same two-pass scan at vocab
    * grain. Both passes are deterministic: range boundaries may move
    * between runs, the total (n_occ DESC, token) order cannot.
    * The DuckDB oracle states the definition with the window row_number —
    * the parallel assignment is checked against the sequential spec. */
  val qVocabIndex: Q = new Q {
    val name = "q_vocab_index"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import spark.implicits._
      val counts = Tables.documents(spark, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n_occ"))
      val nParts = spark.sessionState.conf.numShufflePartitions
      val ranked = counts
        .repartitionByRange(nParts, col("n_occ").desc, col("token"))
        .sortWithinPartitions(col("n_occ").desc, col("token"))
      val withId = ranked.rdd.zipWithIndex.map { case (r, i) =>
        (i, r.getString(0), r.getLong(1))
      }.toDF("token_id", "token", "n_occ")
      val cum = graft.ops.PrefixOps.cumBefore(
        withId.select(lit("vocab").as("source"), col("token_id").as("doc_id"),
          col("n_occ").as("n_tokens")).as[PackDoc],
        nParts)
        .map { case (d, c) => (d.doc_id, c) }.toDF("token_id", "cum_before")
      val total = counts.agg(sum("n_occ").as("total"))
      withId.join(cum, Seq("token_id"))
        .crossJoin(total)
        .select(col("token_id"), col("token"), col("n_occ"), col("cum_before"),
          expr("(cum_before + n_occ) * 1000000 div total").as("coverage_ppm"))
        .orderBy("token_id")
    }
    val oracle = Some(
      """WITH t AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS token
        |  FROM documents),
        |v AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occ FROM t GROUP BY token),
        |r AS (
        |  SELECT token, n_occ,
        |    CAST(row_number() OVER (ORDER BY n_occ DESC, token) - 1 AS BIGINT)
        |      AS token_id,
        |    CAST(coalesce(sum(n_occ) OVER (ORDER BY n_occ DESC, token
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before
        |  FROM v),
        |tot AS (SELECT CAST(sum(n_occ) AS BIGINT) AS total FROM v)
        |SELECT token_id, token, n_occ, cum_before,
        |  (cum_before + n_occ) * 1000000 // total AS coverage_ppm
        |FROM r CROSS JOIN tot ORDER BY token_id""".stripMargin)
  }

  val all: Seq[Q] = Seq(textStats, langId, tokenCounts, docFingerprint, topTerms,
    textRepetition, piiRedact, docSalientTerm, docChunks, bm25Topk, bigramLm,
    rrfFusion, invertedIndex, bpeMerges, bpeEncode, mmrDiversify,
    qualityLinearScore, docNovelty, docClean, qTermLift, docLangMargin,
    vocabOverlap, tokenFertility, lengthHistogram, qChi2Terms, qVocabIndex)
}
