package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{HashOps, TextOps}

/** Dataset-assembly operators a large-scale training pipeline needs after
  * curation: benchmark decontamination, concat-and-chunk sequence packing,
  * deterministic mixture sampling, and curriculum quality binning.
  * Extension surface beyond the reference (which has none); every query is
  * DuckDB-oracle-checked.
  */
object MixQueries {

  val DecontamK = 5 // shingle width for benchmark-overlap matching
  val PackBudget = 256L // tokens per packed training sequence
  val BenchSource = "src0" // held-out "benchmark" slice of `documents`

  /** Per-language mixture sampling rates (percent kept). */
  val MixRates: Seq[(String, Int)] =
    Seq("en" -> 100, "de" -> 60, "es" -> 40, "fr" -> 20)
  val MixRateDefault = 10

  /** Benchmark decontamination: flag corpus documents sharing any
    * `DecontamK`-gram with the held-out benchmark slice — the standard
    * test-set-overlap filter of a training pipeline.
    *
    * Scale shape: the benchmark's distinct shingle-hash set is tiny
    * relative to the corpus (benchmarks are small by construction), so it
    * is broadcast and the probe is a map-side hash join over the exploded
    * corpus shingles — no shuffle of corpus-sized data, no O(n²) pairing.
    */
  val decontaminate: Q = new Q {
    val name = "decontaminate"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          TextOps.shingleHashes(col("text"), DecontamK).as("hs"))
      val bench = docs.where(col("source") === BenchSource)
        .select(explode(col("hs")).as("h")).distinct()
      val corpus = docs.where(col("source") =!= BenchSource)
      val hits = corpus.select(col("doc_id"), explode(col("hs")).as("h"))
        // hint kept: the benchmark's n-grams, estimated at the documents' size
        .join(broadcast(bench), Seq("h"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
      corpus.select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
          (coalesce(col("n_contaminated"), lit(0L)) > 0).cast("int").as("is_contaminated"))
        .orderBy("doc_id")
    }
    val oracle = Some {
      val toks = "regexp_extract_all(lower(text), '\\S+')"
      s"""WITH sh AS (
         |  SELECT doc_id, source,
         |    list_distinct(list_transform(
         |      list_transform(range(1, greatest(len($toks) - ${DecontamK - 1}, 0) + 1),
         |        i -> array_to_string(list_slice($toks, i, i + ${DecontamK - 1}), ' ')),
         |      s -> ${HashOps.sqlHashP("s")})) AS hs
         |  FROM documents),
         |bench AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE source = '$BenchSource'),
         |e AS (SELECT doc_id, unnest(hs) AS h FROM sh WHERE source <> '$BenchSource'),
         |hit AS (SELECT doc_id, count(*) AS c FROM e JOIN bench USING (h) GROUP BY doc_id)
         |SELECT s.doc_id, CAST(coalesce(hit.c, 0) AS BIGINT) AS n_contaminated,
         |  CAST(coalesce(hit.c, 0) > 0 AS INT) AS is_contaminated
         |FROM sh s LEFT JOIN hit ON s.doc_id = hit.doc_id
         |WHERE s.source <> '$BenchSource'
         |ORDER BY s.doc_id""".stripMargin
    }
  }

  /** Concat-and-chunk sequence packing (GPT-style): within each source,
    * documents are concatenated in doc_id order and cut into fixed
    * `PackBudget`-token training sequences; a document may span sequences.
    * Emits each doc's token offset and its first/last sequence index.
    *
    * Scale shape: the running offset is a window partitioned BY SOURCE —
    * each shard packs independently (exactly how sharded training data is
    * laid out), so no global single-partition sort ever exists.
    */
  val packSequences: Q = new Q {
    val name = "pack_sequences"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          TextOps.tokenCount(col("text")).cast("long").as("n_toks"))
        .where(col("n_toks") > 0)
        .withColumn("tok_start", coalesce(sum(col("n_toks")).over(w), lit(0L)))
        .withColumn("seq_first", (col("tok_start") / PackBudget).cast("long"))
        .withColumn("seq_last",
          ((col("tok_start") + col("n_toks") - 1) / PackBudget).cast("long"))
        .select(col("doc_id"), col("source"), col("n_toks"), col("tok_start"),
          col("seq_first"), col("seq_last"),
          (col("seq_last") - col("seq_first") + 1).as("n_seqs"))
        .orderBy("doc_id")
    }
    val oracle = Some(
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_toks
         |  FROM documents
         |  WHERE len(regexp_extract_all(text, '\\S+')) > 0),
         |o AS (
         |  SELECT doc_id, source, n_toks,
         |    CAST(coalesce(sum(n_toks) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
         |  FROM t)
         |SELECT doc_id, source, n_toks, tok_start,
         |  tok_start // $PackBudget AS seq_first,
         |  (tok_start + n_toks - 1) // $PackBudget AS seq_last,
         |  (tok_start + n_toks - 1) // $PackBudget - tok_start // $PackBudget + 1 AS n_seqs
         |FROM o ORDER BY doc_id""".stripMargin)
  }

  /** Deterministic mixture sampling: per-language keep rates applied via a
    * content-derived hash bucket (hash60(doc_id) mod 100 < rate), with the
    * inverse-rate weight exported for unbiased downstream estimates.
    * Deterministic ⇒ reproducible dataset builds and oracle-checkable —
    * no rand(), no seed drift across engines.
    *
    * Scale shape: a pure row-local filter — no shuffle at all; the output
    * keeps the pipeline streaming-friendly at any corpus size.
    */
  val mixSample: Q = new Q {
    val name = "mix_sample"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val bucket = pmod(HashOps.hash60(col("doc_id").cast("string")), lit(100L))
      val rate = MixRates.foldRight(lit(MixRateDefault)) { case ((lang, r), rest) =>
        when(col("lang") === lang, lit(r)).otherwise(rest)
      }
      Tables.documents(spark, dir)
        .withColumn("bucket", bucket)
        .withColumn("rate_pct", rate.cast("long"))
        .where(col("bucket") < col("rate_pct"))
        .select(col("doc_id"), col("lang"), col("bucket"), col("rate_pct"),
          (lit(10000L) / col("rate_pct")).cast("long").as("weight_e2"))
        .orderBy("doc_id")
    }
    val oracle = Some {
      val cases = MixRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
        .mkString(" ")
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    ${HashOps.sqlHash60("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         |    CAST(CASE $cases ELSE $MixRateDefault END AS BIGINT) AS rate_pct
         |  FROM documents)
         |SELECT doc_id, lang, bucket, rate_pct,
         |  10000 // rate_pct AS weight_e2
         |FROM t WHERE bucket < rate_pct ORDER BY doc_id""".stripMargin
    }
  }

  /** Curriculum quality binning: quartile (ntile) of the composite quality
    * score within each source — the bucketing step of quality-ordered
    * (curriculum) training schedules. ntile is per-source, so the window
    * never concentrates more than one shard on an executor. */
  val qualityCurriculum: Q = new Q {
    val name = "quality_curriculum"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality_e4").asc, col("doc_id").asc)
      Tables.documents(spark, dir)
        .where(TextOps.tokenCount(col("text")) > 0)
        .select(col("doc_id"), col("source"),
          CurationQueries.qualityE4(col("text")).as("quality_e4"))
        .withColumn("q_bin", ntile(4).over(w).cast("long"))
        .orderBy("doc_id")
    }
    val oracle = Some(
      s"""WITH ${CurationQueries.SqlQuality},
         |t AS (
         |  SELECT d.doc_id, d.source, q.quality_e4
         |  FROM documents d JOIN q ON d.doc_id = q.doc_id)
         |SELECT doc_id, source, quality_e4,
         |  CAST(ntile(4) OVER (
         |    PARTITION BY source ORDER BY quality_e4 ASC, doc_id ASC) AS BIGINT) AS q_bin
         |FROM t ORDER BY doc_id""".stripMargin)
  }

  /** Deterministic stratified train/val/test split (80/10/10 by hash
    * bucket): assignment is a pure function of doc_id — stable under
    * re-runs, repartitioning, and incremental appends (the properties a
    * training-data split must have; a random() split has none of them).
    * The salt (":split") decorrelates the split buckets from mix_sample's
    * sampling buckets so sampling can't bias a split. Emitted per
    * (source, split) with doc counts, char mass, and a membership checksum
    * (sum of per-doc hashes mod 1e9) that proves WHICH docs landed where,
    * not just how many. Pure map + one tiny aggregate — no shuffle wider
    * than |sources|×3 rows at any scale. */
  val corpusSplit: Q = new Q {
    val name = "corpus_split"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val bucket = pmod(
        HashOps.hash60(concat(col("doc_id").cast("string"), lit(":split"))), lit(100L))
      Tables.documents(spark, dir)
        .withColumn("bucket", bucket)
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("sum_chars"),
          sum(pmod(HashOps.hash60(col("doc_id").cast("string")), lit(1000000000L)))
            .as("member_checksum"))
        .orderBy("source", "split")
    }
    val oracle = Some(
      s"""WITH t AS (
         |  SELECT source, n_chars, doc_id,
         |    ${HashOps.sqlHash60("concat(CAST(doc_id AS VARCHAR), ':split')")} % 100 AS bucket
         |  FROM documents),
         |s AS (
         |  SELECT source, n_chars, doc_id,
         |    CASE WHEN bucket < 80 THEN 'train'
         |         WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM t)
         |SELECT source, split, count(*) AS n_docs,
         |  CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars,
         |  CAST(sum(${HashOps.sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000000000) AS BIGINT)
         |    AS member_checksum
         |FROM s GROUP BY source, split ORDER BY source, split""".stripMargin)
  }

  /** Length-weighted deterministic sampling (importance sampling for data
    * mixing): doc i is kept iff hash(doc_id) mod 1000 < min(n_chars, 1000),
    * so inclusion probability is proportional to document length — the
    * standard size-weighted corpus thinning — yet membership is a PURE
    * FUNCTION of doc_id (stable under re-runs, repartitioning, appends;
    * same salted-hash contract as `corpus_split`). Per-source output pairs
    * the realized sample against its expected mass (Σ weight / 1000) so
    * the estimator quality is part of the checked result. Embarrassingly
    * parallel: one narrow filter, one groupBy — no sort, no global state. */
  val weightedSample: Q = new Q {
    val name = "q_weighted_sample"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val docs = Tables.documents(spark, dir)
        .withColumn("w", least(col("n_chars").cast("long"), lit(1000L)))
        .withColumn("draw", pmod(
          HashOps.hash60(concat(col("doc_id").cast("string"), lit(":wsample"))),
          lit(1000L)))
      docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("w").as("sum_weight"),
          sum(when(col("draw") < col("w"), 1L).otherwise(0L)).as("n_sampled"),
          sum(when(col("draw") < col("w"), col("n_chars").cast("long"))
            .otherwise(0L)).as("sampled_chars"),
          sum(when(col("draw") < col("w"),
              pmod(HashOps.hash60(col("doc_id").cast("string")), lit(1000000000L)))
            .otherwise(0L)).as("member_checksum"))
        .orderBy("source")
    }
    val oracle = Some(
      s"""WITH t AS (
         |  SELECT source, doc_id, n_chars,
         |    least(CAST(n_chars AS BIGINT), 1000) AS w,
         |    ${HashOps.sqlHash60("concat(CAST(doc_id AS VARCHAR), ':wsample')")} % 1000
         |      AS draw
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(w) AS BIGINT) AS sum_weight,
         |  CAST(sum(CASE WHEN draw < w THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |  CAST(sum(CASE WHEN draw < w THEN CAST(n_chars AS BIGINT) ELSE 0 END)
         |    AS BIGINT) AS sampled_chars,
         |  CAST(sum(CASE WHEN draw < w
         |    THEN ${HashOps.sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000000000
         |    ELSE 0 END) AS BIGINT) AS member_checksum
         |FROM t GROUP BY source ORDER BY source""".stripMargin)
  }

  val QuotaPerSource = 30 // per-domain document cap

  /** Per-domain quota sampling — cap every source at [[QuotaPerSource]]
    * documents so overrepresented domains can't dominate the mixture (the
    * CommonCrawl-style domain-balancing step). Selection is a PURE FUNCTION
    * of doc_id (salted-hash rank), so membership is stable under re-runs
    * and appends, like `corpus_split`/`q_weighted_sample`.
    *
    * Scale shape: the naive formulation is a window row_number over every
    * source partition — a full shuffle + per-partition SORT of the corpus.
    * This uses the BoundedTopK aggregate instead: O(k) map-side state per
    * source, partial aggregation before the shuffle, so the exchanged data
    * is (sources × k), not the corpus. A skewed giant domain costs its scan
    * only. */
  val domainQuota: Q = new Q {
    val name = "q_domain_quota"
    def run(spark: SparkSession, dir: String): DataFrame = {
      // ord DESC in BoundedTopK ≡ hash ASC via (P - hash); ties → id ASC
      val ord = lit(HashOps.P) -
        HashOps.hashP(concat(lit("quota:"), col("doc_id").cast("string")))
      Tables.documents(spark, dir)
        .groupBy("source")
        .agg(graft.expressions.F.boundedTopK(ord, col("doc_id"), QuotaPerSource).as("top"))
        .select(col("source"), posexplode(col("top")))
        .select(col("source"), col("col.id").as("doc_id"),
          (col("pos") + 1).cast("int").as("rnk"))
        .orderBy("source", "rnk")
    }
    val oracle = Some(
      s"""WITH h AS (
         |  SELECT source, doc_id,
         |    ${HashOps.sqlHashP("concat('quota:', CAST(doc_id AS VARCHAR))")} AS hv
         |  FROM documents),
         |r AS (
         |  SELECT source, doc_id,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY hv, doc_id)
         |      AS INT) AS rnk
         |  FROM h)
         |SELECT source, doc_id, rnk FROM r WHERE rnk <= $QuotaPerSource
         |ORDER BY source, rnk""".stripMargin)
  }

  /** Span-level decontamination: for each contaminated corpus document,
    * the LONGEST contiguous run of benchmark-matching `DecontamK`-grams —
    * the evidence a pipeline needs to choose between dropping a document
    * and excising a span (the binary `decontaminate` flag can't
    * distinguish one stray phrase from a wholesale benchmark copy).
    * A run of R consecutive matched grams = R+K−1 verbatim tokens that all
    * occur in the benchmark slice (the standard contiguous-match
    * approximation of longest contaminated substring).
    *
    * Scale shape: benchmark gram set broadcast (benchmarks are small by
    * construction); corpus side is the positional-gram kernel + a map-side
    * hash semi-join; the islands window partitions BY DOCUMENT, so no
    * global sort and per-partition state is one document's matches. */
  val decontaminateSpan: Q = new Q {
    val name = "decontaminate_span"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val gs = graft.expressions.F.shingleHashSeq(TextOps.tokens(col("text")), DecontamK)
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), gs.as("gs"))
      val bench = docs.where(col("source") === BenchSource)
        .select(explode(col("gs")).as("h")).distinct()
      val matched = docs.where(col("source") =!= BenchSource)
        .select(col("doc_id"), posexplode(col("gs")).as(Seq("pos0", "h")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("h"))
        // hint kept: the benchmark's n-grams, estimated at the documents' size
        .join(broadcast(bench), Seq("h"))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val runs = matched
        .withColumn("island", col("pos") - row_number().over(w))
        .groupBy("doc_id", "island")
        .agg(count(lit(1)).as("run_grams"), min("pos").as("s"))
      runs.groupBy("doc_id")
        .agg(sum("run_grams").cast("long").as("matched_grams"),
          max("run_grams").as("max_run"),
          max(struct(col("run_grams").as("a"), (col("s") * -1).as("b"))).as("best"))
        .select(col("doc_id"), col("matched_grams"),
          (col("max_run") + (DecontamK - 1)).as("span_tokens"),
          (col("best.b") * -1).as("span_start"))
        .orderBy("doc_id")
    }
    // best-span tie-break: longest run, then smallest start (max of
    // (run, -start) — identical lexicographic rule in the SQL struct)
    val oracle = Some {
      val toks = "regexp_extract_all(lower(text), '\\S+')"
      s"""WITH t AS (SELECT doc_id, source, $toks AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, source,
         |    unnest(range(1, greatest(len(toks) - ${DecontamK - 1}, 0) + 1)) AS pos,
         |    unnest(list_transform(range(1, greatest(len(toks) - ${DecontamK - 1}, 0) + 1),
         |      i -> ${HashOps.sqlHashP(s"array_to_string(list_slice(toks, i, i + ${DecontamK - 1}), ' ')")})) AS h
         |  FROM t),
         |bench AS (SELECT DISTINCT h FROM g WHERE source = '$BenchSource'),
         |m AS (SELECT g.doc_id, g.pos FROM g JOIN bench USING (h)
         |      WHERE g.source <> '$BenchSource'),
         |runs AS (
         |  SELECT doc_id,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island,
         |    pos
         |  FROM m),
         |agg AS (
         |  SELECT doc_id, island, count(*) AS run_grams, min(pos) AS s
         |  FROM runs GROUP BY doc_id, island)
         |SELECT doc_id,
         |  CAST(sum(run_grams) AS BIGINT) AS matched_grams,
         |  max(run_grams) + ${DecontamK - 1} AS span_tokens,
         |  -(max(struct_pack(a := run_grams, b := -s)).b) AS span_start
         |FROM agg GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }
  }

  /** Temperature-weighted mixture rates (the multilingual-training
    * upsampling rule, p_i ∝ c_i^(1/T), at T = 1/2 so the exponent is the
    * integer 2 and the whole computation stays in exact BIGINT — no pow(),
    * no float): rate_e6_i = c_i² · 1e6 div Σ c², and target_n_i is the
    * budgeted document count for source i under the corpus-size budget.
    * T < 1 sharpens toward big sources; the integer-exponent family
    * (T = 1, 1/2, 1/3 …) is the oracle-checkable slice of the rule.
    *
    * Headroom: c_i² needs c_i < 3e9 per source per computation shard —
    * beyond that, pre-scale counts (divide by a power of ten) before
    * squaring; the rates are scale-invariant.
    *
    * Scale shape: one count aggregate at source grain (tiny), all ratio
    * arithmetic over the source-grain frame. The fact table is scanned
    * once. */
  val mixTemperature: Q = new Q {
    val name = "mix_temperature"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val counts = Tables.documents(spark, dir)
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("w", col("n_docs") * col("n_docs"))
      val totals = counts.agg(
        sum("w").as("sum_w"), sum("n_docs").as("n_total"))
      counts.crossJoin(totals)
        .withColumn("rate_e6", expr("w * 1000000 div sum_w"))
        .withColumn("target_n", expr("n_total * rate_e6 div 1000000"))
        .select("source", "n_docs", "rate_e6", "target_n")
        .orderBy("source")
    }
    val oracle = Some(
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs, count(*) * count(*) AS w
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS sum_w,
        |             CAST(sum(n_docs) AS BIGINT) AS n_total FROM c)
        |SELECT c.source, c.n_docs,
        |  CAST(c.w * 1000000 // t.sum_w AS BIGINT) AS rate_e6,
        |  CAST(t.n_total * (c.w * 1000000 // t.sum_w) // 1000000 AS BIGINT) AS target_n
        |FROM c CROSS JOIN t
        |ORDER BY source""".stripMargin)
  }

  /** EXACT stratified k-fold assignment — the cross-validation companion
    * to `corpus_split`: hash-bucket splits only approximate class balance,
    * but a stratified fold must hold it exactly (per label, fold sizes
    * differ by at most 1). fold(v) = row_number within the label, ordered
    * by a salted content hash (deterministic shuffle), mod k. One window
    * per label partition — the window key is the stratum, so the sort is
    * per-label, never corpus-global. Membership checksums value-check the
    * actual assignment, not just the counts. */
  val stratifiedFolds: Q = new Q {
    val name = "q_stratified_folds"
    val Folds = 5
    def run(spark: SparkSession, dir: String): DataFrame = {
      val h = HashOps.hash60(concat(col("vec_id").cast("string"), lit(":fold")))
      val w = Window.partitionBy("label").orderBy(col("h"), col("vec_id"))
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"), h.as("h"))
        .withColumn("fold", (row_number().over(w) - 1) % Folds)
        .groupBy("fold", "label")
        .agg(count(lit(1)).as("n"),
          sum(pmod(HashOps.hash60(col("vec_id").cast("string")), lit(1000000000L)))
            .as("member_checksum"))
        .orderBy("fold", "label")
    }
    val oracle = Some(
      s"""WITH t AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    ${HashOps.sqlHash60("concat(CAST(vec_id AS VARCHAR), ':fold')")} AS h
         |  FROM embeddings),
         |f AS (
         |  SELECT vec_id, label,
         |    (row_number() OVER (PARTITION BY label ORDER BY h, vec_id) - 1) % $Folds
         |      AS fold
         |  FROM t)
         |SELECT fold, label, count(*) AS n,
         |  CAST(sum(${HashOps.sqlHash60("CAST(vec_id AS VARCHAR)")} % 1000000000)
         |    AS BIGINT) AS member_checksum
         |FROM f GROUP BY fold, label ORDER BY fold, label""".stripMargin)
  }

  /** Webdataset-style SHARD MANIFEST — the last step of a training-data
    * pipeline: assign documents to fixed-token-budget shard files in a
    * deterministic shuffled order, so any worker can reproduce shard
    * boundaries without coordination. Distinct from `pack_sequences`
    * (which packs token windows WITHIN rows) and `q_compaction_plan`
    * (parquet byte bins): this plans the doc→shard-file mapping by token
    * budget. A doc belongs to the shard its cumulative START offset falls
    * in (offset div budget) — docs are never split. Sharding is
    * per-source, so the cumulative window partitions by source — no
    * corpus-global sort. Budget = 64 BPE-ish tokens —
    * sized to the SF-scaled fixture so shard boundaries actually occur at
    * test scale; a production run would use e.g. 100M with identical
    * mechanics. */
  val shardManifest: Q = new Q {
    val name = "q_shard_manifest"
    val Budget = 64L
    def run(spark: SparkSession, dir: String): DataFrame = {
      val h = HashOps.hash60(concat(col("doc_id").cast("string"), lit(":shard")))
      val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("toks"), h.as("h"))
        .withColumn("start_off", sum("toks").over(w) - col("toks"))
        .withColumn("shard_id", expr(s"start_off div $Budget"))
        .groupBy("source", "shard_id")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"),
          sum(pmod(HashOps.hash60(col("doc_id").cast("string")), lit(1000000000L)))
            .as("member_checksum"))
        .orderBy("source", "shard_id")
    }
    val oracle = Some(
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(text,
         |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS toks,
         |    ${HashOps.sqlHash60("concat(CAST(doc_id AS VARCHAR), ':shard')")} AS h
         |  FROM documents),
         |o AS (
         |  SELECT doc_id, source, toks,
         |    sum(toks) OVER (PARTITION BY source ORDER BY h, doc_id) - toks
         |      AS start_off
         |  FROM t)
         |SELECT source, CAST(start_off // $Budget AS BIGINT) AS shard_id,
         |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS tokens,
         |  CAST(sum(${HashOps.sqlHash60("CAST(doc_id AS VARCHAR)")} % 1000000000)
         |    AS BIGINT) AS member_checksum
         |FROM o GROUP BY source, start_off // $Budget
         |ORDER BY source, shard_id""".stripMargin)
  }

  val all: Seq[Q] = Seq(decontaminate, packSequences, mixSample, qualityCurriculum,
    corpusSplit, weightedSample, domainQuota, decontaminateSpan, mixTemperature,
    stratifiedFolds, shardManifest)
}
