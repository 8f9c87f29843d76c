package graft.queries

import graft.ops.IvfIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints._
import graft.Tables
import graft.ops.VectorOps
import DedupQueries.RecallSampleTarget

/** Similarity-search extension queries over `embeddings` (array<float>,
  * 64-dim): brute-force cosine top-k (exact baseline), random-hyperplane
  * LSH bucketing (the scale path), and cosine near-dup pairs. Double
  * arithmetic uses a fixed sequential fold order in both engines, so
  * similarities are bit-identical and oracle-checkable.
  */
object VectorQueries {

  val Dim = 64
  val TopK = 5
  val QueryStride = 50 // vec_id % stride == 0 → query set
  /** Caps that make the query batch and the IVF centroid set FIXED
    * workload/index parameters instead of corpus fractions. Without them
    * a 100× fact replication showed ann_ivf_topk at 155× (queries AND
    * centroids both grew with the facts, so assign-cost ∝ N·nlist ∝ N²);
    * with id-bounded sets the broadcast sides stay constant as facts
    * accrete and every ANN stage is linear in corpus size. Both caps are
    * above every sf0.01 id, so the correctness-gate outputs are
    * unchanged. At a real 100 TB deployment these correspond to the
    * external query batch and the trained index's nlist (see
    * kmeans_clusters for centroid training). */
  val QueryCap = 1000L   // ≤20 query vectors
  val IvfCentCap = IvfIndex.CentCap // ≤32 IVF centroids (the stride draw's cap)
  val NearDupCos = 0.4 // testdata has no planted vector dups; 0.4 yields pairs
  val NumPlanes = 8
  val HybridCandK = 50 // per-arm candidate depth for hybrid fusion
  val HybridRrfK = 60  // standard RRF dampening constant

  /** DuckDB: products of two 64-dim float lists as doubles, 1-based. */
  private def sqlProducts(a: String, b: String): String =
    s"list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))"
  private def sqlSeqSum(xs: String): String =
    s"list_reduce(list_prepend(0.0, $xs), (x, y) -> x + y)"
  private def sqlDot(a: String, b: String): String = sqlSeqSum(sqlProducts(a, b))
  private def sqlNorm(a: String): String = s"sqrt(${sqlDot(a, a)})"

  /** Brute-force exact cosine top-k for a strided query set against the
    * whole corpus. Queries are broadcast; candidates stream map-side. */
  val annBruteTopk: Q = new Q {
    val name = "ann_brute_topk"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val emb = Tables.embeddings(spark, dir)
      val queries = emb.where(col("vec_id") % QueryStride === 0 && col("vec_id") < QueryCap)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val cands = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      VectorOps.bruteForceTopK(queries, cands, TopK)
        .select(col("q_id"), col("c_id"), col("rank").cast("long").as("rank"),
          round(col("cosine_sim") * 1000000).cast("long").as("cos_e6"))
        .orderBy("q_id", "rank")
    }
    val oracle = Some(
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
         |  WHERE vec_id % $QueryStride = 0 AND vec_id < $QueryCap),
         |c AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings),
         |s AS (
         |  SELECT q_id, c_id,
         |    ${sqlDot("q_vec", "c_vec")} / (${sqlNorm("q_vec")} * ${sqlNorm("c_vec")}) AS cosine_sim
         |  FROM c CROSS JOIN q WHERE q_id != c_id),
         |r AS (
         |  SELECT q_id, c_id, cosine_sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, c_id) AS rank
         |  FROM s)
         |SELECT q_id, c_id, CAST(rank AS BIGINT) AS rank,
         |       CAST(round(cosine_sim * 1000000) AS BIGINT) AS cos_e6
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin)
  }

  /** Random-hyperplane LSH bucket assignment — the in-row, shuffle-free
    * primitive that replaces the cross join at scale. */
  val annLshBuckets: Q = new Q {
    val name = "ann_lsh_buckets"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          VectorOps.lshBucket(col("embedding"), NumPlanes).as("bucket"))
        .orderBy("vec_id")
    val oracle = {
      val planeDot = sqlSeqSum(
        s"list_transform(range(1, ${Dim + 1}), i -> " +
          s"((((j*73856093 + i*19349663) % 2001) - 1000) / 1000.0) * CAST(embedding[i] AS DOUBLE))")
      Some(
        s"""WITH b AS (
           |  SELECT vec_id, j,
           |    CASE WHEN $planeDot >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS bit
           |  FROM embeddings CROSS JOIN range($NumPlanes) r(j)),
           |k AS (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket FROM b GROUP BY vec_id)
           |SELECT k.vec_id, CAST(e.label AS BIGINT) AS label, k.bucket
           |FROM k JOIN embeddings e ON k.vec_id = e.vec_id
           |ORDER BY k.vec_id""".stripMargin)
    }
  }

  /** LSH-bucketed approximate top-k: candidates restricted to the query's
    * bucket (equi-join on bucket — the 100 TB plan shape). Recall < 1 by
    * design; the oracle mirrors the same algorithm exactly. */
  val annLshTopk: Q = new Q {
    val name = "ann_lsh_topk"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val withB = Tables.embeddings(spark, dir)
        .withColumn("bucket", VectorOps.lshBucket(col("embedding"), NumPlanes))
      val queries = withB.where(col("vec_id") % QueryStride === 0 && col("vec_id") < QueryCap)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"), col("bucket"))
      val cands = withB
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"), col("bucket"))
      // hint kept: the capped queries are estimated at the corpus's size;
      // without it a SortMergeJoin once that passes the threshold
      val joined = cands.join(broadcast(queries), Seq("bucket"))
        .where(col("q_id") =!= col("c_id"))
        .withColumn("cosine_sim", VectorOps.cosine(col("q_vec"), col("c_vec")))
      val w = Window.partitionBy("q_id").orderBy(col("cosine_sim").desc, col("c_id").asc)
      joined.withColumn("rank", row_number().over(w)).where(col("rank") <= TopK)
        .select(col("q_id"), col("c_id"), col("rank").cast("long").as("rank"),
          round(col("cosine_sim") * 1000000).cast("long").as("cos_e6"))
        .orderBy("q_id", "rank")
    }
    val oracle = {
      val planeDot = sqlSeqSum(
        s"list_transform(range(1, ${Dim + 1}), i -> " +
          s"((((j*73856093 + i*19349663) % 2001) - 1000) / 1000.0) * CAST(embedding[i] AS DOUBLE))")
      Some(
        s"""WITH b AS (
           |  SELECT vec_id, embedding, j,
           |    CASE WHEN $planeDot >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS bit
           |  FROM embeddings CROSS JOIN range($NumPlanes) r(j)),
           |k AS (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket FROM b GROUP BY vec_id),
           |wb AS (SELECT e.vec_id, e.embedding, k.bucket
           |       FROM embeddings e JOIN k ON e.vec_id = k.vec_id),
           |q AS (SELECT vec_id AS q_id, embedding AS q_vec, bucket FROM wb
           |      WHERE vec_id % $QueryStride = 0 AND vec_id < $QueryCap),
           |c AS (SELECT vec_id AS c_id, embedding AS c_vec, bucket FROM wb),
           |s AS (
           |  SELECT q_id, c_id,
           |    ${sqlDot("q_vec", "c_vec")} / (${sqlNorm("q_vec")} * ${sqlNorm("c_vec")}) AS cosine_sim
           |  FROM c JOIN q USING (bucket) WHERE q_id != c_id),
           |r AS (
           |  SELECT q_id, c_id, cosine_sim,
           |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, c_id) AS rank
           |  FROM s)
           |SELECT q_id, c_id, CAST(rank AS BIGINT) AS rank,
           |       CAST(round(cosine_sim * 1000000) AS BIGINT) AS cos_e6
           |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin)
    }
  }

  /** Embedding near-duplicate pairs: brute-force all-pairs cosine ≥
    * threshold at test scale (the LSH bucket variant above is the scale
    * path; norms precomputed per side so the pair stage is one fold). */
  val dedupEmbedding: Q = new Q {
    val name = "dedup_embedding"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val emb = Tables.embeddings(spark, dir, fanned = true)
        .withColumn("nrm", VectorOps.norm(col("embedding")))
      val l = emb.select(col("vec_id").as("id_l"), col("embedding").as("v_l"),
        col("nrm").as("n_l"))
      val r = emb.select(col("vec_id").as("id_r"), col("embedding").as("v_r"),
        col("nrm").as("n_r"))
      l.crossJoin(r).where(col("id_l") < col("id_r"))
        .withColumn("cosine_sim",
          VectorOps.dot(col("v_l"), col("v_r")) / (col("n_l") * col("n_r")))
        .where(col("cosine_sim") >= NearDupCos)
        .select(col("id_l"), col("id_r"),
          round(col("cosine_sim") * 1000000).cast("long").as("cos_e6"))
        .orderBy("id_l", "id_r")
    }
    val oracle = Some(
      s"""WITH e AS (SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings),
         |p AS (
         |  SELECT a.vec_id AS id_l, b.vec_id AS id_r,
         |    ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine_sim
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |SELECT id_l, id_r, CAST(round(cosine_sim * 1000000) AS BIGINT) AS cos_e6
         |FROM p WHERE cosine_sim >= $NearDupCos ORDER BY id_l, id_r""".stripMargin)
  }

  /** Banded-LSH config for the near-dup PAIR path: 32 hyperplane sign
    * bits split into 8 bands of 4 bits. A pair is a candidate iff it
    * agrees on ALL 4 bits of at least one band — the classic
    * MinHash-banding recall curve applied to random-hyperplane sketches.
    * At the θ = 0.4 boundary (collision prob per bit ≈ 0.63) per-band
    * agreement is ≈ 0.16, so 8 bands give ≈ 75% recall at the boundary
    * and → 1 rapidly above it; the recall gate below MEASURES the
    * realized rate instead of trusting the formula. */
  val DedupLshPlanes = 32
  val DedupLshBands = 8
  val DedupLshBandBits = 4

  /** SQL fragment: per-vector 32-plane signature CTEs (`sig32`) + banded
    * key CTE (`bd`) — mirrors `lshBandedKeys` exactly. */
  private val SqlLshBandCtes: String = {
    val planeDot = sqlSeqSum(
      s"list_transform(range(1, ${Dim + 1}), i -> " +
        s"((((j*73856093 + i*19349663) % 2001) - 1000) / 1000.0) * CAST(embedding[i] AS DOUBLE))")
    s"""b32 AS (
       |  SELECT vec_id, j,
       |    CASE WHEN $planeDot >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS bit
       |  FROM embeddings CROSS JOIN range($DedupLshPlanes) r(j)),
       |sig32 AS (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS sig FROM b32 GROUP BY vec_id),
       |bd AS (
       |  SELECT vec_id,
       |    t.band * ${1 << DedupLshBandBits} +
       |      ((sig >> CAST(t.band * $DedupLshBandBits AS INTEGER)) & ${(1 << DedupLshBandBits) - 1}) AS bkey
       |  FROM sig32 CROSS JOIN range($DedupLshBands) t(band)),
       |lsh_cand AS (
       |  SELECT DISTINCT a.vec_id AS id_l, b.vec_id AS id_r
       |  FROM bd a JOIN bd b ON a.bkey = b.bkey AND a.vec_id < b.vec_id)""".stripMargin
  }

  /** Per-vector banded keys: (vec_id, bkey) with bkey = band·16 + the
    * band's 4 signature bits — band id folded into the key so ONE
    * equi-join column carries both. In-row (explode of a literal array),
    * shuffle-free until the join. */
  private def lshBandedKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        VectorOps.lshBucket(col("embedding"), DedupLshPlanes).as("sig"))
      .withColumn("band", explode(array((0 until DedupLshBands).map(lit): _*)))
      .select(col("vec_id"),
        expr(s"band * ${1 << DedupLshBandBits} + " +
          s"((sig >> (band * $DedupLshBandBits)) & ${(1 << DedupLshBandBits) - 1})")
          .as("bkey"))

  /** The SCALE twin of `dedup_embedding`: banded-LSH candidate pairs
    * (equi-join on the band key) exact-verified with the identical
    * cosine fold and θ — output schema and semantics match
    * `dedup_embedding` row-for-row wherever a band collides, and the
    * companion `q_embedding_lsh_recall` measures exactly how many
    * θ-pairs the banding missed. At 10⁹ vectors this is the only
    * runnable shape: candidates ∝ Σ_bucket n_b², never n². */
  /** Banded-LSH candidate pairs exact-verified with the cosine fold
    * (id_l, id_r, cosine_sim ≥ θ) — shared by the pair, cluster, and
    * keep-canonical queries (the vector mirror of
    * DedupQueries.minhashPairs). */
  private[graft] def embeddingLshPairs(spark: SparkSession, dir: String): DataFrame = {
    val keys = lshBandedKeys(spark, dir)
    val cand = keys.select(col("vec_id").as("id_l"), col("bkey"))
      .join(keys.select(col("vec_id").as("id_r"), col("bkey")), Seq("bkey"))
      .where(col("id_l") < col("id_r"))
      .select("id_l", "id_r").distinct()
    val emb = Tables.embeddings(spark, dir)
      .withColumn("nrm", VectorOps.norm(col("embedding")))
    cand
      .join(emb.select(col("vec_id").as("id_l"), col("embedding").as("v_l"),
        col("nrm").as("n_l")), Seq("id_l"))
      .join(emb.select(col("vec_id").as("id_r"), col("embedding").as("v_r"),
        col("nrm").as("n_r")), Seq("id_r"))
      .withColumn("cosine_sim",
        VectorOps.dot(col("v_l"), col("v_r")) / (col("n_l") * col("n_r")))
      .where(col("cosine_sim") >= NearDupCos)
  }

  /** SQL mirror of [[embeddingLshPairs]]: extends [[SqlLshBandCtes]] with
    * the verified-pair CTE `vp` (id_l, id_r, cosine_sim). */
  private val SqlLshPairCtes: String =
    s"""$SqlLshBandCtes,
       |ee AS (SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings),
       |vp AS (
       |  SELECT id_l, id_r,
       |    ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine_sim
       |  FROM lsh_cand JOIN ee a ON id_l = a.vec_id JOIN ee b ON id_r = b.vec_id
       |  WHERE ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $NearDupCos)""".stripMargin

  val dedupEmbeddingLsh: Q = new Q {
    val name = "dedup_embedding_lsh"
    def run(spark: SparkSession, dir: String): DataFrame =
      embeddingLshPairs(spark, dir)
        .select(col("id_l"), col("id_r"),
          round(col("cosine_sim") * 1000000).cast("long").as("cos_e6"))
        .orderBy("id_l", "id_r")
    val oracle = Some(
      s"""WITH $SqlLshBandCtes,
         |e AS (SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings),
         |p AS (
         |  SELECT id_l, id_r,
         |    ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine_sim
         |  FROM lsh_cand JOIN e a ON id_l = a.vec_id JOIN e b ON id_r = b.vec_id)
         |SELECT id_l, id_r, CAST(round(cosine_sim * 1000000) AS BIGINT) AS cos_e6
         |FROM p WHERE cosine_sim >= $NearDupCos ORDER BY id_l, id_r""".stripMargin)
  }

  /** MEASURED recall of the banded-LSH pair path against the brute-force
    * θ-pair ground truth (`dedup_embedding` — the deliberate all-pairs
    * twin, exactly the `ann_brute_topk` role for top-k): one audit row
    * with truth/lsh/hit/missed counts, recall_e4, and the cosine of the
    * WORST missed pair (the highest-similarity pair the banding dropped;
    * −1 when nothing was missed). The vector twin of `q_lsh_recall`. */
  val qEmbeddingLshRecall: Q = new Q {
    val name = "q_embedding_lsh_recall"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val emb = Tables.embeddings(spark, dir)
        .withColumn("nrm", VectorOps.norm(col("embedding")))
      val l = emb.select(col("vec_id").as("id_l"), col("embedding").as("v_l"),
        col("nrm").as("n_l"))
      val r = emb.select(col("vec_id").as("id_r"), col("embedding").as("v_r"),
        col("nrm").as("n_r"))
      val truth = l.crossJoin(r).where(col("id_l") < col("id_r"))
        .withColumn("cosine_sim",
          VectorOps.dot(col("v_l"), col("v_r")) / (col("n_l") * col("n_r")))
        .where(col("cosine_sim") >= NearDupCos)
        .select(col("id_l"), col("id_r"),
          round(col("cosine_sim") * 1000000).cast("long").as("cos_e6"))
        .persist()
      val keys = lshBandedKeys(spark, dir)
      val lsh = keys.select(col("vec_id").as("id_l"), col("bkey"))
        .join(keys.select(col("vec_id").as("id_r"), col("bkey")), Seq("bkey"))
        .where(col("id_l") < col("id_r"))
        .select("id_l", "id_r").distinct()
      // one tagged left join + one aggregate (lsh pairs are distinct, so
      // the join cannot multiply rows) — the semi/anti + per-column
      // crossJoin shape ran the banded self-join once per consumer
      truth.join(lsh.withColumn("__hit", lit(1L)), Seq("id_l", "id_r"), "left")
        .agg(
          count(lit(1)).as("n_truth"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_hit"),
          coalesce(max(when(col("__hit").isNull, col("cos_e6"))), lit(-1L))
            .as("worst_miss_cos_e6"))
        .select(col("n_truth"), col("n_hit"),
          (col("n_truth") - col("n_hit")).as("n_missed"),
          expr("CASE WHEN n_truth = 0 THEN -1 ELSE n_hit * 10000 div n_truth END")
            .as("recall_e4"),
          col("worst_miss_cos_e6"))
    }
    val oracle = Some(
      s"""WITH $SqlLshBandCtes,
         |e AS (SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings),
         |truth AS (
         |  SELECT a.vec_id AS id_l, b.vec_id AS id_r,
         |    CAST(round(${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) * 1000000)
         |      AS BIGINT) AS cos_e6
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id
         |  WHERE ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $NearDupCos),
         |hit AS (SELECT t.* FROM truth t SEMI JOIN lsh_cand USING (id_l, id_r)),
         |mis AS (SELECT t.* FROM truth t ANTI JOIN lsh_cand USING (id_l, id_r))
         |SELECT
         |  (SELECT count(*) FROM truth) AS n_truth,
         |  (SELECT count(*) FROM hit) AS n_hit,
         |  (SELECT count(*) FROM mis) AS n_missed,
         |  CAST(CASE WHEN (SELECT count(*) FROM truth) = 0 THEN -1
         |       ELSE (SELECT count(*) FROM hit) * 10000 // (SELECT count(*) FROM truth)
         |       END AS BIGINT) AS recall_e4,
         |  CAST(coalesce((SELECT max(cos_e6) FROM mis), -1) AS BIGINT) AS worst_miss_cos_e6""".stripMargin)
  }

  /** SAMPLED-truth recall gate for the banded embedding-LSH pair path —
    * the variant of [[qEmbeddingLshRecall]] that stays runnable at 10⁹
    * vectors.
    *
    * Sample: FIXED expected SIZE — keep vec iff hash60(salt:vec_id) ppm
    * < [[RecallSampleTarget]]·10⁶ div n + 1 (the q_corpus_mixture
    * thresholding idiom), so |S| ≈ Target whatever the corpus size and
    * the broadcast is a bounded workload constant. (The r12 version
    * sampled vec_id % 20 — a fixed FRACTION whose broadcast grew with the
    * corpus: an outright OOM at 10⁹ vectors.)
    *
    * Truth: deliberate broadcast nested-loop sample × corpus — with |S|
    * a true constant this is O(|S|·n), the corpus streams map-side, and
    * exact cosine has no prefix-filter analogue worth the complexity at
    * this truth size. Recall over sample-touching θ-pairs estimates pair
    * recall unbiasedly (each θ-pair sampled w.p. ≈ 2·Target/n). One
    * audit row: sample size, truth/lsh/hit/missed counts restricted to
    * sample-touching pairs, recall_e4, worst-missed cosine. The catalog
    * runs the pooled form ([[embeddingLshRecallSampledPooled]]), which
    * reports the spread across salts in-query; this single-salt form is
    * SampledGateSpec's reference for it. */
  private[graft] def embeddingLshRecallSampledFor(
      spark: SparkSession, dir: String, salt: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("nrm", VectorOps.norm(col("embedding")))
      .persist()
    val nVecs = emb.agg(count(lit(1)).as("n_vecs"))
    val sample = emb
      .crossJoin(nVecs)
      .where(graft.ops.HashOps.inFixedSizeSample(col("vec_id"), lit(salt), col("n_vecs"),
        RecallSampleTarget))
      .select(col("vec_id").as("s_id"), col("embedding").as("s_vec"),
        col("nrm").as("s_nrm"))
      .persist()
    val truth = emb.select(col("vec_id").as("o_id"), col("embedding").as("o_vec"),
        col("nrm").as("o_nrm"))
      // hint kept: without it the nested-loop join builds the corpus, not the sample
      .join(broadcast(sample), col("s_id") =!= col("o_id"))
      .withColumn("cosine_sim",
        VectorOps.dot(col("s_vec"), col("o_vec")) / (col("s_nrm") * col("o_nrm")))
      .where(col("cosine_sim") >= NearDupCos)
      .select(least(col("s_id"), col("o_id")).as("id_l"),
        greatest(col("s_id"), col("o_id")).as("id_r"),
        round(col("cosine_sim") * 1000000).cast("long").as("cos_e6"))
      .distinct() // both-sampled pairs arrive once per direction
      .persist()
    val keys = lshBandedKeys(spark, dir)
    val lsh = keys.select(col("vec_id").as("id_l"), col("bkey"))
      .join(keys.select(col("vec_id").as("id_r"), col("bkey")), Seq("bkey"))
      .where(col("id_l") < col("id_r"))
      .select("id_l", "id_r").distinct()
      // two broadcast-HASH left probes against the BOUNDED sample + null
      // filter — one map-side pass, no shuffle. (An OR-condition
      // broadcast-NL semi compares every candidate pair against all |S|
      // sample rows — measured dominant on the multi-million-pair banded
      // candidate set; sample ids are unique, so cardinality holds.)
      // hint kept (both): the sample is estimated at the corpus's size;
      // without it SortMergeJoins once that passes the threshold
      .join(broadcast(sample.select(col("s_id").as("sid_l"))),
        col("id_l") === col("sid_l"), "left")
      .join(broadcast(sample.select(col("s_id").as("sid_r"))),
        col("id_r") === col("sid_r"), "left")
      .where(col("sid_l").isNotNull || col("sid_r").isNotNull)
      .select("id_l", "id_r")
    // ONE tagged pass (the pooled gate's shape): truth pairs tagged with
    // banded membership, one aggregate, fold with the bounded counts.
    // The earlier semi/anti + five crossJoined aggregates re-ran the
    // banded self-join three times per salt.
    val lshP = lsh.persist()
    val totals = truth
      .join(lshP.withColumn("__hit", lit(1L)), Seq("id_l", "id_r"), "left")
      .select(col("cos_e6"), coalesce(col("__hit"), lit(0L)).as("hit"))
      .agg(count(lit(1)).as("n_truth"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"),
        coalesce(sum(lit(1L) - col("hit")), lit(0L)).as("n_missed"),
        coalesce(max(when(col("hit") === 0L, col("cos_e6"))), lit(-1L))
          .as("worst_miss_cos_e6"))
    sample.agg(count(lit(1)).as("n_sampled"))
      .crossJoin(lshP.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(totals)
      .select(col("n_sampled"), col("n_truth"), col("n_lsh"), col("n_hit"),
        col("n_missed"),
        expr("CASE WHEN n_truth = 0 THEN -1 ELSE n_hit * 10000 div n_truth END")
          .as("recall_e4"),
        col("worst_miss_cos_e6"))
  }

  /** Salts pooled by [[qEmbeddingLshRecallSampled]] — three disjoint
    * draws (single-salt recall_e4 spread was [5271, 6083] at sf0.1: ±4 pp from
    * ~40-pair truth sets). Pooling triples the truth set at the SAME scan
    * cost — the corpus-side pass is one broadcast join against the union
    * sample — and surfaces the per-salt spread in-query instead of in a
    * side tool. */
  val RecallSampleSalts = Seq("rcl", "rclB", "rclC")

  /** Pooled multi-salt variant of [[embeddingLshRecallSampledFor]]: one
    * (vec, salt) sample row per hash-threshold draw, ONE corpus-streaming
    * broadcast truth join against the union sample, per-salt recalls via
    * a salt-tagged truth/hit split, and a single audit row reporting the
    * pooled estimate plus the min/max per-salt recall (the in-query
    * variance band). A pair sampled under two salts counts once per salt
    * — the pooled figure is the truth-set-weighted mean of the per-salt
    * estimators, mirrored exactly by the oracle.
    *
    * Local-scale honesty: at sf0.1 this runs ~3.2 s vs the full gate's
    * ~2.2 s — n² exact truth is only 12.5M codegen dots there, so the
    * sampled machinery (sample build, broadcast truth, candidate
    * restriction) can't win locally. The crossover is where n² truth
    * stops being runnable (≳10⁶ vectors); this twin's cost is
    * O(|salts|·Target·n) dots with bounded broadcasts at any n. */
  private[graft] def embeddingLshRecallSampledPooled(
      spark: SparkSession, dir: String, salts: Seq[String]): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("nrm", VectorOps.norm(col("embedding")))
      .persist()
    val nVecs = emb.agg(count(lit(1)).as("n_vecs"))
    val sample = emb
      .crossJoin(nVecs)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("n_vecs"),
        explode(array(salts.map(lit): _*)).as("salt"))
      .where(graft.ops.HashOps.inFixedSizeSample(col("vec_id"), col("salt"), col("n_vecs"),
        RecallSampleTarget))
      .select(col("salt"), col("vec_id").as("s_id"),
        col("embedding").as("s_vec"), col("nrm").as("s_nrm"))
      .persist()
    val truth = emb.select(col("vec_id").as("o_id"), col("embedding").as("o_vec"),
        col("nrm").as("o_nrm"))
      // hint kept: without it the nested-loop join builds the corpus, not the sample
      .join(broadcast(sample), col("s_id") =!= col("o_id"))
      .withColumn("cosine_sim",
        VectorOps.dot(col("s_vec"), col("o_vec")) / (col("s_nrm") * col("o_nrm")))
      .where(col("cosine_sim") >= NearDupCos)
      .select(col("salt"), least(col("s_id"), col("o_id")).as("id_l"),
        greatest(col("s_id"), col("o_id")).as("id_r"),
        round(col("cosine_sim") * 1000000).cast("long").as("cos_e6"))
      .distinct() // both-sampled pairs (same salt) arrive once per direction
    val sids = sample.select(col("s_id")).distinct()
    val keys = lshBandedKeys(spark, dir)
    val lsh = keys.select(col("vec_id").as("id_l"), col("bkey"))
      .join(keys.select(col("vec_id").as("id_r"), col("bkey")), Seq("bkey"))
      .where(col("id_l") < col("id_r"))
      .select("id_l", "id_r").distinct()
      // two broadcast-HASH left probes against the BOUNDED union sample +
      // null filter — one map-side pass, no shuffle (see the single-salt
      // twin for the measured rationale)
      // hint kept (both): as in the single-salt twin
      .join(broadcast(sids.select(col("s_id").as("sid_l"))),
        col("id_l") === col("sid_l"), "left")
      .join(broadcast(sids.select(col("s_id").as("sid_r"))),
        col("id_r") === col("sid_r"), "left")
      .where(col("sid_l").isNotNull || col("sid_r").isNotNull)
      .select("id_l", "id_r")
      // persisted: feeds the tagged join and the n_lsh audit count —
      // without it the banded self-join runs twice. Sample-restricted, so
      // the cached set is sample-proportional (~|S| × bucket-mates),
      // never corpus-pairs-sized.
      .persist()
    // ONE pass computes hit/missed/worst-miss/per-salt: tag each truth
    // pair with banded membership (lsh pairs are distinct, so the left
    // join cannot multiply rows), aggregate per salt, then fold the ≤
    // |salts| rows. The earlier shape — separate semi/anti frames and six
    // crossJoined aggregates — re-walked the cached inputs nine times and
    // its fixed overhead alone exceeded the whole truth-join cost.
    val tagged = truth
      .join(lsh.withColumn("__hit", lit(1L)), Seq("id_l", "id_r"), "left")
      .select(col("salt"), col("cos_e6"),
        coalesce(col("__hit"), lit(0L)).as("hit"))
    val perSalt = tagged.groupBy("salt").agg(
      count(lit(1)).as("t"), sum(col("hit")).as("h"),
      max(when(col("hit") === 0L, col("cos_e6"))).as("wm"))
    val totals = perSalt.agg(
      coalesce(sum(col("t")), lit(0L)).as("n_truth"),
      coalesce(sum(col("h")), lit(0L)).as("n_hit"),
      coalesce(sum(col("t") - col("h")), lit(0L)).as("n_missed"),
      coalesce(max(col("wm")), lit(-1L)).as("worst_miss_cos_e6"),
      coalesce(min(expr("h * 10000 div t")), lit(-1L)).as("recall_min_e4"),
      coalesce(max(expr("h * 10000 div t")), lit(-1L)).as("recall_max_e4"))
    sample.agg(count(lit(1)).as("n_sampled"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(totals)
      .select(col("n_sampled"), col("n_truth"), col("n_lsh"), col("n_hit"),
        col("n_missed"),
        expr("CASE WHEN n_truth = 0 THEN -1 ELSE n_hit * 10000 div n_truth END")
          .as("recall_e4"),
        col("recall_min_e4"), col("recall_max_e4"),
        col("worst_miss_cos_e6"))
  }

  val qEmbeddingLshRecallSampled: Q = new Q {
    val name = "q_embedding_lsh_recall_sampled"
    def run(spark: SparkSession, dir: String): DataFrame =
      embeddingLshRecallSampledPooled(spark, dir, RecallSampleSalts)
    val oracle = Some {
      val saltsSql = RecallSampleSalts.map(s => s"('$s')").mkString(", ")
      s"""WITH $SqlLshBandCtes,
         |n AS (SELECT count(*) AS n_vecs FROM embeddings),
         |salts(salt) AS (VALUES $saltsSql),
         |smp AS (
         |  SELECT s.salt, e.vec_id FROM embeddings e CROSS JOIN n CROSS JOIN salts s
         |  WHERE ${graft.ops.HashOps.sqlHash60("s.salt || ':' || CAST(e.vec_id AS VARCHAR)")} % 1000000
         |        < least(1000000, $RecallSampleTarget * 1000000 // n_vecs + 1)),
         |sids AS (SELECT DISTINCT vec_id FROM smp),
         |lshr AS (
         |  SELECT id_l, id_r FROM lsh_cand
         |  WHERE id_l IN (SELECT vec_id FROM sids)
         |     OR id_r IN (SELECT vec_id FROM sids)),
         |e AS (SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings),
         |truth AS (
         |  SELECT DISTINCT sm.salt,
         |    least(a.vec_id, b.vec_id) AS id_l, greatest(a.vec_id, b.vec_id) AS id_r,
         |    CAST(round(${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) * 1000000)
         |      AS BIGINT) AS cos_e6
         |  FROM smp sm JOIN e a ON a.vec_id = sm.vec_id
         |  JOIN e b ON b.vec_id <> sm.vec_id
         |  WHERE ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $NearDupCos),
         |hit AS (SELECT t.* FROM truth t SEMI JOIN lshr USING (id_l, id_r)),
         |mis AS (SELECT t.* FROM truth t ANTI JOIN lshr USING (id_l, id_r)),
         |pr AS (
         |  SELECT p.salt, coalesce(h.h, 0) * 10000 // p.t AS r
         |  FROM (SELECT salt, count(*) AS t FROM truth GROUP BY salt) p
         |  LEFT JOIN (SELECT salt, count(*) AS h FROM hit GROUP BY salt) h USING (salt))
         |SELECT
         |  (SELECT count(*) FROM smp) AS n_sampled,
         |  (SELECT count(*) FROM truth) AS n_truth,
         |  (SELECT count(*) FROM lshr) AS n_lsh,
         |  (SELECT count(*) FROM hit) AS n_hit,
         |  (SELECT count(*) FROM mis) AS n_missed,
         |  CAST(CASE WHEN (SELECT count(*) FROM truth) = 0 THEN -1
         |       ELSE (SELECT count(*) FROM hit) * 10000 // (SELECT count(*) FROM truth)
         |       END AS BIGINT) AS recall_e4,
         |  CAST(coalesce((SELECT min(r) FROM pr), -1) AS BIGINT) AS recall_min_e4,
         |  CAST(coalesce((SELECT max(r) FROM pr), -1) AS BIGINT) AS recall_max_e4,
         |  CAST(coalesce((SELECT max(cos_e6) FROM mis), -1) AS BIGINT) AS worst_miss_cos_e6""".stripMargin
    }
  }

  /** Embedding near-dup CLUSTERS: connected components over the verified
    * banded-LSH pair graph (min-reachable-id labels) with cluster sizes —
    * completes the vector dedup chain to parity with the text path
    * (dedup_clusters): pairs → clusters → keep-one. Oracle: recursive-CTE
    * transitive closure over the same verified pairs.
    *
    * Scale shape: the pair graph exists only where near-dups exist
    * (corpus-sized singleton majority short-circuits in
    * connectedComponents with zero rounds); labels converge in
    * O(log diameter) pointer-doubling rounds. */
  val dedupEmbeddingClusters: Q = new Q {
    val name = "dedup_embedding_clusters"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val nodes = Tables.embeddings(spark, dir)
        .select(col("vec_id").cast("long").as("id"))
      val pairs = embeddingLshPairs(spark, dir).select("id_l", "id_r")
      val cc = graft.ops.DedupOps.connectedComponents(nodes, pairs)
      val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, Seq("cluster_id"))
        .select(col("node").as("vec_id"), col("cluster_id"), col("cluster_size"))
        .orderBy("vec_id")
    }
    val oracle = Some(
      s"""WITH RECURSIVE $SqlLshPairCtes,
         |pairs AS (SELECT id_l, id_r FROM vp),
         |base AS (
         |  SELECT id_l AS a, id_r AS b FROM pairs
         |  UNION SELECT id_r, id_l FROM pairs
         |  UNION SELECT vec_id, vec_id FROM embeddings),
         |reach(a, b) AS (
         |  SELECT a, b FROM base
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN base e ON r.b = e.a),
         |cc AS (SELECT a AS vec_id, min(b) AS cluster_id FROM reach GROUP BY a),
         |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
         |SELECT cc.vec_id, cc.cluster_id, sz.cluster_size
         |FROM cc JOIN sz ON cc.cluster_id = sz.cluster_id
         |ORDER BY cc.vec_id""".stripMargin)
  }

  /** The keep-one step of the vector dedup chain (the embedding mirror of
    * dedup_keep_canonical): per near-dup cluster, keep the member CLOSEST
    * TO THE CLUSTER CENTROID — the medoid-style representative that
    * minimizes information loss when the rest of the cluster is dropped
    * (this corpus is unit-normalized, so a norm-based rule would
    * degenerate to "lowest id"; centroid proximity is meaningful for any
    * encoder). Ties break to the smallest vec_id.
    *
    * Exactness: elements are e6-quantized to BIGINTs, the centroid is the
    * per-dimension INTEGER sum over members (no float accumulation —
    * distributed sum order cannot change the result), and the member
    * score is the exact integer dot ⟨v_e6, Σ members⟩. For unit-norm
    * members, arg-max of that dot IS arg-max centroid cosine. Bounded:
    * |dot| ≤ 64·10¹²·|cluster| — exact in int64 for clusters below ~10⁵
    * members (a near-dup cluster that size should be exact-deduped first).
    *
    * Scale shape: one (member × dim) explode feeding two partial-agg
    * shuffles at cluster/dim then member grain; canonical selection is a
    * per-cluster window at CLUSTER grain. Nothing all-pairs. */
  val dedupEmbeddingKeepCanonical: Q = new Q {
    val name = "dedup_embedding_keep_canonical"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id").cast("long").as("vec_id"),
          transform(col("embedding"),
            x => round(x.cast("double") * 1000000).cast("long")).as("ve6"))
      val nodes = emb.select(col("vec_id").as("id"))
      val pairs = embeddingLshPairs(spark, dir).select("id_l", "id_r")
      val cc = graft.ops.DedupOps.connectedComponents(nodes, pairs)
      val ex = cc.join(emb, cc("node") === emb("vec_id"))
        .select(col("vec_id"), col("cluster_id"),
          posexplode(col("ve6")).as(Seq("dim0", "v")))
      val cent = ex.groupBy("cluster_id", "dim0").agg(sum("v").as("c"))
      val dots = ex.join(cent, Seq("cluster_id", "dim0"))
        .groupBy("vec_id", "cluster_id")
        .agg(sum(col("v") * col("c")).as("centroid_dot"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("centroid_dot").desc, col("vec_id").asc)
      dots.withColumn("canonical_id", first("vec_id").over(w))
        .select(col("vec_id"), col("cluster_id"), col("centroid_dot"),
          col("canonical_id"), (col("vec_id") === col("canonical_id")).as("keep"))
        .orderBy("vec_id")
    }
    val oracle = Some(
      s"""WITH RECURSIVE $SqlLshPairCtes,
         |pairs AS (SELECT id_l, id_r FROM vp),
         |base AS (
         |  SELECT id_l AS a, id_r AS b FROM pairs
         |  UNION SELECT id_r, id_l FROM pairs
         |  UNION SELECT vec_id, vec_id FROM embeddings),
         |reach(a, b) AS (
         |  SELECT a, b FROM base
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN base e ON r.b = e.a),
         |cc AS (SELECT a AS vec_id, min(b) AS cluster_id FROM reach GROUP BY a),
         |q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ve6
         |  FROM embeddings),
         |ex AS (
         |  SELECT cc.vec_id, cc.cluster_id,
         |    unnest(range(1, $Dim + 1)) AS dim, unnest(q.ve6) AS v
         |  FROM cc JOIN q USING (vec_id)),
         |cent AS (SELECT cluster_id, dim, sum(v) AS c FROM ex GROUP BY 1, 2),
         |dots AS (
         |  SELECT ex.vec_id, ex.cluster_id,
         |    CAST(sum(ex.v * cent.c) AS BIGINT) AS centroid_dot
         |  FROM ex JOIN cent ON ex.cluster_id = cent.cluster_id AND ex.dim = cent.dim
         |  GROUP BY 1, 2)
         |SELECT vec_id, cluster_id, centroid_dot,
         |  first_value(vec_id) OVER
         |    (PARTITION BY cluster_id ORDER BY centroid_dot DESC, vec_id) AS canonical_id,
         |  vec_id = first_value(vec_id) OVER
         |    (PARTITION BY cluster_id ORDER BY centroid_dot DESC, vec_id) AS keep
         |FROM dots ORDER BY vec_id""".stripMargin)
  }

  /** Per-dimension embedding drift between two corpus snapshots (parity
    * split of vec_id stands in for re-embedding / corpus-refresh
    * generations): n and the e6-integer mean per dimension per snapshot,
    * plus the absolute mean shift. The monitor that catches a silently
    * retrained encoder, a dtype change, or a normalization bug BEFORE the
    * ANN index is rebuilt on mixed generations. Float values are widened
    * to double then e6-rounded per element, so every sum is an exact
    * BIGINT fold — no float accumulation order-dependence anywhere.
    *
    * Scale shape: one posexplode to (vector, dim) grain feeding a
    * map-side partial aggregate; output is dim-bounded (1024 rows at
    * production dims), never corpus-sized. */
  val qEmbeddingDrift: Q = new Q {
    val name = "q_embedding_drift"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.embeddings(spark, dir)
        .select((col("vec_id") % 2 === 0).cast("int").as("snap"),
          posexplode(col("embedding")).as(Seq("dim0", "v")))
        .select(col("snap"), (col("dim0") + 1).cast("long").as("dim"),
          expr("cast(round(cast(v as double) * 1000000) as long)").as("v_e6"))
        .groupBy("dim")
        .agg(count(when(col("snap") === 1, 1)).as("n_a"),
          count(when(col("snap") === 0, 1)).as("n_b"),
          sum(when(col("snap") === 1, col("v_e6"))).as("sum_a_e6"),
          sum(when(col("snap") === 0, col("v_e6"))).as("sum_b_e6"))
        .select(col("dim"), col("n_a"), col("n_b"),
          expr("sum_a_e6 div n_a").as("mean_a_e6"),
          expr("sum_b_e6 div n_b").as("mean_b_e6"),
          expr("abs(sum_a_e6 div n_a - sum_b_e6 div n_b)").as("drift_e6"))
        .orderBy("dim")
    val oracle = Some(
      """WITH x AS (
        |  SELECT CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END AS snap,
        |    unnest(range(1, len(embedding) + 1)) AS dim,
        |    unnest(list_transform(embedding,
        |      v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))) AS v_e6
        |  FROM embeddings),
        |g AS (
        |  SELECT CAST(dim AS BIGINT) AS dim,
        |    count(*) FILTER (snap = 1) AS n_a,
        |    count(*) FILTER (snap = 0) AS n_b,
        |    CAST(sum(v_e6) FILTER (snap = 1) AS BIGINT) AS sum_a_e6,
        |    CAST(sum(v_e6) FILTER (snap = 0) AS BIGINT) AS sum_b_e6
        |  FROM x GROUP BY 1)
        |SELECT dim, n_a, n_b,
        |  CAST(sum_a_e6 // n_a AS BIGINT) AS mean_a_e6,
        |  CAST(sum_b_e6 // n_b AS BIGINT) AS mean_b_e6,
        |  CAST(abs(sum_a_e6 // n_a - sum_b_e6 // n_b) AS BIGINT) AS drift_e6
        |FROM g ORDER BY dim""".stripMargin)
  }

  val IvfStride = IvfIndex.CentStride // vec_id % stride == 0 → centroid set

  /** Shared IVF prefix: every corpus vector ranked against the stride-drawn
    * centroid set ([[IvfIndex.rankCells]] to depth `nProbe`; rn = 1 is the
    * assignment, rn <= nProbe a query's probe cells), so the in-memory IVF
    * queries share the persisted index's geometry and the recall queries
    * can persist it instead of recomputing the N x nlist assignment per
    * search arm. */
  private def ivfRanked(spark: SparkSession, dir: String, nProbe: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    IvfIndex.rankCells(emb, IvfIndex.strideDraw(emb), nProbe)
  }

  /** The in-memory IVF split of a ranked frame: every vector's own cell
    * (rn = 1) as postings (vec_id, embedding, centroid_id), and the query
    * sample's `nProbe` nearest cells as probes (q_id, q_vec, centroid_id,
    * rn). */
  private def ivfSplit(ranked: DataFrame, nProbe: Int): (DataFrame, DataFrame) = {
    val assigned = ranked.where(col("rn") === 1)
      .select(col("q_id").as("vec_id"), col("q_vec").as("embedding"), col("centroid_id"))
    val probes = ranked.where(col("rn") <= nProbe &&
        col("q_id") % QueryStride === 0 && col("q_id") < QueryCap)
      .select(col("q_id"), col("q_vec"), col("centroid_id"), col("rn"))
    (assigned, probes)
  }

  /** IVF search over a ranked frame: candidates are each query's nProbe
    * nearest cells' inverted lists (disjoint lists, so more probes only
    * widen the candidate union). */
  private def ivfSearch(ranked: DataFrame, nProbe: Int): DataFrame = {
    val (assigned, probes) = ivfSplit(ranked, nProbe)
    IvfIndex.cellTopK(assigned, probes, TopK).orderBy("q_id", "rank")
  }

  /** IVF assignment: nearest centroid (argmax cosine) per vector, with a
    * data-derived centroid set (strided sample — a k-means iteration would
    * slot in identically). Broadcast centroids + window top-1. */
  val ivfAssign: Q = new Q {
    val name = "ivf_assign"
    def run(spark: SparkSession, dir: String): DataFrame =
      ivfRanked(spark, dir, nProbe = 1)
        .select(col("q_id").as("vec_id"), col("centroid_id"),
          round(col("cs") * 1000000).cast("long").as("cos_e6"))
        .orderBy("vec_id")
    val oracle = Some(
      s"""WITH c AS (
         |  SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
         |  WHERE vec_id % $IvfStride = 0 AND vec_id < $IvfCentCap),
         |s AS (
         |  SELECT e.vec_id, c.c_id,
         |    ${sqlDot("e.embedding", "c_vec")} / (${sqlNorm("e.embedding")} * ${sqlNorm("c_vec")}) AS cosine_sim
         |  FROM embeddings e CROSS JOIN c),
         |r AS (
         |  SELECT vec_id, c_id, cosine_sim,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cosine_sim DESC, c_id) AS rn
         |  FROM s)
         |SELECT vec_id, c_id AS centroid_id,
         |       CAST(round(cosine_sim * 1000000) AS BIGINT) AS cos_e6
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin)
  }

  /** IVF-probed ANN: queries search only their own centroid's inverted
    * list (nprobe=1) — candidates shrink from |corpus| to |list|, the
    * data-partitioned alternative to hyperplane-LSH bucketing. */
  val annIvfTopk: Q = new Q {
    val name = "ann_ivf_topk"
    def run(spark: SparkSession, dir: String): DataFrame =
      ivfSearch(ivfRanked(spark, dir, nProbe = 1), nProbe = 1)
    val oracle = Some(
      s"""WITH c AS (
         |  SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
         |  WHERE vec_id % $IvfStride = 0 AND vec_id < $IvfCentCap),
         |s AS (
         |  SELECT e.vec_id, e.embedding, c.c_id,
         |    ${sqlDot("e.embedding", "c_vec")} / (${sqlNorm("e.embedding")} * ${sqlNorm("c_vec")}) AS cs
         |  FROM embeddings e CROSS JOIN c),
         |assigned AS (
         |  SELECT vec_id, embedding, c_id AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, c_id) AS rn
         |    FROM s) t WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, embedding AS q_vec, centroid_id FROM assigned
         |      WHERE vec_id % $QueryStride = 0 AND vec_id < $QueryCap),
         |cd AS (SELECT vec_id AS c_id2, embedding AS c_vec2, centroid_id FROM assigned),
         |sc AS (
         |  SELECT q_id, c_id2,
         |    ${sqlDot("q_vec", "c_vec2")} / (${sqlNorm("q_vec")} * ${sqlNorm("c_vec2")}) AS cosine_sim
         |  FROM cd JOIN q USING (centroid_id) WHERE q_id != c_id2),
         |r AS (
         |  SELECT q_id, c_id2, cosine_sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, c_id2) AS rank
         |  FROM sc)
         |SELECT q_id, c_id2 AS c_id, CAST(rank AS BIGINT) AS rank,
         |       CAST(round(cosine_sim * 1000000) AS BIGINT) AS cos_e6
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin)
  }

  val NProbe = 2 // centroid lists searched per query in the multi-probe IVF

  /** Multi-probe IVF ANN: each query searches its `NProbe` nearest
    * centroids' inverted lists — the standard recall lever when nprobe=1
    * misses neighbors that fell just across a cell boundary. Candidate
    * lists are disjoint (corpus vectors belong to exactly one list), so
    * probing more cells only widens the candidate union; shuffle stays
    * bounded by list sizes, never |corpus|². */
  val annIvfMpTopk: Q = new Q {
    val name = "ann_ivf_mp_topk"
    def run(spark: SparkSession, dir: String): DataFrame =
      ivfSearch(ivfRanked(spark, dir, NProbe), NProbe)
    val oracle = Some(
      s"""WITH c AS (
         |  SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
         |  WHERE vec_id % $IvfStride = 0 AND vec_id < $IvfCentCap),
         |s AS (
         |  SELECT e.vec_id, e.embedding, c.c_id,
         |    ${sqlDot("e.embedding", "c_vec")} / (${sqlNorm("e.embedding")} * ${sqlNorm("c_vec")}) AS cs
         |  FROM embeddings e CROSS JOIN c),
         |r0 AS (
         |  SELECT vec_id, embedding, c_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, c_id) AS rn
         |  FROM s),
         |assigned AS (
         |  SELECT vec_id AS c_id2, embedding AS c_vec2, c_id AS centroid_id
         |  FROM r0 WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS q_id, embedding AS q_vec, c_id AS centroid_id
         |  FROM r0 WHERE rn <= $NProbe AND vec_id % $QueryStride = 0 AND vec_id < $QueryCap),
         |sc AS (
         |  SELECT q_id, c_id2,
         |    ${sqlDot("q_vec", "c_vec2")} / (${sqlNorm("q_vec")} * ${sqlNorm("c_vec2")}) AS cosine_sim
         |  FROM assigned JOIN probes USING (centroid_id)
         |  WHERE q_id <> c_id2),
         |r AS (
         |  SELECT q_id, c_id2, cosine_sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, c_id2) AS rank
         |  FROM sc)
         |SELECT q_id, c_id2 AS c_id, CAST(rank AS BIGINT) AS rank,
         |       CAST(round(cosine_sim * 1000000) AS BIGINT) AS cos_e6
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin)
  }

  /** Incremental ANN over a PERSISTED, cell-partitioned IVF index — the
    * vector-search mirror of the delta-dedup protocol (same layout idea
    * as [[graft.ops.SignatureIndex.write]]): "search new arrivals
    * against an already-indexed corpus without scanning it".
    *
    * Protocol (corpus = vec_id % 5 != 0, batch = the rest, capped):
    *  1. BOOTSTRAP (once per corpus, amortized over every future batch):
    *     the corpus is the first batch of an [[IvfIndex]]
    *     ([[graft.streaming.StreamingOps.ivfSearchInsertBatch]]): each
    *     vector goes to its nearest stride-drawn centroid, and the postings
    *     are partitioned by cell — one directory per inverted list (≤32
    *     cells here; thousands at 100 TB, sized so a cell ≈ a row group).
    *  2. PROBE (per batch): each query ranks the broadcast centroid set
    *     ([[IvfIndex.rankCells]]), takes its NProbe nearest cells, and the
    *     probed cell ids — a driver-side set bounded by |batch|·NProbe,
    *     never data-sized — become a `centroid_id IN (...)` partition
    *     filter on the postings scan ([[IvfIndex.searchPlan]]): only probed
    *     cells' FILES are opened (PlanSpec pins the filter). Exact cosine +
    *     per-query top-k over the probed lists.
    *
    * Scale shape: per-batch I/O = (nprobe/nlist) of the corpus at file
    * granularity, queries broadcast, no corpus shuffle. Batch ids are
    * disjoint from corpus ids, so the self-match guard never fires. */
  val annDeltaTopk: Q = new Q {
    val name = "ann_delta_topk"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      val isBatch = col("vec_id") % 5 === 0
      // bootstrap ONCE per JVM (Staging.once): production assigns and
      // writes the corpus postings once, then every batch probes them —
      // the per-invocation cost is the per-batch probe, the steady-state
      // number. The probe never mutates the index.
      val indexPath = graft.ops.Staging.once(
          "/tmp/graft_ann_index", dir, "ivf_delta") { p =>
        graft.streaming.StreamingOps.ivfSearchInsertBatch(emb.where(!isBatch), p,
          batchId = 0L): Unit
      }
      val genDir = IvfIndex.resolve(spark, indexPath)
      val ranked = IvfIndex.rankCells(emb.where(isBatch && col("vec_id") < QueryCap),
        genDir, NProbe)
      IvfIndex.searchPlan(ranked, indexPath, genDir, TopK, exclude = None)
        .orderBy("q_id", "rank")
    }
    val oracle = Some(
      s"""WITH cor AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
         |c AS (
         |  SELECT vec_id AS c_id, embedding AS c_vec FROM cor
         |  WHERE vec_id % $IvfStride = 0 AND vec_id < $IvfCentCap),
         |s AS (
         |  SELECT e.vec_id, e.embedding, c.c_id,
         |    ${sqlDot("e.embedding", "c_vec")} / (${sqlNorm("e.embedding")} * ${sqlNorm("c_vec")}) AS cs
         |  FROM cor e CROSS JOIN c),
         |assigned AS (
         |  SELECT vec_id, embedding, c_id AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, c_id) AS rn
         |    FROM s) t WHERE rn = 1),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
         |  WHERE vec_id % 5 = 0 AND vec_id < $QueryCap),
         |qs AS (
         |  SELECT q.q_id, q.q_vec, c.c_id,
         |    ${sqlDot("q_vec", "c_vec")} / (${sqlNorm("q_vec")} * ${sqlNorm("c_vec")}) AS cs
         |  FROM q CROSS JOIN c),
         |probes AS (
         |  SELECT q_id, q_vec, c_id AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, c_id) AS rn
         |    FROM qs) t WHERE rn <= $NProbe),
         |sc AS (
         |  SELECT q_id, a.vec_id AS c_id2,
         |    ${sqlDot("q_vec", "a.embedding")} / (${sqlNorm("q_vec")} * ${sqlNorm("a.embedding")}) AS cosine_sim
         |  FROM assigned a JOIN probes USING (centroid_id)),
         |r AS (
         |  SELECT q_id, c_id2, cosine_sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, c_id2) AS rank
         |  FROM sc)
         |SELECT q_id, c_id2 AS c_id, CAST(rank AS BIGINT) AS rank,
         |       CAST(round(cosine_sim * 1000000) AS BIGINT) AS cos_e6
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin)
  }

  /** Multi-batch IVF index EVOLUTION, end-to-end through the exact
    * streaming operator
    * ([[graft.streaming.StreamingOps.ivfSearchInsertBatch]]): the corpus
    * bootstraps centroids + postings (batch 0), batch 1 searches then
    * inserts, batch 2's hits — computed against corpus ∪ batch 1 — are
    * the result. The DuckDB oracle recomputes bootstrap, both inserts,
    * and the final probe from scratch, so the protocol (including
    * search-before-insert ordering and the batch_id layout) is
    * cross-engine hash-checked per run, not just spec-pinned.
    *
    * Protocol: corpus = vec_id % 5 != 0; batch 1 = % 5 == 0 ∧ < 250;
    * batch 2 = % 5 == 0 ∧ [250, 500) — splits chosen INSIDE the
    * fixture's vec_id range (0–499), so the final probe carries real
    * queries (the r15 [500, 1000) split made batch 2 empty and the
    * entry's hash check vacuous — 0 rows on both engines). */
  val annDeltaEvolve: Q = new Q {
    val name = "ann_delta_evolve"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import graft.streaming.StreamingOps.ivfSearchInsertBatch
      val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      // bootstrap + batch-1 epoch ONCE per JVM (Staging.once): production
      // pays each already-ingested batch exactly once. The per-invocation
      // cost is batch 2's search+insert — and RE-invoking batch 2 against
      // the staged index is exactly the op's at-least-once REPLAY path
      // (search excludes its own batch_id partition; insert is a dynamic
      // overwrite of its own dirs), so the measured steady-state cost
      // exercises the replay contract the parity battery pins.
      val indexPath = graft.ops.Staging.once(
          "/tmp/graft_ann_index", dir, "ivf_evolve") { p =>
        // each batch's hits are settled and unread here
        Seq(ivfSearchInsertBatch(emb.where(col("vec_id") % 5 =!= 0), p, batchId = 0L),
          ivfSearchInsertBatch(emb.where(col("vec_id") % 5 === 0 && col("vec_id") < 250),
            p, batchId = 1L)).foreach(discard)
      }
      ivfSearchInsertBatch(emb.where(col("vec_id") % 5 === 0 &&
          col("vec_id") >= 250 && col("vec_id") < 500),
        indexPath, batchId = 2L)
        .orderBy("q_id", "rank")
    }
    val oracle = Some(
      s"""WITH cor AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
         |c AS (
         |  SELECT vec_id AS c_id, embedding AS c_vec FROM cor
         |  WHERE vec_id % $IvfStride = 0 AND vec_id < $IvfCentCap),
         |indexed AS (
         |  SELECT vec_id, embedding FROM cor
         |  UNION ALL
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 5 = 0 AND vec_id < 250),
         |s AS (
         |  SELECT e.vec_id, e.embedding, c.c_id,
         |    ${sqlDot("e.embedding", "c_vec")} / (${sqlNorm("e.embedding")} * ${sqlNorm("c_vec")}) AS cs
         |  FROM indexed e CROSS JOIN c),
         |assigned AS (
         |  SELECT vec_id, embedding, c_id AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, c_id) AS rn
         |    FROM s) t WHERE rn = 1),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
         |  WHERE vec_id % 5 = 0 AND vec_id >= 250 AND vec_id < 500),
         |qs AS (
         |  SELECT q.q_id, q.q_vec, c.c_id,
         |    ${sqlDot("q_vec", "c_vec")} / (${sqlNorm("q_vec")} * ${sqlNorm("c_vec")}) AS cs
         |  FROM q CROSS JOIN c),
         |probes AS (
         |  SELECT q_id, q_vec, c_id AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, c_id) AS rn
         |    FROM qs) t WHERE rn <= $NProbe),
         |sc AS (
         |  SELECT q_id, a.vec_id AS c_id2,
         |    ${sqlDot("q_vec", "a.embedding")} / (${sqlNorm("q_vec")} * ${sqlNorm("a.embedding")}) AS cosine_sim
         |  FROM assigned a JOIN probes USING (centroid_id)
         |  WHERE q_id <> a.vec_id),
         |r AS (
         |  SELECT q_id, c_id2, cosine_sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, c_id2) AS rank
         |  FROM sc)
         |SELECT q_id, c_id2 AS c_id, CAST(rank AS BIGINT) AS rank,
         |       CAST(round(cosine_sim * 1000000) AS BIGINT) AS cos_e6
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin)
  }

  /** Right-to-be-forgotten for the VECTOR index — the retraction step
    * [[annDeltaEvolve]]'s lifecycle was missing (the text index has had
    * physical + logical forget since r13/r15; vectors had none): after
    * bootstrap + batch-1 insert, a forget batch appends the retraction
    * set to the index's deletion vector
    * ([[graft.streaming.StreamingOps.forgetVectorsBatch]] — O(|F|)
    * write, corpus-independent), and batch 2's search must behave as if
    * the forgotten vectors were NEVER INSERTED: a query whose best
    * partner was forgotten surfaces its next-best surviving neighbor.
    * The oracle recomputes the whole protocol from scratch with the
    * forget set excluded from the indexed side — a stale posting row
    * that stays matchable (or an over-eager filter that hides a
    * survivor) hash-fails the round.
    *
    * Protocol: corpus = vec_id % 5 != 0; batch 1 = % 5 == 0 ∧ < 250;
    * forget = (corpus ∪ batch 1) members with vec_id % 9 == 1 — but
    * never centroid seeds (c_id stride rule), so the cell geometry stays
    * identical and the oracle's centroid CTE is unchanged; batch 2 =
    * % 5 == 0 ∧ [250, 500). Scale shape: the forget itself is a tiny
    * append + a column-pruned presence audit; the probe adds one
    * broadcast anti-join bounded by retraction volume between
    * maintenance passes (refresh purges physically for free). */
  val annDeltaForget: Q = new Q {
    val name = "ann_delta_forget"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import graft.streaming.StreamingOps.{forgetVectorsBatch, ivfSearchInsertBatch}
      val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      val isForgot = col("vec_id") % 9 === 1 &&
        !IvfIndex.isSeed(col("vec_id")) &&
        (col("vec_id") % 5 =!= 0 || col("vec_id") < 250)
      // bootstrap + batch-1 insert + the FORGET once per JVM: production
      // pays the retraction when the deletion request arrives; the
      // per-invocation cost is batch 2's search+insert, whose re-run is
      // the op's replay path (own-batch partition excluded, dynamic
      // overwrite of its own dirs)
      val indexPath = graft.ops.Staging.once(
          "/tmp/graft_ann_index", dir, "ivf_forget") { p =>
        // the batches' hits and the forget receipt are settled and unread here
        Seq(ivfSearchInsertBatch(emb.where(col("vec_id") % 5 =!= 0), p, batchId = 0L),
          ivfSearchInsertBatch(emb.where(col("vec_id") % 5 === 0 && col("vec_id") < 250),
            p, batchId = 1L),
          forgetVectorsBatch(emb.where(isForgot).select("vec_id"), p)).foreach(discard)
      }
      ivfSearchInsertBatch(emb.where(col("vec_id") % 5 === 0 &&
          col("vec_id") >= 250 && col("vec_id") < 500),
        indexPath, batchId = 2L)
        .orderBy("q_id", "rank")
    }
    // annDeltaEvolve's oracle with the forgotten vectors excluded from
    // the INDEXED side (centroid seeds are protected by the forget
    // predicate, so the cell geometry is shared verbatim)
    val oracle = Some(
      s"""WITH cor AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
         |c AS (
         |  SELECT vec_id AS c_id, embedding AS c_vec FROM cor
         |  WHERE vec_id % $IvfStride = 0 AND vec_id < $IvfCentCap),
         |indexed AS (
         |  SELECT vec_id, embedding FROM (
         |    SELECT vec_id, embedding FROM cor
         |    UNION ALL
         |    SELECT vec_id, embedding FROM embeddings
         |    WHERE vec_id % 5 = 0 AND vec_id < 250) t
         |  WHERE NOT (vec_id % 9 = 1
         |    AND NOT (vec_id % $IvfStride = 0 AND vec_id < $IvfCentCap))),
         |s AS (
         |  SELECT e.vec_id, e.embedding, c.c_id,
         |    ${sqlDot("e.embedding", "c_vec")} / (${sqlNorm("e.embedding")} * ${sqlNorm("c_vec")}) AS cs
         |  FROM indexed e CROSS JOIN c),
         |assigned AS (
         |  SELECT vec_id, embedding, c_id AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, c_id) AS rn
         |    FROM s) t WHERE rn = 1),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
         |  WHERE vec_id % 5 = 0 AND vec_id >= 250 AND vec_id < 500),
         |qs AS (
         |  SELECT q.q_id, q.q_vec, c.c_id,
         |    ${sqlDot("q_vec", "c_vec")} / (${sqlNorm("q_vec")} * ${sqlNorm("c_vec")}) AS cs
         |  FROM q CROSS JOIN c),
         |probes AS (
         |  SELECT q_id, q_vec, c_id AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, c_id) AS rn
         |    FROM qs) t WHERE rn <= $NProbe),
         |sc AS (
         |  SELECT q_id, a.vec_id AS c_id2,
         |    ${sqlDot("q_vec", "a.embedding")} / (${sqlNorm("q_vec")} * ${sqlNorm("a.embedding")}) AS cosine_sim
         |  FROM assigned a JOIN probes USING (centroid_id)
         |  WHERE q_id <> a.vec_id),
         |r AS (
         |  SELECT q_id, c_id2, cosine_sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, c_id2) AS rank
         |  FROM sc)
         |SELECT q_id, c_id2 AS c_id, CAST(rank AS BIGINT) AS rank,
         |       CAST(round(cosine_sim * 1000000) AS BIGINT) AS cos_e6
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin)
  }

  /** RECALL-UNDER-EVOLUTION gate for the persisted IVF index — the one
    * claim the incremental-ANN lifecycle left unmeasured: centroids are a
    * strided bootstrap draw frozen for the index's lifetime
    * ([[graft.streaming.StreamingOps.ivfSearchInsertBatch]]), so as
    * inserted batches accrete, cell balance and recall at fixed nProbe
    * can decay SILENTLY. This entry inserts two batches through the real
    * streaming op and reports, PER EPOCH (0 = bootstrap corpus, 1, 2 =
    * after each insert), recall@k of the frozen-centroid IVF probe
    * against brute-force truth over everything indexed at that epoch,
    * for a fixed query sample — the number an operator watches to decide
    * when [[graft.ops.IvfIndex.refreshCentroids]] is due.
    *
    * Scale shape: the brute arm is deliberate ground truth (bounded
    * query sample broadcast, postings stream map-side — the ann_brute
    * twin pattern); candidates are scored ONCE and each arm/epoch is an
    * in-row expansion over that single pass (explode(sequence(batch_id,
    * 2)) — a candidate inserted at epoch b participates in epochs ≥ b),
    * so adding epochs adds no postings rescans. */
  val annRecallEvolution: Q = new Q {
    val name = "q_ann_recall_evolution"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import graft.streaming.StreamingOps.ivfSearchInsertBatch
      val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      // bootstrap + both insert epochs ONCE per JVM (Staging.once; own
      // leaf — ann_delta_evolve's index has a different batch split)
      val indexPath = graft.ops.Staging.once(
          "/tmp/graft_ann_index", dir, "ivf_recall_evo") { p =>
        // each batch's hits are settled and unread here
        Seq(ivfSearchInsertBatch(emb.where(col("vec_id") % 5 =!= 0), p, batchId = 0L),
          ivfSearchInsertBatch(emb.where(col("vec_id") % 5 === 0 && col("vec_id") < 250),
            p, batchId = 1L),
          ivfSearchInsertBatch(emb.where(col("vec_id") % 5 === 0 &&
              col("vec_id") >= 250 && col("vec_id") < 500),
            p, batchId = 2L)).foreach(discard)
      }
      // readers resolve the index to its CURRENT generation dir once at
      // open and read only that pair — the zero-downtime contract
      val genDir = IvfIndex.resolve(spark, indexPath)
      val postings = IvfIndex.postings(spark, genDir)
      // fixed query sample (corpus members, never % 5 == 0; self-matches
      // excluded in both arms) — recall comparable across epochs
      val sample = emb.where(col("vec_id") % 50 === 1)
      val queries = sample.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val probes = IvfIndex.rankCells(sample, genDir, NProbe)
        .select(col("q_id"), col("centroid_id"), lit(1).as("in_probe"))
      // hint kept: the 2% query sample is estimated at the corpus's size;
      // without it a CartesianProduct once that passes the threshold
      val scored = postings.crossJoin(broadcast(queries))
        .where(col("q_id") =!= col("vec_id"))
        .withColumn("cs", VectorOps.cosine(col("q_vec"), col("embedding")))
        // hint kept: without it a SortMergeJoin shuffles the scored pairs
        .join(broadcast(probes), Seq("q_id", "centroid_id"), "left")
        .withColumn("epoch", explode(sequence(col("batch_id"), lit(2L))))
        .select("epoch", "q_id", "vec_id", "cs", "in_probe")
      val wR = Window.partitionBy("epoch", "q_id")
        .orderBy(col("cs").desc, col("vec_id").asc)
      val truth = scored.withColumn("rn", row_number().over(wR))
        .where(col("rn") <= TopK).select("epoch", "q_id", "vec_id")
      val hits = scored.where(col("in_probe") === 1)
        .withColumn("rn", row_number().over(wR))
        .where(col("rn") <= TopK).select("epoch", "q_id", "vec_id")
      val matched = hits.join(truth, Seq("epoch", "q_id", "vec_id"))
        .groupBy("epoch", "q_id").agg(count(lit(1)).as("matched"))
      // zero-match queries must count in the mean: left join from the grid
      val grid = spark.range(3).select(col("id").as("epoch"))
        .crossJoin(queries.select("q_id"))
      val per = grid.join(matched, Seq("epoch", "q_id"), "left")
        .select(col("epoch"), col("q_id"),
          coalesce(col("matched"), lit(0L)).as("matched"))
      val nIdx = postings
        .withColumn("epoch", explode(sequence(col("batch_id"), lit(2L))))
        .groupBy("epoch").agg(count(lit(1)).as("n_indexed"))
      per.groupBy("epoch")
        .agg(count(lit(1)).as("nq"), sum("matched").as("m"),
          min("matched").as("mn"))
        .join(nIdx, Seq("epoch"))
        .select(col("epoch"), col("n_indexed"),
          col("nq").as("n_queries"),
          expr(s"CAST((m * 10000) DIV ($TopK * nq) AS BIGINT)")
            .as("mean_recall_e4"),
          (col("mn") * lit(10000 / TopK)).cast("long").as("min_recall_e4"))
        .orderBy("epoch")
    }
    val oracle = Some(
      s"""WITH cor AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
         |c AS (
         |  SELECT vec_id AS c_id, embedding AS c_vec FROM cor
         |  WHERE vec_id % $IvfStride = 0 AND vec_id < $IvfCentCap),
         |idx AS (
         |  SELECT vec_id, embedding,
         |    CASE WHEN vec_id % 5 <> 0 THEN 0 WHEN vec_id < 250 THEN 1 ELSE 2 END AS bepoch
         |  FROM embeddings WHERE vec_id % 5 <> 0 OR vec_id < 500),
         |s AS (
         |  SELECT e.vec_id, e.embedding, e.bepoch, c.c_id,
         |    ${sqlDot("e.embedding", "c_vec")} / (${sqlNorm("e.embedding")} * ${sqlNorm("c_vec")}) AS cs
         |  FROM idx e CROSS JOIN c),
         |assigned AS (
         |  SELECT vec_id, embedding, bepoch, c_id AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, c_id) AS rn
         |    FROM s) t WHERE rn = 1),
         |q AS (
         |  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
         |  WHERE vec_id % 50 = 1),
         |qs AS (
         |  SELECT q.q_id, q.q_vec, c.c_id,
         |    ${sqlDot("q_vec", "c_vec")} / (${sqlNorm("q_vec")} * ${sqlNorm("c_vec")}) AS cs
         |  FROM q CROSS JOIN c),
         |probes AS (
         |  SELECT q_id, c_id AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, c_id) AS rn
         |    FROM qs) t WHERE rn <= $NProbe),
         |sc AS (
         |  SELECT q.q_id, a.vec_id, a.bepoch,
         |    CASE WHEN p.q_id IS NOT NULL THEN 1 ELSE 0 END AS in_probe,
         |    ${sqlDot("q_vec", "a.embedding")} / (${sqlNorm("q_vec")} * ${sqlNorm("a.embedding")}) AS cs
         |  FROM assigned a CROSS JOIN q
         |  LEFT JOIN probes p ON p.q_id = q.q_id AND p.centroid_id = a.centroid_id
         |  WHERE q.q_id <> a.vec_id),
         |ex AS (SELECT sc.*, ep.e FROM sc JOIN range(3) ep(e) ON sc.bepoch <= ep.e),
         |truth AS (SELECT e, q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY e, q_id ORDER BY cs DESC, vec_id) AS rn
         |  FROM ex) t WHERE rn <= $TopK),
         |hits AS (SELECT e, q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY e, q_id ORDER BY cs DESC, vec_id) AS rn
         |  FROM ex WHERE in_probe = 1) t WHERE rn <= $TopK),
         |m AS (
         |  SELECT t.e, t.q_id, count(*) AS matched FROM hits h
         |  JOIN truth t ON h.e = t.e AND h.q_id = t.q_id AND h.vec_id = t.vec_id
         |  GROUP BY 1, 2),
         |grid AS (SELECT ep.e, q.q_id FROM range(3) ep(e) CROSS JOIN q),
         |per AS (
         |  SELECT g.e, g.q_id, coalesce(m.matched, 0) AS matched
         |  FROM grid g LEFT JOIN m ON m.e = g.e AND m.q_id = g.q_id),
         |ni AS (
         |  SELECT ep.e, CAST(count(*) AS BIGINT) AS n_indexed
         |  FROM idx JOIN range(3) ep(e) ON idx.bepoch <= ep.e GROUP BY 1)
         |SELECT per.e AS epoch, ni.n_indexed,
         |  CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(matched) * 10000 // ($TopK * count(*)) AS BIGINT) AS mean_recall_e4,
         |  CAST(min(matched) * ${10000 / TopK} AS BIGINT) AS min_recall_e4
         |FROM per JOIN ni ON ni.e = per.e
         |GROUP BY 1, 2 ORDER BY epoch""".stripMargin)
  }

  /** CENTROID-REFRESH RECALL, oracle-checked on a synthesized
    * structured-drift corpus — the cross-engine promotion of
    * IvfRefreshSpec's planted-drift claim (the real fixture's embeddings
    * are unstructured, so any centroid set is recall-equivalent there;
    * here drift has structure and the refresh benefit is a hash-checked
    * number). 600 vectors are synthesized IN-ROW with id-derived cluster
    * blocks (integer components, so every float operation both engines
    * perform is exactly rounded): the bootstrap corpus (ids < 300) spans
    * clusters 0–3; the two inserted batches (ids ≥ 300) form DRIFT
    * clusters 4–5 on coordinate blocks the frozen stride-drawn centroids
    * never saw. The index is built through the REAL streaming ops
    * (bootstrap + two ivfSearchInsertBatch epochs), then
    * [[graft.ops.IvfIndex.refreshCentroids]] re-clusters it
    * into a new GENERATION — and the entry reports recall@k of the IVF
    * probe per (arm, cohort): `frozen` reads the retained lookback
    * generation g=0, `refreshed` resolves the current one. The DuckDB
    * oracle replays the whole lifecycle from closed form — stride
    * bootstrap, cosine-argmax inserts, L2-normalize → quantize → exact
    * integer Lloyd's (k = centroid count, 3 iterations) → centroid
    * re-normalization → integer-argmin reassignment → cosine probes —
    * so the refresh's recall recovery on the drifted cohort is proven
    * cross-engine, not just spec-pinned.
    *
    * Scale shape: one candidate-scoring pass shared by truth and both
    * arms; queries broadcast; the arms differ only in which generation's
    * (centroids, postings) pair they read — the zero-downtime layout is
    * what makes reporting both arms from one index possible. */
  val annRefreshRecall: Q = new Q {
    val name = "q_ann_refresh_recall"
    private val NDocs = 600
    private val NCorpus = 300
    private val RrTopK = 10 // deeper than the probe-side TopK: the tail of
                            // the true neighbor list is what cell scatter loses
    def run(spark: SparkSession, dir: String): DataFrame = {
      import graft.streaming.StreamingOps
      val cl = when(col("vec_id") < NCorpus, col("vec_id") % 4)
        .otherwise(lit(4) + col("vec_id") % 2)
      // cluster block (amp 8) + per-id spike inside the corpus block range
      // (amp 8 — scatters each drifted vector's cell assignment) + two-round
      // mixed jitter mod 7 (decorrelates ranking from assignment); all
      // components small integers, so both engines' float ops round identically
      val vecs = spark.range(NDocs).select(col("id").as("vec_id"))
        .withColumn("embedding", transform(sequence(lit(0), lit(Dim - 1)), j =>
          (when(j >= cl * 8 && j < cl * 8 + 8, lit(8L)).otherwise(lit(0L)) +
            when(col("vec_id") >= NCorpus &&
              j.cast("long") === pmod(col("vec_id") * 17L, lit(32L)), lit(8L))
              .otherwise(lit(0L)) +
            pmod(pmod(shiftright(col("vec_id") * 2654435761L +
              (j + 1).cast("long") * 40503L, 7) * 48271L,
              lit(2147483647L)), lit(7L))).cast("float")))
      // lifecycle ONCE per JVM (Staging.once): bootstrap + 2 inserts +
      // refresh; invocations only READ the two generations, so sharing
      // is safe (the refresh already ran inside the build)
      val indexPath = graft.ops.Staging.once(
          "/tmp/graft_ann_index", dir, "ivf_refresh_recall") { p =>
        // each batch's hits are settled and unread here
        Seq(StreamingOps.ivfSearchInsertBatch(
            vecs.where(col("vec_id") < NCorpus), p, batchId = 0L),
          StreamingOps.ivfSearchInsertBatch(
            vecs.where(col("vec_id") >= NCorpus && col("vec_id") < 450), p, batchId = 1L),
          StreamingOps.ivfSearchInsertBatch(
            vecs.where(col("vec_id") >= 450), p, batchId = 2L)).foreach(discard)
        IvfIndex.refreshCentroids(spark, p)
      }
      val refreshedDir = IvfIndex.resolve(spark, indexPath) // g=1
      val frozenDir = IvfIndex.generationDir(indexPath, 0L) // the retained lookback generation
      val v = vecs.persist()
      val sample = v.where(col("vec_id") % 25 === 1)
      val queries = sample.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      // ONE scoring pass: all (query, candidate) cosines; truth and both
      // arms' hits are restrictions of it
      val scored = v.crossJoin(queries)
        .where(col("q_id") =!= col("vec_id"))
        .withColumn("cs", VectorOps.cosine(col("q_vec"), col("embedding")))
        .select("q_id", "vec_id", "cs").persist()
      val wR = Window.partitionBy("q_id").orderBy(col("cs").desc, col("vec_id").asc)
      val truth = scored.withColumn("rn", row_number().over(wR))
        .where(col("rn") <= RrTopK).select("q_id", "vec_id")
      def armRows(arm: String, armDir: String): DataFrame = {
        val assign = IvfIndex.postings(spark, armDir).select("vec_id", "centroid_id")
        val probes = IvfIndex.rankCells(sample, armDir, NProbe).select("q_id", "centroid_id")
        val hits = scored.join(assign, Seq("vec_id"))
          .join(probes, Seq("q_id", "centroid_id"), "left_semi")
          .withColumn("rn", row_number().over(wR))
          .where(col("rn") <= RrTopK).select("q_id", "vec_id")
        val matched = hits.join(truth, Seq("q_id", "vec_id"))
          .groupBy("q_id").agg(count(lit(1)).as("matched"))
        queries.select("q_id").join(matched, Seq("q_id"), "left")
          .select(lit(arm).as("arm"), col("q_id"),
            coalesce(col("matched"), lit(0L)).as("matched"))
      }
      val out = armRows("frozen", frozenDir)
        .unionByName(armRows("refreshed", refreshedDir))
        .withColumn("cohort",
          when(col("q_id") < NCorpus, "corpus").otherwise("drifted"))
        .groupBy("arm", "cohort")
        .agg(count(lit(1)).as("nq"), sum("matched").as("m"),
          min("matched").as("mn"))
        .select(col("arm"), col("cohort"),
          col("nq").cast("long").as("n_queries"),
          expr(s"CAST((m * 10000) DIV ($RrTopK * nq) AS BIGINT)")
            .as("mean_recall_e4"),
          (col("mn") * lit(10000 / RrTopK)).cast("long").as("min_recall_e4"))
        .orderBy("arm", "cohort")
        .cutLineage()
      scored.unpersist(); v.unpersist()
      out
    }
    val oracle = {
      // ordered double sums as sequential list_reduce folds (matches the
      // engine's left-to-right kernels) — everything else is exact
      def sq(v: String) = s"(CAST($v AS DOUBLE)/1000000)*(CAST($v AS DOUBLE)/1000000)"
      Some(
      s"""WITH cdef AS (
         |  SELECT vec_id, CASE WHEN vec_id < 300 THEN vec_id % 4
         |                      ELSE 4 + vec_id % 2 END AS clu
         |  FROM range(600) t(vec_id)),
         |vecs AS (
         |  SELECT vec_id, list_transform(range(0, $Dim), j ->
         |    CAST(CASE WHEN j >= clu*8 AND j < clu*8+8 THEN 8 ELSE 0 END
         |         + CASE WHEN vec_id >= 300 AND j = (vec_id*17) % 32 THEN 8 ELSE 0 END
         |         + ((((vec_id*2654435761 + (j+1)*40503) >> 7) * 48271) % 2147483647) % 7 AS FLOAT)) AS embedding
         |  FROM cdef),
         |qs AS (SELECT vec_id AS q_id, embedding AS q_vec FROM vecs WHERE vec_id % 25 = 1),
         |sc AS (
         |  SELECT q_id, v.vec_id,
         |    ${sqlDot("q_vec", "v.embedding")} / (${sqlNorm("q_vec")} * ${sqlNorm("v.embedding")}) AS cs
         |  FROM vecs v CROSS JOIN qs WHERE v.vec_id <> q_id),
         |truth AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, vec_id) AS rn
         |  FROM sc) t WHERE rn <= $RrTopK),
         |fc AS (SELECT vec_id AS c_id, embedding AS c_vec FROM vecs
         |       WHERE vec_id < 300 AND vec_id % $IvfStride = 0),
         |fa AS (SELECT vec_id, centroid_id FROM (
         |  SELECT v.vec_id, f.c_id AS centroid_id, row_number() OVER (PARTITION BY v.vec_id
         |    ORDER BY ${sqlDot("v.embedding", "f.c_vec")} / (${sqlNorm("v.embedding")} * ${sqlNorm("f.c_vec")}) DESC, f.c_id) AS rn
         |  FROM vecs v CROSS JOIN fc f) t WHERE rn = 1),
         |fp AS (SELECT q_id, centroid_id FROM (
         |  SELECT q_id, f.c_id AS centroid_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY ${sqlDot("q_vec", "f.c_vec")} / (${sqlNorm("q_vec")} * ${sqlNorm("f.c_vec")}) DESC, f.c_id) AS rn
         |  FROM qs CROSS JOIN fc f) t WHERE rn <= $NProbe),
         |fhits AS (SELECT q_id, vec_id FROM (
         |  SELECT sc.q_id, sc.vec_id, row_number() OVER (PARTITION BY sc.q_id ORDER BY sc.cs DESC, sc.vec_id) AS rn
         |  FROM sc JOIN fa USING (vec_id)
         |  JOIN fp ON fp.q_id = sc.q_id AND fp.centroid_id = fa.centroid_id) t
         |  WHERE rn <= $RrTopK),
         |unitq AS (
         |  SELECT vec_id, list_transform(embedding, x ->
         |    CAST(round(CAST(CAST(CAST(x AS DOUBLE) / nrm AS FLOAT) AS DOUBLE) * 1000000) AS BIGINT)) AS v
         |  FROM (SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM vecs) s),
         |qd AS (
         |  SELECT vec_id, CAST(i AS INT) AS i, v[CAST(i AS INT)] AS x
         |  FROM unitq, range(1, ${Dim + 1}) t(i)),
         |c0 AS (
         |  SELECT cid, CAST(i AS INT) AS i, v[CAST(i AS INT)] AS x
         |  FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
         |        FROM unitq ORDER BY vec_id LIMIT 8) s, range(1, ${Dim + 1}) t(i)),
         |${lloydChainCtes(3)},
         |cagg AS (SELECT cid, list(x ORDER BY i) AS xs FROM c3 GROUP BY cid),
         |cnorm AS (
         |  SELECT cid, xs, greatest(sqrt(${sqlSeqSum(s"list_transform(xs, v -> ${sq("v")})")}), 1e-12) AS nc
         |  FROM cagg),
         |rc AS (
         |  SELECT cid,
         |    list_transform(xs, v -> CAST(round(CAST(v AS DOUBLE)/1000000/nc*1000000) AS BIGINT)) AS qv,
         |    list_transform(xs, v -> CAST(CAST(v AS DOUBLE)/1000000/nc AS FLOAT)) AS fv
         |  FROM cnorm),
         |rcd AS (
         |  SELECT cid, CAST(i AS INT) AS i, qv[CAST(i AS INT)] AS x
         |  FROM rc, range(1, ${Dim + 1}) t(i)),
         |${sqlAssign("ra", "rcd")},
         |rp AS (SELECT q_id, cid FROM (
         |  SELECT q_id, r.cid, row_number() OVER (PARTITION BY q_id
         |    ORDER BY ${sqlDot("q_vec", "r.fv")} / (${sqlNorm("q_vec")} * ${sqlNorm("r.fv")}) DESC, r.cid) AS rn
         |  FROM qs CROSS JOIN rc r) t WHERE rn <= $NProbe),
         |rhits AS (SELECT q_id, vec_id FROM (
         |  SELECT sc.q_id, sc.vec_id, row_number() OVER (PARTITION BY sc.q_id ORDER BY sc.cs DESC, sc.vec_id) AS rn
         |  FROM sc JOIN ra USING (vec_id)
         |  JOIN rp ON rp.q_id = sc.q_id AND rp.cid = ra.cid) t
         |  WHERE rn <= $RrTopK),
         |m AS (
         |  SELECT 'frozen' AS arm, t.q_id, count(*) AS matched
         |  FROM fhits h JOIN truth t ON h.q_id = t.q_id AND h.vec_id = t.vec_id GROUP BY 2
         |  UNION ALL
         |  SELECT 'refreshed', t.q_id, count(*)
         |  FROM rhits h JOIN truth t ON h.q_id = t.q_id AND h.vec_id = t.vec_id GROUP BY 2),
         |grid AS (SELECT arm, q_id FROM (VALUES ('frozen'), ('refreshed')) a(arm) CROSS JOIN qs),
         |per AS (
         |  SELECT g.arm, g.q_id, coalesce(m.matched, 0) AS matched
         |  FROM grid g LEFT JOIN m ON m.arm = g.arm AND m.q_id = g.q_id)
         |SELECT arm, CASE WHEN q_id < 300 THEN 'corpus' ELSE 'drifted' END AS cohort,
         |  CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(CAST(sum(matched) AS BIGINT) * 10000 // ($RrTopK * count(*)) AS BIGINT) AS mean_recall_e4,
         |  CAST(min(matched) * ${10000 / RrTopK} AS BIGINT) AS min_recall_e4
         |FROM per GROUP BY 1, 2 ORDER BY arm, cohort""".stripMargin)
    }
  }

  /** k-means cluster assignment (Lloyd's, deterministic init) on the
    * integer-exact path: embeddings quantized to BIGINT (round(x·1e6)),
    * assignments by integer squared distance (ties → lowest index),
    * centroids as round-half-up integer means — order-independent, hence
    * bit-identical to a DuckDB unrolling of the same iterations. The float
    * path (KMeansOps.fit) stays the library default; its centroid low bits
    * are accumulation-order-dependent and only property-tested. */
  val KmK = 8
  val KmIters = 3

  /** DuckDB SQL for `iters` exact Lloyd iterations + final assignment.
    * Relational form: vectors and centroids as (id, dim-index, value) rows;
    * floordiv(a,b) spelled (a - pmod(a,b)) // b — the numerator is exactly
    * divisible, so DuckDB's truncating `//` equals floor. */
  /** Integer-argmin assignment CTE: every `qd` vector to its nearest `c`
    * centroid (ties → lowest cid) — the relational mirror of
    * KMeansOps.assignmentExact. Shared by [[kmeansOracle]] and the
    * refresh-recall oracle. */
  private def sqlAssign(a: String, c: String) =
    s"""$a AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT qd.vec_id, $c.cid,
       |      row_number() OVER (PARTITION BY qd.vec_id
       |        ORDER BY sum((qd.x - $c.x) * (qd.x - $c.x)) ASC, $c.cid ASC) AS rn
       |    FROM qd JOIN $c ON qd.i = $c.i
       |    GROUP BY qd.vec_id, $c.cid) t WHERE rn = 1)""".stripMargin

  /** The assign/update CTE chain of exact integer Lloyd's (expects `qd` =
    * (vec_id, i, x) quantized vectors and `c0` = (cid, i, x) init
    * centroids in scope); ends with `afinal` (vec_id, cid), leaving
    * `c<iters>` as the fitted centroids — the relational mirror of
    * KMeansOps.fitExact. */
  private def lloydChainCtes(iters: Int): String = {
    def floordiv(a: String, b: String) =
      s"($a - ((($a) % ($b) + ($b)) % ($b))) // ($b)"
    def update(cNew: String, a: String, cPrev: String) =
      s"""$cNew AS (
         |  SELECT cid, i, ${floordiv("2 * s + n", "2 * n")} AS x FROM (
         |    SELECT a.cid, qd.i, sum(qd.x) AS s, count(*) AS n
         |    FROM $a a JOIN qd ON a.vec_id = qd.vec_id GROUP BY a.cid, qd.i) st
         |  UNION ALL
         |  SELECT cid, i, x FROM $cPrev
         |  WHERE cid NOT IN (SELECT DISTINCT cid FROM $a))""".stripMargin
    ((1 to iters).flatMap { t =>
      Seq(sqlAssign(s"a$t", s"c${t - 1}"), update(s"c$t", s"a$t", s"c${t - 1}"))
    } :+ sqlAssign("afinal", s"c$iters")).mkString(",\n")
  }

  private def kmeansOracle(k: Int, iters: Int): String = {
    s"""WITH q AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
       |  FROM embeddings),
       |qd AS (
       |  SELECT vec_id, CAST(i AS INT) AS i, v[CAST(i AS INT)] AS x
       |  FROM q, range(1, ${Dim + 1}) t(i)),
       |c0 AS (
       |  SELECT cid, CAST(i AS INT) AS i, v[CAST(i AS INT)] AS x
       |  FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
       |        FROM q ORDER BY vec_id LIMIT $k) s, range(1, ${Dim + 1}) t(i)),
       |${lloydChainCtes(iters)}
       |SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM afinal ORDER BY vec_id""".stripMargin
  }

  val kmeansClusters: Q = new Q {
    val name = "kmeans_clusters"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val emb = Tables.embeddings(spark, dir)
      val cents = graft.ops.KMeansOps.fitExact(emb, k = KmK, iters = KmIters)
      graft.ops.KMeansOps.transformExact(emb, cents).orderBy("vec_id")
    }
    val oracle = Some(kmeansOracle(KmK, KmIters))
  }

  /** Int8 symmetric scalar quantization of the embedding column (the
    * standard 4× shrink before ANN indexing at scale): per-vector max-abs
    * scale, quantized array, and an integer-exact reconstruction-error
    * metric (each |x−x̂| term is e6-rounded to a BIGINT before summing, so
    * no float-accumulation-order drift between engines). Pure per-row
    * higher-order array expressions — embarrassingly parallel. */
  val embedQuantize: Q = new Q {
    val name = "embed_quantize"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val x = Tables.embeddings(spark, dir)
        .withColumn("maxabs",
          array_max(transform(col("embedding"), v => abs(v.cast("double")))))
      val quant = (v: org.apache.spark.sql.Column) =>
        round(v.cast("double") * 127.0 / col("maxabs")).cast("int")
      val errTerm = (v: org.apache.spark.sql.Column) =>
        abs(round(v.cast("double") * 1e6).cast("long") -
          round(quant(v).cast("double") * col("maxabs") / 127.0 * 1e6).cast("long"))
      // qvec is serialized to a CSV string: the driver's pandas-based
      // verifier can't hash/sort array columns (round-3 gate failure).
      x.select(col("vec_id"),
          round(col("maxabs") * 1e6).cast("long").as("maxabs_e6"),
          array_join(
            when(col("maxabs") === 0.0,
              transform(col("embedding"), _ => lit("0")))
            .otherwise(transform(col("embedding"), v => quant(v).cast("string"))),
            ",").as("qvec_csv"),
          when(col("maxabs") === 0.0, lit(0L))
            .otherwise(aggregate(transform(col("embedding"), errTerm),
              lit(0L), (acc, t) => acc + t)).as("err_e6"))
        // persisted before the global sort: the range sampler otherwise
        // re-runs the quantize+error kernel a second time (OPTIMIZATION_r18)
        .persist()
        .orderBy("vec_id")
    }
    val oracle = Some(
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |  FROM embeddings)
        |SELECT vec_id,
        |  CAST(round(maxabs * 1e6) AS BIGINT) AS maxabs_e6,
        |  array_to_string(
        |    CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> '0')
        |         ELSE list_transform(embedding,
        |                x -> CAST(CAST(round(CAST(x AS DOUBLE) * 127.0 / maxabs) AS INT) AS VARCHAR))
        |    END, ',') AS qvec_csv,
        |  CASE WHEN maxabs = 0 THEN 0
        |       ELSE CAST(list_aggregate(list_transform(embedding,
        |         x -> abs(CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) -
        |                  CAST(round(CAST(round(CAST(x AS DOUBLE) * 127.0 / maxabs) AS DOUBLE)
        |                             * maxabs / 127.0 * 1e6) AS BIGINT))), 'sum') AS BIGINT)
        |  END AS err_e6
        |FROM e ORDER BY vec_id""".stripMargin)
  }

  /** Recall@k report card for the approximate paths: per query, how many
    * of the exact brute-force top-k the IVF (nprobe=1) and multi-probe
    * (nprobe=2) searches recovered, as integer percentages (floor
    * division — exact on both engines). This turns "approximate by
    * design" into a measured, oracle-checked number; the spec further
    * pins the expected dominance multi-probe ≥ single-probe. At scale the
    * same query is the recall-monitoring job you run on a sampled query
    * set after each index rebuild. */
  val annRecallAtK: Q = new Q {
    val name = "ann_recall_at_k"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val brute = annBruteTopk.run(spark, dir).select("q_id", "c_id")
      // ONE ranked-assignment computation serves both search arms (persist:
      // the N x nlist scoring is the dominant cost)
      val ranked = ivfRanked(spark, dir, NProbe).persist()
      try {
        val ivf = ivfSearch(ranked, nProbe = 1)
          .select(col("q_id"), col("c_id")).withColumn("hit_i", lit(1L))
        val mp = ivfSearch(ranked, NProbe)
          .select(col("q_id"), col("c_id")).withColumn("hit_m", lit(1L))
        brute
          .join(ivf, Seq("q_id", "c_id"), "left")
          .join(mp, Seq("q_id", "c_id"), "left")
          .groupBy("q_id")
          .agg(count(lit(1)).as("n_brute"),
            sum(coalesce(col("hit_i"), lit(0L))).as("hit_ivf"),
            sum(coalesce(col("hit_m"), lit(0L))).as("hit_mp"))
          .select(col("q_id"), col("n_brute"), col("hit_ivf"), col("hit_mp"),
            expr("hit_ivf * 100 div n_brute").as("recall_ivf_pct"),
            expr("hit_mp * 100 div n_brute").as("recall_mp_pct"))
          .orderBy("q_id")
          // |queries| x 6 longs — bounded by the fixed query batch. The
          // eager cut materializes the result so `ranked` can be
          // unpersisted HERE rather than leaking until the caller's
          // clearCache (round-5 advice: long-lived sessions kept the
          // N x nlist assignment pinned after the query completed).
          .cutLineage()
      } finally ranked.unpersist(): Unit
    }
    val oracle = Some(
      s"""WITH brute AS (${annBruteTopk.oracle.get}),
         |ivf AS (${annIvfTopk.oracle.get}),
         |mp AS (${annIvfMpTopk.oracle.get}),
         |j AS (
         |  SELECT b.q_id,
         |    CASE WHEN i.c_id IS NULL THEN 0 ELSE 1 END AS hit_i,
         |    CASE WHEN m.c_id IS NULL THEN 0 ELSE 1 END AS hit_m
         |  FROM brute b
         |  LEFT JOIN ivf i ON b.q_id = i.q_id AND b.c_id = i.c_id
         |  LEFT JOIN mp m ON b.q_id = m.q_id AND b.c_id = m.c_id)
         |SELECT q_id, count(*) AS n_brute,
         |  CAST(sum(hit_i) AS BIGINT) AS hit_ivf,
         |  CAST(sum(hit_m) AS BIGINT) AS hit_mp,
         |  CAST(sum(hit_i) AS BIGINT) * 100 // count(*) AS recall_ivf_pct,
         |  CAST(sum(hit_m) AS BIGINT) * 100 // count(*) AS recall_mp_pct
         |FROM j GROUP BY q_id ORDER BY q_id""".stripMargin)
  }

  /** IVF tuning curve — recall AND cost per probe width in one pass: for
    * nprobe ∈ {1, 2, 4, 8}, corpus-level recall@k vs the brute truth plus
    * the number of candidates actually scored (Σ probed-list sizes minus
    * the query's own self-hit). This is the artifact an operator reads to
    * pick nprobe — the recall/latency trade measured, not guessed
    * (`ann_recall_at_k` reports per-query recall at the two FIXED widths;
    * this is the sweep across widths at the corpus grain).
    *
    * Scale shape: candidates are scored ONCE at the widest arm — each
    * (query, candidate) carries the probe rank of its centroid, and the
    * arms it is visible at (sweep values ≥ that rank) expand IN-ROW
    * (the repo's in-row direction-expansion idiom), so the sweep pays
    * one candidate join + one (q, nprobe)-partitioned top-k window
    * instead of |sweep| joins (measured 5.0 → 3.2 s warm at sf0.1; the
    * per-arm-join shape re-ran the cosine kernel 4×). The cost column
    * comes from the centroid-size dim (nlist rows), not from re-counting
    * the candidate join. Eager cut + unpersist as in ann_recall_at_k. */
  val ProbeSweep: Seq[Int] = Seq(1, 2, 4, 8)
  val qAnnNprobeSweep: Q = new Q {
    val name = "q_ann_nprobe_sweep"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import spark.implicits._
      val maxP = ProbeSweep.max
      // arms a candidate at probe rank r participates in: sweep values ≥ r
      val armsOf = filter(
        array(ProbeSweep.map(p => lit(p.toLong)): _*), p => p >= col("rn"))
      val ranked = ivfRanked(spark, dir, maxP).persist()
      val brute = annBruteTopk.run(spark, dir).select("q_id", "c_id").persist()
      try {
        val (assigned, probes) = ivfSplit(ranked, maxP)
        val sizes = assigned.groupBy("centroid_id").agg(count(lit(1)).as("sz"))
        // ONE cosine pass at the widest arm; visibility expands in-row
        // hint kept: without it a SortMergeJoin shuffles the postings
        val scored = assigned.join(broadcast(probes), Seq("centroid_id"))
          .where(col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"),
            VectorOps.cosine(col("q_vec"), col("embedding")).as("cosine_sim"),
            explode(armsOf).as("nprobe"))
        val w = Window.partitionBy("q_id", "nprobe")
          .orderBy(col("cosine_sim").desc, col("vec_id").asc)
        val top = scored.withColumn("rank", row_number().over(w))
          .where(col("rank") <= TopK)
          .select(col("nprobe"), col("q_id"), col("vec_id").as("c_id"))
        val hits = brute.join(top, Seq("q_id", "c_id"))
          .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
        // hint kept: without it a SortMergeJoin shuffles the probes
        val scanned = probes.join(broadcast(sizes), Seq("centroid_id"))
          .select(col("q_id"), col("sz"), explode(armsOf).as("nprobe"))
          .groupBy("nprobe")
          .agg((sum("sz") - countDistinct("q_id")).as("cands_scored"))
        ProbeSweep.map(_.toLong).toDF("nprobe")
          .join(hits, Seq("nprobe"), "left")
          .join(scanned, Seq("nprobe"), "left")
          .crossJoin(brute.agg(count(lit(1)).as("n_truth")))
          .select(col("nprobe"), col("n_truth"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            expr("CASE WHEN n_truth = 0 THEN -1 " +
              "ELSE coalesce(n_hits, 0) * 10000 div n_truth END").as("recall_e4"),
            col("cands_scored"))
          .orderBy("nprobe").cutLineage()
      } finally { ranked.unpersist(); brute.unpersist(): Unit }
    }
    val oracle = {
      val armSql = ProbeSweep.map { p =>
        s"""SELECT $p AS nprobe,
           |  (SELECT count(*) FROM brute) AS n_truth,
           |  (SELECT count(*) FROM brute b JOIN top_$p t
           |     ON b.q_id = t.q_id AND b.c_id = t.c_id2) AS n_hits,
           |  CASE WHEN (SELECT count(*) FROM brute) = 0 THEN -1
           |    ELSE (SELECT count(*) FROM brute b JOIN top_$p t
           |            ON b.q_id = t.q_id AND b.c_id = t.c_id2) * 10000
           |         // (SELECT count(*) FROM brute) END AS recall_e4,
           |  (SELECT CAST(sum(sz) AS BIGINT) - count(DISTINCT q_id)
           |     FROM probes_$p JOIN sizes USING (centroid_id)) AS cands_scored""".stripMargin
      }.mkString("\nUNION ALL\n")
      val armCtes = ProbeSweep.map { p =>
        s"""probes_$p AS (
           |  SELECT vec_id AS q_id, c_id AS centroid_id, embedding AS q_vec
           |  FROM rk WHERE rn <= $p AND vec_id % $QueryStride = 0 AND vec_id < $QueryCap),
           |sc_$p AS (
           |  SELECT q_id, c_id2,
           |    ${sqlDot("q_vec", "c_vec2")} / (${sqlNorm("q_vec")} * ${sqlNorm("c_vec2")}) AS cosine_sim
           |  FROM cd JOIN probes_$p USING (centroid_id) WHERE q_id != c_id2),
           |top_$p AS (
           |  SELECT q_id, c_id2 FROM (
           |    SELECT q_id, c_id2,
           |      row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, c_id2) AS rank
           |    FROM sc_$p) t WHERE rank <= $TopK)""".stripMargin
      }.mkString(",\n")
      Some(
        s"""WITH c AS (
           |  SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
           |  WHERE vec_id % $IvfStride = 0 AND vec_id < $IvfCentCap),
           |s AS (
           |  SELECT e.vec_id, e.embedding, c.c_id,
           |    ${sqlDot("e.embedding", "c_vec")} / (${sqlNorm("e.embedding")} * ${sqlNorm("c_vec")}) AS cs
           |  FROM embeddings e CROSS JOIN c),
           |rk AS (
           |  SELECT vec_id, embedding, c_id,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, c_id) AS rn
           |  FROM s),
           |assigned AS (SELECT vec_id, embedding, c_id AS centroid_id FROM rk WHERE rn = 1),
           |sizes AS (SELECT centroid_id, count(*) AS sz FROM assigned GROUP BY 1),
           |cd AS (SELECT vec_id AS c_id2, embedding AS c_vec2, centroid_id FROM assigned),
           |brute AS (SELECT q_id, c_id FROM (${annBruteTopk.oracle.get}) bt),
           |$armCtes
           |SELECT CAST(nprobe AS BIGINT) AS nprobe, CAST(n_truth AS BIGINT) AS n_truth,
           |  CAST(n_hits AS BIGINT) AS n_hits, CAST(recall_e4 AS BIGINT) AS recall_e4,
           |  CAST(cands_scored AS BIGINT) AS cands_scored
           |FROM ($armSql) sweep ORDER BY nprobe""".stripMargin)
    }
  }

  /** FILTERED vector search — top-k restricted to candidates matching a
    * per-query metadata predicate (here: same label as the query), the
    * shape every production vector store has to serve ("nearest docs in
    * MY tenant / language / date range"). Post-filter IVF: probe the
    * NProbe nearest lists, drop candidates failing the predicate, rank
    * the survivors. The companion recall gate measures what the filter
    * does to probe coverage — filtered recall is structurally worse than
    * unfiltered (a probed list may hold too few matching candidates),
    * and that number should be MEASURED, not assumed.
    *
    * Scale shape: identical to ann_ivf_mp_topk (ranked assignment +
    * broadcast probe join) with the label equality folded into the join
    * filter — no extra pass, no new shuffle. */
  val annFilteredTopk: Q = new Q {
    val name = "ann_filtered_topk"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val labels = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"))
      val (assigned0, probes0) = ivfSplit(ivfRanked(spark, dir, NProbe), NProbe)
      val assigned = assigned0
        .join(labels.select(col("vec_id"), col("label").as("c_label")), Seq("vec_id"))
      val probes = probes0
        .join(labels.select(col("vec_id").as("q_id"), col("label").as("q_label")),
          Seq("q_id"))
      // hint kept: without it a SortMergeJoin shuffles the postings
      val joined = assigned.join(broadcast(probes), Seq("centroid_id"))
        .where(col("q_id") =!= col("vec_id") && col("c_label") === col("q_label"))
        .withColumn("cosine_sim", VectorOps.cosine(col("q_vec"), col("embedding")))
      val w = Window.partitionBy("q_id").orderBy(col("cosine_sim").desc, col("vec_id").asc)
      joined.withColumn("rank", row_number().over(w)).where(col("rank") <= TopK)
        .select(col("q_id"), col("vec_id").as("c_id"), col("rank").cast("long").as("rank"),
          round(col("cosine_sim") * 1000000).cast("long").as("cos_e6"))
        .orderBy("q_id", "rank")
    }
    val oracle = Some(
      s"""WITH c AS (
         |  SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
         |  WHERE vec_id % $IvfStride = 0 AND vec_id < $IvfCentCap),
         |s AS (
         |  SELECT e.vec_id, e.embedding, e.label, c.c_id,
         |    ${sqlDot("e.embedding", "c_vec")} / (${sqlNorm("e.embedding")} * ${sqlNorm("c_vec")}) AS cs
         |  FROM embeddings e CROSS JOIN c),
         |rk AS (
         |  SELECT vec_id, embedding, label, c_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, c_id) AS rn
         |  FROM s),
         |assigned AS (SELECT vec_id, embedding, label, c_id AS centroid_id FROM rk WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label, c_id AS centroid_id
         |      FROM rk WHERE rn <= $NProbe
         |        AND vec_id % $QueryStride = 0 AND vec_id < $QueryCap),
         |cd AS (SELECT vec_id AS c_id2, embedding AS c_vec2, label AS c_label, centroid_id
         |       FROM assigned),
         |sc AS (
         |  SELECT q_id, c_id2,
         |    ${sqlDot("q_vec", "c_vec2")} / (${sqlNorm("q_vec")} * ${sqlNorm("c_vec2")}) AS cosine_sim
         |  FROM cd JOIN q USING (centroid_id)
         |  WHERE q_id != c_id2 AND c_label = q_label),
         |r AS (
         |  SELECT q_id, c_id2, cosine_sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, c_id2) AS rank
         |  FROM sc)
         |SELECT q_id, c_id2 AS c_id, CAST(rank AS BIGINT) AS rank,
         |       CAST(round(cosine_sim * 1000000) AS BIGINT) AS cos_e6
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin)
  }

  /** Per-query recall of the FILTERED IVF search vs the filtered brute
    * truth (same-label exact top-k). A sub-100 row here means the probe
    * width, not the ranking, lost the candidates — the signal to raise
    * nprobe for constrained queries (the standard filtered-search
    * operational dial); the brute side is the deliberate ground-truth
    * twin, bounded by the fixed query batch. */
  val qAnnFilteredRecall: Q = new Q {
    val name = "q_ann_filtered_recall"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), col("label").cast("long").as("label"))
      val queries = emb.where(col("vec_id") % QueryStride === 0 && col("vec_id") < QueryCap)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").as("q_label"))
      val brute = emb.select(col("vec_id").as("c_id2"), col("embedding").as("c_vec2"),
          col("label").as("c_label"))
        // hint kept: the capped queries are estimated at the corpus's size
        .join(broadcast(queries), col("q_id") =!= col("c_id2") &&
          col("c_label") === col("q_label"))
        .withColumn("cosine_sim", VectorOps.cosine(col("q_vec"), col("c_vec2")))
      val w = Window.partitionBy("q_id").orderBy(col("cosine_sim").desc, col("c_id2").asc)
      val truth = brute.withColumn("rank", row_number().over(w))
        .where(col("rank") <= TopK).select(col("q_id"), col("c_id2").as("c_id"))
      val ivf = annFilteredTopk.run(spark, dir).select("q_id", "c_id")
        .withColumn("hit", lit(1L))
      truth
        .join(ivf, Seq("q_id", "c_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("q_id"), col("n_truth"), col("n_hit"),
          expr("n_hit * 100 div n_truth").as("recall_pct"))
        .orderBy("q_id")
    }
    val oracle = Some(
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label FROM embeddings
         |  WHERE vec_id % $QueryStride = 0 AND vec_id < $QueryCap),
         |sc AS (
         |  SELECT q.q_id, e.vec_id AS c_id,
         |    ${sqlDot("q_vec", "e.embedding")} / (${sqlNorm("q_vec")} * ${sqlNorm("e.embedding")}) AS cosine_sim
         |  FROM embeddings e JOIN q ON e.vec_id != q.q_id AND e.label = q.q_label),
         |truth AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, c_id) AS rank
         |    FROM sc) t WHERE rank <= $TopK),
         |ivf AS (SELECT q_id, c_id FROM (${annFilteredTopk.oracle.get}) f)
         |SELECT t.q_id, count(*) AS n_truth,
         |  CAST(sum(CASE WHEN i.c_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit,
         |  CAST(sum(CASE WHEN i.c_id IS NULL THEN 0 ELSE 1 END) * 100 // count(*) AS BIGINT)
         |    AS recall_pct
         |FROM truth t LEFT JOIN ivf i ON t.q_id = i.q_id AND t.c_id = i.c_id
         |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin)
  }

  /** Shared PQ machinery — constants, subspace slicing, the exact dist²
    * algebra, and the per-(vector, subspace) codebook assignment — used
    * by BOTH the index-build side (`pq_codes`) and the search side
    * (`ann_pq_adc_topk`), Spark AND oracle, so the two sides can never
    * drift onto different indexes (same coupling discipline as the
    * shared BPE trainer in TextQueries). */
  private object Pq {
    val NSub = 4
    val SubDim: Int = Dim / NSub
    val CodeStride = 61L
    val CodeCap = 488L // 8 codewords: 0, 61, ..., 427

    def sub(v: org.apache.spark.sql.Column, s: org.apache.spark.sql.Column) =
      slice(v, s * SubDim + 1, lit(SubDim))
    def dist2E6(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      round((VectorOps.dot(a, a) + VectorOps.dot(b, b) -
        lit(2) * VectorOps.dot(a, b)) * 1000000).cast("long")

    /** The 8×4 codeword frame: (s, cw_id, cw_sub). */
    def codewords(spark: SparkSession, dir: String): DataFrame =
      Tables.embeddings(spark, dir)
        .where(col("vec_id") % CodeStride === 0 && col("vec_id") < CodeCap)
        .withColumn("s", explode(sequence(lit(0), lit(NSub - 1))))
        .select(col("s"), col("vec_id").as("cw_id"),
          sub(col("embedding"), col("s")).as("cw_sub"))

    /** Per-(vector, subspace) nearest codeword with its distance:
      * (vec_id, s, cw_id, dist2_e6). */
    def assignments(spark: SparkSession, dir: String): DataFrame = {
      val vs = Tables.embeddings(spark, dir)
        .withColumn("s", explode(sequence(lit(0), lit(NSub - 1))))
        .select(col("vec_id"), col("s"), sub(col("embedding"), col("s")).as("v_sub"))
      val w = Window.partitionBy("vec_id", "s")
        .orderBy(col("dist2_e6").asc, col("cw_id").asc)
      // hint kept: the capped codebook is estimated at the corpus's size
      vs.join(broadcast(codewords(spark, dir)), Seq("s"))
        .withColumn("dist2_e6", dist2E6(col("v_sub"), col("cw_sub")))
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select("vec_id", "s", "cw_id", "dist2_e6")
    }

    def sqlDotS(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${SubDim + 1}), " +
        s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"
    def sqlDist2(a: String, b: String): String =
      s"CAST(round((${sqlDotS(a, a)} + ${sqlDotS(b, b)} - 2 * ${sqlDotS(a, b)}) " +
        s"* 1000000) AS BIGINT)"

    /** Oracle CTEs cw / vs / assign / codes shared by both queries. */
    val SqlAssignCtes: String =
      s"""cw AS (
         |  SELECT s, vec_id AS cw_id,
         |    list_slice(embedding, s * $SubDim + 1, s * $SubDim + $SubDim) AS cw_sub
         |  FROM embeddings CROSS JOIN range($NSub) r(s)
         |  WHERE vec_id % $CodeStride = 0 AND vec_id < $CodeCap),
         |vs AS (
         |  SELECT vec_id, s,
         |    list_slice(embedding, s * $SubDim + 1, s * $SubDim + $SubDim) AS v_sub
         |  FROM embeddings CROSS JOIN range($NSub) r(s)),
         |assign AS (
         |  SELECT vec_id, vs.s, cw_id, ${sqlDist2("v_sub", "cw_sub")} AS dist2_e6,
         |    row_number() OVER (
         |      PARTITION BY vec_id, vs.s
         |      ORDER BY ${sqlDist2("v_sub", "cw_sub")} ASC, cw_id ASC) AS rn
         |  FROM vs JOIN cw ON vs.s = cw.s),
         |codes AS (SELECT vec_id, s, cw_id, dist2_e6 FROM assign WHERE rn = 1)""".stripMargin
  }

  /** Product quantization (PQ): the 64-dim embedding splits into 4
    * 16-dim subspaces, each encoded as its nearest of 8 codewords —
    * 64 floats compress to 4 small codes (the memory layout behind
    * billion-vector ANN serving; IVF+PQ is the standard pairing). The
    * codebook, like the IVF centroid set, is an id-bounded FIXED index
    * parameter (8 codewords below the cap — production would train it
    * with the k-means op on a sample). Distances are exact kernel-dot
    * algebra (‖v−c‖² = v·v + c·c − 2·v·c, one fixed fold order per dot)
    * rounded to e6 BIGINTs before the argmin, codeword-id tie-break —
    * bit-deterministic on both engines. Scale shape: corpus × 4
    * subspaces × 8 broadcast codewords, all map-side; one argmin window
    * per (vector, subspace) keyed by the vector — the shuffle carries
    * N×4 rows once, and the output pivot is a second N-row aggregate. */
  val pqCodes: Q = new Q {
    val name = "pq_codes"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val best = Pq.assignments(spark, dir)
      best.groupBy("vec_id")
        .agg(
          max(when(col("s") === 0, col("cw_id"))).as("code_0"),
          max(when(col("s") === 1, col("cw_id"))).as("code_1"),
          max(when(col("s") === 2, col("cw_id"))).as("code_2"),
          max(when(col("s") === 3, col("cw_id"))).as("code_3"),
          sum("dist2_e6").as("err_e6"))
        .orderBy("vec_id")
    }
    val oracle = Some {
      s"""WITH ${Pq.SqlAssignCtes}
         |SELECT vec_id,
         |  max(CASE WHEN s = 0 THEN cw_id END) AS code_0,
         |  max(CASE WHEN s = 1 THEN cw_id END) AS code_1,
         |  max(CASE WHEN s = 2 THEN cw_id END) AS code_2,
         |  max(CASE WHEN s = 3 THEN cw_id END) AS code_3,
         |  CAST(sum(dist2_e6) AS BIGINT) AS err_e6
         |FROM codes
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin
    }
  }

  /** PQ asymmetric-distance (ADC) top-k search — the QUERY side of the
    * IVF+PQ pairing (`pq_codes` is the index-build side): each query
    * precomputes a distance lookup table to every (subspace, codeword)
    * pair — |queries|·4·8 entries, broadcastable at any corpus size —
    * and a candidate's estimated distance is the SUM of 4 table lookups
    * selected by its stored code. The only corpus-scale work is one
    * broadcast join against the N×4 code table and one (q, candidate)
    * aggregate: no full vectors are touched at query time, which is the
    * entire point of PQ. Distances are the same e6-rounded exact dot
    * algebra as the codebook assignment, so ranking is engine-exact
    * (ties by candidate id). */
  val annPqAdcTopk: Q = new Q {
    val name = "ann_pq_adc_topk"
    private val AdcTopK = 10
    def run(spark: SparkSession, dir: String): DataFrame = {
      // index side: every vector's per-subspace nearest codeword (shared
      // with pq_codes — the search runs against the index as reported)
      val codes = Pq.assignments(spark, dir).select("vec_id", "s", "cw_id")
      // query side: per-(query, subspace, codeword) distance lookup table
      val qd = Tables.embeddings(spark, dir)
        .where(col("vec_id") % QueryStride === 0 && col("vec_id") < QueryCap)
        .withColumn("s", explode(sequence(lit(0), lit(Pq.NSub - 1))))
        .select(col("vec_id").as("q_id"), col("s"),
          Pq.sub(col("embedding"), col("s")).as("q_sub"))
        // hint kept: the capped codebook is estimated at the corpus's size
        .join(broadcast(Pq.codewords(spark, dir)), Seq("s"))
        .select(col("q_id"), col("s"), col("cw_id"),
          Pq.dist2E6(col("q_sub"), col("cw_sub")).as("qd_e6"))
      val wRank = Window.partitionBy("q_id")
        .orderBy(col("adc_e6").asc, col("c_id").asc)
      // hint kept: without it a SortMergeJoin shuffles the codes
      codes.join(broadcast(qd), Seq("s", "cw_id"))
        .where(col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("vec_id").as("c_id"))
        .agg(sum("qd_e6").as("adc_e6"))
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .where(col("rank") <= AdcTopK)
        .select("q_id", "c_id", "rank", "adc_e6")
        .orderBy("q_id", "rank")
    }
    val oracle = Some {
      s"""WITH ${Pq.SqlAssignCtes},
         |qd AS (
         |  SELECT q.vec_id AS q_id, cw.s, cw.cw_id,
         |    ${Pq.sqlDist2("q_sub", "cw_sub")} AS qd_e6
         |  FROM (
         |    SELECT vec_id, s,
         |      list_slice(embedding, s * ${Pq.SubDim} + 1,
         |                 s * ${Pq.SubDim} + ${Pq.SubDim}) AS q_sub
         |    FROM embeddings CROSS JOIN range(${Pq.NSub}) r(s)
         |    WHERE vec_id % $QueryStride = 0 AND vec_id < $QueryCap) q
         |  JOIN cw ON q.s = cw.s),
         |adc AS (
         |  SELECT qd.q_id, codes.vec_id AS c_id,
         |    CAST(sum(qd.qd_e6) AS BIGINT) AS adc_e6
         |  FROM codes JOIN qd ON codes.s = qd.s AND codes.cw_id = qd.cw_id
         |  WHERE codes.vec_id <> qd.q_id
         |  GROUP BY qd.q_id, codes.vec_id),
         |r AS (
         |  SELECT q_id, c_id, adc_e6, row_number() OVER (
         |    PARTITION BY q_id ORDER BY adc_e6 ASC, c_id ASC) AS rank
         |  FROM adc)
         |SELECT q_id, c_id, CAST(rank AS BIGINT) AS rank, adc_e6
         |FROM r WHERE rank <= $AdcTopK ORDER BY q_id, rank""".stripMargin
    }
  }

  /** END-TO-END HYBRID RETRIEVAL: lexical BM25 ranking fused with dense
    * vector ranking by reciprocal-rank fusion — the standard production
    * retrieval stack (sparse + dense + RRF), here as one declarative plan
    * over the aligned `documents`/`embeddings` id space. Query = the fixed
    * BM25 term set on the text side and embedding 0 on the vector side.
    *
    * Scale shape: both arms end in bounded top-[[HybridCandK]] lists (the
    * vector arm's query is broadcast; a real deployment swaps the
    * brute-force arm for the IVF/PQ path — same downstream fusion), so the
    * fusion join touches 2·K rows regardless of corpus size. */
  val hybridSearchTopk: Q = new Q {
    val name = "hybrid_search_topk"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val emb = Tables.embeddings(spark, dir)
      val q = emb.where(col("vec_id") === 0L)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val cands = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val vec = VectorOps.bruteForceTopK(q, cands, HybridCandK)
        .select(col("c_id").as("doc_id"), col("rank").cast("long").as("rank_vec"))
      val txt = TextQueries.bm25Topk.run(spark, dir)
        .withColumn("rank_txt", row_number().over(
          Window.orderBy(col("score_e4").desc, col("doc_id"))).cast("long"))
        .select("doc_id", "rank_txt")
      txt.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("rank_txt"), lit(0L)).as("rank_txt"),
          coalesce(col("rank_vec"), lit(0L)).as("rank_vec"),
          (coalesce(expr(s"1000000 div ($HybridRrfK + rank_txt)"), lit(0L)) +
            coalesce(expr(s"1000000 div ($HybridRrfK + rank_vec)"), lit(0L)))
            .as("rrf_e6"))
        .orderBy(col("rrf_e6").desc, col("doc_id"))
        .limit(20)
    }
    val oracle = Some(
      s"""WITH tr AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score_e4 DESC, doc_id) AS BIGINT)
         |      AS rank_txt
         |  FROM (${TextQueries.bm25Topk.oracle.get}) bm),
         |qv AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
         |s AS (
         |  SELECT c.vec_id AS doc_id,
         |    ${sqlDot("q_vec", "c.embedding")}
         |      / (${sqlNorm("q_vec")} * ${sqlNorm("c.embedding")}) AS cos
         |  FROM embeddings c CROSS JOIN qv WHERE c.vec_id != 0),
         |vr AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT)
         |      AS rank_vec
         |  FROM s),
         |vk AS (SELECT doc_id, rank_vec FROM vr WHERE rank_vec <= $HybridCandK),
         |f AS (
         |  SELECT COALESCE(tr.doc_id, vk.doc_id) AS doc_id, rank_txt, rank_vec
         |  FROM tr FULL OUTER JOIN vk ON tr.doc_id = vk.doc_id)
         |SELECT doc_id,
         |  CAST(COALESCE(rank_txt, 0) AS BIGINT) AS rank_txt,
         |  CAST(COALESCE(rank_vec, 0) AS BIGINT) AS rank_vec,
         |  CAST(COALESCE(1000000 // ($HybridRrfK + rank_txt), 0)
         |     + COALESCE(1000000 // ($HybridRrfK + rank_vec), 0) AS BIGINT) AS rrf_e6
         |FROM f ORDER BY rrf_e6 DESC, doc_id LIMIT 20""".stripMargin)
  }

  /** Embedding-space label consistency (the kNN-agreement data-QA check a
    * labeled corpus runs before training on it): for each query vector,
    * the fraction of its exact top-k cosine neighbors sharing its label.
    * Low agreement flags mislabeled rows or an embedding space that does
    * not separate the classes. Query batch is the id-bounded strided set
    * (constant as the corpus grows); neighbor search reuses the
    * broadcast-queries brute-force kernel — at 100 TB the same output is
    * produced by swapping in the IVF/LSH candidate path, the agreement
    * aggregation is unchanged. */
  val annLabelConsistency: Q = new Q {
    val name = "ann_label_consistency"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val emb = Tables.embeddings(spark, dir)
      val queries = emb.where(col("vec_id") % QueryStride === 0 && col("vec_id") < QueryCap)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").cast("long").as("q_label"))
      val cands = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
        col("label").cast("long").as("c_label"))
      VectorOps.bruteForceTopK(queries, cands, TopK)
        .groupBy(col("q_id"), col("q_label"))
        .agg(sum(when(col("c_label") === col("q_label"), 1L).otherwise(0L)).as("n_same"))
        .select(col("q_id"), col("q_label"), col("n_same"),
          (col("n_same") * 10000 / TopK).cast("long").as("agree_e4"))
        .orderBy("q_id")
    }
    val oracle = Some(
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS q_vec, CAST(label AS BIGINT) AS q_label
         |  FROM embeddings WHERE vec_id % $QueryStride = 0 AND vec_id < $QueryCap),
         |c AS (SELECT vec_id AS c_id, embedding AS c_vec, CAST(label AS BIGINT) AS c_label
         |      FROM embeddings),
         |s AS (
         |  SELECT q_id, q_label, c_id, c_label,
         |    ${sqlDot("q_vec", "c_vec")} / (${sqlNorm("q_vec")} * ${sqlNorm("c_vec")}) AS cosine_sim
         |  FROM c CROSS JOIN q WHERE q_id != c_id),
         |r AS (
         |  SELECT q_id, q_label, c_label,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, c_id) AS rank
         |  FROM s),
         |a AS (
         |  SELECT q_id, q_label,
         |    sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS n_same
         |  FROM r WHERE rank <= $TopK GROUP BY q_id, q_label)
         |SELECT q_id, q_label, CAST(n_same AS BIGINT) AS n_same,
         |       CAST(n_same * 10000 // $TopK AS BIGINT) AS agree_e4
         |FROM a ORDER BY q_id""".stripMargin)
  }

  /** Per-label centroid similarity matrix — the "dataset cartography"
    * check run before training on a labeled embedding corpus: classes
    * whose centroids are near-parallel are candidates for merging or
    * relabeling. Determinism: components are quantized to e6 BIGINTs
    * in-row, the per-(label, dim) SUMS are exact integer aggregation
    * (order-free), and cosine is scale-invariant so the un-divided sum
    * vector IS the centroid direction — no float accumulation anywhere
    * before the final 64-term left fold, which both engines run in the
    * same dim order. Scale shape: one groupBy keyed (label, dim) —
    * |labels|·dim output rows regardless of corpus size — then a
    * |labels|² (= 100) self-join on a frame of 10 rows. */
  val labelCentroidSim: Q = new Q {
    val name = "label_centroid_sim"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val sums = Tables.embeddings(spark, dir)
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("label"), col("pos"),
          round(col("v").cast("double") * 1000000).cast("long").as("q"))
        .groupBy("label", "pos").agg(sum("q").as("s"))
        .groupBy("label")
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("s")))),
          x => x("s").cast("double")).as("vec"))
      def fold(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
      val l = sums.select(col("label").as("label_l"), col("vec").as("vec_l"))
      val r = sums.select(col("label").as("label_r"), col("vec").as("vec_r"))
      l.crossJoin(r).where(col("label_l") < col("label_r"))
        .withColumn("cos", fold(col("vec_l"), col("vec_r")) /
          (sqrt(fold(col("vec_l"), col("vec_l"))) * sqrt(fold(col("vec_r"), col("vec_r")))))
        .select(col("label_l"), col("label_r"),
          round(col("cos") * 10000).cast("long").as("cos_e4"))
        .orderBy("label_l", "label_r")
    }
    val oracle = {
      def dot(a: String, b: String) = sqlSeqSum(
        s"list_transform(range(1, ${Dim + 1}), i -> $a[i] * $b[i])")
      Some(
        s"""WITH q AS (
           |  SELECT CAST(label AS BIGINT) AS label, i AS pos,
           |    sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS s
           |  FROM embeddings CROSS JOIN range(1, ${Dim + 1}) r(i) GROUP BY 1, 2),
           |v AS (
           |  SELECT label, list(CAST(s AS DOUBLE) ORDER BY pos) AS vec
           |  FROM q GROUP BY label)
           |SELECT l.label AS label_l, r.label AS label_r,
           |  CAST(round(${dot("l.vec", "r.vec")} /
           |    (sqrt(${dot("l.vec", "l.vec")}) * sqrt(${dot("r.vec", "r.vec")})) * 10000)
           |    AS BIGINT) AS cos_e4
           |FROM v l JOIN v r ON l.label < r.label
           |ORDER BY label_l, label_r""".stripMargin)
    }
  }

  /** Hard-negative mining for contrastive training: for each query vector,
    * its nearest SAME-label neighbor (the positive) and nearest
    * DIFFERENT-label neighbor (the hard negative), with the triplet margin
    * between them. margin ≤ 0 means an impostor sits closer than every
    * true neighbor — the row is either mislabeled or the embedding space
    * fails it; those rows are exactly the mined triplets a contrastive
    * fine-tune trains on. Scale shape identical to `ann_brute_topk`
    * (bounded query batch broadcast, corpus streams map-side); the two
    * argmaxes are ONE groupBy with conditional struct-max — no window,
    * no second pass. Tie-break: higher cosine, then LOWER c_id (struct
    * max over (cos, -c_id) = row_number over (cos DESC, c_id ASC)). */
  val hardNegatives: Q = new Q {
    val name = "hard_negatives"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val emb = Tables.embeddings(spark, dir)
      val queries = emb.where(col("vec_id") % QueryStride === 0 && col("vec_id") < QueryCap)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").cast("long").as("q_label"))
      val cands = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
        col("label").cast("long").as("c_label"))
      // hint kept: the capped queries are estimated at the corpus's size;
      // without it a CartesianProduct once that passes the threshold
      val scored = cands.crossJoin(broadcast(queries))
        .where(col("q_id") =!= col("c_id"))
        .withColumn("cos", VectorOps.cosine(col("q_vec"), col("c_vec")))
      def best(cond: org.apache.spark.sql.Column) =
        max(when(cond, struct(col("cos"), (-col("c_id")).as("nid"))))
      scored.groupBy("q_id", "q_label")
        .agg(best(col("c_label") === col("q_label")).as("p"),
          best(col("c_label") =!= col("q_label")).as("n"))
        .select(col("q_id"), col("q_label"),
          (-col("p.nid")).as("pos_id"), (-col("n.nid")).as("neg_id"),
          round((col("p.cos") - col("n.cos")) * 1000000).cast("long").as("margin_e6"))
        .withColumn("is_hard", (col("margin_e6") <= 0).cast("long"))
        .orderBy("q_id")
    }
    val oracle = Some(
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS q_vec, CAST(label AS BIGINT) AS q_label
         |  FROM embeddings WHERE vec_id % $QueryStride = 0 AND vec_id < $QueryCap),
         |c AS (SELECT vec_id AS c_id, embedding AS c_vec, CAST(label AS BIGINT) AS c_label
         |      FROM embeddings),
         |s AS (
         |  SELECT q_id, q_label, c_id, c_label,
         |    ${sqlDot("q_vec", "c_vec")} / (${sqlNorm("q_vec")} * ${sqlNorm("c_vec")}) AS cos
         |  FROM c CROSS JOIN q WHERE q_id != c_id),
         |p AS (SELECT q_id, c_id, cos,
         |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
         |      FROM s WHERE c_label = q_label),
         |n AS (SELECT q_id, c_id, cos,
         |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
         |      FROM s WHERE c_label != q_label)
         |SELECT q.q_id, q.q_label, p.c_id AS pos_id, n.c_id AS neg_id,
         |  CAST(round((p.cos - n.cos) * 1000000) AS BIGINT) AS margin_e6,
         |  CAST(CASE WHEN round((p.cos - n.cos) * 1000000) <= 0 THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_hard
         |FROM q JOIN p ON q.q_id = p.q_id AND p.rn = 1
         |       JOIN n ON q.q_id = n.q_id AND n.rn = 1
         |ORDER BY q.q_id""".stripMargin)
  }

  /** Graded retrieval-quality eval — NDCG@10 and MRR of the dense
    * retrieval against label-match relevance (the standard IR eval over a
    * labeled corpus: a neighbor is "relevant" iff it shares the query's
    * label). The 1/log₂(1+rank) discounts are the ONLY transcendental in
    * NDCG, so they are embedded as precomputed e9 literals (the q_benford
    * pattern — no engine libm at query time): dcg_e9 sums the literal for
    * each relevant rank; idcg_e9 is the cumulative-weight literal at
    * min(total relevant, 10). MRR is 10⁶ div first-relevant-rank.
    *
    * Scale shape: the query batch is id-bounded (broadcast), candidates
    * stream map-side through the brute-force kernel (swap in the IVF/LSH
    * path at 100 TB — the eval aggregation below is unchanged); the label
    * histogram for idcg is a |labels|-row broadcast. */
  val qNdcgMrr: Q = new Q {
    val name = "q_ndcg_mrr"
    private val K = 10
    // floor(1e9 / log2(r+1)) for r = 1..10, and cumulative sums
    private val W = Seq(1000000000L, 630929753L, 500000000L, 430676558L,
      386852807L, 356207187L, 333333333L, 315464876L, 301029995L, 289064826L)
    private val C = W.scanLeft(0L)(_ + _).tail
    def run(spark: SparkSession, dir: String): DataFrame = {
      val emb = Tables.embeddings(spark, dir)
      val queries = emb.where(col("vec_id") % QueryStride === 0 && col("vec_id") < QueryCap)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").cast("long").as("q_label"))
      val cands = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
        col("label").cast("long").as("c_label"))
      val wCase = (1 to K).map(r => s"WHEN $r THEN ${W(r - 1)}L")
        .mkString("CASE rank ", " ", " ELSE 0L END")
      val idcgCase = (1 to K).map(r => s"WHEN $r THEN ${C(r - 1)}L")
        .mkString("CASE n_rel ", " ", " ELSE 0L END")
      val labelCounts = emb.groupBy(col("label").cast("long").as("q_label"))
        .agg(count(lit(1)).as("n_label"))
      VectorOps.bruteForceTopK(queries, cands, K)
        .groupBy("q_id", "q_label")
        .agg(
          sum(when(col("c_label") === col("q_label"), expr(wCase))
            .otherwise(0L)).as("dcg_e9"),
          min(when(col("c_label") === col("q_label"), col("rank").cast("long")))
            .as("min_rel_rank"))
        // hint kept: one row per label, estimated at the corpus's size
        .join(broadcast(labelCounts), Seq("q_label"))
        .withColumn("n_rel", least(col("n_label") - 1, lit(K.toLong)))
        .withColumn("idcg_e9", expr(idcgCase))
        .select(col("q_id"), col("q_label"), col("n_rel"), col("dcg_e9"),
          col("idcg_e9"),
          when(col("idcg_e9") > 0, expr("dcg_e9 * 1000000 div idcg_e9"))
            .otherwise(0L).as("ndcg_e6"),
          coalesce(expr("1000000 div min_rel_rank"), lit(0L)).as("mrr_e6"))
        .orderBy("q_id")
    }
    val oracle = Some {
      val wCase = (1 to K).map(r => s"WHEN $r THEN CAST(${W(r - 1)} AS BIGINT)")
        .mkString("CASE rank ", " ", " ELSE 0 END")
      val idcgCase = (1 to K).map(r => s"WHEN $r THEN CAST(${C(r - 1)} AS BIGINT)")
        .mkString("CASE n_rel ", " ", " ELSE 0 END")
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS q_vec, CAST(label AS BIGINT) AS q_label
         |  FROM embeddings WHERE vec_id % $QueryStride = 0 AND vec_id < $QueryCap),
         |c AS (SELECT vec_id AS c_id, embedding AS c_vec, CAST(label AS BIGINT) AS c_label
         |      FROM embeddings),
         |s AS (
         |  SELECT q_id, q_label, c_id, c_label,
         |    ${sqlDot("q_vec", "c_vec")} / (${sqlNorm("q_vec")} * ${sqlNorm("c_vec")}) AS cosine_sim
         |  FROM c CROSS JOIN q WHERE q_id != c_id),
         |r AS (
         |  SELECT q_id, q_label, c_label,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, c_id) AS rank
         |  FROM s),
         |a AS (
         |  SELECT q_id, q_label,
         |    sum(CASE WHEN c_label = q_label THEN $wCase ELSE 0 END) AS dcg_e9,
         |    min(CASE WHEN c_label = q_label THEN rank END) AS min_rel_rank
         |  FROM r WHERE rank <= $K GROUP BY 1, 2),
         |lc AS (SELECT CAST(label AS BIGINT) AS q_label, count(*) AS n_label
         |       FROM embeddings GROUP BY 1),
         |j AS (
         |  SELECT a.q_id, a.q_label, least(lc.n_label - 1, $K) AS n_rel,
         |    CAST(a.dcg_e9 AS BIGINT) AS dcg_e9, a.min_rel_rank
         |  FROM a JOIN lc USING (q_label)),
         |f AS (SELECT q_id, q_label, n_rel, dcg_e9, $idcgCase AS idcg_e9,
         |             min_rel_rank FROM j)
         |SELECT q_id, q_label, CAST(n_rel AS BIGINT) AS n_rel, dcg_e9, idcg_e9,
         |  CAST(CASE WHEN idcg_e9 > 0 THEN dcg_e9 * 1000000 // idcg_e9
         |       ELSE 0 END AS BIGINT) AS ndcg_e6,
         |  CAST(COALESCE(1000000 // min_rel_rank, 0) AS BIGINT) AS mrr_e6
         |FROM f ORDER BY q_id""".stripMargin
    }
  }

  /** Embedding-norm health profile: log₂ histogram of squared L2 norms —
    * the "did the encoder collapse / explode" check run before any
    * cosine-based pipeline trusts the space. Norms concentrated in one
    * narrow bin (normalized output) vs a spread (raw logits) changes
    * whether dot ≈ cosine. Components quantize to e6 in-row (the
    * label_centroid_sim device), norm² is an exact BIGINT fold, the bin
    * an exact bit-length — no float anywhere in the gated output.
    *
    * Scale shape: pure in-row map + one partial-aggregated groupBy to
    * ≤ 64 bins; the corpus is touched once, map-side. */
  val qEmbeddingNormProfile: Q = new Q {
    val name = "q_embedding_norm_profile"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.embeddings(spark, dir)
        .withColumn("norm2_e12", expr(
          "aggregate(transform(embedding, " +
            "x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), " +
            "CAST(0 AS BIGINT), (acc, q) -> acc + q * q)"))
        .groupBy(length(bin(col("norm2_e12"))).cast("long").as("norm_bin"))
        .agg(count(lit(1)).as("n_vecs"), min("norm2_e12").as("min_norm2"),
          max("norm2_e12").as("max_norm2"))
        .orderBy("norm_bin")
    val oracle = Some(
      """WITH q AS (
        |  SELECT CAST(list_sum(list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
        |              * CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))
        |         AS BIGINT) AS norm2_e12
        |  FROM embeddings)
        |SELECT CAST(length(bin(norm2_e12)) AS BIGINT) AS norm_bin,
        |  count(*) AS n_vecs, min(norm2_e12) AS min_norm2,
        |  max(norm2_e12) AS max_norm2
        |FROM q GROUP BY 1 ORDER BY norm_bin""".stripMargin)
  }

  val all: Seq[Q] = Seq(annBruteTopk, annLshBuckets, annLshTopk, dedupEmbedding,
    dedupEmbeddingLsh, qEmbeddingLshRecall, qEmbeddingLshRecallSampled,
    dedupEmbeddingClusters, dedupEmbeddingKeepCanonical, qEmbeddingDrift,
    annFilteredTopk, qAnnFilteredRecall,
    ivfAssign, annIvfTopk, annIvfMpTopk, annDeltaTopk, annDeltaEvolve,
    annDeltaForget,
    annRecallEvolution, annRefreshRecall, annRecallAtK, qAnnNprobeSweep,
    kmeansClusters,
    embedQuantize, pqCodes, annPqAdcTopk, hybridSearchTopk, annLabelConsistency,
    labelCentroidSim, hardNegatives, qNdcgMrr, qEmbeddingNormProfile)
}
