package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints._
import graft.Tables
import graft.ops.HashOps

/** K-minimum-values (KMV) cardinality sketches — the mergeable
  * distinct-count summary (Bar-Yossef et al. 2002; the theta-sketch
  * family): keep the k smallest values of a uniform hash of the key; the
  * k-th minimum h_k estimates cardinality as (k−1)·M / h_k for hash space
  * [0, M). Unlike HyperLogLog (`approx_distinct_users`, oracle-gated only
  * via exact counts + within-envelope flags),
  * KMV is DETERMINISTIC given the hash, so both engines compute the
  * identical estimate and the oracle gate checks it at full value level.
  *
  * The house md5-based [[HashOps.hashP]] is the uniform hash (M = 1e9+7,
  * so (k−1)·M stays far under int64). Scale shape: the sketch is an
  * algebraic aggregate — per-partition top-k-min partials merge
  * associatively — here expressed as distinct + per-group k-th order
  * statistic (row_number over a |distinct keys|-sized frame, NOT the fact
  * table). Sketch size k is a deployment constant.
  */
object SketchQueries {

  private val K = 64

  /** Per-group KMV distinct estimate vs the exact count (the estimator
    * quality is part of the output contract). Groups with fewer than k
    * distinct hashes short-circuit to the exact sketch content — the
    * standard KMV small-set convention. */
  val kmvDistinct: Q = new Q {
    val name = "q_kmv_distinct"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val ev = Tables.events(spark, dir)
      val hashes = ev.select(col("event_type"),
          HashOps.hashP(concat(col("user_id").cast("string"), lit(":kmv"))).as("hv"))
        .distinct().cutLineage()
      val stats = hashes.groupBy("event_type").agg(count(lit(1)).as("n_hashes"))
      val kth = hashes
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy("hv")))
        .where(col("rn") === K)
        .select(col("event_type"), col("hv").as("hk"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      exact.join(stats, Seq("event_type"))
        .join(kth, Seq("event_type"), "left")
        .select(col("event_type"), col("n_exact"),
          when(col("n_hashes") < K, col("n_hashes"))
            .otherwise(expr(s"${(K - 1) * HashOps.P}L div hk"))
            .as("kmv_estimate"))
        .orderBy("event_type")
    }
    val oracle = Some {
      val h = HashOps.sqlHashP("concat(CAST(user_id AS VARCHAR), ':kmv')")
      s"""WITH h AS (SELECT DISTINCT event_type, $h AS hv FROM events),
         |st AS (SELECT event_type, count(*) AS n_hashes FROM h GROUP BY 1),
         |r AS (SELECT event_type, hv,
         |        row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
         |      FROM h),
         |kth AS (SELECT event_type, hv AS hk FROM r WHERE rn = $K),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
         |       FROM events GROUP BY 1)
         |SELECT ex.event_type, CAST(ex.n_exact AS BIGINT) AS n_exact,
         |  CAST(CASE WHEN st.n_hashes < $K THEN st.n_hashes
         |       ELSE ${(K - 1) * HashOps.P} // kth.hk END AS BIGINT)
         |    AS kmv_estimate
         |FROM ex JOIN st USING (event_type)
         |LEFT JOIN kth USING (event_type)
         |ORDER BY event_type""".stripMargin
    }
  }

  /** Sketch MERGE — the property that makes KMV a distributed aggregate:
    * union the per-group k-min sets, re-take the k smallest, estimate the
    * union cardinality. Compared against the exact global distinct so the
    * mergeability claim is value-checked, not asserted. */
  val kmvUnion: Q = new Q {
    val name = "q_kmv_union"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val ev = Tables.events(spark, dir)
      val hashes = ev.select(col("event_type"),
          HashOps.hashP(concat(col("user_id").cast("string"), lit(":kmv"))).as("hv"))
        .distinct()
      // per-group sketches: the ≤k smallest hashes of each group
      val sketches = hashes
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy("hv")))
        .where(col("rn") <= K)
      val merged = sketches.select("hv").distinct().cutLineage()
      val stats = merged.agg(count(lit(1)).as("n_hashes"))
      val kth = merged
        .withColumn("rn", row_number().over(Window.orderBy("hv")))
        .where(col("rn") === K).select(col("hv").as("hk"))
      val exact = ev.agg(countDistinct("user_id").as("n_exact"),
        countDistinct("event_type").as("n_groups"))
      exact.crossJoin(stats).join(kth, lit(true), "left")
        .select(col("n_groups"), col("n_exact"),
          when(col("n_hashes") < K, col("n_hashes"))
            .otherwise(expr(s"${(K - 1) * HashOps.P}L div hk"))
            .as("kmv_union_estimate"))
    }
    val oracle = Some {
      val h = HashOps.sqlHashP("concat(CAST(user_id AS VARCHAR), ':kmv')")
      s"""WITH h AS (SELECT DISTINCT event_type, $h AS hv FROM events),
         |sk AS (SELECT event_type, hv,
         |         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
         |       FROM h),
         |merged AS (SELECT DISTINCT hv FROM sk WHERE rn <= $K),
         |st AS (SELECT count(*) AS n_hashes FROM merged),
         |r AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM merged),
         |kth AS (SELECT hv AS hk FROM r WHERE rn = $K),
         |ex AS (SELECT count(DISTINCT user_id) AS n_exact,
         |         count(DISTINCT event_type) AS n_groups FROM events)
         |SELECT CAST(ex.n_groups AS BIGINT) AS n_groups,
         |  CAST(ex.n_exact AS BIGINT) AS n_exact,
         |  CAST(CASE WHEN st.n_hashes < $K THEN st.n_hashes
         |       ELSE ${(K - 1) * HashOps.P} // kth.hk END AS BIGINT)
         |    AS kmv_union_estimate
         |FROM ex CROSS JOIN st LEFT JOIN kth ON true""".stripMargin
    }
  }

  /** Count-min sketch (Cormode & Muthukrishnan 2005) frequency estimates
    * for a fixed probe set of terms: d = 4 hash rows × w = 512 counters;
    * a term's estimate is the MIN over its d counters, which can only
    * OVER-estimate (collision mass is additive) — the one-sided-error
    * guarantee the spec pins. Counters are built from the per-term exact
    * counts (CMS is linear, so summing per-term counts into buckets equals
    * streaming per-occurrence increments), making the sketch ONE bounded
    * groupBy of size d·w — a broadcastable 2 k-row summary no matter the
    * corpus size; probe terms and sketch dimensions are deployment
    * constants. */
  val cmsHeavyHitters: Q = new Q {
    val name = "q_cms_heavy_hitters"
    private val D = 4
    private val W = 512
    private val Probe = Seq("join", "window", "stream", "sort", "the",
      "data", "and", "quantum", "zzz_absent")
    def run(spark: SparkSession, dir: String): DataFrame = {
      import graft.ops.TextOps
      import spark.implicits._
      val tf = Tables.documents(spark, dir)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt")).cutLineage()
      val rows = spark.range(D).select(col("id").as("j"))
      val counters = tf.crossJoin(rows)
        .select(col("j"),
          pmod(HashOps.hashP(concat(col("term"), lit(":cms"), col("j").cast("string"))),
            lit(W.toLong)).as("bucket"),
          col("cnt"))
        .groupBy("j", "bucket").agg(sum("cnt").as("c"))
      val probe = Probe.toDF("term")
      val exact = probe.join(tf, Seq("term"), "left")
        .select(col("term"), coalesce(col("cnt"), lit(0L)).as("n_exact"))
      val est = probe.crossJoin(rows)
        .select(col("term"), col("j"),
          pmod(HashOps.hashP(concat(col("term"), lit(":cms"), col("j").cast("string"))),
            lit(W.toLong)).as("bucket"))
        .join(counters, Seq("j", "bucket"), "left")
        .groupBy("term").agg(min(coalesce(col("c"), lit(0L))).as("cms_estimate"))
      exact.join(est, Seq("term")).orderBy("term")
    }
    val oracle = Some {
      val toks = "regexp_extract_all(lower(text), '\\S+')"
      val h = HashOps.sqlHashP("term || ':cms' || CAST(j AS VARCHAR)")
      val probeVals = Probe.map(t => s"('$t')").mkString(", ")
      s"""WITH tf AS (
         |  SELECT term, count(*) AS cnt
         |  FROM (SELECT unnest($toks) AS term FROM documents) t
         |  GROUP BY term),
         |js AS (SELECT unnest(range(0, $D)) AS j),
         |counters AS (
         |  SELECT j, $h % $W AS bucket, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM tf CROSS JOIN js GROUP BY 1, 2),
         |probe AS (SELECT term FROM (VALUES $probeVals) p(term)),
         |pe AS (
         |  SELECT p.term, CAST(COALESCE(tf.cnt, 0) AS BIGINT) AS n_exact
         |  FROM probe p LEFT JOIN tf USING (term)),
         |pb AS (
         |  SELECT term, j, $h % $W AS bucket FROM probe CROSS JOIN js),
         |est AS (
         |  SELECT pb.term, CAST(min(COALESCE(c.c, 0)) AS BIGINT) AS cms_estimate
         |  FROM pb LEFT JOIN counters c USING (j, bucket) GROUP BY 1)
         |SELECT pe.term, pe.n_exact, est.cms_estimate
         |FROM pe JOIN est USING (term) ORDER BY term""".stripMargin
    }
  }

  /** Fixed-SIZE uniform sample (bottom-k by uniform hash): the k rows with
    * the smallest salted key hashes — the deterministic distributed twin
    * of reservoir sampling (`q_sample_md5` is the fixed-RATE variant).
    * Membership is a pure function of the key: stable across runs,
    * partitionings, and appends-at-the-tail, and the selection is a
    * TakeOrdered top-k over a narrow scan — no shuffle, no sort of the
    * fact table; k is a deployment constant. */
  val bottomkSample: Q = new Q {
    val name = "q_bottomk_sample"
    private val K = 100
    def run(spark: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          Q.cents(col("o_totalprice")).as("price_cents"),
          HashOps.hash60(concat(col("o_orderkey").cast("string"), lit(":bk")))
            .as("hv"))
        .orderBy("hv").limit(K)
        .withColumn("sample_rank",
          row_number().over(Window.orderBy("hv")).cast("long"))
        .select("sample_rank", "o_orderkey", "price_cents")
        .orderBy("sample_rank")
    }
    val oracle = Some {
      val h = HashOps.sqlHash60("concat(CAST(o_orderkey AS VARCHAR), ':bk')")
      s"""SELECT CAST(row_number() OVER (ORDER BY hv) AS BIGINT) AS sample_rank,
         |  o_orderkey, price_cents
         |FROM (
         |  SELECT o_orderkey,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
         |    $h AS hv
         |  FROM orders ORDER BY hv LIMIT $K) t
         |ORDER BY sample_rank""".stripMargin
    }
  }

  /** Sketch-based key-overlap estimation — the cost-based-optimizer use of
    * KMV: estimate |keys(customer) ∩ keys(orders)| by inclusion-exclusion
    * over three KMV estimates (side A, side B, merged union), next to the
    * exact intersection so the gate value-checks estimator and truth
    * together. This is how a planner sizes a join without touching the
    * fact tables: each side's sketch is a k-row summary computed with one
    * distinct + one top-k pass, and sketches MERGE (the union estimate
    * needs no second scan). */
  val joinSizeEst: Q = new Q {
    val name = "q_join_size_est"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      def hv(c: org.apache.spark.sql.Column) =
        HashOps.hashP(concat(c.cast("string"), lit(":kmv2")))
      val a = Tables.customer(spark, dir).select(hv(col("c_custkey")).as("hv"))
        .distinct().cutLineage()
      val b = Tables.orders(spark, dir).select(hv(col("o_custkey")).as("hv"))
        .distinct().cutLineage()
      def sketch(df: DataFrame): DataFrame = df
        .withColumn("rn", row_number().over(Window.orderBy("hv")))
        .where(col("rn") <= K)
      def est(nHashes: org.apache.spark.sql.Column) =
        when(nHashes < K, nHashes)
          .otherwise(expr(s"${(K - 1) * HashOps.P}L div hk"))
      // per-side and merged k-th minima + set sizes
      def kthAndN(df: DataFrame, tag: String): DataFrame = {
        val n = df.agg(count(lit(1)).as(s"n_$tag"))
        val kth = df.withColumn("rn", row_number().over(Window.orderBy("hv")))
          .where(col("rn") === K).select(col("hv").as("hk"))
        n.join(kth, lit(true), "left")
          .select(col(s"n_$tag"), est(col(s"n_$tag")).as(s"est_$tag"))
      }
      val merged = sketch(a).select("hv").union(sketch(b).select("hv")).distinct()
      val exact = a.intersect(b).agg(count(lit(1)).as("inter_exact"))
      kthAndN(a, "a").crossJoin(kthAndN(b, "b"))
        .crossJoin(kthAndN(merged, "u"))
        .crossJoin(exact)
        .select(col("est_a"), col("est_b"),
          greatest(col("est_a") + col("est_b") - col("est_u"), lit(0L))
            .as("inter_est"),
          col("inter_exact"))
    }
    val oracle = Some {
      val ha = HashOps.sqlHashP("concat(CAST(c_custkey AS VARCHAR), ':kmv2')")
      val hb = HashOps.sqlHashP("concat(CAST(o_custkey AS VARCHAR), ':kmv2')")
      val estP = (K - 1) * HashOps.P
      def side(cte: String, tag: String) =
        s"""n_$tag AS (SELECT count(*) AS n FROM $cte),
           |k_$tag AS (SELECT hv AS hk FROM (
           |  SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM $cte) t
           |  WHERE rn = $K),
           |e_$tag AS (
           |  SELECT CAST(CASE WHEN n.n < $K THEN n.n ELSE $estP // k.hk END
           |    AS BIGINT) AS est
           |  FROM n_$tag n LEFT JOIN k_$tag k ON true)""".stripMargin
      s"""WITH a AS (SELECT DISTINCT $ha AS hv FROM customer),
         |b AS (SELECT DISTINCT $hb AS hv FROM orders),
         |sa AS (SELECT hv FROM (
         |  SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM a) t
         |  WHERE rn <= $K),
         |sb AS (SELECT hv FROM (
         |  SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM b) t
         |  WHERE rn <= $K),
         |u AS (SELECT DISTINCT hv FROM (SELECT hv FROM sa UNION ALL
         |  SELECT hv FROM sb) t),
         |${side("a", "a")},
         |${side("b", "b")},
         |${side("u", "u")},
         |x AS (SELECT count(*) AS inter_exact FROM
         |  (SELECT hv FROM a INTERSECT SELECT hv FROM b) t)
         |SELECT e_a.est AS est_a, e_b.est AS est_b,
         |  greatest(e_a.est + e_b.est - e_u.est, 0) AS inter_est,
         |  CAST(x.inter_exact AS BIGINT) AS inter_exact
         |FROM e_a CROSS JOIN e_b CROSS JOIN e_u CROSS JOIN x""".stripMargin
    }
  }

  /** KMV set-INTERSECTION estimate by inclusion–exclusion — completing the
    * sketch set algebra (distinct → `q_kmv_distinct`, union →
    * `q_kmv_union`): |A∩B| ≈ est(A) + est(B) − est(A∪B), clamped at 0.
    * Sets: heavy clickers vs heavy viewers (users with ≥ 14 events of the
    * type) — a genuine partial overlap. KMV union merges by taking the k
    * smallest of the combined hash sets (mergeable without re-reading
    * either input — the property that matters at 100 TB, where per-segment
    * sketches union in the metastore). Exact |A∩B| rides along so the
    * estimate is auditable. All integer arithmetic in the 1e9+7 field. */
  val kmvIntersect: Q = new Q {
    val name = "q_kmv_intersect"
    private val K = 64
    private val MinEvents = 14
    def run(spark: SparkSession, dir: String): DataFrame = {
      val ev = Tables.events(spark, dir)
      def heavy(t: String) = ev.where(col("event_type") === t)
        .groupBy("user_id").agg(count(lit(1)).as("n")).where(col("n") >= MinEvents)
        .select(col("user_id"),
          HashOps.hashP(concat(col("user_id").cast("string"), lit(":kmv"))).as("hv"))
      val a = heavy("click").cutLineage()
      val b = heavy("view").cutLineage()
      def sketch(df: DataFrame) = df.select("hv")
        .withColumn("rn", row_number().over(Window.orderBy("hv")))
        .where(col("rn") <= K)
      def est(df: DataFrame, alias: String) = {
        val sk = sketch(df)
        sk.agg(count(lit(1)).as("n_h"), max(when(col("rn") === K, col("hv"))).as("hk"))
          .select(when(col("n_h") < K, col("n_h"))
            .otherwise(expr(s"${(K - 1) * HashOps.P}L div hk")).as(alias))
      }
      val u = sketch(a).select("hv").union(sketch(b).select("hv")).distinct()
      val estU = u.withColumn("rn", row_number().over(Window.orderBy("hv")))
        .where(col("rn") <= K)
        .agg(count(lit(1)).as("n_h"), max(when(col("rn") === K, col("hv"))).as("hk"))
        .select(when(col("n_h") < K, col("n_h"))
          .otherwise(expr(s"${(K - 1) * HashOps.P}L div hk")).as("est_union"))
      val exact = a.select(col("user_id")).intersect(b.select(col("user_id")))
        .agg(count(lit(1)).as("n_exact_intersect"))
      est(a, "est_a").crossJoin(est(b, "est_b")).crossJoin(estU).crossJoin(exact)
        .select(col("est_a"), col("est_b"), col("est_union"),
          greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L))
            .as("est_intersect"),
          col("n_exact_intersect"))
    }
    val oracle = {
      val h = HashOps.sqlHashP("concat(CAST(user_id AS VARCHAR), ':kmv')")
      def heavy(t: String) =
        s"""SELECT user_id, $h AS hv FROM events WHERE event_type = '$t'
           |GROUP BY user_id HAVING count(*) >= $MinEvents""".stripMargin
      def estSql(src: String) =
        s"""SELECT CASE WHEN count(*) < $K THEN count(*)
           |  ELSE ${(K - 1) * HashOps.P} // max(CASE WHEN rn = $K THEN hv END) END
           |FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM $src) t
           |WHERE rn <= $K""".stripMargin
      Some(
        s"""WITH a AS (${heavy("click")}),
           |b AS (${heavy("view")}),
           |ska AS (SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) rn FROM a) WHERE rn <= $K),
           |skb AS (SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) rn FROM b) WHERE rn <= $K),
           |u AS (SELECT DISTINCT hv FROM (SELECT hv FROM ska UNION ALL SELECT hv FROM skb)),
           |e AS (
           |  SELECT CAST((${estSql("a")}) AS BIGINT) AS est_a,
           |         CAST((${estSql("b")}) AS BIGINT) AS est_b,
           |         CAST((${estSql("u")}) AS BIGINT) AS est_union,
           |         (SELECT count(*) FROM (SELECT user_id FROM a INTERSECT SELECT user_id FROM b) i)
           |           AS n_exact_intersect)
           |SELECT est_a, est_b, est_union,
           |  greatest(est_a + est_b - est_union, 0) AS est_intersect,
           |  CAST(n_exact_intersect AS BIGINT) AS n_exact_intersect
           |FROM e""".stripMargin)
    }
  }

  /** Bloom-filter SIZING CURVE, measured not formula'd — the estimator-QA
    * gate behind `q_bloom_prune_join`: for each candidate bit-array size
    * m ∈ {256, 512, 1024, 2048} (k = 4 hashes), build the filter over one
    * key population, probe it with a DISJOINT population, and report the
    * realized false-positive rate plus bit load. Spark's built-in
    * `stat.bloomFilter` is not cross-engine reproducible, so the filter
    * here is the house md5 hash family (`HashOps.hash60("bf<j>:<key>")`
    * mod m) — the SAME positions in both engines, making measured FPR an
    * oracle-checkable integer. A false-negative column is computed too
    * (must be 0 — the Bloom guarantee, gated rather than assumed).
    *
    * Scale shape: ONE hash pass per (key, seed); all four m values derive
    * in-row from the same 60-bit hash (the in-row sweep idiom). The bit
    * sets are ≤ Σm = 3.8k rows → broadcast to the probe side; nothing
    * fact-sized shuffles twice. At a real 10⁹-key dim the same plan holds
    * — the bit set stays ≤ m bits by construction.
    *
    * Bound: insert/probe populations are nation-sliced customers, so the
    * two key sets are disjoint by construction (custkey is unique) and
    * every probe hit at all k positions is a TRUE false positive. */
  val bloomFprSweep: Q = new Q {
    val name = "q_bloom_fpr_sweep"
    private val Ms = Seq(256L, 512L, 1024L, 2048L)
    private val Kh = 4
    def run(spark: SparkSession, dir: String): DataFrame = {
      import spark.implicits._
      val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
      def hashed(df: DataFrame): DataFrame = df
        .withColumn("j", explode(array((0 until Kh).map(lit): _*)))
        .withColumn("h", HashOps.hash60(
          concat(lit("bf"), col("j").cast("string"), lit(":"),
            col("c_custkey").cast("string"))))
        .withColumn("m", explode(array(Ms.map(lit): _*)))
        .select(col("c_custkey").as("key"), col("m"), (col("h") % col("m")).as("p"))
      val ins = cust.where(col("c_nationkey") === 1)
      val probe = cust.where(col("c_nationkey") === 2)
      val bits = hashed(ins).select("m", "p").distinct()
      val setBits = bits.groupBy("m").agg(count(lit(1)).as("n_set_bits"))
      def allKHit(df: DataFrame): DataFrame = df
        .join(bits, Seq("m", "p"))
        .groupBy("m", "key").agg(count(lit(1)).as("nhit"))
        .where(col("nhit") === Kh)
        .groupBy("m").agg(count(lit(1)).as("n_hit_keys"))
      val fp = allKHit(hashed(probe)).withColumnRenamed("n_hit_keys", "n_false_pos")
      val insHit = allKHit(hashed(ins)).withColumnRenamed("n_hit_keys", "n_ins_hit")
      val counts = ins.agg(count(lit(1)).as("n_inserted"))
        .crossJoin(probe.agg(count(lit(1)).as("n_probes")))
      Ms.toDF("m")
        .join(setBits, Seq("m"), "left")
        .join(fp, Seq("m"), "left")
        .join(insHit, Seq("m"), "left")
        .crossJoin(counts)
        .select(col("m"), lit(Kh.toLong).as("k"), col("n_inserted"),
          coalesce(col("n_set_bits"), lit(0L)).as("n_set_bits"),
          col("n_probes"),
          coalesce(col("n_false_pos"), lit(0L)).as("n_false_pos"),
          expr("CASE WHEN n_probes = 0 THEN -1 " +
            "ELSE coalesce(n_false_pos, 0) * 1000000 div n_probes END").as("fpr_ppm"),
          (col("n_inserted") - coalesce(col("n_ins_hit"), lit(0L))).as("n_false_neg"))
        .orderBy("m")
    }
    val oracle = {
      // NB: no line may START with || — the enclosing stripMargin would
      // eat one pipe and leave a bitwise-| behind
      def posSql(src: String) =
        s"""SELECT key, m,
           |  CAST('0x' || substr(md5(concat('bf', j, ':', key)), 1, 15)
           |       AS BIGINT) % m AS p
           |FROM $src CROSS JOIN seeds CROSS JOIN ms""".stripMargin
      Some(
        s"""WITH ins AS (SELECT c_custkey AS key FROM customer WHERE c_nationkey = 1),
           |pr AS (SELECT c_custkey AS key FROM customer WHERE c_nationkey = 2),
           |seeds AS (SELECT unnest(range($Kh)) AS j),
           |ms AS (SELECT CAST(unnest([${Ms.mkString(", ")}]) AS BIGINT) AS m),
           |bits AS (SELECT DISTINCT m, p FROM (${posSql("ins")})),
           |sb AS (SELECT m, CAST(count(*) AS BIGINT) AS n_set_bits FROM bits GROUP BY m),
           |fp AS (
           |  SELECT m, CAST(count(*) AS BIGINT) AS n_false_pos FROM (
           |    SELECT m, key FROM (${posSql("pr")}) pp JOIN bits USING (m, p)
           |    GROUP BY m, key HAVING count(*) = $Kh) GROUP BY m),
           |ih AS (
           |  SELECT m, CAST(count(*) AS BIGINT) AS n_ins_hit FROM (
           |    SELECT m, key FROM (${posSql("ins")}) ip JOIN bits USING (m, p)
           |    GROUP BY m, key HAVING count(*) = $Kh) GROUP BY m),
           |c AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ins) AS n_inserted,
           |             (SELECT CAST(count(*) AS BIGINT) FROM pr) AS n_probes)
           |SELECT ms.m, CAST($Kh AS BIGINT) AS k, n_inserted,
           |  coalesce(n_set_bits, 0) AS n_set_bits, n_probes,
           |  coalesce(n_false_pos, 0) AS n_false_pos,
           |  CASE WHEN n_probes = 0 THEN -1
           |       ELSE coalesce(n_false_pos, 0) * 1000000 // n_probes END AS fpr_ppm,
           |  n_inserted - coalesce(n_ins_hit, 0) AS n_false_neg
           |FROM ms LEFT JOIN sb USING (m) LEFT JOIN fp USING (m)
           |  LEFT JOIN ih USING (m) CROSS JOIN c
           |ORDER BY ms.m""".stripMargin)
    }
  }

  def all: Seq[Q] = Seq(kmvDistinct, kmvUnion, cmsHeavyHitters, bottomkSample,
    joinSizeEst, kmvIntersect, bloomFprSweep)
}
