package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** User-behavior analytics marts over the event stream — the cohort /
  * market-basket layer a production events lake (the reference's domain:
  * /root/reference/src/scripts/calculate_user_city.py reads the same
  * stream) builds on top of the enrichment pipeline.
  *
  * Every query here is integer-exact (counts and `div`-scaled ratios) so
  * the DuckDB oracle matches bit-for-bit.
  */
object BehaviorQueries {

  /** Weekly cohort retention: users are cohorted by the ISO week of their
    * first event; retention_e4(c, k) = share of cohort c's users active in
    * week c+k. The canonical growth-analytics mart.
    *
    * Scale shape: one shuffle keyed by user_id (first-event agg), one
    * distinct at (user, week) grain (activity — this is the only pass at
    * fact cardinality), one equi-join back on user_id (both sides already
    * hash-partitioned by user_id, AQE coalesces), then the final aggregate
    * at cohort×offset grain — calendar-bounded, tiny. No window over the
    * raw facts, no cross join, nothing driver-side. */
  val qCohortRetention: Q = new Q {
    val name = "q_cohort_retention"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val first = ev.groupBy("user_id").agg(min("day").as("first_day"))
        .withColumn("cohort_week", date_trunc("week", col("first_day")).cast("date"))
        .select("user_id", "cohort_week")
      val activity = ev
        .select(col("user_id"), date_trunc("week", col("day")).cast("date").as("act_week"))
        .distinct()
      val ret = activity.join(first, Seq("user_id"))
        .withColumn("week_offset", expr("datediff(act_week, cohort_week) div 7"))
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_active"))
      val sizes = first.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
      ret.join(sizes, Seq("cohort_week"))
        .withColumn("retention_e4", expr("n_active * 10000 div cohort_size"))
        .select("cohort_week", "week_offset", "cohort_size", "n_active", "retention_e4")
        .orderBy("cohort_week", "week_offset")
    }
    val oracle = Some(
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |frst AS (
        |  SELECT user_id, date_trunc('week', min(day)) AS cohort_week
        |  FROM ev GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, date_trunc('week', day) AS act_week FROM ev),
        |ret AS (
        |  SELECT f.cohort_week,
        |         datediff('day', f.cohort_week, a.act_week) // 7 AS week_offset,
        |         count(*) AS n_active
        |  FROM act a JOIN frst f USING (user_id)
        |  GROUP BY 1, 2),
        |sz AS (SELECT cohort_week, count(*) AS cohort_size FROM frst GROUP BY 1)
        |SELECT r.cohort_week, CAST(r.week_offset AS BIGINT) AS week_offset,
        |  sz.cohort_size, r.n_active,
        |  CAST(r.n_active * 10000 // sz.cohort_size AS BIGINT) AS retention_e4
        |FROM ret r JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin)
  }

  /** Association rules over order baskets (support / confidence / lift —
    * Agrawal & Srikant's metrics, integer-quantized): antecedent→consequent
    * for every co-purchased part pair with order co-occurrence ≥
    * [[GraphQueries.CoSupport]].
    *
    * conf_e4 = P(b|a)·1e4; lift_e6 = (P(ab) / (P(a)·P(b)))·1e6, all in
    * exact BIGINT arithmetic (headroom: supp_ab · N_orders · 1e6 stays
    * under 2^63 while N_orders · max-pair-support < 9.2e12 — at larger
    * scales drop the quantization to e4).
    *
    * Scale shape: ONE fact shuffle builds the persisted basket frame;
    * pair supports (in-row expansion, fan-out bounded by basket size),
    * item supports (set explode = the (order, part) distinct), and the
    * totals scalar all derive from it. The rule join is two equi-joins on
    * the part key (part-grain tables, co-partitioned) plus one broadcast
    * of the 1-row totals frame. */
  val qAssocRules: Q = new Q {
    val name = "q_assoc_rules"
    def run(spark: SparkSession, dir: String): DataFrame = {
      // ONE basket shuffle feeds pair supports, item supports, and the
      // totals scalar (persisted: three consumers below — without it the
      // lineage rescans lineitem and rebuilds the collect_set per consumer).
      // Semantics identical to copurchase + distinct(order,part): the set
      // explode IS the (order, part) distinct.
      val baskets = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy("l_orderkey").agg(collect_set(col("l_partkey")).as("ps"))
        .persist()
      val pairs = baskets
        .select(explode(col("ps")).as("pa"), col("ps"))
        .select(col("pa"), explode(expr("filter(ps, p -> p > pa)")).as("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("n_orders"))
        .where(col("n_orders") >= GraphQueries.CoSupport)
      val supp = baskets.select(explode(col("ps")).as("part"))
        .groupBy("part").agg(count(lit(1)).as("supp"))
      val totals = baskets.select(count(lit(1)).as("n_tot"))
      // rule directions IN-ROW (2-element explode): the former self-union
      // re-ran the (pa, pb) pair aggregation once per direction — the
      // probe-visible reason this was the round's slowest query
      val directed = pairs.select(explode(array(
          struct(col("pa").as("antecedent"), col("pb").as("consequent"),
            col("n_orders").as("supp_ab")),
          struct(col("pb").as("antecedent"), col("pa").as("consequent"),
            col("n_orders").as("supp_ab")))).as("d"))
        .select(col("d.antecedent").as("antecedent"),
          col("d.consequent").as("consequent"), col("d.supp_ab").as("supp_ab"))
      directed
        .join(supp.select(col("part").as("antecedent"), col("supp").as("supp_a")),
          Seq("antecedent"))
        .join(supp.select(col("part").as("consequent"), col("supp").as("supp_b")),
          Seq("consequent"))
        .crossJoin(broadcast(totals))
        .withColumn("conf_e4", expr("supp_ab * 10000 div supp_a"))
        .withColumn("lift_e6", expr("supp_ab * n_tot * 1000000 div (supp_a * supp_b)"))
        .select("antecedent", "consequent", "supp_ab", "supp_a", "supp_b",
          "conf_e4", "lift_e6")
        .orderBy("antecedent", "consequent")
    }
    val oracle = Some(
      s"""WITH cop AS (${GraphQueries.CopurchaseSql}),
         |op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |supp AS (SELECT l_partkey AS part, count(*) AS supp FROM op GROUP BY 1),
         |tot AS (SELECT count(DISTINCT l_orderkey) AS n_tot FROM lineitem),
         |dirr AS (
         |  SELECT pa AS antecedent, pb AS consequent, n_orders AS supp_ab FROM cop
         |  UNION ALL
         |  SELECT pb, pa, n_orders FROM cop)
         |SELECT d.antecedent, d.consequent, CAST(d.supp_ab AS BIGINT) AS supp_ab,
         |  sa.supp AS supp_a, sb.supp AS supp_b,
         |  CAST(d.supp_ab * 10000 // sa.supp AS BIGINT) AS conf_e4,
         |  CAST(d.supp_ab * t.n_tot * 1000000 // (sa.supp * sb.supp) AS BIGINT) AS lift_e6
         |FROM dirr d
         |  JOIN supp sa ON d.antecedent = sa.part
         |  JOIN supp sb ON d.consequent = sb.part
         |  CROSS JOIN tot t
         |ORDER BY antecedent, consequent""".stripMargin)
  }

  /** Sessionized first-touch attribution: each 30-minute-gap session is
    * attributed to its FIRST event's type (the acquisition channel in a
    * marketing funnel), and per channel we report how many sessions it
    * opened and how many of those converted (contain ≥1 purchase).
    * conv_e4 is the integer-quantized conversion rate.
    *
    * Scale shape: ONE sorted window pass per user (the sessionize lag +
    * running sum — same partitioning for both, one shuffle on user_id),
    * then one aggregate to (user, session) grain — min_by struct picks the
    * first event without a second window — and one tiny channel-grain
    * aggregate. No self-joins. */
  val qAttributionFirstTouch: Q = new Q {
    val name = "q_attribution_first_touch"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val sess = graft.ops.WindowOps.sessionize(
        Tables.events(spark, dir).select("user_id", "ts", "event_id", "event_type"),
        Seq("user_id"), "ts", Seq(col("ts"), col("event_id")), 1800000000L)
      sess.groupBy("user_id", "session_idx")
        .agg(
          expr("min_by(event_type, struct(ts, event_id))").as("first_type"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .groupBy("first_type")
        .agg(count(lit(1)).as("n_sessions"), sum("conv").as("n_converted"))
        .withColumn("conv_e4", expr("n_converted * 10000 div n_sessions"))
        .orderBy("first_type")
    }
    val oracle = Some(
      """WITH f AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        |r AS (
        |  SELECT user_id, sid, event_type,
        |    row_number() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn
        |  FROM s),
        |per AS (
        |  SELECT s.user_id, s.sid,
        |    max(CASE WHEN s.event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM s GROUP BY 1, 2),
        |ft AS (SELECT user_id, sid, event_type AS first_type FROM r WHERE rn = 1)
        |SELECT ft.first_type, count(*) AS n_sessions,
        |  CAST(sum(per.conv) AS BIGINT) AS n_converted,
        |  CAST(sum(per.conv) * 10000 // count(*) AS BIGINT) AS conv_e4
        |FROM ft JOIN per ON ft.user_id = per.user_id AND ft.sid = per.sid
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Frequent 3-itemsets over order baskets — the Apriori step above the
    * pair miner: every part triple co-purchased in ≥ CoSupport orders.
    *
    * Scale shape: basket expansion stays IN-ROW (two nested higher-order
    * filters over the per-order sorted part set — no self-joins), and the
    * fan-out is C(min(basket, 32), 3): baskets are CAPPED at their 32
    * smallest part keys before expansion, the same hub-suppression bound
    * the link-prediction wedge join uses, so a pathological mega-basket
    * cannot go cubic. The cap is applied identically in the oracle
    * (list_sort + list_slice), so the two engines agree exactly. */
  val qFreqTriples: Q = new Q {
    val name = "q_freq_triples"
    private val BasketCap = 32
    def run(spark: SparkSession, dir: String): DataFrame = {
      val baskets = Tables.lineitem(spark, dir, fanned = true)
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy("l_orderkey")
        .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, BasketCap).as("ps"))
        .where(size(col("ps")) >= 3)
      baskets
        .select(col("ps"), explode(col("ps")).as("pa"))
        .select(col("ps"), col("pa"), explode(expr("filter(ps, p -> p > pa)")).as("pb"))
        .select(col("pa"), col("pb"), explode(expr("filter(ps, p -> p > pb)")).as("pc"))
        .groupBy("pa", "pb", "pc").agg(count(lit(1)).as("n_orders"))
        .where(col("n_orders") >= GraphQueries.CoSupport)
        .orderBy("pa", "pb", "pc")
    }
    val oracle = Some(
      s"""WITH bask AS (
         |  SELECT l_orderkey AS o,
         |         list_slice(list_sort(list(DISTINCT l_partkey)), 1, $BasketCap) AS ps
         |  FROM lineitem GROUP BY 1),
         |op AS (SELECT o, unnest(ps) AS p FROM bask WHERE len(ps) >= 3),
         |t AS (
         |  SELECT a.o, a.p AS pa, b.p AS pb, c.p AS pc
         |  FROM op a
         |    JOIN op b ON a.o = b.o AND a.p < b.p
         |    JOIN op c ON b.o = c.o AND b.p < c.p)
         |SELECT pa, pb, pc, count(*) AS n_orders
         |FROM t GROUP BY 1, 2, 3 HAVING count(*) >= ${GraphQueries.CoSupport}
         |ORDER BY pa, pb, pc""".stripMargin)
  }

  /** Session path analysis: the first-order Markov transition matrix over
    * event types WITHIN sessions — p_e4(next | prev) = share of
    * transitions out of `prev_type` that go to `next_type`. The "user
    * journey" mart behind flow/Sankey dashboards.
    *
    * Scale shape: ONE shuffle total — the sessionize window and the
    * transition lags share the user_id partitioning (session_idx and both
    * lags come from the same sorted pass; a transition is a consecutive
    * pair with unchanged session_idx, so no second window over (user,
    * session) is needed), then two tiny aggregates at type×type grain
    * (bounded by the event-type vocabulary). */
  val qMarkovTransitions: Q = new Q {
    val name = "q_markov_transitions"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val sess = graft.ops.WindowOps.sessionize(
        Tables.events(spark, dir).select("user_id", "ts", "event_id", "event_type"),
        Seq("user_id"), "ts", Seq(col("ts"), col("event_id")), 1800000000L)
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val trans = sess
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .withColumn("prev_sid", lag("session_idx", 1).over(w))
        .where(col("prev_type").isNotNull && col("prev_sid") === col("session_idx"))
      val counts = trans.groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n_trans"))
      // row totals as a window over the type×type counts frame (bounded by
      // the type vocabulary) — no join, no second derivation of the events
      // subtree
      counts
        .withColumn("row_total",
          sum("n_trans").over(Window.partitionBy("prev_type")))
        .withColumn("p_e4", expr("n_trans * 10000 div row_total"))
        .select("prev_type", "next_type", "n_trans", "p_e4")
        .orderBy("prev_type", "next_type")
    }
    val oracle = Some(
      """WITH f AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        |t AS (
        |  SELECT user_id, ts, event_id, event_type, sid,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |    lag(sid) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sid
        |  FROM s),
        |c AS (
        |  SELECT prev_type, event_type AS next_type, count(*) AS n_trans
        |  FROM t WHERE prev_type IS NOT NULL AND prev_sid = sid
        |  GROUP BY 1, 2)
        |SELECT prev_type, next_type, n_trans,
        |  CAST(n_trans * 10000 // sum(n_trans) OVER (PARTITION BY prev_type) AS BIGINT) AS p_e4
        |FROM c ORDER BY prev_type, next_type""".stripMargin)
  }

  /** Session duration statistics per acquisition channel (first-touch
    * event type): per channel, the session count and the sum / max /
    * truncated-mean of session durations in whole seconds. Single-event
    * sessions have duration 0 — they stay in the denominator (the mart
    * reports true means, not means-of-engaged).
    *
    * Scale shape: same single user_id shuffle as the other session marts
    * (sessionize + min_by/min/max in one session-grain aggregate), then a
    * channel-grain aggregate bounded by the type vocabulary. */
  val qSessionDuration: Q = new Q {
    val name = "q_session_duration"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val sess = graft.ops.WindowOps.sessionize(
        Tables.events(spark, dir).select("user_id", "ts", "event_id", "event_type"),
        Seq("user_id"), "ts", Seq(col("ts"), col("event_id")), 1800000000L)
      sess.groupBy("user_id", "session_idx")
        .agg(
          expr("min_by(event_type, struct(ts, event_id))").as("first_type"),
          ((unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))) / lit(1000000L))
            .cast("long").as("dur_s"))
        .groupBy("first_type")
        .agg(count(lit(1)).as("n_sessions"), sum("dur_s").as("sum_dur_s"),
          max("dur_s").as("max_dur_s"))
        .withColumn("mean_dur_s", expr("sum_dur_s div n_sessions"))
        .orderBy("first_type")
    }
    val oracle = Some(
      """WITH f AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        |r AS (
        |  SELECT user_id, sid, event_type,
        |    row_number() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn
        |  FROM s),
        |per AS (
        |  SELECT user_id, sid,
        |    (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS dur_s
        |  FROM s GROUP BY 1, 2),
        |ft AS (SELECT user_id, sid, event_type AS first_type FROM r WHERE rn = 1)
        |SELECT ft.first_type, count(*) AS n_sessions,
        |  CAST(sum(per.dur_s) AS BIGINT) AS sum_dur_s,
        |  CAST(max(per.dur_s) AS BIGINT) AS max_dur_s,
        |  CAST(sum(per.dur_s) // count(*) AS BIGINT) AS mean_dur_s
        |FROM ft JOIN per ON ft.user_id = per.user_id AND ft.sid = per.sid
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Activity heatmap: the day-of-week × hour-of-day event-count grid (the
    * operational "when are users active" mart; Sunday-first day numbering —
    * Spark's dayofweek is 1=Sunday..7=Saturday, NOT ISO, and the oracle's
    * dayofweek(ts)+1 matches it — hours in the pinned UTC session). A pure
    * calendar-function aggregate — one shuffle to a 7×24-bounded grain. */
  val qActivityHeatmap: Q = new Q {
    val name = "q_activity_heatmap"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.events(spark, dir)
        .groupBy(
          dayofweek(col("ts")).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hod"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("dow", "hod")
    val oracle = Some(
      // DuckDB dayofweek is 0=Sunday..6; Spark dayofweek is 1=Sunday..7
      """SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
        |  CAST(hour(ts) AS BIGINT) AS hod,
        |  count(*) AS n,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY dow, hod""".stripMargin)
  }

  /** Per-user lifetime value from purchase events, with a recency-decayed
    * companion score (binary decay, 2^(20−age-days) — the integer-exact
    * half-life-one-day family the time-series marts use; events older
    * than the 20-day horizon contribute 0 to the decayed score but fully
    * to the raw LTV).
    *
    * Scale shape: one filter + one groupBy keyed on user_id; the max-date
    * scalar is a broadcast 1-row frame. Nothing else. */
  val qUserLtv: Q = new Q {
    val name = "q_user_ltv"
    private val Horizon = 20
    def run(spark: SparkSession, dir: String): DataFrame = {
      val p = Tables.events(spark, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          Q.cents(col("value")).as("cents"))
      val hi = p.agg(max("day").as("hi"))
      p.join(broadcast(hi))
        .withColumn("age", datediff(col("hi"), col("day")))
        .withColumn("weight", when(col("age") <= Horizon,
          expr(s"shiftleft(CAST(1 AS BIGINT), CAST($Horizon - age AS INT))"))
          .otherwise(lit(0L)))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"), sum("cents").as("ltv_cents"),
          sum(col("cents") * col("weight")).as("decayed_num"))
        .orderBy("user_id")
    }
    val oracle = Some(
      s"""WITH p AS (
         |  SELECT user_id, CAST(ts AS DATE) AS day,
         |         CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |h AS (SELECT max(day) AS hi FROM p),
         |aged AS (
         |  SELECT user_id, cents,
         |    CASE WHEN date_diff('day', day, hi) <= $Horizon
         |         THEN (CAST(1 AS BIGINT) << CAST($Horizon - date_diff('day', day, hi) AS INT))
         |         ELSE 0 END AS weight
         |  FROM p, h)
         |SELECT user_id, count(*) AS n_purchases,
         |  CAST(sum(cents) AS BIGINT) AS ltv_cents,
         |  CAST(sum(cents * weight) AS BIGINT) AS decayed_num
         |FROM aged GROUP BY user_id ORDER BY user_id""".stripMargin)
  }

  /** Hopping (sliding) window counts — 1-hour windows every 15 minutes,
    * the overlap mode tumbling `date_trunc` can't express: each event
    * lands in up to 4 windows. Spark's `window(ts, "1 hour", "15 minutes")`
    * generator is mirrored in SQL by a bounded hop-offset expansion
    * (4 = window/hop copies per event — a compile-time constant, so the
    * fan-out is fixed, not data-dependent).
    *
    * Scale shape: in-row 4× expansion then one aggregate at
    * (window, type) grain — calendar-bounded output. */
  val qHoppingCounts: Q = new Q {
    val name = "q_hopping_counts"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.events(spark, dir)
        .select(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .groupBy(col("w.start").as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("window_start", "event_type")
    val oracle = Some(
      """WITH hops AS (
        |  SELECT event_type,
        |    time_bucket(INTERVAL 15 MINUTE, ts) - (o.k * INTERVAL 15 MINUTE) AS window_start
        |  FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) o),
        |valid AS (
        |  SELECT window_start, event_type FROM hops)
        |SELECT window_start, event_type, count(*) AS n
        |FROM valid GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)
  }

  /** Null-safe equi-join parity (`<=>` vs `IS NOT DISTINCT FROM`): both
    * sides derive a NULLABLE bucket key (nullif of a modulus), and the
    * join must match null-to-null — the semantics a plain `=` silently
    * drops. Counts per matched key prove the null bucket joins.
    *
    * Scale note: a null-safe join hashes NULL as a regular key value, so
    * the null bucket is ONE hash partition — at scale a hot null bucket
    * is a skew key like any other (AQE skew split or salting applies). */
  val qNullsafeJoin: Q = new Q {
    val name = "q_nullsafe_join"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val c = Tables.customer(spark, dir)
        .select(nullif(col("c_nationkey") % 7, lit(3)).as("k"), col("c_custkey"))
      val s = Tables.supplier(spark, dir)
        .select(nullif(col("s_nationkey") % 7, lit(3)).as("sk"), col("s_suppkey"))
      c.join(s, col("k") <=> col("sk"))
        .groupBy(coalesce(col("k"), lit(-1L)).cast("long").as("key_or_null"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct("c_custkey").as("n_cust"),
          countDistinct("s_suppkey").as("n_supp"))
        .orderBy("key_or_null")
    }
    val oracle = Some(
      """WITH c AS (SELECT nullif(c_nationkey % 7, 3) AS k, c_custkey FROM customer),
        |s AS (SELECT nullif(s_nationkey % 7, 3) AS sk, s_suppkey FROM supplier)
        |SELECT CAST(coalesce(k, -1) AS BIGINT) AS key_or_null,
        |  count(*) AS n_pairs,
        |  count(DISTINCT c_custkey) AS n_cust,
        |  count(DISTINCT s_suppkey) AS n_supp
        |FROM c JOIN s ON k IS NOT DISTINCT FROM sk
        |GROUP BY 1 ORDER BY key_or_null""".stripMargin)
  }

  /** Built-in `session_window` parity — the same sessionization semantics
    * as the hand-rolled gaps-and-islands (`q_sessionize` /
    * `WindowOps.sessionize`), expressed through Spark's NATIVE session
    * window aggregate ("functions, not hand-rolls"): one
    * `groupBy(session_window(ts, gap), user)` is a single
    * partial-aggregated shuffle with in-operator session merge, vs the
    * window+cumsum plan's full per-user sort. Boundary semantics differ
    * from the hand-rolled mart BY DESIGN and the oracle pins them: the
    * built-in opens a NEW session when the gap is ≥ 30 min (windows
    * [ts, ts+gap) merge only on strict overlap), while `q_sessionize`
    * splits on > 30 min; session_end is last_ts + gap, exactly as a
    * streaming watermark would close it. */
  val qSessionWindowSql: Q = new Q {
    val name = "q_session_window_sql"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.events(spark, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          sum(Q.cents(col("value"))).as("sum_cents"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("sum_cents"))
        .orderBy("user_id", "session_start")
    val oracle = Some(
      """WITH f AS (
        |  SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS cents,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800000000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, cents,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)
  }

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * classic CRM mart: per customer, days since last order (vs the
    * table-max anchor date), order count, and lifetime spend, each coded
    * into quintiles 1..5, composed as a 3-digit RFM code.
    *
    * Quintile assignment runs at the VALUE grain (the q_decile_lift ECDF
    * idiom): group by metric value, one cumulative window over the
    * bounded value domain, quintile = ⌈5·ecdf⌉, then equi-join the code
    * lookup back to the per-customer frame. Recency days (≈ 2 400) and
    * frequency (≤ ~50) are naturally bounded; monetary is BANDED to $100
    * so its grain is value-bounded too (~15 k bands) instead of
    * customer-cardinality — the difference between a calendar-sized and
    * a dimension-sized global sort at 10⁹ customers.
    * Scale shape: one custkey shuffle, three value-grain windows, three
    * broadcastable lookup joins. */
  val qRfmSegments: Q = new Q {
    val name = "q_rfm_segments"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val o = Tables.orders(spark, dir)
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"),
          Q.cents(col("o_totalprice")).as("cents"))
      val anchor = o.agg(max("day").as("anchor"))
      val rfm = o.groupBy("o_custkey")
        .agg(max("day").as("last_day"), count(lit(1)).as("f"),
          sum("cents").as("m_cents"))
        .crossJoin(broadcast(anchor))
        .select(col("o_custkey"),
          datediff(col("anchor"), col("last_day")).cast("long").as("r_days"),
          col("f"), col("m_cents"),
          expr("m_cents div 10000").as("m_band"))
      // value-grain quintile lookup: (value → code 1..5); LOW recency is
      // GOOD, so recency quintiles are coded on the descending ECDF.
      def quintiles(base: DataFrame, valueCol: String, desc0: Boolean): DataFrame = {
        val byV = base.groupBy(valueCol).agg(count(lit(1)).as("n_v"))
        val w =
          if (desc0) Window.orderBy(col(valueCol).desc)
          else Window.orderBy(col(valueCol))
        byV
          .withColumn("cum", sum("n_v").over(w))
          .withColumn("n_total", sum("n_v").over(Window.partitionBy()))
          .select(col(valueCol),
            expr("(cum * 5 + n_total - 1) div n_total").as(s"${valueCol}_q"))
      }
      rfm
        .join(broadcast(quintiles(rfm, "r_days", desc0 = true)), Seq("r_days"))
        .join(broadcast(quintiles(rfm, "f", desc0 = false)), Seq("f"))
        .join(broadcast(quintiles(rfm, "m_band", desc0 = false)), Seq("m_band"))
        .select(col("o_custkey"), col("r_days"), col("f"), col("m_cents"),
          col("r_days_q").as("r_q"), col("f_q"), col("m_band_q").as("m_q"),
          expr("r_days_q * 100 + f_q * 10 + m_band_q").as("rfm_code"))
        .orderBy("o_custkey")
    }
    val oracle = Some(
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |anchor AS (SELECT max(day) AS anchor FROM o),
        |rfm AS (
        |  SELECT o_custkey,
        |    CAST(datediff('day', max(day), (SELECT anchor FROM anchor)) AS BIGINT) AS r_days,
        |    count(*) AS f, CAST(sum(cents) AS BIGINT) AS m_cents,
        |    CAST(sum(cents) // 10000 AS BIGINT) AS m_band
        |  FROM o GROUP BY 1),
        |rq AS (
        |  SELECT r_days, (cum * 5 + n_total - 1) // n_total AS q FROM (
        |    SELECT r_days, sum(n_v) OVER (ORDER BY r_days DESC) AS cum,
        |           sum(n_v) OVER () AS n_total
        |    FROM (SELECT r_days, count(*) AS n_v FROM rfm GROUP BY 1))),
        |fq AS (
        |  SELECT f, (cum * 5 + n_total - 1) // n_total AS q FROM (
        |    SELECT f, sum(n_v) OVER (ORDER BY f) AS cum,
        |           sum(n_v) OVER () AS n_total
        |    FROM (SELECT f, count(*) AS n_v FROM rfm GROUP BY 1))),
        |mq AS (
        |  SELECT m_band, (cum * 5 + n_total - 1) // n_total AS q FROM (
        |    SELECT m_band, sum(n_v) OVER (ORDER BY m_band) AS cum,
        |           sum(n_v) OVER () AS n_total
        |    FROM (SELECT m_band, count(*) AS n_v FROM rfm GROUP BY 1)))
        |SELECT rfm.o_custkey, rfm.r_days, rfm.f, rfm.m_cents,
        |  CAST(rq.q AS BIGINT) AS r_q, CAST(fq.q AS BIGINT) AS f_q,
        |  CAST(mq.q AS BIGINT) AS m_q,
        |  CAST(rq.q * 100 + fq.q * 10 + mq.q AS BIGINT) AS rfm_code
        |FROM rfm
        |JOIN rq USING (r_days) JOIN fq USING (f) JOIN mq USING (m_band)
        |ORDER BY o_custkey""".stripMargin)
  }

  /** Item-item collaborative filtering ("customers also bought") — the
    * recommender-serving mart next to `q_assoc_rules`' rule mining: for
    * each part, its top-5 co-purchase neighbors by COSINE² similarity
    * co(i,j)²·10⁶ div (n_i·n_j) — monotone in cosine over the binary
    * basket incidence, and exactly integer where cosine needs a √.
    *
    * Scale shape: same single persisted basket shuffle as q_assoc_rules
    * (the in-row filter explode emits each unordered pair once), support
    * threshold prunes the pair space BEFORE scoring, and the top-5 is a
    * rank window over the pruned pair frame partitioned by item —
    * WindowGroupLimit keeps the per-item sort partial. The pair frame is
    * support-bounded, never |parts|². */
  val qItemCf: Q = new Q {
    val name = "q_item_cf"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val baskets = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy("l_orderkey").agg(collect_set(col("l_partkey")).as("ps"))
        .persist()
      val pairs = baskets
        .select(explode(col("ps")).as("pa"), col("ps"))
        .select(col("pa"), explode(expr("filter(ps, p -> p > pa)")).as("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("co"))
        .where(col("co") >= GraphQueries.CoSupport)
      val supp = baskets.select(explode(col("ps")).as("part"))
        .groupBy("part").agg(count(lit(1)).as("supp"))
      // direction expansion IN-ROW: a self-union would re-run the pair
      // aggregation once per direction (PlanDump showed two independent
      // (pa, pb) exchanges); the 2-element explode reuses one
      val directed = pairs.select(explode(array(
          struct(col("pa").as("item"), col("pb").as("neighbor"), col("co")),
          struct(col("pb").as("item"), col("pa").as("neighbor"), col("co"))))
          .as("d"))
        .select(col("d.item").as("item"), col("d.neighbor").as("neighbor"),
          col("d.co").as("co"))
      val scored = directed
        .join(supp.select(col("part").as("item"), col("supp").as("n_i")), Seq("item"))
        .join(supp.select(col("part").as("neighbor"), col("supp").as("n_j")),
          Seq("neighbor"))
        .withColumn("cos2_e6", expr("co * co * 1000000 div (n_i * n_j)"))
      scored
        .withColumn("rank", row_number().over(Window.partitionBy("item")
          .orderBy(col("cos2_e6").desc, col("neighbor"))).cast("long"))
        .where(col("rank") <= 5)
        .select("item", "neighbor", "co", "cos2_e6", "rank")
        .orderBy("item", "rank")
    }
    val oracle = Some(
      s"""WITH cop AS (${GraphQueries.CopurchaseSql}),
         |op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |supp AS (SELECT l_partkey AS part, count(*) AS supp FROM op GROUP BY 1),
         |dirr AS (
         |  SELECT pa AS item, pb AS neighbor, n_orders AS co FROM cop
         |  UNION ALL
         |  SELECT pb, pa, n_orders FROM cop),
         |sc AS (
         |  SELECT d.item, d.neighbor, d.co,
         |    d.co * d.co * 1000000 // (si.supp * sj.supp) AS cos2_e6
         |  FROM dirr d
         |    JOIN supp si ON d.item = si.part
         |    JOIN supp sj ON d.neighbor = sj.part),
         |r AS (
         |  SELECT item, neighbor, co, cos2_e6,
         |    row_number() OVER (PARTITION BY item
         |                       ORDER BY cos2_e6 DESC, neighbor) AS rank
         |  FROM sc)
         |SELECT item, neighbor, CAST(co AS BIGINT) AS co,
         |  CAST(cos2_e6 AS BIGINT) AS cos2_e6, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 5 ORDER BY item, rank""".stripMargin)
  }

  /** Top converting paths — clickstream sequence mining: each session's
    * first-5 event-type sequence becomes a path string, ranked by session
    * count (the "what do users actually do" mart feeding funnel design).
    *
    * Scale shape: sessionization + per-session rank ride ONE user_id
    * window pass; the path aggregate is per-session (bounded 5 events),
    * and the final ranking runs over the PATH-VOCABULARY grain (≤ 5⁵
    * event-type strings plus prefixes), not sessions. */
  val qUserPathTopk: Q = new Q {
    val name = "q_user_path_topk"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import graft.ops.WindowOps
      val sess = WindowOps.sessionize(Tables.events(spark, dir), Seq("user_id"),
        "ts", Seq(col("ts"), col("event_id")), 1800000000L)
      val wS = Window.partitionBy("user_id", "session_idx")
        .orderBy(col("ts"), col("event_id"))
      val paths = sess
        .withColumn("rn", row_number().over(wS))
        .where(col("rn") <= 5)
        .groupBy("user_id", "session_idx")
        .agg(expr(
          "array_join(transform(array_sort(collect_list(struct(rn, event_type)))," +
            " x -> x.event_type), '>')").as("path"))
      paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n_sessions").desc, col("path"))).cast("long"))
        .where(col("rank") <= 20)
        .select("rank", "path", "n_sessions")
        .orderBy("rank")
    }
    val oracle = Some(
      """WITH f AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM f),
        |rn AS (
        |  SELECT user_id, session_idx, event_type,
        |    row_number() OVER (PARTITION BY user_id, session_idx
        |                       ORDER BY ts, event_id) AS rn
        |  FROM s),
        |p AS (
        |  SELECT user_id, session_idx,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM rn WHERE rn <= 5 GROUP BY 1, 2),
        |c AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY 1),
        |r AS (
        |  SELECT path, n_sessions,
        |    row_number() OVER (ORDER BY n_sessions DESC, path) AS rank
        |  FROM c)
        |SELECT CAST(rank AS BIGINT) AS rank, path,
        |  CAST(n_sessions AS BIGINT) AS n_sessions
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin)
  }

  /** Peak concurrent sessions per day by DISTRIBUTED sweep-line — the
    * capacity-planning statistic (max simultaneous open sessions), done
    * as the two-phase prefix sum that survives 100 TB: phase 1 runs the
    * ±1 running sum WITHIN each day partition (parallel across days);
    * phase 2 adds each day's carry-in — the cumulative sum of per-day
    * boundary totals — via one calendar-grain window. No global sort of
    * the boundary stream ever happens; the only unpartitioned window is
    * over |days| rows.
    *
    * Determinism: boundaries sort by (us, delta DESC) so session starts
    * precede ends at the same microsecond (overlap-inclusive); within an
    * equal (us, delta) tie group every permutation yields the same
    * partial-sum multiset, so the per-day MAX is exactly defined. */
  val qConcurrencyPeak: Q = new Q {
    val name = "q_concurrency_peak"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import graft.ops.WindowOps
      val sess = WindowOps.sessionize(Tables.events(spark, dir), Seq("user_id"),
        "ts", Seq(col("ts"), col("event_id")), 1800000000L)
        .groupBy("user_id", "session_idx")
        .agg(min(unix_micros(col("ts"))).as("s_us"),
          max(unix_micros(col("ts"))).as("e_us"))
      // emit both boundaries IN-ROW (explode of a 2-element array) — a
      // self-union here re-runs the whole sessionize pipeline once per
      // branch (two window stacks over raw events; caught by PlanDump)
      val bounds = sess.select(explode(array(
          struct(col("s_us").as("us"), lit(1L).as("delta")),
          struct(col("e_us").as("us"), lit(-1L).as("delta")))).as("b"))
        .select(col("b.us").as("us"), col("b.delta").as("delta"))
        .withColumn("day", to_date(timestamp_micros(col("us"))))
      val wDay = Window.partitionBy("day").orderBy(col("us"), col("delta").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withRun = bounds.withColumn("run", sum("delta").over(wDay))
      val dayPeak = withRun.groupBy("day")
        .agg(max("run").as("peak_local"), sum("delta").as("dtot"))
      val wCal = Window.orderBy("day") // calendar-grain: ≤ |days| rows
        .rowsBetween(Window.unboundedPreceding, -1)
      dayPeak
        .withColumn("carry", coalesce(sum("dtot").over(wCal), lit(0L)))
        .select(col("day"), (col("carry") + col("peak_local")).as("peak"))
        .orderBy("day")
    }
    val oracle = Some(
      """WITH f AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM f),
        |iv AS (
        |  SELECT user_id, session_idx,
        |    min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
        |  FROM s GROUP BY 1, 2),
        |b AS (
        |  SELECT s_us AS us, 1 AS delta FROM iv
        |  UNION ALL
        |  SELECT e_us, -1 FROM iv),
        |r AS (
        |  SELECT CAST(make_timestamp(us) AS DATE) AS day, us, delta,
        |    sum(delta) OVER (PARTITION BY CAST(make_timestamp(us) AS DATE)
        |                     ORDER BY us, delta DESC
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM b),
        |d AS (
        |  SELECT day, max(run) AS peak_local, sum(delta) AS dtot
        |  FROM r GROUP BY 1),
        |c AS (
        |  SELECT day, peak_local,
        |    COALESCE(sum(dtot) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry
        |  FROM d)
        |SELECT day, CAST(carry + peak_local AS BIGINT) AS peak
        |FROM c ORDER BY day""".stripMargin)
  }

  private val FunnelWindowUs = 7L * 86400L * 1000000L

  /** The strict view→click→purchase chain behind `q_window_funnel` and
    * `q_time_to_convert`: per user, first view (t1), first click after it
    * (t2), first purchase after that (t3) — all within 7 days of t1. */
  /** Window-length sensitivity of the strict funnel — the tuning curve
    * behind [[qWindowFunnel]]'s fixed 7-day window: conversion counts at
    * 1 hour / 1 day / 7 days, all derived from ONE uncapped chain. The
    * min-structure makes this exact, not approximate: the capped
    * first-click t2(w) = min{click ∈ (t1, t1+w]} EQUALS the uncapped
    * c = min{click > t1} whenever c ≤ t1+w and is absent otherwise (if
    * any click lands in the window, the global minimum after t1 is also
    * in it), and likewise for the purchase step — so each arm is an
    * in-row threshold on the per-user (t1, c, p) triple, never a re-run
    * of the join rounds. The 7-day arm is definitionally identical to
    * `q_window_funnel` (spec-pinned cross-query).
    * Scale shape: the chain's user_id-keyed join rounds once, then a
    * 3-arm in-row expansion over the user-grain triple and a ≤3-row
    * aggregate. */
  val qFunnelWindowSweep: Q = new Q {
    val name = "q_funnel_window_sweep"
    private val Windows = Seq(3600000000L, 86400000000L, 604800000000L)
    def run(spark: SparkSession, dir: String): DataFrame = {
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val t1 = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("t1"))
      val c = ev.where(col("event_type") === "click")
        .join(t1, Seq("user_id")).where(col("us") > col("t1"))
        .groupBy("user_id", "t1").agg(min("us").as("c"))
      val p = ev.where(col("event_type") === "purchase")
        .join(c, Seq("user_id")).where(col("us") > col("c"))
        .groupBy("user_id", "t1", "c").agg(min("us").as("p"))
      t1.join(c.select("user_id", "c"), Seq("user_id"), "left")
        .join(p.select("user_id", "p"), Seq("user_id"), "left")
        .withColumn("window_us", explode(array(Windows.map(lit): _*)))
        .groupBy("window_us")
        .agg(count(lit(1)).as("n_view"),
          sum(when(col("c") <= col("t1") + col("window_us"), 1L).otherwise(0L))
            .as("n_then_click"),
          sum(when(col("c") <= col("t1") + col("window_us") &&
              col("p") <= col("t1") + col("window_us"), 1L).otherwise(0L))
            .as("n_then_purchase"))
        .withColumn("conv_e4", expr("n_then_purchase * 10000 div n_view"))
        .orderBy("window_us")
    }
    val oracle = Some(
      s"""WITH ev AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         |t1 AS (
         |  SELECT user_id, min(us) AS t1 FROM ev
         |  WHERE event_type = 'view' GROUP BY 1),
         |c AS (
         |  SELECT ev.user_id, t1.t1, min(ev.us) AS c
         |  FROM ev JOIN t1 ON ev.user_id = t1.user_id
         |  WHERE ev.event_type = 'click' AND ev.us > t1.t1 GROUP BY 1, 2),
         |p AS (
         |  SELECT ev.user_id, min(ev.us) AS p
         |  FROM ev JOIN c ON ev.user_id = c.user_id
         |  WHERE ev.event_type = 'purchase' AND ev.us > c.c GROUP BY 1),
         |f AS (
         |  SELECT t1.user_id, t1.t1, c.c, p.p
         |  FROM t1 LEFT JOIN c ON t1.user_id = c.user_id
         |          LEFT JOIN p ON t1.user_id = p.user_id),
         |arms AS (SELECT CAST(unnest([${Windows.mkString(", ")}]) AS BIGINT)
         |         AS window_us),
         |a AS (
         |  SELECT window_us, CAST(count(*) AS BIGINT) AS n_view,
         |    CAST(sum(CASE WHEN c <= t1 + window_us THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_then_click,
         |    CAST(sum(CASE WHEN c <= t1 + window_us AND p <= t1 + window_us
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_then_purchase
         |  FROM f CROSS JOIN arms GROUP BY window_us)
         |SELECT window_us, n_view, n_then_click, n_then_purchase,
         |  n_then_purchase * 10000 // n_view AS conv_e4
         |FROM a ORDER BY window_us""".stripMargin)
  }

  private def funnelChain(spark: SparkSession, dir: String)
  : (DataFrame, DataFrame, DataFrame) = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val t1 = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t1"))
    val t2 = ev.where(col("event_type") === "click")
      .join(t1, Seq("user_id"))
      .where(col("us") > col("t1") && col("us") <= col("t1") + FunnelWindowUs)
      .groupBy("user_id", "t1").agg(min("us").as("t2"))
    val t3 = ev.where(col("event_type") === "purchase")
      .join(t2, Seq("user_id"))
      .where(col("us") > col("t2") && col("us") <= col("t1") + FunnelWindowUs)
      .groupBy("user_id", "t1").agg(min("us").as("t3"))
    (t1, t2, t3)
  }

  /** Strict ordered window-funnel (the ClickHouse `windowFunnel`
    * semantics, vs `q_funnel_conversion`'s first-occurrence
    * approximation): view → first click AFTER that view → first purchase
    * AFTER that click, the whole chain within 7 days of the view.
    * Presence-based funnels overcount (a click before the first view
    * counts); this one walks the actual sequence.
    *
    * Scale shape: three user_id-keyed aggregate/join rounds (each side
    * already hash-partitioned by user_id — AQE coalesces the co-
    * partitioned joins); per-step frames only shrink. No windows over
    * raw facts, no per-user state beyond three timestamps. */
  val qWindowFunnel: Q = new Q {
    val name = "q_window_funnel"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val (t1, t2, t3) = funnelChain(spark, dir)
      t1.select(count(lit(1)).as("n_view"))
        .crossJoin(t2.select(count(lit(1)).as("n_then_click")))
        .crossJoin(t3.select(count(lit(1)).as("n_then_purchase")))
    }
    val oracle = Some(
      s"""WITH ev AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         |t1 AS (
         |  SELECT user_id, min(us) AS t1 FROM ev
         |  WHERE event_type = 'view' GROUP BY 1),
         |t2 AS (
         |  SELECT ev.user_id, t1.t1, min(ev.us) AS t2
         |  FROM ev JOIN t1 ON ev.user_id = t1.user_id
         |  WHERE ev.event_type = 'click' AND ev.us > t1.t1
         |    AND ev.us <= t1.t1 + $FunnelWindowUs
         |  GROUP BY 1, 2),
         |t3 AS (
         |  SELECT ev.user_id, min(ev.us) AS t3
         |  FROM ev JOIN t2 ON ev.user_id = t2.user_id
         |  WHERE ev.event_type = 'purchase' AND ev.us > t2.t2
         |    AND ev.us <= t2.t1 + $FunnelWindowUs
         |  GROUP BY 1)
         |SELECT (SELECT count(*) FROM t1) AS n_view,
         |       (SELECT count(*) FROM t2) AS n_then_click,
         |       (SELECT count(*) FROM t3) AS n_then_purchase""".stripMargin)
  }

  /** Conversion-latency distribution: for every user completing the
    * strict funnel chain, days from first view to the converting
    * purchase, as a day-grain histogram — the "how long does conversion
    * take" companion to `q_window_funnel`'s "how many convert".
    *
    * Scale shape: inherits the chain's user_id-keyed join rounds, then
    * one aggregate to ≤ 8 rows (the 7-day window bounds the domain). */
  val qTimeToConvert: Q = new Q {
    val name = "q_time_to_convert"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val (_, _, t3) = funnelChain(spark, dir)
      t3.groupBy(expr("(t3 - t1) div 86400000000").as("days_to_convert"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("days_to_convert")
    }
    val oracle = Some(
      s"""WITH ev AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         |t1 AS (
         |  SELECT user_id, min(us) AS t1 FROM ev
         |  WHERE event_type = 'view' GROUP BY 1),
         |t2 AS (
         |  SELECT ev.user_id, t1.t1, min(ev.us) AS t2
         |  FROM ev JOIN t1 ON ev.user_id = t1.user_id
         |  WHERE ev.event_type = 'click' AND ev.us > t1.t1
         |    AND ev.us <= t1.t1 + $FunnelWindowUs
         |  GROUP BY 1, 2),
         |t3 AS (
         |  SELECT ev.user_id, t2.t1, min(ev.us) AS t3
         |  FROM ev JOIN t2 ON ev.user_id = t2.user_id
         |  WHERE ev.event_type = 'purchase' AND ev.us > t2.t2
         |    AND ev.us <= t2.t1 + $FunnelWindowUs
         |  GROUP BY 1, 2)
         |SELECT (t3 - t1) // 86400000000 AS days_to_convert,
         |       count(*) AS n_users
         |FROM t3 GROUP BY 1 ORDER BY days_to_convert""".stripMargin)
  }

  /** Popularity-fallback ("cold start") recommendations: for the bounded
    * subject list, the top-3 globally-popular parts the subject has NOT
    * already bought — the serving-side fallback when a user has no
    * collaborative signal for `q_item_cf`.
    *
    * Scale shape: popularity is a part-DIM aggregate cut to a constant
    * top-20 (rank window with WindowGroupLimit); subjects × top-20 is a
    * broadcast cross of two bounded frames; the anti-join probes the
    * subject-bounded purchase set. Nothing fact-sized shuffles twice. */
  val qColdStartRecs: Q = new Q {
    val name = "q_cold_start_recs"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val bought = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
        .distinct()
        .persist() // feeds popularity, the anti-join build, and the cross
      val popular = bought.groupBy("part").agg(count(lit(1)).as("n_buyers"))
        .withColumn("pop_rank", row_number().over(
          Window.orderBy(col("n_buyers").desc, col("part"))).cast("long"))
        .where(col("pop_rank") <= 20)
      val subjects = Tables.customer(spark, dir)
        .where(col("c_custkey") % 100 === 0).select(col("c_custkey"))
      val boughtA = bought
        .select(col("cust").as("b_cust"), col("part").as("b_part"))
      subjects.crossJoin(broadcast(popular))
        .join(boughtA,
          col("c_custkey") === col("b_cust") && col("part") === col("b_part"),
          "left_anti")
        .withColumn("rec_rank", row_number().over(
          Window.partitionBy("c_custkey").orderBy("pop_rank")).cast("long"))
        .where(col("rec_rank") <= 3)
        .select(col("c_custkey"), col("part").as("p_partkey"),
          col("n_buyers"), col("pop_rank"), col("rec_rank"))
        .orderBy("c_custkey", "rec_rank")
    }
    val oracle = Some(
      """WITH bought AS (
        |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |pop AS (
        |  SELECT part, count(*) AS n_buyers,
        |    row_number() OVER (ORDER BY count(*) DESC, part) AS pop_rank
        |  FROM bought GROUP BY part),
        |top20 AS (SELECT * FROM pop WHERE pop_rank <= 20),
        |subj AS (SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0),
        |cand AS (
        |  SELECT s.c_custkey, t.part, t.n_buyers, t.pop_rank
        |  FROM subj s CROSS JOIN top20 t
        |  WHERE NOT EXISTS (SELECT 1 FROM bought b
        |                    WHERE b.cust = s.c_custkey AND b.part = t.part)),
        |r AS (
        |  SELECT c_custkey, part, n_buyers, pop_rank,
        |    row_number() OVER (PARTITION BY c_custkey ORDER BY pop_rank) AS rec_rank
        |  FROM cand)
        |SELECT c_custkey, part AS p_partkey, CAST(n_buyers AS BIGINT) AS n_buyers,
        |  CAST(pop_rank AS BIGINT) AS pop_rank, CAST(rec_rank AS BIGINT) AS rec_rank
        |FROM r WHERE rec_rank <= 3 ORDER BY c_custkey, rec_rank""".stripMargin)
  }

  /** Inter-arrival burstiness profile: log₂ histogram of per-user
    * inter-event gaps (seconds) — a bursty stream piles mass in the small
    * bins AND the heavy tail at once; a Poisson-ish one is unimodal. The
    * bit-length binning (`length(bin(gap+1))`) is exact in both engines —
    * no float log (the q_length_histogram device). The profile drives
    * session-gap and watermark tuning.
    *
    * Scale shape: ONE user_id window pass for the lag, in-row binning,
    * final aggregate over ≤ 64 bins. */
  val qInterarrivalProfile: Q = new Q {
    val name = "q_interarrival_profile"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(w)))
        .withColumn("gap_s", expr("(unix_micros(ts) - prev_us) div 1000000"))
        .where(col("gap_s").isNotNull)
        .groupBy(length(bin(col("gap_s") + 1)).cast("long").as("gap_bin"))
        .agg(count(lit(1)).as("n"), min("gap_s").as("min_gap_s"),
          max("gap_s").as("max_gap_s"), sum("gap_s").as("sum_gap_s"))
        .orderBy("gap_bin")
    }
    val oracle = Some(
      """WITH g AS (
        |  SELECT (epoch_us(ts) -
        |          epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))
        |         // 1000000 AS gap_s
        |  FROM events)
        |SELECT CAST(length(bin(gap_s + 1)) AS BIGINT) AS gap_bin,
        |  count(*) AS n, CAST(min(gap_s) AS BIGINT) AS min_gap_s,
        |  CAST(max(gap_s) AS BIGINT) AS max_gap_s,
        |  CAST(sum(gap_s) AS BIGINT) AS sum_gap_s
        |FROM g WHERE gap_s IS NOT NULL
        |GROUP BY 1 ORDER BY gap_bin""".stripMargin)
  }

  /** Audience-overlap matrix: exact Jaccard between the USER SETS of each
    * event-type pair — "do clickers also purchase?" — the segmentation
    * overlap audit. |A∩B| comes from a user-keyed self-join of the
    * distinct (type, user) frame (pair fan-out bounded by types-per-user
    * ≤ |types|²); |A∪B| = |A|+|B|−|A∩B| keeps everything integer.
    *
    * Scale shape: one distinct at (type, user) grain (the only
    * fact-cardinality pass), the self-join is user-keyed (co-partitioned)
    * with in-row C(types_u, 2) fan-out, final agg at the |types|² grain. */
  val qAudienceOverlap: Q = new Q {
    val name = "q_audience_overlap"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val tu = Tables.events(spark, dir)
        .select(col("event_type"), col("user_id")).distinct().persist()
      val sizes = tu.groupBy("event_type").agg(count(lit(1)).as("n"))
      val l = tu.select(col("event_type").as("type_a"), col("user_id"))
      val r = tu.select(col("event_type").as("type_b"), col("user_id"))
      l.join(r, Seq("user_id"))
        .where(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
        .join(broadcast(sizes.select(col("event_type").as("type_a"),
          col("n").as("n_a"))), Seq("type_a"))
        .join(broadcast(sizes.select(col("event_type").as("type_b"),
          col("n").as("n_b"))), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_both"),
          expr("n_both * 1000000 div (n_a + n_b - n_both)").as("jaccard_e6"))
        .orderBy("type_a", "type_b")
    }
    val oracle = Some(
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
        |pair AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         count(*) AS n_both
        |  FROM tu a JOIN tu b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, sa.n AS n_a, sb.n AS n_b,
        |  CAST(p.n_both AS BIGINT) AS n_both,
        |  CAST(p.n_both * 1000000 // (sa.n + sb.n - p.n_both) AS BIGINT)
        |    AS jaccard_e6
        |FROM pair p JOIN sz sa ON p.type_a = sa.event_type
        |            JOIN sz sb ON p.type_b = sb.event_type
        |ORDER BY type_a, type_b""".stripMargin)
  }

  /** Daily active users split into NEW vs RETURNING — the growth
    * dashboard's first chart. A user's first-ever day marks them new that
    * day, returning on any later active day.
    *
    * Scale shape: one user_id shuffle for first days, one (user, day)
    * distinct (fact-cardinality pass), one co-partitioned equi-join back
    * on user_id, final calendar-grain aggregate. */
  val qNewVsReturning: Q = new Q {
    val name = "q_new_vs_returning"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val ud = Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .persist() // feeds the first-day aggregate AND the join back
      val first = ud.groupBy("user_id").agg(min("day").as("first_day"))
      ud.join(first, Seq("user_id"))
        .groupBy("day")
        .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
          sum(when(col("day") > col("first_day"), 1L).otherwise(0L)).as("n_returning"))
        .withColumn("dau", col("n_new") + col("n_returning"))
        .orderBy("day")
    }
    val oracle = Some(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1)
        |SELECT ud.day,
        |  CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(sum(CASE WHEN ud.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
        |  count(*) AS dau
        |FROM ud JOIN f USING (user_id)
        |GROUP BY ud.day ORDER BY ud.day""".stripMargin)
  }

  /** Classic Dk retention curve (k = 1, 7, 14, 28): share of users active
    * EXACTLY k days after their first day — the mobile-analytics headline
    * metric, with correct RIGHT-CENSORING: a user only enters day-k's
    * denominator if day first+k lies inside the observed window (without
    * it, late cohorts silently depress the tail).
    *
    * Scale shape: one user_id shuffle (first days), one (user, day)
    * distinct, a 4-way in-row explode of the k list, one co-partitioned
    * left join against activity on (user, day), final 4-row aggregate. */
  val qRetentionCurve: Q = new Q {
    val name = "q_retention_curve"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val ud = Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .persist() // feeds first days, the bound scalar, and the hit join
      val first = ud.groupBy("user_id").agg(min("day").as("first_day"))
      val bounds = ud.agg(max("day").as("hi"))
      val cand = first
        .withColumn("k", explode(array(lit(1), lit(7), lit(14), lit(28))))
        .withColumn("target", expr("date_add(first_day, k)"))
        .crossJoin(broadcast(bounds))
        .where(col("target") <= col("hi"))
      cand
        .join(ud.select(col("user_id"), col("day").as("target"))
          .withColumn("hit", lit(1L)), Seq("user_id", "target"), "left")
        .groupBy(col("k").cast("long").as("k"))
        .agg(count(lit(1)).as("n_eligible"),
          sum(coalesce(col("hit"), lit(0L))).as("n_retained"))
        .select(col("k"), col("n_eligible"), col("n_retained"),
          expr("n_retained * 10000 div n_eligible").as("retention_e4"))
        .orderBy("k")
    }
    val oracle = Some(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1),
        |b AS (SELECT max(day) AS hi FROM ud),
        |cand AS (
        |  SELECT f.user_id, k.k, f.first_day + k.k * INTERVAL 1 DAY AS target
        |  FROM f CROSS JOIN (VALUES (1), (7), (14), (28)) k(k)
        |  CROSS JOIN b WHERE f.first_day + k.k * INTERVAL 1 DAY <= b.hi),
        |j AS (
        |  SELECT c.k, CASE WHEN ud.user_id IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM cand c LEFT JOIN ud
        |    ON ud.user_id = c.user_id AND ud.day = c.target)
        |SELECT CAST(k AS BIGINT) AS k, count(*) AS n_eligible,
        |  CAST(sum(hit) AS BIGINT) AS n_retained,
        |  CAST(sum(hit) * 10000 // count(*) AS BIGINT) AS retention_e4
        |FROM j GROUP BY k ORDER BY k""".stripMargin)
  }

  /** Discrete conversion-hazard table over the strict funnel — the
    * survival-analysis view of `q_time_to_convert`: per day d since the
    * first view, the users still unconverted entering d (n_at_risk),
    * the conversions landing on d, and the exact hazard rate. The
    * Kaplan–Meier product is left to the consumer (it's a product of
    * these exact rationals); the export is the sufficient table.
    *
    * Scale shape: inherits the chain's user_id-keyed rounds; everything
    * after runs on a ≤ 8-row day frame. */
  val qConversionHazard: Q = new Q {
    val name = "q_conversion_hazard"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val (t1, _, t3) = funnelChain(spark, dir)
      val nView = t1.agg(count(lit(1)).as("n_view"))
      val byDay = t3
        .groupBy(expr("(t3 - t1) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n_conv"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
      byDay
        .withColumn("prior_conv", coalesce(sum("n_conv").over(w), lit(0L)))
        .crossJoin(broadcast(nView))
        .select(col("day"), (col("n_view") - col("prior_conv")).as("n_at_risk"),
          col("n_conv"),
          expr("n_conv * 1000000 div (n_view - prior_conv)").as("hazard_e6"))
        .orderBy("day")
    }
    val oracle = Some(
      s"""WITH ev AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         |t1 AS (
         |  SELECT user_id, min(us) AS t1 FROM ev
         |  WHERE event_type = 'view' GROUP BY 1),
         |t2 AS (
         |  SELECT ev.user_id, t1.t1, min(ev.us) AS t2
         |  FROM ev JOIN t1 ON ev.user_id = t1.user_id
         |  WHERE ev.event_type = 'click' AND ev.us > t1.t1
         |    AND ev.us <= t1.t1 + $FunnelWindowUs
         |  GROUP BY 1, 2),
         |t3 AS (
         |  SELECT ev.user_id, t2.t1, min(ev.us) AS t3
         |  FROM ev JOIN t2 ON ev.user_id = t2.user_id
         |  WHERE ev.event_type = 'purchase' AND ev.us > t2.t2
         |    AND ev.us <= t2.t1 + $FunnelWindowUs
         |  GROUP BY 1, 2),
         |nv AS (SELECT count(*) AS n_view FROM t1),
         |bd AS (
         |  SELECT (t3 - t1) // 86400000000 AS day, count(*) AS n_conv
         |  FROM t3 GROUP BY 1),
         |c AS (
         |  SELECT day, n_conv,
         |    COALESCE(sum(n_conv) OVER (ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_conv
         |  FROM bd)
         |SELECT CAST(c.day AS BIGINT) AS day,
         |  CAST(nv.n_view - c.prior_conv AS BIGINT) AS n_at_risk,
         |  CAST(c.n_conv AS BIGINT) AS n_conv,
         |  CAST(c.n_conv * 1000000 // (nv.n_view - c.prior_conv) AS BIGINT) AS hazard_e6
         |FROM c CROSS JOIN nv ORDER BY day""".stripMargin)
  }

  /** Sequential pattern pairs (PrefixSpan depth-2): per session, the
    * ordered pairs of event types where a's FIRST occurrence precedes
    * b's (not necessarily adjacent — the complement to
    * `q_markov_transitions`' adjacent bigrams), counted once per session,
    * with session-level support. Ties on the first-occurrence timestamp
    * break by type name (struct comparison — total order, deterministic).
    *
    * Scale shape: sessionize + per-(session, type) first-occurrence agg
    * ride the user_id partitioning; the pair join is keyed by session
    * (co-partitioned self-join, in-row fan-out ≤ C(|types|, 2) = 10);
    * final agg at the |types|² grain. */
  val qSeqPatternPairs: Q = new Q {
    val name = "q_seq_pattern_pairs"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import graft.ops.WindowOps
      val sess = WindowOps.sessionize(Tables.events(spark, dir), Seq("user_id"),
        "ts", Seq(col("ts"), col("event_id")), 1800000000L)
      val firsts = sess
        .groupBy("user_id", "session_idx", "event_type")
        .agg(min(struct(unix_micros(col("ts")), col("event_id"))).as("first_at"))
      val nSess = firsts.select("user_id", "session_idx").distinct()
        .agg(count(lit(1)).as("n_sessions"))
      val l = firsts.select(col("user_id"), col("session_idx"),
        col("event_type").as("type_a"), col("first_at").as("at_a"))
      val r = firsts.select(col("user_id"), col("session_idx"),
        col("event_type").as("type_b"), col("first_at").as("at_b"))
      l.join(r, Seq("user_id", "session_idx"))
        .where(col("type_a") =!= col("type_b") && col("at_a") < col("at_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_sess"))
        .crossJoin(broadcast(nSess))
        .select(col("type_a"), col("type_b"), col("n_sess"),
          expr("n_sess * 10000 div n_sessions").as("support_e4"))
        .orderBy("type_a", "type_b")
    }
    val oracle = Some(
      """WITH f AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM f),
        |fo AS (
        |  SELECT user_id, session_idx, event_type,
        |    min(ROW(epoch_us(ts), event_id)) AS first_at
        |  FROM s GROUP BY 1, 2, 3),
        |ns AS (SELECT count(*) AS n_sessions FROM
        |       (SELECT DISTINCT user_id, session_idx FROM fo)),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         count(*) AS n_sess
        |  FROM fo a JOIN fo b
        |    ON a.user_id = b.user_id AND a.session_idx = b.session_idx
        |   AND a.event_type <> b.event_type AND a.first_at < b.first_at
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, CAST(p.n_sess AS BIGINT) AS n_sess,
        |  CAST(p.n_sess * 10000 // ns.n_sessions AS BIGINT) AS support_e4
        |FROM p CROSS JOIN ns ORDER BY type_a, type_b""".stripMargin)
  }

  /** LINEAR multi-touch attribution — every non-purchase touch in a
    * CONVERTING session splits the conversion credit equally
    * (credit = 10⁶ div n_touches, truncating — both engines truncate
    * identically, and the per-session remainder ≤ n_touches−1 is the
    * documented quantization). The fractional-credit counterpart to
    * `q_attribution_first_touch`'s winner-takes-all.
    *
    * Scale shape: the same ONE user_id window pass as first-touch, one
    * (user, session) aggregate for conversion + touch counts, one
    * co-partitioned join back, channel-grain final aggregate. */
  val qAttributionLinear: Q = new Q {
    val name = "q_attribution_linear"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val sess = graft.ops.WindowOps.sessionize(
        Tables.events(spark, dir).select("user_id", "ts", "event_id", "event_type"),
        Seq("user_id"), "ts", Seq(col("ts"), col("event_id")), 1800000000L)
        .withColumn("is_touch",
          (col("event_type") =!= "purchase").cast("long"))
      val per = sess.groupBy("user_id", "session_idx")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"),
          sum("is_touch").as("n_touches"))
        .where(col("conv") === 1 && col("n_touches") > 0)
      sess.where(col("is_touch") === 1)
        .join(per, Seq("user_id", "session_idx"))
        .groupBy(col("event_type").as("channel"))
        .agg(count(lit(1)).as("n_touches_total"),
          sum(expr("1000000 div n_touches")).as("credit_e6"))
        .orderBy("channel")
    }
    val oracle = Some(
      """WITH f AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(event_type <> 'purchase' AS BIGINT) AS is_touch,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        |per AS (
        |  SELECT user_id, sid,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
        |    sum(is_touch) AS n_touches
        |  FROM s GROUP BY 1, 2),
        |conv AS (SELECT user_id, sid, n_touches FROM per
        |         WHERE conv = 1 AND n_touches > 0)
        |SELECT s.event_type AS channel, count(*) AS n_touches_total,
        |  CAST(sum(1000000 // c.n_touches) AS BIGINT) AS credit_e6
        |FROM s JOIN conv c ON s.user_id = c.user_id AND s.sid = c.sid
        |WHERE s.is_touch = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** User-lifecycle state machine: per user-week, the state derived from
    * weeks-since-last-activity (new → active → at_risk (1–2 idle weeks)
    * → churned (≥3)), exported as the week-over-week TRANSITION MATRIX —
    * the growth-accounting table (how many actives slipped to at-risk,
    * how many churned users resurrected) behind every retention
    * dashboard.
    *
    * Scale shape: the user×week grid is the mart's natural grain
    * (explode of each user's week span — |users|·|weeks| rows, the same
    * class as a gap-filled per-entity calendar); ONE window pass per
    * user computes last-active and the previous state via lag; the
    * output is the ≤ 4×4 transition matrix. */
  val qUserLifecycle: Q = new Q {
    val name = "q_user_lifecycle"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val uw = Tables.events(spark, dir)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .distinct()
        .persist() // feeds the bound scalar, the grid span, the active join
      val hi = uw.agg(max("week").as("hi"))
      val grid = uw.groupBy("user_id").agg(min("week").as("first_week"))
        .crossJoin(broadcast(hi))
        .select(col("user_id"),
          explode(expr("sequence(first_week, hi, interval 7 days)")).as("week"))
      val w = Window.partitionBy("user_id").orderBy("week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val states = grid
        .join(uw.withColumn("active", lit(1L)), Seq("user_id", "week"), "left")
        .withColumn("last_active",
          max(when(col("active") === 1, col("week"))).over(w))
        .withColumn("idle_weeks",
          expr("datediff(week, last_active) div 7"))
        .withColumn("state",
          when(col("active") === 1 && col("week") === col("last_active") &&
            col("idle_weeks") === 0,
            when(col("week") === min(col("week"))
              .over(Window.partitionBy("user_id")), "new").otherwise("active"))
            .when(col("idle_weeks") <= 2, "at_risk").otherwise("churned"))
      states
        .withColumn("prev_state", lag(col("state"), 1)
          .over(Window.partitionBy("user_id").orderBy("week")))
        .where(col("prev_state").isNotNull)
        .groupBy("prev_state", "state").agg(count(lit(1)).as("n"))
        .orderBy("prev_state", "state")
    }
    val oracle = Some(
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM events),
        |hi AS (SELECT max(week) AS hi FROM uw),
        |grid AS (
        |  SELECT f.user_id, CAST(unnest(generate_series(f.first_week,
        |    (SELECT hi FROM hi), INTERVAL 7 DAY)) AS DATE) AS week
        |  FROM (SELECT user_id, min(week) AS first_week FROM uw GROUP BY 1) f),
        |st AS (
        |  SELECT g.user_id, g.week,
        |    CASE WHEN u.user_id IS NOT NULL THEN 1 ELSE 0 END AS active,
        |    max(CASE WHEN u.user_id IS NOT NULL THEN g.week END)
        |      OVER (PARTITION BY g.user_id ORDER BY g.week
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_active,
        |    min(g.week) OVER (PARTITION BY g.user_id) AS first_week
        |  FROM grid g LEFT JOIN uw u
        |    ON u.user_id = g.user_id AND u.week = g.week),
        |named AS (
        |  SELECT user_id, week,
        |    CASE WHEN active = 1 AND week = last_active
        |           AND datediff('day', last_active, week) // 7 = 0
        |         THEN CASE WHEN week = first_week THEN 'new' ELSE 'active' END
        |         WHEN datediff('day', last_active, week) // 7 <= 2 THEN 'at_risk'
        |         ELSE 'churned' END AS state
        |  FROM st),
        |tr AS (
        |  SELECT user_id, week, state,
        |    lag(state) OVER (PARTITION BY user_id ORDER BY week) AS prev_state
        |  FROM named)
        |SELECT prev_state, state, count(*) AS n
        |FROM tr WHERE prev_state IS NOT NULL
        |GROUP BY 1, 2 ORDER BY prev_state, state""".stripMargin)
  }

  val all: Seq[Q] = Seq(qCohortRetention, qAssocRules, qAttributionFirstTouch,
    qFreqTriples, qMarkovTransitions, qSessionDuration, qActivityHeatmap,
    qUserLtv, qHoppingCounts, qNullsafeJoin, qSessionWindowSql, qRfmSegments,
    qItemCf, qUserPathTopk, qConcurrencyPeak, qWindowFunnel, qTimeToConvert,
    qColdStartRecs, qInterarrivalProfile, qAudienceOverlap, qNewVsReturning,
    qRetentionCurve, qConversionHazard, qSeqPatternPairs, qAttributionLinear,
    qUserLifecycle, qFunnelWindowSweep)
}
