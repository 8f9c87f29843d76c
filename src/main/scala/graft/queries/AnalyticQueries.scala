package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Analytic-SQL surface beyond the reference's ranking/offset windows
  * (SURVEY.md §2.5 notes the reference uses only `row_number`/`lag` with
  * default frames): explicit GROUPING SETS, ROWS/RANGE window frames,
  * ignore-nulls LOCF, time-series gap fill, correlated scalar subqueries,
  * and sketch-based approximate distinct counting.
  *
  * Scale shape: every query pre-aggregates to a small keyed frame before
  * any window/cross-join (days × statuses is O(spans), never O(rows)), so
  * the only row-count-proportional stages are partial-aggregated scans.
  */
object AnalyticQueries {

  private def cents(c: org.apache.spark.sql.Column) = Q.cents(c)

  /** Non-hierarchical GROUPING SETS ((status),(priority),()) — not
    * expressible as cube/rollup; planned as a single Expand + hash agg. */
  val qGroupingSets: Q = new Q {
    val name = "q_grouping_sets"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.orders(spark, dir)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("total_cents"),
          grouping_id().cast("long").as("gid"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total_cents"), col("gid"))
        .orderBy("gid", "status", "priority")
    val oracle = Some(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, status, priority""".stripMargin)
  }

  /** ROWS vs RANGE window frames over per-day revenue: a 7-slot ROWS
    * moving sum and a 7-day RANGE moving sum (they differ exactly where
    * calendar days are missing). Frame input is the pre-aggregated daily
    * frame — the window never sees raw orders. */
  val qMovingAvg: Q = new Q {
    val name = "q_moving_avg"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"), col("o_orderstatus"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
        .withColumn("dn", datediff(col("day"), lit("1970-01-01")))
      val byDayRows = Window.partitionBy("o_orderstatus").orderBy("dn").rowsBetween(-6, 0)
      val byDayRange = Window.partitionBy("o_orderstatus").orderBy("dn").rangeBetween(-6, 0)
      daily.select(col("day"), col("o_orderstatus"), col("rev_cents"),
          sum("rev_cents").over(byDayRows).as("ma7_cents"),
          count(lit(1)).over(byDayRows).as("ma7_n"),
          sum("rev_cents").over(byDayRange).as("rng7_cents"))
        .orderBy("o_orderstatus", "day")
    }
    val oracle = Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderstatus,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1, 2),
        |d2 AS (SELECT *, date_diff('day', DATE '1970-01-01', day) AS dn FROM daily)
        |SELECT day, o_orderstatus, rev_cents,
        |  CAST(sum(rev_cents) OVER (PARTITION BY o_orderstatus ORDER BY dn
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS ma7_cents,
        |  count(*) OVER (PARTITION BY o_orderstatus ORDER BY dn
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7_n,
        |  CAST(sum(rev_cents) OVER (PARTITION BY o_orderstatus ORDER BY dn
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS rng7_cents
        |FROM d2 ORDER BY o_orderstatus, day""".stripMargin)
  }

  /** Time-series gap fill: dense (day × status) grid via sequence+explode,
    * zero-fill plus last-observation-carried-forward (ignore-nulls window).
    * The grid is built from the 1-row span aggregate — O(days × statuses),
    * independent of fact cardinality. */
  val qGapfill: Q = new Q {
    val name = "q_gapfill_daily_revenue"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val orders = Tables.orders(spark, dir)
      val daily = orders
        .groupBy(to_date(col("o_orderdate")).as("day"), col("o_orderstatus"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"), count(lit(1)).as("n"))
      val days = daily.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
      // hint kept: without it the nested-loop join builds the day grid and range-shuffles it
      val grid = days.crossJoin(broadcast(orders.select("o_orderstatus").distinct()))
      val locf = Window.partitionBy("o_orderstatus").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("day", "o_orderstatus"), "left")
        .select(col("day"), col("o_orderstatus"),
          coalesce(col("rev"), lit(0L)).as("rev_cents"),
          coalesce(col("n"), lit(0L)).as("n_orders"),
          coalesce(last("rev", ignoreNulls = true).over(locf), lit(0L)).as("rev_locf"))
        .orderBy("day", "o_orderstatus")
    }
    val oracle = Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderstatus,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev,
        |         count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |days AS (
        |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |                                     CAST(d1 AS TIMESTAMP),
        |                                     INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM span),
        |grid AS (SELECT day, o_orderstatus
        |         FROM days CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)),
        |j AS (SELECT g.day, g.o_orderstatus, d.rev, d.n
        |      FROM grid g LEFT JOIN daily d
        |        ON g.day = d.day AND g.o_orderstatus = d.o_orderstatus)
        |SELECT day, o_orderstatus,
        |  coalesce(rev, 0) AS rev_cents,
        |  coalesce(n, 0) AS n_orders,
        |  coalesce(last_value(rev IGNORE NULLS) OVER (
        |    PARTITION BY o_orderstatus ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS rev_locf
        |FROM j ORDER BY day, o_orderstatus""".stripMargin)
  }

  /** Correlated + uncorrelated scalar subqueries through the SQL parser
    * (Catalyst decorrelates the COUNT into a left-outer aggregate join).
    * The above-average test is integer-exact: bal > avg ⟺ bal·cnt > sum
    * in cents, so no float threshold can flip between engines. */
  val qScalarSubquery: Q = new Q {
    val name = "q_scalar_subquery"
    private def sql(cust: String, ord: String) =
      s"""SELECT c_custkey, c_name,
         |  (SELECT count(*) FROM $ord o WHERE o.o_custkey = c.c_custkey) AS n_orders,
         |  CAST(CASE WHEN (SELECT count(*) FROM $cust)
         |                 * CAST(round(c.c_acctbal * 100) AS BIGINT)
         |              > (SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) FROM $cust)
         |            THEN 1 ELSE 0 END AS BIGINT) AS above_avg
         |FROM $cust c ORDER BY c_custkey""".stripMargin
    def run(spark: SparkSession, dir: String): DataFrame = {
      // Query-scoped view names, dropped after analysis (spark.sql analyzes
      // eagerly) so the catalog query stays side-effect-free.
      Tables.customer(spark, dir).createOrReplaceTempView("graft_ssq_customer")
      Tables.orders(spark, dir).createOrReplaceTempView("graft_ssq_orders")
      try spark.sql(sql("graft_ssq_customer", "graft_ssq_orders"))
      finally {
        spark.catalog.dropTempView("graft_ssq_customer")
        spark.catalog.dropTempView("graft_ssq_orders")
      }
    }
    val oracle = Some(sql("customer", "orders"))
  }

  /** Sketch-based distinct counting: HLL++ (`approx_count_distinct`) and a
    * DataSketches HLL (`hll_sketch_agg`) side by side with the exact count.
    * Sketches are mergeable partial aggregates — constant-size shuffle per
    * group at any scale, the whole point at 100 TB.
    *
    * Oracle-checkable shape (r8 verdict item 1): the raw estimates are
    * implementation-defined, but both estimators are DETERMINISTIC
    * functions of the value SET (order-independent register merges), so
    * "estimate within the accuracy envelope of exact" is a stable boolean.
    * The query exports the exact count (DuckDB-computable) plus
    * within-envelope flags as BIGINT 0/1; the oracle asserts the exact
    * column and literal 1s. Envelopes: HLL++ default rsd 0.05 → 3σ = 15 %;
    * hll_sketch lgK=12 → rsd ≈ 1.6 %, 3σ ≈ 5 %, checked at 10 %; both get
    * a +16 absolute slack for tiny groups (sparse mode is near-exact
    * there, the slack only de-flakes single-digit cardinalities). The raw
    * estimates stay spec-checked in AnalyticQueriesSpec. */
  val approxDistinctUsers: Q = new Q {
    val name = "approx_distinct_users"
    def run(spark: SparkSession, dir: String): DataFrame = {
      def withinPct(est: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column,
                    pct: Double): org.apache.spark.sql.Column =
        when(abs(est.cast("double") - exact.cast("double")) <=
          greatest(exact.cast("double") * pct, lit(16.0)), lit(1L)).otherwise(lit(0L))
      Tables.events(spark, dir)
        .groupBy("event_type")
        .agg(approx_count_distinct("user_id").as("approx_users"),
          expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("hll_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          withinPct(col("approx_users"), col("exact_users"), 0.15).as("approx_ok"),
          withinPct(col("hll_users"), col("exact_users"), 0.10).as("hll_ok"))
        .orderBy("event_type")
    }
    val oracle = Some(
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  CAST(1 AS BIGINT) AS approx_ok,
        |  CAST(1 AS BIGINT) AS hll_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** Time-series bar (OHLC) aggregation per (user, day): open/close are
    * struct-ordered min/max — lexicographic (ts, event_id, v) comparison
    * inside ONE partial+final aggregation with O(1) state per bar.
    * Struct-typed buffers aren't hash-agg mutable, so Spark plans
    * SortAggregate — but the sort is MAP-LOCAL (pre-shuffle) and the
    * exchange carries only per-bar partials; the ranking-window oracle
    * formulation instead shuffles EVERY row and sorts per group. At
    * 100 TB of ticks: a bars-only shuffle vs a fact-table shuffle.
    * Values are per-element rounded to e4 BIGINTs before the volume sum,
    * keeping the fold exact. */
  val qOhlcDaily: Q = new Q {
    val name = "q_ohlc_daily"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 10000).cast("long").as("v4"),
          to_date(col("ts")).as("day"))
        .groupBy("user_id", "day")
        .agg(
          min(struct(col("ts"), col("event_id"), col("v4"))).as("o"),
          max(struct(col("ts"), col("event_id"), col("v4"))).as("c"),
          max(col("v4")).as("high_e4"), min(col("v4")).as("low_e4"),
          count(lit(1)).as("n"), sum(col("v4")).as("vol_e4"))
        .select(col("user_id"), col("day"),
          col("o.v4").as("open_e4"), col("high_e4"), col("low_e4"),
          col("c.v4").as("close_e4"), col("n"), col("vol_e4"))
        .orderBy("user_id", "day")
    val oracle = Some(
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(round(value * 10000) AS BIGINT) AS v4,
        |         CAST(ts AS DATE) AS day
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS rna,
        |    row_number() OVER (PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rnd
        |  FROM e)
        |SELECT user_id, day,
        |  max(CASE WHEN rna = 1 THEN v4 END) AS open_e4,
        |  max(v4) AS high_e4, min(v4) AS low_e4,
        |  max(CASE WHEN rnd = 1 THEN v4 END) AS close_e4,
        |  count(*) AS n, CAST(sum(v4) AS BIGINT) AS vol_e4
        |FROM r GROUP BY user_id, day ORDER BY user_id, day""".stripMargin)
  }

  /** Sliding-window distinct counts — rolling 7-day active users per day.
    * Distinct over a sliding window CANNOT be derived from per-day
    * distincts (overlap double-counts), and a naive per-day re-scan is
    * O(days × window) passes. The scale shape: reduce to distinct
    * (user, day) FIRST (the only full-fact pass), then fan each user-day
    * out to the ≤7 window-days it serves (bounded ×7 explode of the
    * already-small distinct set) and count distinct per window end-day.
    * Window end-days are semi-joined back to the set of days that
    * actually have events, so a calendar gap never manufactures an
    * output row (exploded days land on present days only — identical
    * semantics to the oracle's `days` CTE on sparse calendars).
    * Output limited to days with a full 7-day lookback so results are
    * window-complete. */
  val qRollingDistinct: Q = new Q {
    val name = "q_rolling_distinct_users"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val userDays = Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val presentDays = userDays.select(col("day").as("window_day")).distinct()
      val bounds = userDays.agg(min("day").as("lo"), max("day").as("hi"))
      userDays
        .withColumn("window_day",
          explode(sequence(col("day"), date_add(col("day"), 6))))
        // hint kept: one row per day, estimated at the events' size
        .join(broadcast(presentDays), Seq("window_day"), "left_semi")
        .groupBy("window_day")
        .agg(countDistinct("user_id").as("active_7d"))
        .join(bounds,
          col("window_day") >= date_add(col("lo"), 6) && col("window_day") <= col("hi"))
        .select(col("window_day"), col("active_7d"))
        .orderBy("window_day")
    }
    val oracle = Some(
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM ud),
        |days AS (SELECT DISTINCT day AS window_day FROM ud),
        |expanded AS (
        |  SELECT d.window_day, ud.user_id
        |  FROM days d JOIN ud ON ud.day BETWEEN d.window_day - 6 AND d.window_day)
        |SELECT e.window_day, count(DISTINCT e.user_id) AS active_7d
        |FROM expanded e, b
        |WHERE e.window_day >= b.lo + 6 AND e.window_day <= b.hi
        |GROUP BY e.window_day ORDER BY e.window_day""".stripMargin)
  }

  /** Ordered conversion funnel (signup → click → purchase, strictly in
    * order per user): one pass computes each user's FIRST timestamp per
    * stage as three conditional mins — no per-stage self-joins (the
    * O(stages × fact) anti-pattern); the strict ordering check is then a
    * per-row predicate over the 1-row-per-user aggregate. */
  val qFunnel: Q = new Q {
    val name = "q_funnel_conversion"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val firsts = Tables.events(spark, dir)
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      firsts.agg(
        count(col("t_signup")).as("n_signup"),
        count(when(col("t_click") > col("t_signup"), 1)).as("n_then_click"),
        count(when(col("t_click") > col("t_signup") &&
          col("t_purchase") > col("t_click"), 1)).as("n_then_purchase"))
    }
    val oracle = Some(
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT count(t_signup) AS n_signup,
        |  count(CASE WHEN t_click > t_signup THEN 1 END) AS n_then_click,
        |  count(CASE WHEN t_click > t_signup AND t_purchase > t_click
        |    THEN 1 END) AS n_then_purchase
        |FROM f""".stripMargin)
  }

  /** EXACT distributed quantiles by rank selection (percentile_disc
    * semantics: the smallest value whose cumulative rank reaches ⌈n·p⌉),
    * per order-status group: one ranked window pass assigns row_number and
    * group size, one conditional aggregate picks the values at ranks
    * ⌈n·p/100⌉ for p ∈ {50, 90, 99}. Order statistics of integers are
    * engine-exact where percentile_approx / interpolating quantiles are
    * not. The cost model is honest: exact quantiles REQUIRE a per-group
    * sort (here one hash exchange on the group key then in-partition
    * sort); the approximate path at 100 TB is the KMV/CMS sketch family
    * one file over. */
  val qQuantilesExact: Q = new Q {
    val name = "q_quantiles_exact"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val t = Tables.orders(spark, dir)
        .select(col("o_orderstatus"), cents(col("o_totalprice")).as("v"),
          col("o_orderkey"))
      val w = Window.partitionBy("o_orderstatus").orderBy("v", "o_orderkey")
      t.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("o_orderstatus")))
        .groupBy("o_orderstatus")
        .agg(max("n").as("n_orders"),
          max(when(col("rn") === expr("(n * 50 + 99) div 100"), col("v")))
            .as("p50_cents"),
          max(when(col("rn") === expr("(n * 90 + 99) div 100"), col("v")))
            .as("p90_cents"),
          max(when(col("rn") === expr("(n * 99 + 99) div 100"), col("v")))
            .as("p99_cents"))
        .orderBy("o_orderstatus")
    }
    val oracle = Some(
      """WITH t AS (
        |  SELECT o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |         o_orderkey
        |  FROM orders),
        |r AS (
        |  SELECT o_orderstatus, v,
        |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY v, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM t)
        |SELECT o_orderstatus, CAST(max(n) AS BIGINT) AS n_orders,
        |  CAST(max(CASE WHEN rn = (n * 50 + 99) // 100 THEN v END) AS BIGINT)
        |    AS p50_cents,
        |  CAST(max(CASE WHEN rn = (n * 90 + 99) // 100 THEN v END) AS BIGINT)
        |    AS p90_cents,
        |  CAST(max(CASE WHEN rn = (n * 99 + 99) // 100 THEN v END) AS BIGINT)
        |    AS p99_cents
        |FROM r GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Key-skew diagnostics — the pre-flight check before choosing a join/
    * agg strategy (AQE skew thresholds, salting factors): the per-key
    * group-size distribution of lineitem's order key, reduced to the
    * numbers a planner actually consults — key count, max, exact p50/p99
    * group size (rank selection over the KEY-COUNT frame, which is
    * |keys|-sized, not fact-sized), mean (integer), and the max/mean skew
    * ratio ×100. One partial-aggregated fact scan builds the count frame;
    * everything after is key-cardinality work. */
  val qSkewStats: Q = new Q {
    val name = "q_skew_stats"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val counts = Tables.lineitem(spark, dir)
        .groupBy("l_orderkey").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("cnt", "l_orderkey")
      counts
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        .agg(max("n").as("n_keys"),
          sum("cnt").as("n_rows"),
          max("cnt").as("max_cnt"),
          max(when(col("rn") === expr("(n * 50 + 99) div 100"), col("cnt")))
            .as("p50_cnt"),
          max(when(col("rn") === expr("(n * 99 + 99) div 100"), col("cnt")))
            .as("p99_cnt"))
        .select(col("n_keys"), col("n_rows"), col("max_cnt"), col("p50_cnt"),
          col("p99_cnt"),
          expr("n_rows div n_keys").as("mean_cnt"),
          expr("(max_cnt * 100) div (n_rows div n_keys)").as("skew_ratio_e2"))
    }
    val oracle = Some(
      """WITH counts AS (
        |  SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT cnt,
        |    row_number() OVER (ORDER BY cnt, l_orderkey) AS rn,
        |    count(*) OVER () AS n
        |  FROM counts),
        |s AS (
        |  SELECT CAST(max(n) AS BIGINT) AS n_keys,
        |    CAST(sum(cnt) AS BIGINT) AS n_rows,
        |    CAST(max(cnt) AS BIGINT) AS max_cnt,
        |    CAST(max(CASE WHEN rn = (n * 50 + 99) // 100 THEN cnt END) AS BIGINT)
        |      AS p50_cnt,
        |    CAST(max(CASE WHEN rn = (n * 99 + 99) // 100 THEN cnt END) AS BIGINT)
        |      AS p99_cnt
        |  FROM r)
        |SELECT n_keys, n_rows, max_cnt, p50_cnt, p99_cnt,
        |  n_rows // n_keys AS mean_cnt,
        |  (max_cnt * 100) // (n_rows // n_keys) AS skew_ratio_e2
        |FROM s""".stripMargin)
  }

  /** Sequence-pattern matching over per-user event timelines — the
    * MATCH_RECOGNIZE-lite operator: each user's events collapse to an
    * ordered event-initial string (deterministic: ts then event_id
    * tie-break), and a pattern is a plain regex over that string — here
    * the view→click→purchase subsequence, the
    * click-IMMEDIATELY-after-view adjacency, and a triple-error run —
    * counted corpus-wide. This is strictly more expressive than the
    * conditional-min funnel (`q_funnel_conversion`): the regex engine
    * sees the full ordered sequence, so adjacency, repetition, and
    * negation patterns all cost the same one pass.
    *
    * Scale shape: one shuffle to the user grain (ordered collect with
    * in-group sort), one narrow regex map, one global count — the
    * per-user string is bounded by the user's event count, and nothing
    * driver-side. */
  val qSeqMatch: Q = new Q {
    val name = "q_seq_match"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("i"))
      val seqs = ev.groupBy("user_id")
        .agg(concat_ws("", graft.ops.CollectOps.orderedCollect(
          struct(col("ts"), col("event_id")), col("i"))).as("seq"))
      seqs.agg(count(lit(1)).as("n_users"),
        sum(col("seq").rlike("v.*c.*p").cast("long")).as("n_view_click_purchase"),
        sum(col("seq").rlike("vc").cast("long")).as("n_click_right_after_view"),
        sum(col("seq").rlike("eee").cast("long")).as("n_triple_error_run"))
    }
    val oracle = Some(
      """WITH seqs AS (
        |  SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |  CAST(sum(CASE WHEN regexp_matches(seq, 'v.*c.*p') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_view_click_purchase,
        |  CAST(sum(CASE WHEN regexp_matches(seq, 'vc') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_click_right_after_view,
        |  CAST(sum(CASE WHEN regexp_matches(seq, 'eee') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_triple_error_run
        |FROM seqs""".stripMargin)
  }

  /** ECDF / rank ("quantile") normalization — the feature-scaling pass an
    * ML pipeline runs over a heavy-tailed numeric column before training:
    * map each value to its empirical CDF position, per group. Computed at
    * the DISTINCT-VALUE grain (groupBy value → counts, then ONE cumulative
    * window over the value domain per group), so the window input is
    * bounded by the value domain, not the row count — at 100 TB the
    * row-level transform is a broadcast/merge join of facts against this
    * small lookup. Integer-exact: ecdf_e4 = (Σ count ≤ v) · 10000 div n. */
  val qEcdfNormalize: Q = new Q {
    val name = "q_ecdf_normalize"
    // Two-level cumulative sum (OPTIMIZATION_r18, guide §2.5 two-level
    // aggregation): the direct Window.partitionBy(l_returnflag) form
    // shuffles the whole value grain into |flags| = 3 partitions and runs
    // each cumulative scan as ONE task — a single-task-per-group wall at
    // any scale (at 100 TB the per-flag value domain is billions of
    // rows). Bucketing the value domain into fixed cents bands makes the
    // heavy scan window partition by (flag, band) — parallel in the band
    // count — and the band offsets come from a band-grain (tiny) window.
    // cum(flag, c) = Σ_{c' ≤ c} n_rows = bandOffset(flag, band(c)) +
    // withinBandCum — exact integers, identical output.
    private val BandCents = 100000L // $1k bands: ~110 bands over the domain
    def run(spark: SparkSession, dir: String): DataFrame = {
      val wIn = Window.partitionBy("l_returnflag", "bkt").orderBy("cents")
      val wBkt = Window.partitionBy("l_returnflag").orderBy("bkt")
      val v = Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), Q.cents(col("l_extendedprice")).as("cents"))
        .groupBy("l_returnflag", "cents").agg(count(lit(1)).as("n_rows"))
        .withColumn("bkt", expr(s"cents div $BandCents"))
      val bands = v.groupBy("l_returnflag", "bkt")
        .agg(sum("n_rows").as("bn"))
        .withColumn("off", sum("bn").over(wBkt) - col("bn"))
        .withColumn("n", sum("bn").over(Window.partitionBy("l_returnflag")))
        .select("l_returnflag", "bkt", "off", "n")
      v.withColumn("wcum", sum("n_rows").over(wIn))
        // hint kept: (flag, bucket) bands are estimated at lineitem's size
        .join(broadcast(bands), Seq("l_returnflag", "bkt"))
        .select(col("l_returnflag"), col("cents"), col("n_rows"),
          (col("off") + col("wcum")).as("cum"),
          expr("(off + wcum) * 10000 div n").as("ecdf_e4"))
        // persisted before the global sort: the range sample pass would
        // re-run the cumulative window stage over the full value grain
        .persist()
        .orderBy("l_returnflag", "cents")
    }
    val oracle = Some(
      """WITH v AS (
        |  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |         count(*) AS n_rows
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, cents, CAST(n_rows AS BIGINT) AS n_rows,
        |    CAST(sum(n_rows) OVER (PARTITION BY l_returnflag ORDER BY cents) AS BIGINT) AS cum,
        |    CAST(sum(n_rows) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        |  FROM v)
        |SELECT l_returnflag, cents, n_rows, cum, CAST(cum * 10000 // n AS BIGINT) AS ecdf_e4
        |FROM c ORDER BY l_returnflag, cents""".stripMargin)
  }

  /** Pareto frontier (skyline) of parts: minimize retail price, maximize
    * size — the multi-objective "best tradeoff" query (data-curation use:
    * pick corpus shards on the cost/quality frontier). A part is dominated
    * iff some part is strictly cheaper with size ≥ its, or same-priced
    * with strictly larger size.
    *
    * Scale shape — the sort-based sweep, NOT the O(n²) dominance
    * anti-join: first reduce to the DISTINCT-PRICE grain (max size per
    * price — one partial-aggregated groupBy, output bounded by the price
    * value domain), run the running-max sweep as a RANGE window over that
    * small frame, then equi-join facts back against the surviving frontier
    * prices. The only global window runs at the value grain, the fact
    * table is touched by scan + one groupBy + one broadcastable join. */
  val qParetoFrontier: Q = new Q {
    val name = "q_pareto_frontier"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val parts = Tables.part(spark, dir)
        .select(col("p_partkey"), cents(col("p_retailprice")).as("price_c"),
          col("p_size").cast("long").as("size"))
      val byPrice = parts.groupBy("price_c").agg(max("size").as("best_size"))
      // strictly-cheaper running max: RANGE frame ending 1 cent before self
      val sweep = Window.orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
      val frontierPrices = byPrice
        .withColumn("cheaper_best", max("best_size").over(sweep))
        .where(col("cheaper_best").isNull || col("cheaper_best") < col("best_size"))
        .select("price_c", "best_size")
      parts.join(frontierPrices, Seq("price_c"))
        .where(col("size") === col("best_size"))
        .select(col("p_partkey"), col("price_c"), col("size"))
        .orderBy("price_c", "p_partkey")
    }
    val oracle = Some(
      """WITH p AS (
        |  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
        |         CAST(p_size AS BIGINT) AS size
        |  FROM part),
        |bp AS (SELECT price_c, max(size) AS best_size FROM p GROUP BY 1),
        |sw AS (
        |  SELECT price_c, best_size,
        |    max(best_size) OVER (ORDER BY price_c
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cheaper_best
        |  FROM bp),
        |f AS (SELECT price_c, best_size FROM sw
        |      WHERE cheaper_best IS NULL OR cheaper_best < best_size)
        |SELECT p.p_partkey, p.price_c, p.size
        |FROM p JOIN f USING (price_c) WHERE p.size = f.best_size
        |ORDER BY price_c, p_partkey""".stripMargin)
  }

  /** ABC (Pareto 80/95) inventory classification of parts by revenue —
    * the ops-analytics standard: class A parts carry the first 80 % of
    * cumulative revenue, B the next 15 %, C the tail. Cumulative share is
    * exact integer e4 over the revenue-DESC ordering (ties broken by
    * partkey so the running sum is total-order deterministic).
    *
    * Scale shape: the fact scan collapses to the part DIMENSION grain in
    * one partial-aggregated groupBy; the single global window runs over
    * that dimension-sized frame (|parts|, not |lineitem|) — same class of
    * bounded global sort as the sketch/top-k sites. */
  val qInventoryAbc: Q = new Q {
    val name = "q_inventory_abc"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val rev = Tables.lineitem(spark, dir)
        .withColumn("rev_c",
          expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as long)"))
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum("rev_c").as("rev_cents"))
      val w = Window.orderBy(col("rev_cents").desc, col("p_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev
        .withColumn("cum", sum("rev_cents").over(w))
        .withColumn("total", sum("rev_cents").over(Window.partitionBy()))
        .withColumn("cum_share_e4", expr("cum * 10000 div total"))
        .withColumn("abc",
          when(col("cum_share_e4") <= 8000, "A")
            .when(col("cum_share_e4") <= 9500, "B").otherwise("C"))
        .select("p_partkey", "rev_cents", "cum_share_e4", "abc")
        .orderBy(col("rev_cents").desc, col("p_partkey"))
    }
    val oracle = Some(
      """WITH rev AS (
        |  SELECT l_partkey AS p_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM lineitem GROUP BY 1),
        |c AS (
        |  SELECT p_partkey, rev_cents,
        |    sum(rev_cents) OVER (ORDER BY rev_cents DESC, p_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(rev_cents) OVER () AS total
        |  FROM rev)
        |SELECT p_partkey, rev_cents,
        |  CAST(cum * 10000 // total AS BIGINT) AS cum_share_e4,
        |  CASE WHEN cum * 10000 // total <= 8000 THEN 'A'
        |       WHEN cum * 10000 // total <= 9500 THEN 'B' ELSE 'C' END AS abc
        |FROM c ORDER BY rev_cents DESC, p_partkey""".stripMargin)
  }

  /** Equi-depth histogram of l_extendedprice — the ANALYZE-statistics
    * operator a cost-based optimizer feeds on: 10 equal-row buckets with
    * exact bounds, row counts, and per-bucket NDV. Bucket assignment is
    * the value-grain ECDF idiom (bucket = ⌈10·ecdf⌉ on the DISTINCT-value
    * frame), so the global sort runs over the value DOMAIN, not the fact
    * table — exactly how an exact stats pass is built; the sketch-based
    * alternative for when even the domain is too wide is
    * q_approx_percentile_envelope's GK path.
    *
    * Equal values land in one bucket by construction (a value never
    * splits), which is the histogram property that makes the stats safe
    * for selectivity estimation. */
  val qEquiDepthHistogram: Q = new Q {
    val name = "q_equi_depth_histogram"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val byV = Tables.lineitem(spark, dir)
        .select(cents(col("l_extendedprice")).as("v"))
        .groupBy("v").agg(count(lit(1)).as("n_v"))
      val w = Window.orderBy("v") // value-domain window
      byV
        .withColumn("cum", sum("n_v").over(w))
        .withColumn("n_total", sum("n_v").over(Window.partitionBy()))
        .withColumn("bucket", expr("(cum * 10 + n_total - 1) div n_total"))
        .groupBy("bucket")
        .agg(min("v").as("lo_cents"), max("v").as("hi_cents"),
          sum("n_v").as("n_rows"), count(lit(1)).as("ndv"))
        .orderBy("bucket")
    }
    val oracle = Some(
      """WITH byv AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v, count(*) AS n_v
        |  FROM lineitem GROUP BY 1),
        |c AS (
        |  SELECT v, n_v,
        |    sum(n_v) OVER (ORDER BY v) AS cum,
        |    sum(n_v) OVER () AS n_total
        |  FROM byv)
        |SELECT CAST((cum * 10 + n_total - 1) // n_total AS BIGINT) AS bucket,
        |  min(v) AS lo_cents, max(v) AS hi_cents,
        |  CAST(sum(n_v) AS BIGINT) AS n_rows, count(*) AS ndv
        |FROM c GROUP BY 1 ORDER BY bucket""".stripMargin)
  }

  /** Gini coefficient of customer spend — the revenue-concentration /
    * inequality audit (who carries the business; also the label-skew
    * check before training on engagement data). Exact integer form over
    * the spend-ASC ordering with (spend, custkey) tie-break:
    *   gini_e6 = (2·Σ i·xᵢ − (n+1)·Σx) · 10⁶ div (n·Σx)
    * Equal spends commute inside Σ i·xᵢ, so the tie-break changes nothing
    * — the statistic is total-order deterministic.
    *
    * Scale shape: one custkey shuffle to the per-customer frame, one
    * dimension-grain ranking window (|customers|, the same bounded class
    * as the ABC sweep), one global aggregate. The Σ i·xᵢ terms and the
    * ×10⁶ numerator are carried in DECIMAL(38,0) (= DuckDB's HUGEINT
    * sums — the q_decimal_exact convention), so the statistic is exact at
    * any customer count; only the final e6 quotient returns to BIGINT.
    * (BIGINT throughout overflows the ×10⁶ step already at sf0.1×10 —
    * caught by the scale probe, ANSI mode failing loudly.) */
  val qGiniConcentration: Q = new Q {
    val name = "q_gini_concentration"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val spend = Tables.orders(spark, dir)
        .groupBy("o_custkey")
        .agg(expr("sum(cast(round(o_totalprice * 100) as long)) div 100").as("x"))
      val w = Window.orderBy(col("x"), col("o_custkey"))
      spend
        .withColumn("i", row_number().over(w).cast("long"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(col("i").cast("decimal(38,0)") * col("x")).as("six"))
        .select(col("n"), col("sx").as("total_dollars"),
          expr("cast((2 * six - (cast(n as decimal(38,0)) + 1) * sx) * 1000000" +
            " div (cast(n as decimal(38,0)) * sx) as long)").as("gini_e6"))
    }
    val oracle = Some(
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM spend)
        |SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS total_dollars,
        |  CAST((2 * sum(i * x) - (count(*) + 1) * sum(x)) * 1000000
        |       // (count(*) * sum(x)) AS BIGINT) AS gini_e6
        |FROM r""".stripMargin)
  }

  /** Weekly event-mix drift: total-variation distance between each week's
    * event-type distribution and the corpus-wide one, exact e6 via
    * cross-multiplication (½·Σ|n_wt·N − n_t·N_w| over the common
    * denominator N_w·N) — the categorical drift monitor next to
    * `q_ks_drift`'s numeric one. A release that changes client logging
    * shows up as a TVD spike that week.
    *
    * Scale shape: one partial-aggregated scan to the (week, type) grain;
    * everything after runs on calendar×type-bounded frames (broadcast
    * joins of the week totals and global mix). Headroom: the cross-
    * multiplied |n_wt·N − n_t·N_w| stays in BIGINT to ~10⁹ total events
    * (ANSI mode fails loudly past it — move the sums to DECIMAL(38) as
    * q_decimal_exact demonstrates). */
  val qMixDriftWeekly: Q = new Q {
    val name = "q_mix_drift_weekly"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val wt = Tables.events(spark, dir)
        .groupBy(date_trunc("week", col("ts")).cast("date").as("week"),
          col("event_type"))
        .agg(count(lit(1)).as("n_wt"))
      val weekTot = wt.groupBy("week").agg(sum("n_wt").as("n_w"))
      val typeTot = wt.groupBy("event_type").agg(sum("n_wt").as("n_t"))
      val tot = wt.agg(sum("n_wt").as("n_tot"))
      // a type VANISHING from a week is the loudest drift — zero-fill the
      // full week×type grid (calendar×type-bounded) so it contributes n_t·N_w
      // hint kept: without it the nested-loop join builds the week totals and hash-shuffles them
      weekTot.crossJoin(broadcast(typeTot))
        .join(wt, Seq("week", "event_type"), "left")
        .withColumn("n_wt", coalesce(col("n_wt"), lit(0L)))
        .crossJoin(tot)
        .groupBy("week", "n_w", "n_tot")
        .agg(sum(abs(expr("n_wt * n_tot - n_t * n_w"))).as("absdiff"))
        .select(col("week"), col("n_w"),
          expr("absdiff * 500000 div (n_w * n_tot)").as("tvd_e6"))
        .orderBy("week")
    }
    val oracle = Some(
      """WITH wt AS (
        |  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type,
        |         count(*) AS n_wt
        |  FROM events GROUP BY 1, 2),
        |wtot AS (SELECT week, sum(n_wt) AS n_w FROM wt GROUP BY 1),
        |ttot AS (SELECT event_type, sum(n_wt) AS n_t FROM wt GROUP BY 1),
        |tot AS (SELECT sum(n_wt) AS n_tot FROM wt),
        |grid AS (
        |  SELECT w.week, w.n_w, t.event_type, t.n_t,
        |         COALESCE(wt.n_wt, 0) AS n_wt
        |  FROM wtot w CROSS JOIN ttot t
        |  LEFT JOIN wt ON wt.week = w.week AND wt.event_type = t.event_type)
        |SELECT g.week, CAST(g.n_w AS BIGINT) AS n_w,
        |  CAST(sum(abs(g.n_wt * t2.n_tot - g.n_t * g.n_w)) * 500000
        |       // (g.n_w * t2.n_tot) AS BIGINT) AS tvd_e6
        |FROM grid g CROSS JOIN tot t2
        |GROUP BY g.week, g.n_w, t2.n_tot ORDER BY week""".stripMargin)
  }

  val all: Seq[Q] = Seq(qGroupingSets, qMovingAvg, qGapfill, qScalarSubquery,
    approxDistinctUsers, qOhlcDaily, qRollingDistinct, qFunnel, qQuantilesExact,
    qSkewStats, qSeqMatch, qEcdfNormalize, qParetoFrontier, qInventoryAbc,
    qEquiDepthHistogram, qGiniConcentration, qMixDriftWeekly)
}
