package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Exponentially-weighted time-series surface (VERDICT r4 item 5). True
  * float EWMA (s_t = αx_t + (1-α)s_{t-1}) is an order-dependent float
  * recurrence that cannot pass a bit-deterministic cross-engine gate, so
  * both queries here use the *binary-decay* formulation: α = 1/2 with a
  * truncated horizon, which makes every weight an exact power of two and
  * the whole statistic BIGINT arithmetic — bit-identical on any engine,
  * any partitioning, any reduction order.
  *
  * Scale shape: both queries aggregate the fact table to a per-day frame
  * first (the only fact-cardinality pass), then apply the decay over the
  * tiny daily frame — O(days × statuses) window/agg work, never a
  * per-row-weighted shuffle of raw facts.
  */
object TimeSeriesQueries {

  private def cents(c: Column) = Q.cents(c)

  /** Truncated binary-decay EWMA over daily revenue per order status:
    * ewma_num = Σ_{k=0..7} rev(day−k ROWS) · 2^(7−k) — the current day
    * weighs 128, each older row half that. wsum sums the weights actually
    * present (ramp-up rows have fewer lags), and ewma_cents = num div wsum
    * is the normalized smoother (integer division truncates toward zero
    * identically in Spark `div` and DuckDB `//` for non-negative sums).
    * The 8-term lag ladder is 8 offset reads of ONE sorted window pass —
    * a single per-status sort of the daily frame, no self-joins. */
  val qEwmaRevenue: Q = new Q {
    val name = "q_ewma_revenue"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"), col("o_orderstatus"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
      val w = Window.partitionBy("o_orderstatus").orderBy("day")
      val terms = (0 to 7).map { k =>
        val weight = 1L << (7 - k)
        val x = if (k == 0) col("rev_cents") else lag(col("rev_cents"), k).over(w)
        (coalesce(x, lit(0L)) * lit(weight),
          when(x.isNotNull, lit(weight)).otherwise(lit(0L)))
      }
      val num = terms.map(_._1).reduce(_ + _)
      val wsum = terms.map(_._2).reduce(_ + _)
      daily.select(col("day"), col("o_orderstatus"), col("rev_cents"),
          num.as("ewma_num"), wsum.as("ewma_wsum"))
        .withColumn("ewma_cents", expr("ewma_num div ewma_wsum"))
        .orderBy("o_orderstatus", "day")
    }
    val oracle = Some {
      val terms = (0 to 7).map { k =>
        val weight = 1L << (7 - k)
        val x = if (k == 0) "rev_cents"
        else s"lag(rev_cents, $k) OVER (PARTITION BY o_orderstatus ORDER BY day)"
        (s"coalesce($x, 0) * $weight",
          s"CASE WHEN $x IS NOT NULL THEN $weight ELSE 0 END")
      }
      val num = terms.map(_._1).mkString(" + ")
      val wsum = terms.map(_._2).mkString(" + ")
      s"""WITH daily AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderstatus,
         |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
         |  FROM orders GROUP BY 1, 2),
         |e AS (
         |  SELECT day, o_orderstatus, rev_cents,
         |    CAST($num AS BIGINT) AS ewma_num,
         |    CAST($wsum AS BIGINT) AS ewma_wsum
         |  FROM daily)
         |SELECT day, o_orderstatus, rev_cents, ewma_num, ewma_wsum,
         |  CAST(ewma_num // ewma_wsum AS BIGINT) AS ewma_cents
         |FROM e ORDER BY o_orderstatus, day""".stripMargin
    }
  }

  /** Recency-decayed revenue score per order status: each day's revenue
    * weighs 2^(20 − age) where age = days before the newest order date;
    * days older than 20 contribute zero (truncated half-life-one-day
    * decay). The weight is applied on the per-day aggregate and summed —
    * one groupBy over the daily frame with a broadcast 1-row max-date.
    * Weights stay BIGINT-exact: daily revenue ≲ 10^10 cents even at
    * sf100 and 2^20 ≈ 10^6 keeps the sum far inside int64. */
  val qDecayRevenue: Q = new Q {
    val name = "q_decay_revenue"
    private val Horizon = 20
    def run(spark: SparkSession, dir: String): DataFrame = {
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"), col("o_orderstatus"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
      val hi = daily.agg(max("day").as("hi"))
      daily.join(hi)
        .withColumn("age", datediff(col("hi"), col("day")))
        .where(col("age") <= Horizon)
        .withColumn("weight",
          expr(s"shiftleft(CAST(1 AS BIGINT), CAST($Horizon - age AS INT))"))
        .groupBy("o_orderstatus")
        .agg(sum(col("rev_cents") * col("weight")).as("decayed_num"),
          sum("rev_cents").as("window_cents"),
          count(lit(1)).as("n_days"))
        .orderBy("o_orderstatus")
    }
    val oracle = Some(
      s"""WITH daily AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderstatus,
         |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
         |  FROM orders GROUP BY 1, 2),
         |h AS (SELECT max(day) AS hi FROM daily),
         |aged AS (
         |  SELECT o_orderstatus, rev_cents,
         |         date_diff('day', day, hi) AS age
         |  FROM daily, h
         |  WHERE date_diff('day', day, hi) <= $Horizon)
         |SELECT o_orderstatus,
         |  CAST(sum(rev_cents * (CAST(1 AS BIGINT) << CAST($Horizon - age AS INT))) AS BIGINT)
         |    AS decayed_num,
         |  CAST(sum(rev_cents) AS BIGINT) AS window_cents,
         |  count(*) AS n_days
         |FROM aged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Incremental view maintenance: the materialized aggregate is kept as
    * MERGEABLE partials (count, sum, min, max per group), so a new data
    * batch updates it by aggregating ONLY the batch and merging — never
    * rescanning history. This query proves the algebra: it computes the
    * partials separately over two date-disjoint halves of `orders`, merges
    * them (sum-of-sums, min-of-mins, max-of-maxes), and the DuckDB oracle
    * computes the same aggregate DIRECTLY over the full table — equality
    * means partial-merge lost nothing. The derived average comes from the
    * merged (sum, count) pair (integer division), exactly how an
    * incremental mart serves avg without storing it. At 100 TB the merge
    * side is O(groups), not O(rows) — the daily-batch cost collapses from
    * full-history to batch-size. */
  val qIncrementalAgg: Q = new Q {
    val name = "q_incremental_agg"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val cut = lit("1998-01-01").cast("timestamp")
      def partials(half: DataFrame) =
        half.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("s"),
            min(cents(col("o_totalprice"))).as("mn"),
            max(cents(col("o_totalprice"))).as("mx"))
      val orders = Tables.orders(spark, dir)
      partials(orders.where(col("o_orderdate") < cut))
        .unionByName(partials(orders.where(col("o_orderdate") >= cut)))
        .groupBy("o_orderstatus")
        .agg(sum("n").as("n_orders"), sum("s").as("total_cents"),
          min("mn").as("min_cents"), max("mx").as("max_cents"))
        .withColumn("avg_cents", expr("total_cents div n_orders"))
        .orderBy("o_orderstatus")
    }
    val oracle = Some(
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        |  CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_cents,
        |  CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents,
        |  CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |       // count(*) AS BIGINT) AS avg_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Resample-and-interpolate: keep every 7th day of the daily revenue
    * series as an ANCHOR, reconstruct the full calendar by integer linear
    * interpolation between surrounding anchors —
    *   v(d) = v₀ + (v₁ − v₀)·(d − d₀) div (d₁ − d₀)
    * (LOCF past the last anchor). The standard downsample→upsample pair
    * of a time-series store, exact in BIGINT cents. Gap-fill (`q_gapfill
    * _daily_revenue`) zero-fills and LOCFs; this draws the line between
    * knots.
    *
    * Scale shape: anchors and grid live on the CALENDAR axis — the only
    * fact-scale work is the daily pre-aggregate; the four ignore-nulls
    * window passes run over a days-sized frame (one partition-less sort of
    * ~thousands of rows, a deliberate non-shape at any data scale). */
  val qInterpolateDaily: Q = new Q {
    val name = "q_interpolate_daily"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(Q.cents(col("o_totalprice"))).as("rev"))
      val withAnchor = daily
        .crossJoin(daily.agg(min("day").as("d0")))
        .withColumn("is_anchor",
          when(datediff(col("day"), col("d0")) % 7 === 0, 1L).otherwise(0L))
        .withColumn("a_v", when(col("is_anchor") === 1L, col("rev")))
        .withColumn("a_d", when(col("is_anchor") === 1L, col("day")))
      val wPrev = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      withAnchor
        .withColumn("pv", last("a_v", ignoreNulls = true).over(wPrev))
        .withColumn("pd", last("a_d", ignoreNulls = true).over(wPrev))
        .withColumn("nv", first("a_v", ignoreNulls = true).over(wNext))
        .withColumn("nd", first("a_d", ignoreNulls = true).over(wNext))
        .select(col("day"), col("is_anchor"), col("rev").as("rev_cents"),
          when(col("is_anchor") === 1L, col("rev"))
            .when(col("nv").isNull, col("pv")) // LOCF tail past last anchor
            .otherwise(col("pv") +
              expr("(nv - pv) * CAST(datediff(day, pd) AS BIGINT) " +
                "div CAST(datediff(nd, pd) AS BIGINT)"))
            .as("interp_cents"))
        .orderBy("day")
    }
    val oracle = Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |a AS (
        |  SELECT day, rev,
        |    CASE WHEN date_diff('day', (SELECT min(day) FROM daily), day) % 7 = 0
        |         THEN 1 ELSE 0 END AS is_anchor
        |  FROM daily),
        |b AS (
        |  SELECT day, CAST(is_anchor AS BIGINT) AS is_anchor, rev,
        |    CASE WHEN is_anchor = 1 THEN rev END AS a_v,
        |    CASE WHEN is_anchor = 1 THEN day END AS a_d
        |  FROM a),
        |w AS (
        |  SELECT day, is_anchor, rev,
        |    last_value(a_v IGNORE NULLS) OVER (
        |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(a_d IGNORE NULLS) OVER (
        |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |    first_value(a_v IGNORE NULLS) OVER (
        |      ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(a_d IGNORE NULLS) OVER (
        |      ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |  FROM b)
        |SELECT day, is_anchor, rev AS rev_cents,
        |  CAST(CASE WHEN is_anchor = 1 THEN rev
        |       WHEN nv IS NULL THEN pv
        |       ELSE pv + (nv - pv) * date_diff('day', pd, day)
        |            // date_diff('day', pd, nd) END AS BIGINT) AS interp_cents
        |FROM w ORDER BY day""".stripMargin)
  }

  /** Robust anomaly flagging on daily revenue per order status — the
    * median/MAD outlier rule (Hampel filter / robust z-score,
    * |x − med| > 3·1.4826·MAD), kept integer-exact: medians of BIGINT
    * cents are half-integers at worst, so 2·median and 2·median(|dev|)
    * are exact BIGINTs in both engines (linear interpolation at q=0.5 is
    * the midpoint in Spark `percentile` and DuckDB `quantile_cont`
    * alike), and the flag compares 20000·dev4 > 44478·mad8 — exactly
    * |x − med| > 4.4478·MAD with zero float residue.
    *
    * Scale shape: the only fact-cardinality pass is the daily groupBy;
    * the exact medians run over the DAILY frame, which is
    * calendar-bounded (days × statuses), so sort-based exact percentile
    * is safe at any fact scale. Two joins of per-status scalars back
    * onto the daily frame — broadcast-sized build sides. */
  val qAnomalyMad: Q = new Q {
    val name = "q_anomaly_mad"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"), col("o_orderstatus"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
      val med = daily.groupBy("o_orderstatus")
        .agg((expr("percentile(rev_cents, 0.5)") * 2).cast("long").as("med2"))
      // hint kept (both): one row per status, estimated at the orders' size
      val dev = daily.join(broadcast(med), Seq("o_orderstatus"))
        .withColumn("dev4", abs(col("rev_cents") * 4 - col("med2") * 2))
      val mad = dev.groupBy("o_orderstatus")
        .agg((expr("percentile(dev4, 0.5)") * 2).cast("long").as("mad8"))
      dev.join(broadcast(mad), Seq("o_orderstatus"))
        .withColumn("is_anom",
          when(col("dev4") * 20000 > col("mad8") * 44478, 1L).otherwise(0L))
        .select("day", "o_orderstatus", "rev_cents", "med2", "dev4", "mad8", "is_anom")
        .orderBy("o_orderstatus", "day")
    }
    val oracle = Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderstatus,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1, 2),
        |med AS (
        |  SELECT o_orderstatus, CAST(2 * quantile_cont(rev_cents, 0.5) AS BIGINT) AS med2
        |  FROM daily GROUP BY 1),
        |dev AS (
        |  SELECT d.day, d.o_orderstatus, d.rev_cents, m.med2,
        |         abs(d.rev_cents * 4 - m.med2 * 2) AS dev4
        |  FROM daily d JOIN med m USING (o_orderstatus)),
        |mad AS (
        |  SELECT o_orderstatus, CAST(2 * quantile_cont(dev4, 0.5) AS BIGINT) AS mad8
        |  FROM dev GROUP BY 1)
        |SELECT v.day, v.o_orderstatus, v.rev_cents, v.med2,
        |  CAST(v.dev4 AS BIGINT) AS dev4, a.mad8,
        |  CAST(CASE WHEN v.dev4 * 20000 > a.mad8 * 44478 THEN 1 ELSE 0 END AS BIGINT) AS is_anom
        |FROM dev v JOIN mad a USING (o_orderstatus)
        |ORDER BY o_orderstatus, day""".stripMargin)
  }

  /** Winsorized mean of daily revenue per order status — the 5%-clamped
    * robust mean (values below the 5th / above the 95th DISCRETE
    * quantile are clamped to those order statistics, then averaged).
    * Everything is rank arithmetic over BIGINTs: k = n div 20, the clamp
    * bounds are the values AT ranks k+1 and n−k (discrete quantiles, not
    * interpolated — so no floats anywhere), and the mean is integer
    * division of the clamped sum. Complements q_anomaly_mad: MAD flags
    * outliers, winsorization neutralizes them.
    *
    * Scale shape: one window pass over the calendar-bounded daily frame
    * (rank + per-group count in the same sort), one conditional aggregate
    * to per-status bounds (broadcast-sized), one join back + final
    * aggregate. The fact table is touched once, in the daily groupBy. */
  val qWinsorizedMean: Q = new Q {
    val name = "q_winsorized_mean"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"), col("o_orderstatus"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
      val w = Window.partitionBy("o_orderstatus").orderBy(col("rev_cents"), col("day"))
      val ranked = daily
        .withColumn("r", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("o_orderstatus")))
        .withColumn("k", expr("n div 20"))
      val bounds = ranked.groupBy("o_orderstatus")
        .agg(max(when(col("r") === col("k") + 1, col("rev_cents"))).as("v_lo"),
          max(when(col("r") === col("n") - col("k"), col("rev_cents"))).as("v_hi"))
      // hint kept: without it the hash join builds the ranked days (one shuffle fewer)
      ranked.join(broadcast(bounds), Seq("o_orderstatus"))
        .withColumn("wins", greatest(least(col("rev_cents"), col("v_hi")), col("v_lo")))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_days"),
          max("v_lo").as("v_lo"), max("v_hi").as("v_hi"),
          sum("wins").as("wins_sum"), sum("rev_cents").as("raw_sum"))
        .withColumn("wins_mean", expr("wins_sum div n_days"))
        .withColumn("raw_mean", expr("raw_sum div n_days"))
        .select("o_orderstatus", "n_days", "v_lo", "v_hi", "wins_mean", "raw_mean")
        .orderBy("o_orderstatus")
    }
    val oracle = Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderstatus,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1, 2),
        |ranked AS (
        |  SELECT o_orderstatus, rev_cents,
        |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY rev_cents, day) AS r,
        |    count(*) OVER (PARTITION BY o_orderstatus) AS n,
        |    count(*) OVER (PARTITION BY o_orderstatus) // 20 AS k
        |  FROM daily),
        |bounds AS (
        |  SELECT o_orderstatus,
        |    max(CASE WHEN r = k + 1 THEN rev_cents END) AS v_lo,
        |    max(CASE WHEN r = n - k THEN rev_cents END) AS v_hi
        |  FROM ranked GROUP BY 1)
        |SELECT rk.o_orderstatus, count(*) AS n_days,
        |  CAST(max(b.v_lo) AS BIGINT) AS v_lo, CAST(max(b.v_hi) AS BIGINT) AS v_hi,
        |  CAST(sum(greatest(least(rk.rev_cents, b.v_hi), b.v_lo)) // count(*) AS BIGINT) AS wins_mean,
        |  CAST(sum(rk.rev_cents) // count(*) AS BIGINT) AS raw_mean
        |FROM ranked rk JOIN bounds b USING (o_orderstatus)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Time-weighted average (TWAP) per user — the metric where a value is
    * HELD between observations, so each reading weights by how long it was
    * in force (the finance/ops complement to the event-count averages):
    * per user, value v_i held for dur_i = ts_{i+1} − ts_i micros; the last
    * observation has no close and drops out. twap_cents =
    * Σ(cents_i · dur_i) div Σ(dur_i) — exact integer arithmetic on micros;
    * tie-safe via (ts, event_id) lead ordering in both engines. One
    * user-partitioned lead window + one groupBy: the single-user_id-shuffle
    * house shape. BIGINT headroom: cents·micros ≈ 1e4·1e13 per hold —
    * a decade-long hold at 1e6 cents stays under 2^63. */
  val qTwap: Q = new Q {
    val name = "q_twap"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          Q.cents(col("value")).as("cents"))
        .withColumn("dur_us", unix_micros(lead("ts", 1).over(w)) - unix_micros(col("ts")))
        .where(col("dur_us").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_holds"),
          sum("dur_us").as("total_dur_us"),
          sum(col("cents") * col("dur_us")).as("wsum"))
        .select(col("user_id"), col("n_holds"), col("total_dur_us"),
          expr("wsum div total_dur_us").as("twap_cents"))
        .orderBy("user_id")
    }
    val oracle = Some(
      """WITH h AS (
        |  SELECT user_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    epoch_us(lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |      - epoch_us(ts) AS dur_us
        |  FROM events),
        |g AS (
        |  SELECT user_id, count(*) AS n_holds,
        |    sum(dur_us) AS total_dur_us, sum(cents * dur_us) AS wsum
        |  FROM h WHERE dur_us IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_holds, CAST(total_dur_us AS BIGINT) AS total_dur_us,
        |  CAST(wsum // total_dur_us AS BIGINT) AS twap_cents
        |FROM g ORDER BY user_id""".stripMargin)
  }

  /** CUSUM change-point detection over daily revenue — the classic
    * level-shift monitor on a KPI series: the cumulative deviation from
    * the global mean peaks exactly where the series' mean shifts. Exact
    * integer form (no mean division): with days indexed 1..n in date
    * order, dev_d = n·cum_d − idx_d·total is n·(CUSUM of x−x̄); the
    * change-point flag marks the day(s) of max |dev|. Fact table is
    * aggregated to the calendar grain first — all windows run over the
    * bounded daily frame. BIGINT headroom: n·total < 2⁶³ holds to ~10⁵
    * days × ~10¹³ cents (≈ sf10k). */
  val qCusumChangepoint: Q = new Q {
    val name = "q_cusum_changepoint"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
      val w = Window.orderBy("day") // calendar-bounded frame
      val wAll = Window.partitionBy()
      daily
        .withColumn("idx", row_number().over(w))
        .withColumn("cum", sum("rev_cents").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("total", sum("rev_cents").over(wAll))
        .withColumn("dev", col("n") * col("cum") - col("idx") * col("total"))
        .withColumn("is_cp",
          (abs(col("dev")) === max(abs(col("dev"))).over(wAll)).cast("long"))
        .select(col("day"), col("rev_cents"), col("cum").as("cum_cents"),
          col("dev"), col("is_cp"))
        .orderBy("day")
    }
    val oracle = Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |c AS (
        |  SELECT day, rev_cents,
        |    row_number() OVER (ORDER BY day) AS idx,
        |    sum(rev_cents) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    count(*) OVER () AS n, sum(rev_cents) OVER () AS total
        |  FROM daily),
        |d AS (SELECT day, rev_cents, cum, n*cum - idx*total AS dev FROM c)
        |SELECT day, rev_cents, CAST(cum AS BIGINT) AS cum_cents,
        |  CAST(dev AS BIGINT) AS dev,
        |  CAST(abs(dev) = max(abs(dev)) OVER () AS BIGINT) AS is_cp
        |FROM d ORDER BY day""".stripMargin)
  }

  /** Autocorrelation of the daily-revenue series at lags 1..7, exported
    * as the EXACT Pearson sufficient statistics per lag:
    *   num    = n·Σxy − Σx·Σy       (covariance numerator × n)
    *   varx_n = n·Σx² − (Σx)²       (variance numerator × n, current term)
    *   vary_n = n·Σy² − (Σy)²       (lagged term)
    * so ρ(k) = num / √(varx_n·vary_n). The final √/÷ is the one
    * non-integer step, so it stays OUT of the gated output (the spec
    * recomputes ρ in double and checks the week-seasonality shape) — the
    * cross-engine contract covers everything order-dependent.
    *
    * Determinism & headroom: the series is quantized to thousands of
    * dollars per day; at sf10 (~10⁵ k$/day, ~2 400 days) the largest
    * product n·Σxy ≈ 5·10¹⁸ still fits BIGINT, past that the sums move to
    * DECIMAL(38) as q_decimal_exact demonstrates. Pairing is at the
    * OBSERVATION grain (row-lag over the ordered daily frame).
    *
    * Scale shape: one partial-aggregated fact scan → calendar-grain
    * frame; the 7-lag ladder is 7 offset reads of ONE sorted window pass
    * over ≤ |days| rows, unpivoted in-row by `stack`; final agg is 7
    * groups. */
  val qAcfDaily: Q = new Q {
    val name = "q_acf_daily"
    private val MaxLag = 7
    def run(spark: SparkSession, dir: String): DataFrame = {
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(expr("sum(cast(round(o_totalprice * 100) as long)) div 100000").as("x"))
      val w = Window.orderBy("day") // calendar-grain window: ≤ |days| rows
      val lagged = daily.select(
        col("day") +: col("x") +:
          (1 to MaxLag).map(k => lag(col("x"), k).over(w).as(s"y$k")): _*)
      val arms = (1 to MaxLag).map(k => s"${k}L, x, y$k").mkString(", ")
      lagged
        .selectExpr(s"stack($MaxLag, $arms) as (lag, x, y)")
        .where(col("y").isNotNull)
        .groupBy("lag")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sx2"),
          sum(expr("y * y")).as("sy2"))
        .select(col("lag"), col("n"),
          expr("n * sxy - sx * sy").as("num"),
          expr("n * sx2 - sx * sx").as("varx_n"),
          expr("n * sy2 - sy * sy").as("vary_n"))
        .orderBy("lag")
    }
    val oracle = Some {
      val lagCols = (1 to MaxLag)
        .map(k => s"lag(x, $k) OVER (ORDER BY day) AS y$k").mkString(",\n    ")
      val armUnion = (1 to MaxLag)
        .map(k => s"SELECT $k AS lag, x, y$k AS y FROM lagged WHERE y$k IS NOT NULL")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH daily AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000 AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |lagged AS (
         |  SELECT day, x,
         |    $lagCols
         |  FROM daily),
         |pairs AS (
         |  $armUnion)
         |SELECT CAST(lag AS BIGINT) AS lag, count(*) AS n,
         |  CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS num,
         |  CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS varx_n,
         |  CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS BIGINT) AS vary_n
         |FROM pairs GROUP BY lag ORDER BY lag""".stripMargin
    }
  }

  /** Day-of-week seasonal index of daily revenue — the multiplicative
    * seasonality profile (index_e4 = 10⁴ · mean(dow) / mean(all), exact
    * integer via cross-multiplication: sum_dow·n_tot·10⁴ div
    * (n_dow·sum_tot) — no mean division before the final ratio).
    * Numbering is Sunday-first (Spark `dayofweek`; the oracle's DuckDB
    * `dayofweek` is 0-based Sunday so it adds 1 — the q_activity_heatmap
    * convention).
    *
    * Scale shape: fact scan → calendar-grain daily frame (partial agg),
    * then a 7-row aggregate joined with a broadcast 1-row total. BIGINT
    * headroom: sum_dow·n_tot·10⁴ ≈ 10¹⁷ at sf10 in dollars. */
  val qSeasonalIndex: Q = new Q {
    val name = "q_seasonal_index"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(expr("sum(cast(round(o_totalprice * 100) as long)) div 100").as("x"))
      val tot = daily.agg(count(lit(1)).as("n_tot"), sum("x").as("sum_tot"))
      daily
        .groupBy(dayofweek(col("day")).cast("long").as("dow"))
        .agg(count(lit(1)).as("n_days"), sum("x").as("sum_x"))
        .crossJoin(tot)
        .select(col("dow"), col("n_days"), col("sum_x"),
          expr("sum_x * n_tot * 10000 div (n_days * sum_tot)").as("index_e4"))
        .orderBy("dow")
    }
    val oracle = Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT count(*) AS n_tot, sum(x) AS sum_tot FROM daily)
        |SELECT CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
        |  count(*) AS n_days, CAST(sum(x) AS BIGINT) AS sum_x,
        |  CAST(sum(x) * (SELECT n_tot FROM tot) * 10000
        |       // (count(*) * (SELECT sum_tot FROM tot)) AS BIGINT) AS index_e4
        |FROM daily GROUP BY 1 ORDER BY dow""".stripMargin)
  }

  /** Month-over-month and year-over-year revenue growth — the BI
    * reporting staple: per month, revenue plus growth vs the previous
    * month (lag 1) and the same month last year (lag 12), as exact e4
    * ratios (Spark `div` and DuckDB `//` both truncate toward zero, so
    * negative growth months agree bit-for-bit). NULL where no base
    * period exists.
    *
    * Scale shape: fact scan → month-grain frame (partial agg), two lag
    * reads of one sorted window pass over ≤ |months| rows. */
  val qMomGrowth: Q = new Q {
    val name = "q_mom_growth"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val monthly = Tables.orders(spark, dir)
        .groupBy(date_trunc("month", to_date(col("o_orderdate"))).cast("date").as("month"))
        .agg(expr("sum(cast(round(o_totalprice * 100) as long))").as("rev_cents"))
      val w = Window.orderBy("month") // calendar-grain window: ≤ |months| rows
      monthly
        .withColumn("prev_m", lag(col("rev_cents"), 1).over(w))
        .withColumn("prev_y", lag(col("rev_cents"), 12).over(w))
        .select(col("month"), col("rev_cents"),
          expr("(rev_cents - prev_m) * 10000 div prev_m").as("mom_e4"),
          expr("(rev_cents - prev_y) * 10000 div prev_y").as("yoy_e4"))
        .orderBy("month")
    }
    val oracle = Some(
      """WITH m AS (
        |  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |l AS (
        |  SELECT month, rev_cents,
        |    lag(rev_cents, 1) OVER (ORDER BY month) AS prev_m,
        |    lag(rev_cents, 12) OVER (ORDER BY month) AS prev_y
        |  FROM m)
        |SELECT month, rev_cents,
        |  CAST((rev_cents - prev_m) * 10000 // prev_m AS BIGINT) AS mom_e4,
        |  CAST((rev_cents - prev_y) * 10000 // prev_y AS BIGINT) AS yoy_e4
        |FROM l ORDER BY month""".stripMargin)
  }

  /** Tukey-fence (IQR) outlier audit per event type — the boxplot
    * companion to `q_anomaly_mad`: exact discrete Q1/Q3 at the
    * VALUE grain (cum ≥ ⌈p·n⌉ over the distinct-cents frame, never a
    * fact-table rank sort), then outlier counts against the 1.5·IQR
    * fences. All comparisons are doubled (2v vs 2q1−3·iqr) so the
    * half-integer fences stay in exact BIGINT arithmetic.
    *
    * Scale shape: one partial-aggregated fact scan to the
    * (type, cents) grain, per-type windows over the bounded value
    * domain, one broadcast join of the 5-row fence table back onto the
    * same value-grain frame — the fact table is scanned once. */
  val qIqrOutliers: Q = new Q {
    val name = "q_iqr_outliers"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val byV = Tables.events(spark, dir)
        .select(col("event_type"), Q.cents(col("value")).as("v"))
        .groupBy("event_type", "v").agg(count(lit(1)).as("n_v"))
        .persist() // feeds quartile selection AND the outlier counts
      val w = Window.partitionBy("event_type").orderBy("v")
      val cum = byV
        .withColumn("cum", sum("n_v").over(w))
        .withColumn("n", sum("n_v").over(Window.partitionBy("event_type")))
      val fences = cum.groupBy("event_type", "n")
        .agg(min(when(col("cum") >= expr("(n * 25 + 99) div 100"), col("v")))
          .as("q1"),
          min(when(col("cum") >= expr("(n * 75 + 99) div 100"), col("v")))
            .as("q3"))
        .withColumn("iqr", col("q3") - col("q1"))
      // hint kept: without it the hash join builds the value counts (one shuffle fewer)
      byV.join(broadcast(fences), Seq("event_type"))
        .groupBy("event_type", "n", "q1", "q3")
        .agg(sum(when(expr("2 * v < 2 * q1 - 3 * iqr"), col("n_v"))
          .otherwise(0L)).as("n_lo"),
          sum(when(expr("2 * v > 2 * q3 + 3 * iqr"), col("n_v"))
            .otherwise(0L)).as("n_hi"))
        .select(col("event_type"), col("n"), col("q1").as("q1_cents"),
          col("q3").as("q3_cents"), col("n_lo"), col("n_hi"))
        .orderBy("event_type")
    }
    val oracle = Some(
      """WITH byv AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
        |         count(*) AS n_v
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, v, n_v,
        |    sum(n_v) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |    sum(n_v) OVER (PARTITION BY event_type) AS n
        |  FROM byv),
        |f AS (
        |  SELECT event_type, n,
        |    min(CASE WHEN cum >= (n * 25 + 99) // 100 THEN v END) AS q1,
        |    min(CASE WHEN cum >= (n * 75 + 99) // 100 THEN v END) AS q3
        |  FROM c GROUP BY 1, 2)
        |SELECT b.event_type, CAST(f.n AS BIGINT) AS n,
        |  f.q1 AS q1_cents, f.q3 AS q3_cents,
        |  CAST(sum(CASE WHEN 2 * b.v < 2 * f.q1 - 3 * (f.q3 - f.q1)
        |                THEN b.n_v ELSE 0 END) AS BIGINT) AS n_lo,
        |  CAST(sum(CASE WHEN 2 * b.v > 2 * f.q3 + 3 * (f.q3 - f.q1)
        |                THEN b.n_v ELSE 0 END) AS BIGINT) AS n_hi
        |FROM byv b JOIN f ON b.event_type = f.event_type
        |GROUP BY 1, 2, 3, 4 ORDER BY b.event_type""".stripMargin)
  }

  /** Weekly top movers: the 10 parts with the largest absolute
    * week-over-week revenue change in the latest complete week pair —
    * the "trending items" mart. Deltas are exact cents; ranking is a
    * bounded top-10 (TakeOrdered/WindowGroupLimit shape).
    *
    * Scale shape: one partial-aggregated fact scan to the (part, week)
    * grain, a broadcast 1-row latest-week frame, one part-DIM-sized
    * join of the two week columns, top-10 rank. */
  val qTopMovers: Q = new Q {
    val name = "q_top_movers"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val pw = Tables.lineitem(spark, dir)
        .select(col("l_partkey"),
          date_trunc("week", to_date(col("l_shipdate"))).cast("date").as("week"),
          expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as long)")
            .as("rev_c"))
        .groupBy("l_partkey", "week").agg(sum("rev_c").as("rev"))
      val latest = pw.agg(max("week").as("w1"))
        .select(col("w1"), date_sub(col("w1"), 7).as("w0"))
      // ONE pass over the week pair instead of two pw joins + a full
      // outer (OPTIMIZATION_r19): parts present in either week with a
      // 0 default is exactly a conditional aggregation over the
      // week ∈ {w0, w1} slice — same rows, same values, and pw's
      // scan+aggregation runs twice (latest scalar + this pass) instead
      // of three times
      val both = pw.join(latest,
          col("week") === col("w1") || col("week") === col("w0"))
        .groupBy("l_partkey")
        .agg(sum(when(col("week") === col("w1"), col("rev")).otherwise(0L))
          .as("rev_cur"),
          sum(when(col("week") === col("w0"), col("rev")).otherwise(0L))
            .as("rev_prev"))
      both
        .withColumn("delta", col("rev_cur") - col("rev_prev"))
        .withColumn("rank", row_number().over(
          Window.orderBy(abs(col("delta")).desc, col("l_partkey"))).cast("long"))
        .where(col("rank") <= 10)
        .select("rank", "l_partkey", "rev_prev", "rev_cur", "delta")
        .orderBy("rank")
    }
    val oracle = Some(
      """WITH pw AS (
        |  SELECT l_partkey,
        |    CAST(date_trunc('week', CAST(l_shipdate AS DATE)) AS DATE) AS week,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1, 2),
        |latest AS (SELECT max(week) AS w1, max(week) - 7 AS w0 FROM pw),
        |cur AS (SELECT l_partkey, rev AS rev_cur FROM pw, latest WHERE week = w1),
        |prev AS (SELECT l_partkey, rev AS rev_prev FROM pw, latest WHERE week = w0),
        |j AS (
        |  SELECT COALESCE(c.l_partkey, p.l_partkey) AS l_partkey,
        |    COALESCE(c.rev_cur, 0) AS rev_cur, COALESCE(p.rev_prev, 0) AS rev_prev
        |  FROM cur c FULL OUTER JOIN prev p ON c.l_partkey = p.l_partkey),
        |r AS (
        |  SELECT l_partkey, rev_prev, rev_cur, rev_cur - rev_prev AS delta,
        |    row_number() OVER (ORDER BY abs(rev_cur - rev_prev) DESC, l_partkey) AS rank
        |  FROM j)
        |SELECT CAST(rank AS BIGINT) AS rank, l_partkey,
        |  CAST(rev_prev AS BIGINT) AS rev_prev, CAST(rev_cur AS BIGINT) AS rev_cur,
        |  CAST(delta AS BIGINT) AS delta
        |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin)
  }

  /** Seasonal-residual anomalies: each day's revenue vs its day-of-week
    * MEAN (the q_seasonal_index model applied back), exact by
    * cross-multiplication: dev_e4 = x·n_dow·10⁴ div sum_dow − 10⁴ — the
    * e4 deviation from the dow expectation without ever materializing
    * the float mean. Top-5 |dev| days reported: the detrended complement
    * to q_anomaly_mad's global robust fences (a Sunday that's normal
    * globally but wild FOR A SUNDAY shows up here, not there).
    *
    * Scale shape: calendar-grain daily frame, 7-row dow model broadcast
    * back, top-5 rank over ≤ |days| rows. */
  val qSeasonalResidual: Q = new Q {
    val name = "q_seasonal_residual"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(expr("sum(cast(round(o_totalprice * 100) as long)) div 100").as("x"))
      val model = daily
        .groupBy(dayofweek(col("day")).cast("long").as("dow"))
        .agg(count(lit(1)).as("n_days"), sum("x").as("sum_x"))
      daily
        .withColumn("dow", dayofweek(col("day")).cast("long"))
        // hint kept: without it the hash join builds the daily side
        .join(broadcast(model), Seq("dow"))
        .withColumn("dev_e4",
          expr("x * n_days * 10000 div sum_x - 10000"))
        .withColumn("rank", row_number().over(
          Window.orderBy(abs(col("dev_e4")).desc, col("day"))).cast("long"))
        .where(col("rank") <= 5)
        .select("rank", "day", "dow", "x", "dev_e4")
        .orderBy("rank")
    }
    val oracle = Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |model AS (
        |  SELECT dayofweek(day) + 1 AS dow, count(*) AS n_days, sum(x) AS sum_x
        |  FROM daily GROUP BY 1),
        |dev AS (
        |  SELECT d.day, m.dow, d.x,
        |    d.x * m.n_days * 10000 // m.sum_x - 10000 AS dev_e4
        |  FROM daily d JOIN model m ON dayofweek(d.day) + 1 = m.dow),
        |r AS (
        |  SELECT day, dow, x, dev_e4,
        |    row_number() OVER (ORDER BY abs(dev_e4) DESC, day) AS rank
        |  FROM dev)
        |SELECT CAST(rank AS BIGINT) AS rank, day, CAST(dow AS BIGINT) AS dow,
        |  CAST(x AS BIGINT) AS x, CAST(dev_e4 AS BIGINT) AS dev_e4
        |FROM r WHERE rank <= 5 ORDER BY rank""".stripMargin)
  }

  val all: Seq[Q] = Seq(qEwmaRevenue, qDecayRevenue, qIncrementalAgg,
    qInterpolateDaily, qAnomalyMad, qWinsorizedMean, qTwap, qCusumChangepoint,
    qAcfDaily, qSeasonalIndex, qMomGrowth, qIqrOutliers, qTopMovers,
    qSeasonalResidual)
}
