package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.WindowOps

/** Core relational operator coverage (SURVEY.md §2.1–2.6) over the TPC-H-ish
  * tables: scans, filters, projections, equi/left/self joins, hash
  * aggregation, pivot, ranking/offset windows, JSON extraction.
  *
  * Determinism conventions (SURVEY.md §5.1): money exported as exact
  * per-element-rounded cents (BIGINT), averages as e2-scaled BIGINT, total
  * ORDER BY on a unique key in both engines.
  */
object Relational {

  /** Per-element money→cents: exact on both engines (scale-0 rounding of a
    * double is identical in Spark HALF_UP and DuckDB round-half-away). */
  private def cents(c: org.apache.spark.sql.Column) = Q.cents(c)

  val q1Agg: Q = new Q {
    val name = "q1_agg"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.lineitem(spark, dir)
        .where(col("l_shipdate") <= to_timestamp(lit("2000-01-01 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").cast("long").as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long"))
            .as("sum_disc_cents"),
          count(lit(1)).as("cnt"),
          round(sum("l_quantity") * 100.0 / count(lit(1))).cast("long").as("avg_qty_e2"))
        .orderBy("l_returnflag", "l_linestatus")
    val oracle = Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  count(*) AS cnt,
        |  CAST(round(sum(l_quantity) * 100.0 / count(*)) AS BIGINT) AS avg_qty_e2
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** Multi-way star join: fact × orders × customer with broadcast dims
    * (reference J4 composite-key assembly, generalized). */
  val qRevenueNation: Q = new Q {
    val name = "q_revenue_nation"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name", "r_name")
        .agg(
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long"))
            .as("revenue_cents"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    val oracle = Some(
      """SELECT n_name, r_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY n_name, r_name
        |ORDER BY n_name""".stripMargin)
  }

  /** Left outer join keeping order-less customers (reference J3,
    * calculate_user_city.py:72-74). */
  val qCustOrderStats: Q = new Q {
    val name = "q_cust_order_stats"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.customer(spark, dir)
        .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(cents(col("o_totalprice"))), lit(0L)).as("total_cents"),
          max(col("o_orderdate")).as("last_order"))
        .orderBy("c_custkey")
    val oracle = Some(
      """SELECT c_custkey, c_name, c_mktsegment,
        |  count(o_orderkey) AS n_orders,
        |  CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) AS total_cents,
        |  max(o_orderdate) AS last_order
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name, c_mktsegment
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Top-K per key by ranking window (reference W2 generalized to k>1). */
  val qTopkOrdersPerCust: Q = new Q {
    val name = "q_topk_orders_per_cust"
    def run(spark: SparkSession, dir: String): DataFrame =
      WindowOps.topKPerKey(
        Tables.orders(spark, dir)
          .select(col("o_custkey"), col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"),
            col("o_totalprice")),
        Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .select(col("o_custkey"), col("o_orderkey"), col("price_cents"), col("__rn").as("rnk"))
        .orderBy("o_custkey", "rnk")
    val oracle = Some(
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, price_cents, CAST(rnk AS INT) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin)
  }

  /** Pivot with explicit value list (reference A3,
    * calculate_zone_report.py:23-25). */
  val qPivotOrderStatus: Q = new Q {
    val name = "q_pivot_order_status"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val base = Tables.orders(spark, dir)
        .withColumn("yr", year(col("o_orderdate")))
        .withColumn("mo", month(col("o_orderdate")))
      val piv = base.groupBy("yr", "mo").pivot("o_orderstatus", Seq("F", "O", "P")).count()
        .na.fill(0L, Seq("F", "O", "P"))
      piv.select(col("yr"), col("mo"), col("F").as("st_f"), col("O").as("st_o"),
        col("P").as("st_p")).orderBy("yr", "mo")
    }
    val oracle = Some(
      """SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS st_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS st_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS st_p
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  /** First-per-key window (reference W3 "registration",
    * calculate_zone_report.py:28-35). */
  val qFirstEventPerUser: Q = new Q {
    val name = "q_first_event_per_user"
    def run(spark: SparkSession, dir: String): DataFrame =
      WindowOps.firstPerKey(Tables.events(spark, dir), Seq("user_id"),
        Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_id").as("first_event_id"),
          col("ts").as("first_ts"), col("event_type").as("first_type"))
        .orderBy("user_id")
    val oracle = Some(
      """WITH r AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_id AS first_event_id, ts AS first_ts, event_type AS first_type
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)
  }

  /** Gap-based sessionization (cumulative window frame — extension W
    * pattern; 30-minute gap). */
  val qSessionize: Q = new Q {
    val name = "q_sessionize"
    def run(spark: SparkSession, dir: String): DataFrame =
      WindowOps.sessionize(Tables.events(spark, dir), Seq("user_id"), "ts",
        Seq(col("ts"), col("event_id")), 1800000000L)
        .groupBy("user_id")
        .agg((max("session_idx") + 1).cast("long").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    val oracle = Some(
      """WITH f AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM f)
        |SELECT user_id, CAST(max(session_idx) + 1 AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin)
  }

  /** JSON extraction from the `props` column (extension; FIXTURES.md §3). */
  val qEventsJson: Q = new Q {
    val name = "q_events_json"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.events(spark, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")
    val oracle = Some(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(min(k) AS BIGINT) AS min_k,
        |  CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** Tumbling-window counts via the batch/streaming-unified helper
    * (StreamingOps.windowedEventCounts runs the same code on a stream). */
  val qWindowedCounts: Q = new Q {
    val name = "q_windowed_counts"
    def run(spark: SparkSession, dir: String): DataFrame =
      graft.streaming.StreamingOps.windowedEventCounts(
        Tables.events(spark, dir).select("ts", "event_type"), "10 minutes", "1 hour")
        .orderBy("window_start", "event_type")
    val oracle = Some(
      """SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  /** Ranking-function family over one window (rank / dense_rank / ntile). */
  val qRankFunctions: Q = new Q {
    val name = "q_rank_functions"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("c_custkey")
    }
    val oracle = Some(
      """SELECT c_custkey, c_mktsegment,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** String-function coverage (upper/substring/replace/concat/length). */
  val qStringFuncs: Q = new Q {
    val name = "q_string_funcs"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.part(spark, dir)
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          regexp_replace(col("p_type"), "[aeiou]", "_").as("type_devoweled"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          length(col("p_name")).cast("long").as("name_len"))
        .orderBy("p_partkey")
    val oracle = Some(
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_u,
        |  substring(p_name, 1, 8) AS name_prefix,
        |  regexp_replace(p_type, '[aeiou]', '_', 'g') AS type_devoweled,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  CAST(length(p_name) AS BIGINT) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin)
  }

  /** TPC-H Q6 shape: tight filter + single-pass sum (the canonical
    * pushdown-and-scan query). */
  val q6Forecast: Q = new Q {
    val name = "q6_forecast_revenue"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.lineitem(spark, dir)
        .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("l_discount").between(0.02, 0.06) && col("l_quantity") < 24)
        .agg(sum(round(col("l_extendedprice") * col("l_discount") * 100).cast("long"))
          .as("revenue_cents"), count(lit(1)).as("n"))
    val oracle = Some(
      """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.06
        |  AND l_quantity < 24""".stripMargin)
  }

  /** Analytic window frames: running total (unbounded preceding) and
    * 3-row moving sum per customer over order history. */
  val qRunningRevenue: Q = new Q {
    val name = "q_running_revenue"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val cents = round(col("o_totalprice") * 100).cast("long")
      Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          cents.as("price_cents"))
        .withColumn("running_cents",
          sum(col("price_cents")).over(w.rowsBetween(Long.MinValue, 0)))
        .withColumn("moving3_cents",
          sum(col("price_cents")).over(w.rowsBetween(-2, 0)))
        .drop("o_orderdate")
        .orderBy("o_custkey", "o_orderkey")
    }
    val oracle = Some(
      """SELECT o_custkey, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS moving3_cents
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  /** Top-K per key via the BoundedTopK TypedImperativeAggregate: map-side
    * O(k) state per group instead of the window's full per-key sort — same
    * results (and the same oracle) as q_topk_orders_per_cust. */
  val qTopkOrdersAgg: Q = new Q {
    val name = "q_topk_orders_agg"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.orders(spark, dir)
        .groupBy("o_custkey")
        .agg(graft.expressions.F.boundedTopK(
          cents(col("o_totalprice")), col("o_orderkey"), 3).as("top"))
        .select(col("o_custkey"), posexplode(col("top")))
        .select(col("o_custkey"), col("col.id").as("o_orderkey"),
          col("col.ord").as("price_cents"), (col("pos") + 1).cast("int").as("rnk"))
        .orderBy("o_custkey", "rnk")
    val oracle = qTopkOrdersPerCust.oracle
  }

  /** Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`: both index by p·(n−1) with linear interpolation). */
  val qPercentiles: Q = new Q {
    val name = "q_percentiles"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.lineitem(spark, dir)
        .groupBy("l_returnflag")
        // one array-form percentile per source column: the exact-percentile
        // aggregate buffers its input per group, so asking for [p50, p90]
        // in one call halves the buffered copies of l_quantity
        .agg(
          expr("percentile(l_quantity, array(0.5, 0.9))").as("qp"),
          round(expr("percentile(l_extendedprice, 0.95)") * 10000).cast("long").as("price_p95_e4"))
        .select(col("l_returnflag"),
          round(element_at(col("qp"), 1) * 10000).cast("long").as("p50_e4"),
          round(element_at(col("qp"), 2) * 10000).cast("long").as("p90_e4"),
          col("price_p95_e4"))
        .orderBy("l_returnflag")
    val oracle = Some(
      """SELECT l_returnflag,
        |  CAST(round(quantile_cont(l_quantity, 0.5) * 10000) AS BIGINT) AS p50_e4,
        |  CAST(round(quantile_cont(l_quantity, 0.9) * 10000) AS BIGINT) AS p90_e4,
        |  CAST(round(quantile_cont(l_extendedprice, 0.95) * 10000) AS BIGINT) AS price_p95_e4
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Fixed-width binned histogram (pure integer bucket arithmetic — no
    * data-dependent bounds, so both engines bin identically). */
  val qPriceHistogram: Q = new Q {
    val name = "q_price_histogram"
    val BinWidth = 10000.0
    val NBins = 10
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.lineitem(spark, dir)
        .withColumn("bin",
          least(floor(col("l_extendedprice") / BinWidth), lit(NBins - 1.0)).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_cents"))
        .orderBy("bin")
    val oracle = Some(
      s"""SELECT CAST(least(floor(l_extendedprice / $BinWidth), ${NBins - 1}.0) AS BIGINT) AS bin,
         |  count(*) AS n,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Statistical aggregates (sample stddev / covariance / correlation),
    * e6-rounded. Both engines accumulate in double with the same textbook
    * two-pass-free formulations; e6 rounding absorbs accumulation-order
    * noise (~1e-12 relative). */
  val qStatAggs: Q = new Q {
    val name = "q_stat_aggs"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.lineitem(spark, dir)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")) * 1000000).cast("long").as("sd_qty_e6"),
          round(covar_samp(col("l_quantity"), col("l_discount")) * 1000000).cast("long")
            .as("cov_qd_e6"),
          round(corr(col("l_quantity"), col("l_extendedprice")) * 1000000).cast("long")
            .as("corr_qp_e6"))
        .orderBy("l_returnflag")
    val oracle = Some(
      """SELECT l_returnflag,
        |  CAST(round(stddev_samp(l_quantity) * 1000000) AS BIGINT) AS sd_qty_e6,
        |  CAST(round(covar_samp(l_quantity, l_discount) * 1000000) AS BIGINT) AS cov_qd_e6,
        |  CAST(round(corr(l_quantity, l_extendedprice) * 1000000) AS BIGINT) AS corr_qp_e6
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Calendar-function coverage: trunc, last_day, quarter, day-of-week,
    * epoch-day arithmetic. (DuckDB numbers Sunday 0, Spark 1 — the oracle
    * normalizes.) */
  val qDateFunctions: Q = new Q {
    val name = "q_date_functions"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          last_day(col("o_orderdate")).as("month_end"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          datediff(col("o_orderdate"), to_date(lit("1970-01-01"))).cast("long")
            .as("epoch_days"))
        .orderBy("o_orderkey")
    val oracle = Some(
      """SELECT o_orderkey,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  last_day(o_orderdate) AS month_end,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |  CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS epoch_days
        |FROM orders ORDER BY o_orderkey""".stripMargin)
  }

  /** Typed-Dataset aggregation: a case-class-state Aggregator[IN,BUF,OUT]
    * (graft.ops.TypedAggs.AvgUnitCents) over groupByKey — the typed API
    * surface complementing the expression-level custom aggregates. State
    * is integer-exact, so the result is order-independent and
    * oracle-comparable. */
  val qTypedAvgUnitPrice: Q = new Q {
    val name = "q_typed_avg_unit_price"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import spark.implicits._
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), cents(col("l_extendedprice")).as("cents"),
          col("l_quantity").cast("long").as("qty"))
        .as[(String, Long, Long)]
        .groupByKey(_._1)
        .agg(graft.ops.TypedAggs.AvgUnitCents.toColumn.name("avg_unit_cents"))
        .toDF("l_returnflag", "avg_unit_cents")
        .orderBy("l_returnflag")
    }
    val oracle = Some(
      """SELECT l_returnflag,
        |  CAST(round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 1.0
        |             / sum(CAST(l_quantity AS BIGINT))) AS BIGINT) AS avg_unit_cents
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  val all: Seq[Q] = Seq(q1Agg, qRevenueNation, qCustOrderStats, qTopkOrdersPerCust,
    qPivotOrderStatus, qFirstEventPerUser, qSessionize, qEventsJson,
    qWindowedCounts, qRankFunctions, qStringFuncs, q6Forecast, qRunningRevenue,
    qPercentiles, qTopkOrdersAgg, qPriceHistogram, qStatAggs, qDateFunctions,
    qTypedAvgUnitPrice)
}
