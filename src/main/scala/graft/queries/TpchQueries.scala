package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Third analytic-SQL wave: the remaining TPC-H plan shapes expressible on
  * this schema directly (the partsupp-dependent Q2/Q9/Q11/Q16/Q20 live in
  * [[PartsuppQueries]] over a derived partsupp; Q1 plus the
  * lateness-adapted Q12/Q21/Q22 live in [[TpchFinalQueries]], completing
  * all 22 shapes).
  *
  * Scale shapes exercised here, each distinct from the Q1/Q3/Q6 already in
  * the catalog:
  *  - Q5: 6-table star with a *join-key-correlated* filter (c_nationkey =
  *    s_nationkey) that no single scan predicate can express — the classic
  *    "local supplier volume" shape whose dims broadcast and whose two fact
  *    joins shuffle on different keys.
  *  - Q7: self-joined dimension (nation n1 × nation n2) with a symmetric
  *    disjunctive pair filter — dimension roles, not dimension copies.
  *  - Q10: group-by on a high-cardinality key (customer) followed by a
  *    deterministic top-20 — TakeOrderedAndProject, never a global sort.
  *  - Q14: two conditional aggregates over one scan (promo share) — a
  *    single pass, no self-join.
  *  - Q18: having-filtered aggregate pushed *below* the customer join —
  *    the big-order key set is found first, then enriched.
  *  - Q19: three disjunctive brand/size/quantity branches OR-ed together —
  *    the disjunction still reaches the scans as min/max range predicates.
  */
object TpchQueries {

  private def cents(c: Column) = Q.cents(c)
  private def revCents: Column =
    Q.cents(col("l_extendedprice") * (lit(1) - col("l_discount")))

  /** TPC-H Q5 (local supplier volume): revenue by nation inside one region
    * and one order-year, counting only lineitems whose supplier sits in the
    * customer's own nation. nation/region/supplier broadcast (bounded
    * dims); orders⋈customer shuffles on custkey, lineitem⋈orders on
    * orderkey — at 100 TB both stay shuffled equi-joins with scan-pruned
    * inputs (the o_orderdate window reaches PushedFilters). */
  val qTpchQ5: Q = new Q {
    val name = "q_tpch_q5"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1997-01-01").cast("timestamp")
      val nationsInRegion =
        Tables.nation(spark, dir)
          .join(Tables.region(spark, dir).where(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")
      val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      val ord = Tables.orders(spark, dir)
        .where(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey")
      val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_suppkey"), revCents.as("rev"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(nationsInRegion, col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum("rev").as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("n_name"))
    }
    val oracle = Some(
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue_cents DESC, n_name""".stripMargin)
  }

  /** TPC-H Q7 (volume shipping): revenue between two nations by direction
    * and ship-year. One nation dim, joined twice under different roles
    * (supplier's vs customer's) — both broadcast; the pair filter is the
    * symmetric disjunction. Year comes from l_shipdate, so the two-year
    * window is a scan-side range predicate. */
  val qTpchQ7: Q = new Q {
    val name = "q_tpch_q7"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      val n1 = Tables.nation(spark, dir)
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(spark, dir)
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
      Tables.lineitem(spark, dir)
        .where(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("l_year"), revCents.as("rev"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(n1, col("s_nationkey") === col("n1_key"))
        .join(n2, col("c_nationkey") === col("n2_key"))
        .where((col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_7") ||
               (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_2"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(sum("rev").as("revenue_cents"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }
    val oracle = Some(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |  AND c_custkey = o_custkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_7')
        |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_2'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin)
  }

  /** TPC-H Q10 (returned-item reporting): per-customer lost revenue from
    * returns in one quarter, top 20. The aggregate keys on c_custkey
    * (high cardinality) and the final top-20 must plan as
    * TakeOrderedAndProject — a global sort of every customer would be the
    * 100 TB mistake. Customer attributes join AFTER the aggregate, so the
    * shuffle carries one row per customer, not per lineitem. */
  val qTpchQ10: Q = new Q {
    val name = "q_tpch_q10"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1997-04-01").cast("timestamp")
      val ord = Tables.orders(spark, dir)
        .where(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey")
      val perCust = Tables.lineitem(spark, dir)
        .where(col("l_returnflag") === "R")
        .select(col("l_orderkey"), revCents.as("rev"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(sum("rev").as("revenue_cents"))
      val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name")
      perCust
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue_cents"),
          cents(col("c_acctbal")).as("c_acctbal_cents"), col("n_name"))
        .orderBy(col("revenue_cents").desc, col("c_custkey"))
        .limit(20)
    }
    val oracle = Some(
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents,
        |  CAST(round(c_acctbal * 100) AS BIGINT) AS c_acctbal_cents, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue_cents DESC, c_custkey
        |LIMIT 20""".stripMargin)
  }

  /** TPC-H Q14 (promotion effect): promo share of one month's revenue.
    * Both the numerator and denominator come from ONE conditional
    * aggregation pass — never a self-join. The ratio is derived from the
    * two exact BIGINT cent sums with a single double division, e4-rounded
    * (both engines perform the identical IEEE op on identical integers). */
  val qTpchQ14: Q = new Q {
    val name = "q_tpch_q14"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val lo = lit("1997-03-01").cast("timestamp")
      val hi = lit("1997-04-01").cast("timestamp")
      val prt = Tables.part(spark, dir).select("p_partkey", "p_type")
      Tables.lineitem(spark, dir)
        .where(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_partkey"), revCents.as("rev"))
        .join(prt, col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", col("rev")).otherwise(lit(0L)))
            .as("promo_cents"),
          sum(col("rev")).as("total_cents"))
        .select(
          round(col("promo_cents").cast("double") * 1e4 / col("total_cents").cast("double"))
            .cast("long").as("promo_ratio_e4"),
          col("promo_cents"), col("total_cents"))
    }
    val oracle = Some(
      """WITH agg AS (
        |  SELECT
        |    sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |      ELSE 0 END) AS promo_cents,
        |    sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS total_cents
        |  FROM lineitem, part
        |  WHERE l_partkey = p_partkey
        |    AND l_shipdate >= TIMESTAMP '1997-03-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01')
        |SELECT
        |  CAST(round(CAST(promo_cents AS DOUBLE) * 1e4 / CAST(total_cents AS DOUBLE)) AS BIGINT)
        |    AS promo_ratio_e4,
        |  CAST(promo_cents AS BIGINT) AS promo_cents,
        |  CAST(total_cents AS BIGINT) AS total_cents
        |FROM agg""".stripMargin)
  }

  /** TPC-H Q18 (large-volume customers): orders whose total quantity
    * exceeds a threshold, with customer attribution. The HAVING aggregate
    * runs on lineitem ALONE first — at 100 TB the key set that survives is
    * tiny, so the customer/orders enrichment joins against a
    * few-thousand-row aggregate, not the raw fact. */
  val qTpchQ18: Q = new Q {
    val name = "q_tpch_q18"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val bigOrders = Tables.lineitem(spark, dir)
        .groupBy("l_orderkey")
        .agg(round(sum("l_quantity")).cast("long").as("total_qty"))
        .where(col("total_qty") > 250)
      val ord = Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      bigOrders
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(spark, dir).select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), cents(col("o_totalprice")).as("o_totalprice_cents"),
          col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
    }
    val oracle = Some(
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS o_totalprice_cents,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS total_qty
        |FROM customer, orders, lineitem
        |WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
        |HAVING CAST(round(sum(l_quantity)) AS BIGINT) > 250
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin)
  }

  /** TPC-H Q19 (discounted revenue): three disjunctive brand/size/quantity
    * branches. The OR of range predicates still prunes at the scan (Parquet
    * row-group min/max on l_quantity covers the union 1..50 → the point is
    * the *part-side* pruning: only three brands survive the broadcast
    * build). Single equi-join; the disjunction evaluates post-join in one
    * codegen stage. */
  val qTpchQ19: Q = new Q {
    val name = "q_tpch_q19"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val prt = Tables.part(spark, dir)
        .where(col("p_brand").isin("Brand#1", "Brand#13", "Brand#20"))
        .select("p_partkey", "p_brand", "p_size")
      Tables.lineitem(spark, dir)
        .select(col("l_partkey"), col("l_quantity"), revCents.as("rev"))
        .join(prt, col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#13" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 35)) ||
          (col("p_brand") === "Brand#20" && col("p_size").between(20, 50) &&
            col("l_quantity").between(20, 50)))
        .agg(sum("rev").as("revenue_cents"), count(lit(1)).as("n_items"))
    }
    val oracle = Some(
      """SELECT
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents,
        |  count(*) AS n_items
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |          AND l_quantity BETWEEN 1 AND 20)
        |    OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30
        |          AND l_quantity BETWEEN 10 AND 35)
        |    OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50
        |          AND l_quantity BETWEEN 20 AND 50))""".stripMargin)
  }

  /** TPC-H Q4 essence (order-priority checking): orders in one quarter
    * with at least one LATE lineitem (shipped > 60 days after the order
    * date — the schema has no commitdate; the lateness predicate keeps
    * Q4's correlated-EXISTS shape), counted by priority. Plans as a
    * LEFT SEMI join with a non-equi residual — one existence probe, no
    * row multiplication, the aggregate runs on orders only. */
  val qTpchQ4: Q = new Q {
    val name = "q_tpch_q4"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1997-04-01").cast("timestamp")
      val ord = Tables.orders(spark, dir)
        .where(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
      ord.join(li,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }
    val oracle = Some(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** TPC-H Q8 essence (national market share): of all PROMO-part revenue
    * bought by customers in one region, the share supplied by one nation,
    * per order-year. Conditional share = two sums in ONE aggregation pass
    * over a 6-table join; the ratio derives from the exact BIGINT cent
    * sums (identical IEEE divide + e4 round in both engines). */
  val qTpchQ8: Q = new Q {
    val name = "q_tpch_q8"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val custNations =
        Tables.nation(spark, dir)
          .join(Tables.region(spark, dir).where(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("cn_key"))
      val sup = Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))
      val promoParts = Tables.part(spark, dir)
        .where(col("p_type") === "PROMO").select("p_partkey")
      val ord = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("o_year"))
      val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          revCents.as("rev"))
        .join(promoParts, col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(custNations, col("c_nationkey") === col("cn_key"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy("o_year")
        .agg(
          sum(when(col("s_nationkey") === 2, col("rev")).otherwise(lit(0L)))
            .as("nation_cents"),
          sum(col("rev")).as("total_cents"))
        .select(col("o_year"),
          round(col("nation_cents").cast("double") * 1e4 /
            col("total_cents").cast("double")).cast("long").as("share_e4"),
          col("nation_cents"), col("total_cents"))
        .orderBy("o_year")
    }
    val oracle = Some(
      """WITH base AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev,
        |    s_nationkey
        |  FROM lineitem, orders, customer, supplier, part, nation, region
        |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |    AND l_suppkey = s_suppkey AND l_partkey = p_partkey
        |    AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |    AND r_name = 'ASIA' AND p_type = 'PROMO'),
        |agg AS (
        |  SELECT o_year,
        |    sum(CASE WHEN s_nationkey = 2 THEN rev ELSE 0 END) AS nation_cents,
        |    sum(rev) AS total_cents
        |  FROM base GROUP BY o_year)
        |SELECT o_year,
        |  CAST(round(CAST(nation_cents AS DOUBLE) * 1e4 / CAST(total_cents AS DOUBLE))
        |    AS BIGINT) AS share_e4,
        |  CAST(nation_cents AS BIGINT) AS nation_cents,
        |  CAST(total_cents AS BIGINT) AS total_cents
        |FROM agg ORDER BY o_year""".stripMargin)
  }

  /** TPC-H Q13 (customer distribution): orders per customer INCLUDING
    * zero-order customers (left outer join preserved through the count),
    * then the distribution — customers per order-count. Two aggregates:
    * the first keys on c_custkey (high cardinality, count(o_orderkey)
    * skips nulls so empty customers count 0), the second collapses to the
    * tiny distribution — the shuffle shrinks at every step. */
  val qTpchQ13: Q = new Q {
    val name = "q_tpch_q13"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val perCust = Tables.customer(spark, dir).select("c_custkey")
        .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count("o_orderkey").as("c_count")) // count(col) skips nulls
      perCust.groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }
    val oracle = Some(
      """WITH per_cust AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM per_cust GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)
  }

  /** TPC-H Q15 essence (top supplier): supplier revenue over one quarter,
    * keep the supplier(s) equal to the MAX — the max comes from a scalar
    * subquery over the same aggregate, planned as one reused aggregate +
    * a broadcast of the 1-row max, never a global sort. */
  val qTpchQ15: Q = new Q {
    val name = "q_tpch_q15"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1997-04-01").cast("timestamp")
      val revenue = Tables.lineitem(spark, dir)
        .where(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .groupBy("l_suppkey")
        .agg(sum(revCents).as("total_cents"))
      val maxRev = revenue.agg(max("total_cents").as("max_cents"))
      revenue.join(maxRev, col("total_cents") === col("max_cents"))
        .join(Tables.supplier(spark, dir).select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_cents"))
        .orderBy("s_suppkey")
    }
    val oracle = Some(
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |      AS total_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_cents AS BIGINT) AS total_cents
        |FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_cents = (SELECT max(total_cents) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin)
  }

  /** TPC-H Q17 essence (small-quantity revenue): revenue from lineitems
    * whose quantity is below 20% of their part's average quantity — the
    * correlated per-part average decorrelates into ONE aggregate over the
    * fact joined back to the fact (never a per-row subquery). The
    * threshold is integer-exact: qty*10 < avg*2 over e1-scaled BIGINTs
    * (sum*2 < ... formulation avoids float division entirely). */
  val qTpchQ17: Q = new Q {
    val name = "q_tpch_q17"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_partkey"), col("l_quantity"), revCents.as("rev"))
      val perPart = li.groupBy("l_partkey")
        .agg(round(sum("l_quantity")).cast("long").as("sum_qty"),
          count(lit(1)).as("n_li"))
      // qty < 0.2 * (sum/n)  ⇔  qty * n * 5 < sum  (all integer-exact)
      li.join(perPart, Seq("l_partkey"))
        .where(round(col("l_quantity")).cast("long") * col("n_li") * 5 < col("sum_qty"))
        .agg(sum("rev").as("small_qty_rev_cents"), count(lit(1)).as("n_small"))
    }
    val oracle = Some(
      """WITH per_part AS (
        |  SELECT l_partkey, CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |    count(*) AS n_li
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS small_qty_rev_cents,
        |  count(*) AS n_small
        |FROM lineitem JOIN per_part USING (l_partkey)
        |WHERE CAST(round(l_quantity) AS BIGINT) * n_li * 5 < sum_qty""".stripMargin)
  }

  val all: Seq[Q] = Seq(qTpchQ4, qTpchQ5, qTpchQ7, qTpchQ8, qTpchQ10, qTpchQ13,
    qTpchQ14, qTpchQ15, qTpchQ17, qTpchQ18, qTpchQ19)
}
