package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** TPC-H closeout: the four shapes that complete 22/22 coverage. Q1 is the
  * faithful pricing-summary (every column it needs exists). Q12/Q21/Q22
  * are *essence adaptations* — the schema has no
  * shipmode/commitdate/receiptdate/phone, so:
  *  - "late" := l_shipdate > o_orderdate + 60 days (the data's mean ship
  *    lag is 39 days, so lateness is a real minority class);
  *  - Q12's shipmode buckets := l_linestatus;
  *  - Q22's phone country code := c_nationkey restricted to 7 codes.
  * Each keeps the plan shape the original exercises (Q12: fact-fact join
  * with conditional counts; Q21: semi + anti against the same self-joined
  * fact; Q22: decorrelated avg threshold + anti join), which is what
  * matters for the scale grade. The DuckDB oracles encode the identical
  * adapted semantics.
  */
object TpchFinalQueries {

  private def cents(c: Column) = Q.cents(c)

  /** TPC-H Q1 (pricing summary report): one pass over lineitem, group by
    * (returnflag, linestatus), 4 sums + 3 averages + count. All sums are
    * per-row-rounded BIGINTs (cents / e4) so partial aggregation is exact
    * in any order; averages are integer divisions of those sums (div //
    * parity, non-negative operands). ONE partial+final hash aggregate over
    * a 3-column scan — the canonical map-side-combine shape: at 100 TB the
    * shuffle carries ≤ |flags×statuses| partial rows per task. */
  val qTpchQ1: Q = new Q {
    val name = "q_tpch_q1"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.lineitem(spark, dir)
        .where(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("l_quantity")).cast("long").as("qty"),
          cents(col("l_extendedprice")).as("base_cents"),
          cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("disc_cents"),
          cents(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))).as("charge_cents"),
          round(col("l_discount") * 10000).cast("long").as("disc_e4"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("qty").as("sum_qty"),
          sum("base_cents").as("sum_base_price_cents"),
          sum("disc_cents").as("sum_disc_price_cents"),
          sum("charge_cents").as("sum_charge_cents"),
          count(lit(1)).as("count_order"),
          sum("disc_e4").as("sum_disc_e4"))
        .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
          col("sum_base_price_cents"), col("sum_disc_price_cents"),
          col("sum_charge_cents"),
          expr("(sum_qty * 100) div count_order").as("avg_qty_e2"),
          expr("sum_base_price_cents div count_order").as("avg_price_cents"),
          expr("sum_disc_e4 div count_order").as("avg_disc_e4"),
          col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    val oracle = Some(
      """WITH rows_in AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(round(l_quantity) AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS base_cents,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS disc_cents,
        |    CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)
        |      AS charge_cents,
        |    CAST(round(l_discount * 10000) AS BIGINT) AS disc_e4
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '2001-09-02'),
        |agg AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(sum(qty) AS BIGINT) AS sum_qty,
        |    CAST(sum(base_cents) AS BIGINT) AS sum_base_price_cents,
        |    CAST(sum(disc_cents) AS BIGINT) AS sum_disc_price_cents,
        |    CAST(sum(charge_cents) AS BIGINT) AS sum_charge_cents,
        |    count(*) AS count_order,
        |    CAST(sum(disc_e4) AS BIGINT) AS sum_disc_e4
        |  FROM rows_in GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price_cents,
        |  sum_disc_price_cents, sum_charge_cents,
        |  CAST((sum_qty * 100) // count_order AS BIGINT) AS avg_qty_e2,
        |  CAST(sum_base_price_cents // count_order AS BIGINT) AS avg_price_cents,
        |  CAST(sum_disc_e4 // count_order AS BIGINT) AS avg_disc_e4,
        |  count_order
        |FROM agg ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** TPC-H Q12 essence (late-shipment priority split): lineitems shipped
    * >60 days after their order date inside a 2-year ship window, bucketed
    * by linestatus, counting high- vs low-priority orders. The lateness
    * predicate needs o_orderdate, so it's a fact-fact equi-join on
    * orderkey with the ship-window pushed to the lineitem scan; the
    * conditional counts are one aggregation pass (no per-priority
    * self-joins). */
  val qTpchQ12: Q = new Q {
    val name = "q_tpch_q12"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val li = Tables.lineitem(spark, dir)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linestatus", "l_shipdate")
      li.join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") > (col("o_orderdate") + expr("INTERVAL 60 DAYS")))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus")
    }
    val oracle = Some(
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)
  }

  /** TPC-H Q21 essence (suppliers who kept orders waiting): for finished
    * ('F') orders, suppliers whose lineitem shipped late where (a) another
    * supplier participated in the same order — EXISTS, left-semi — and (b)
    * no OTHER supplier also shipped late — NOT EXISTS, left-anti. Both
    * probes are self-joins of the SAME orderdated-lineitem frame on
    * orderkey with a suppkey inequality, so the frame is computed once,
    * and both probe joins shuffle on the same key the frame already
    * shuffled on (no extra exchange under AQE reuse). Top 20 by
    * TakeOrdered, never a global sort. */
  val qTpchQ21: Q = new Q {
    val name = "q_tpch_q21"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val ordF = Tables.orders(spark, dir)
        .where(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val li = Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(ordF, col("l_orderkey") === col("o_orderkey"))
        .withColumn("late", col("l_shipdate") > (col("o_orderdate") + expr("INTERVAL 60 DAYS")))
        .select("l_orderkey", "l_suppkey", "late")
      val l1 = li.where(col("late"))
      val others = li.select(col("l_orderkey").as("o_key"), col("l_suppkey").as("o_supp"),
        col("late").as("o_late"))
      val waited = l1
        .join(others,
          col("l_orderkey") === col("o_key") && col("l_suppkey") =!= col("o_supp"),
          "left_semi")
        .join(others.where(col("o_late")),
          col("l_orderkey") === col("o_key") && col("l_suppkey") =!= col("o_supp"),
          "left_anti")
      waited.groupBy("l_suppkey")
        .agg(count(lit(1)).as("numwait"))
        .join(Tables.supplier(spark, dir).select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }
    val oracle = Some(
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey,
        |    (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |waited AS (
        |  SELECT l1.l_orderkey, l1.l_suppkey
        |  FROM li l1
        |  WHERE l1.late
        |    AND EXISTS (SELECT 1 FROM li l2
        |                WHERE l2.l_orderkey = l1.l_orderkey
        |                  AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM li l3
        |                    WHERE l3.l_orderkey = l1.l_orderkey
        |                      AND l3.l_suppkey <> l1.l_suppkey
        |                      AND l3.late))
        |SELECT s_name, count(*) AS numwait
        |FROM waited JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin)
  }

  /** TPC-H Q22 essence (global sales opportunity): customers in 7
    * "country codes" (nationkeys) with above-average positive balance and
    * no orders. The average threshold decorrelates to a broadcast 1-row
    * (count, sum) aggregate and the comparison is integer-exact
    * (bal·cnt > sum in cents — no float division); "dormant" mirrors the
    * original's last-7-years window — no orders since the cutoff — as a
    * left-anti join whose date filter reaches the orders scan (every
    * customer here has SOME order, so an unwindowed NOT EXISTS would be
    * vacuously empty). */
  val qTpchQ22: Q = new Q {
    val name = "q_tpch_q22"
    private val Codes = Seq(1, 3, 5, 7, 9, 11, 13)
    private val Cutoff = "2000-01-01"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val cust = Tables.customer(spark, dir)
        .where(col("c_nationkey").isin(Codes: _*))
        .select(col("c_custkey"), col("c_nationkey"),
          cents(col("c_acctbal")).as("bal_cents"))
      val posStats = cust.where(col("bal_cents") > 0)
        .agg(count(lit(1)).as("pos_cnt"), sum("bal_cents").as("pos_sum"))
      cust.join(posStats)
        .where(col("bal_cents") * col("pos_cnt") > col("pos_sum"))
        .join(Tables.orders(spark, dir)
            .where(col("o_orderdate") >= lit(Cutoff).cast("timestamp"))
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"), sum("bal_cents").as("totacctbal_cents"))
        .orderBy("cntrycode")
    }
    val oracle = Some(
      s"""WITH cust AS (
         |  SELECT c_custkey, c_nationkey,
         |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
         |  FROM customer WHERE c_nationkey IN (${Codes.mkString(", ")})),
         |pos AS (SELECT count(*) AS pos_cnt, CAST(sum(bal_cents) AS BIGINT) AS pos_sum
         |        FROM cust WHERE bal_cents > 0)
         |SELECT c_nationkey AS cntrycode, count(*) AS numcust,
         |  CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents
         |FROM cust, pos
         |WHERE bal_cents * pos_cnt > pos_sum
         |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |                  AND o_orderdate >= TIMESTAMP '$Cutoff')
         |GROUP BY c_nationkey ORDER BY cntrycode""".stripMargin)
  }

  val all: Seq[Q] = Seq(qTpchQ1, qTpchQ12, qTpchQ21, qTpchQ22)
}
