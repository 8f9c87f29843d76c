package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Sinks

/** The five TPC-H shapes that need a `partsupp` table — Q2, Q9, Q11, Q16,
  * Q20 — over a partsupp DERIVED from the data that exists: the distinct
  * (l_partkey, l_suppkey) pairs actually traded in `lineitem`, with
  * availqty/supplycost computed as pure integer functions of the keys.
  * Deriving from lineitem (rather than inventing part×supplier slots)
  * preserves referential integrity with the fact table, which Q9's
  * (partkey, suppkey) join and Q20's correlated shipped-quantity subquery
  * both rely on. The DuckDB oracle derives the identical table with one
  * shared CTE ([[partsuppSql]]), so all five queries stay value-checked.
  *
  * Everything is integer-exact: supplycost is generated in cents (BIGINT),
  * Q11's 0.0001-fraction HAVING is re-expressed as `value*10000 > total`,
  * and Q20's `availqty > 0.5*sum(qty)` as `2*availqty > sum(qty)` — no
  * float thresholds anywhere near the bit-deterministic gate.
  *
  * Scale shape: the derivation is one distinct-shuffle over the fact table,
  * staged ONCE per process to a parquet mart (the lake-staging pattern —
  * at 100 TB partsupp is a maintained dimension you build in the nightly
  * batch, not something each query re-distincts). The five queries then
  * read the staged dimension: part/supplier/nation filters broadcast, the
  * partsupp-side joins shuffle on their keys, and correlated subqueries are
  * decorrelated into aggregate-then-join (Q2 min-cost per part, Q11 scalar
  * total, Q20 per-pair shipped quantity).
  */
object PartsuppQueries {

  private def cents(c: Column) = Q.cents(c)
  private def revCents: Column =
    Q.cents(col("l_extendedprice") * (lit(1) - col("l_discount")))

  /** Oracle-side CTE deriving the identical partsupp table. Availqty and
    * supplycost ranges mirror TPC-H's (1..9999 units, $1.00..$999.99 in
    * cents) via key-mixed integer congruences. */
  val partsuppSql: String =
    """partsupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         (l_partkey*31 + l_suppkey*17) % 9999 + 1 AS ps_availqty,
      |         (l_partkey*37 + l_suppkey*41) % 99900 + 100 AS ps_supplycost_cents
      |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))""".stripMargin

  /** The derived partsupp, staged once per process (pure function of the
    * input dir, so later invocations measure the read path only). */
  def partsupp(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey").distinct()
      .select(
        col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"),
        (((col("l_partkey") * 31) + (col("l_suppkey") * 17)) % 9999 + 1)
          .as("ps_availqty"),
        (((col("l_partkey") * 37) + (col("l_suppkey") * 41)) % 99900 + 100)
          .as("ps_supplycost_cents"))
    val path = graft.ops.Staging.once("/tmp/graft_partsupp", dir, "partsupp")(
      Sinks.writeMart(src, _))
    // explicit schema: an empty input writes a file-less dir
    spark.read.schema(src.schema).parquet(path)
  }

  /** TPC-H Q2 (minimum-cost supplier): for small ECONOMY parts, the
    * EUROPE supplier(s) offering each part at its EUROPE-wide minimum
    * cost. The correlated `= (SELECT min(...))` decorrelates into a
    * per-part min aggregate joined back on (partkey, cost); the
    * supplier×nation×region side is a bounded broadcast dim, so the only
    * shuffle is partsupp's groupBy — the plan that survives when partsupp
    * is billions of pairs. */
  val qTpchQ2: Q = new Q {
    val name = "q_tpch_q2"
    def run(spark: SparkSession, dir: String): DataFrame = {
      // hint kept: without it both partsupp joins build the partsupp side
      val euroSupp = broadcast(
        Tables.supplier(spark, dir)
          // hint kept: without it both supplier joins build the supplier side
          .join(broadcast(Tables.nation(spark, dir)
            .join(Tables.region(spark, dir).where(col("r_name") === "EUROPE"),
              col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
      val euroPs = partsupp(spark, dir)
        .join(euroSupp, col("ps_suppkey") === col("s_suppkey"))
      val minCost = euroPs.groupBy(col("ps_partkey").as("mc_partkey"))
        .agg(min("ps_supplycost_cents").as("min_cost_cents"))
      val parts =
        Tables.part(spark, dir)
          .where(col("p_size") <= 10 && col("p_type") === "ECONOMY")
          .select("p_partkey", "p_brand")
      euroPs
        .join(minCost, col("ps_partkey") === col("mc_partkey") &&
          col("ps_supplycost_cents") === col("min_cost_cents"))
        .join(parts, col("ps_partkey") === col("p_partkey"))
        .select(cents(col("s_acctbal")).as("s_acctbal_e2"),
          col("s_name"), col("n_name"), col("p_partkey"), col("p_brand"),
          col("ps_supplycost_cents"))
        .orderBy(col("s_acctbal_e2").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }
    val oracle = Some(
      s"""WITH $partsuppSql
         |SELECT CAST(round(s_acctbal * 100) AS BIGINT) AS s_acctbal_e2,
         |  s_name, n_name, p_partkey, p_brand, ps_supplycost_cents
         |FROM part, supplier, partsupp, nation, region
         |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
         |  AND p_size <= 10 AND p_type = 'ECONOMY'
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'EUROPE'
         |  AND ps_supplycost_cents = (
         |    SELECT min(ps2.ps_supplycost_cents)
         |    FROM partsupp ps2, supplier s2, nation n2, region r2
         |    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
         |      AND s2.s_nationkey = n2.n_nationkey
         |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
         |ORDER BY s_acctbal_e2 DESC, n_name, s_name, p_partkey
         |LIMIT 100""".stripMargin)
  }

  /** TPC-H Q9 (product type profit): profit = revenue − supply cost, by
    * supplier nation and order year, for parts matching a name pattern.
    * The classic 6-way star: part filter and supplier/nation broadcast;
    * the two fact-side joins shuffle on different keys — (partkey,
    * suppkey) against partsupp, then orderkey against orders — with the
    * profit expression computed per lineitem before the final groupBy. */
  val qTpchQ9: Q = new Q {
    val name = "q_tpch_q9"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val redParts =
        Tables.part(spark, dir).where(col("p_name").like("%red%"))
          .select("p_partkey")
      val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name")
      val ord = Tables.orders(spark, dir)
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
      val ps = partsupp(spark, dir)
        .select("ps_partkey", "ps_suppkey", "ps_supplycost_cents")
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          revCents.as("rev_cents"), round(col("l_quantity")).cast("long").as("qty"))
        .join(redParts, col("l_partkey") === col("p_partkey"))
        .join(ps, col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(sum(col("rev_cents") - col("ps_supplycost_cents") * col("qty"))
          .as("profit_cents"))
        .orderBy(col("nation"), col("o_year").desc)
    }
    val oracle = Some(
      s"""WITH $partsuppSql,
         |profit AS (
         |  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
         |      - ps_supplycost_cents * CAST(round(l_quantity) AS BIGINT) AS amount_cents
         |  FROM lineitem, partsupp, part, supplier, orders, nation
         |  WHERE ps_partkey = l_partkey AND ps_suppkey = l_suppkey
         |    AND p_partkey = l_partkey AND s_suppkey = l_suppkey
         |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
         |    AND p_name LIKE '%red%')
         |SELECT nation, o_year, CAST(sum(amount_cents) AS BIGINT) AS profit_cents
         |FROM profit GROUP BY nation, o_year
         |ORDER BY nation, o_year DESC""".stripMargin)
  }

  /** TPC-H Q11 (important stock): per-part inventory value held by one
    * nation's suppliers, keeping parts above a 1/10000 fraction of the
    * national total. The fraction threshold is integer-exact
    * (`value*10000 > total`); the scalar total is a 1-row broadcast
    * cross-join, so the fact side is scanned once and shuffled once. */
  val qTpchQ11: Q = new Q {
    val name = "q_tpch_q11"
    def run(spark: SparkSession, dir: String): DataFrame = {
      // hint kept: one nation's suppliers, estimated as supplier × nation
      val natSupp = broadcast(
        Tables.supplier(spark, dir)
          .join(Tables.nation(spark, dir).where(col("n_name") === "NATION_7"),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey"))
      val byPart = partsupp(spark, dir)
        .join(natSupp, col("ps_suppkey") === col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(sum(col("ps_supplycost_cents") * col("ps_availqty")).as("value_cents"))
      val total = byPart.agg(sum("value_cents").as("total_cents"))
      byPart.join(total)
        .where(col("value_cents") * 10000 > col("total_cents"))
        .select("ps_partkey", "value_cents")
        .orderBy(col("value_cents").desc, col("ps_partkey"))
    }
    val oracle = Some(
      s"""WITH $partsuppSql
         |SELECT ps_partkey,
         |  CAST(sum(ps_supplycost_cents * ps_availqty) AS BIGINT) AS value_cents
         |FROM partsupp, supplier, nation
         |WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
         |  AND n_name = 'NATION_7'
         |GROUP BY ps_partkey
         |HAVING sum(ps_supplycost_cents * ps_availqty) * 10000 > (
         |  SELECT sum(ps_supplycost_cents * ps_availqty)
         |  FROM partsupp, supplier, nation
         |  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
         |    AND n_name = 'NATION_7')
         |ORDER BY value_cents DESC, ps_partkey""".stripMargin)
  }

  /** TPC-H Q16 (parts/supplier relationship): distinct supplier counts by
    * part attributes, excluding one brand, a type prefix, and suppliers
    * with negative balances (the NOT IN — planned as a broadcast
    * anti-join, never a per-row subquery). The countDistinct shuffles on
    * the (brand, type, size) group key with suppkey as the distinct
    * column — partial-agg friendly. */
  val qTpchQ16: Q = new Q {
    val name = "q_tpch_q16"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val parts =
        Tables.part(spark, dir)
          .where(col("p_brand") =!= "Brand#5" && !col("p_type").like("MEDIUM%") &&
            col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
          .select("p_partkey", "p_brand", "p_type", "p_size")
      val badSupp =
        Tables.supplier(spark, dir).where(col("s_acctbal") < 0).select("s_suppkey")
      partsupp(spark, dir)
        .join(parts, col("ps_partkey") === col("p_partkey"))
        .join(badSupp, col("ps_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("ps_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }
    val oracle = Some(
      s"""WITH $partsuppSql
         |SELECT p_brand, p_type, p_size,
         |  count(DISTINCT ps_suppkey) AS supplier_cnt
         |FROM partsupp, part
         |WHERE p_partkey = ps_partkey
         |  AND p_brand <> 'Brand#5' AND p_type NOT LIKE 'MEDIUM%'
         |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
         |  AND ps_suppkey NOT IN (
         |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         |GROUP BY p_brand, p_type, p_size
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)
  }

  /** TPC-H Q20 (potential part promotion): suppliers in one nation whose
    * stock of a red part exceeds half of what they actually shipped in
    * 1997. The correlated shipped-quantity subquery decorrelates into a
    * (partkey, suppkey) aggregate inner-joined back (the inner join
    * reproduces SQL's NULL-comparison exclusion of never-shipped pairs);
    * the half-threshold is the integer-exact `2*availqty > sum(qty)`.
    * The nation-side supplier filter ends as a semi-join, so each
    * supplier prints once no matter how many parts qualify. */
  val qTpchQ20: Q = new Q {
    val name = "q_tpch_q20"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      val shipped = Tables.lineitem(spark, dir)
        .where(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .groupBy("l_partkey", "l_suppkey")
        .agg(round(sum("l_quantity")).cast("long").as("qty"))
      val redParts =
        Tables.part(spark, dir).where(col("p_name").like("red%"))
          .select("p_partkey")
      val candidates = partsupp(spark, dir)
        .join(redParts, col("ps_partkey") === col("p_partkey"))
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .where(col("ps_availqty") * 2 > col("qty"))
        .select("ps_suppkey")
      Tables.supplier(spark, dir)
        .join(Tables.nation(spark, dir).where(col("n_name") === "NATION_3"),
          col("s_nationkey") === col("n_nationkey"))
        .join(candidates, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    }
    val oracle = Some(
      s"""WITH $partsuppSql
         |SELECT s_suppkey, s_name
         |FROM supplier, nation
         |WHERE s_nationkey = n_nationkey AND n_name = 'NATION_3'
         |  AND s_suppkey IN (
         |    SELECT ps_suppkey FROM partsupp
         |    WHERE ps_partkey IN (
         |        SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
         |      AND ps_availqty * 2 > (
         |        SELECT CAST(round(sum(l_quantity)) AS BIGINT) FROM lineitem
         |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
         |          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'))
         |ORDER BY s_name""".stripMargin)
  }

  val all: Seq[Q] = Seq(qTpchQ2, qTpchQ9, qTpchQ11, qTpchQ16, qTpchQ20)
}
