package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Second analytic-SQL wave: the classic selective-join report (TPC-H Q3
  * shape), wide↔long reshaping (pivot + unpivot round-trip), correlated
  * EXISTS / NOT EXISTS decorrelation, correlated LATERAL top-n subqueries,
  * and deterministic hash sampling.
  *
  * Scale shape: Q3 broadcasts only the filtered customer key set and lets
  * the orders⋈lineitem equi-join shuffle on the join key (AQE picks the
  * physical strategy at real scale); unpivot is a per-row Expand with no
  * shuffle beyond its input aggregate; EXISTS/LATERAL decorrelate into
  * aggregate-then-join plans rather than per-row subquery execution; md5
  * sampling is a pure scan-side filter — no shuffle, no sort, the way a
  * 100 TB corpus gets a fixed-rate deterministic sample. */
object AdvancedQueries {

  private def cents(c: Column) = Q.cents(c)

  /** TPC-H Q3 shape: segment-filtered customers × date-filtered orders ×
    * date-filtered lineitems, revenue per order, top-10. The customer key
    * set is the only broadcast side; at 100 TB orders⋈lineitem stays a
    * shuffled equi-join (both sides filter-pruned at the scan — the date
    * predicates reach PushedFilters). */
  val qTpchQ3: Q = new Q {
    val name = "q_tpch_q3"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val cut = lit("1998-07-01").cast("timestamp")
      val cust = Tables.customer(spark, dir)
        .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = Tables.orders(spark, dir)
        .where(col("o_orderdate") < cut)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = Tables.lineitem(spark, dir)
        .where(col("l_shipdate") > cut)
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("rev"))
      val co = ord.join(cust, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
      li.join(co, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(sum("rev").as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_orderdate", "revenue_cents")
    }
    val oracle = Some(
      """SELECT o_orderkey, o_orderdate,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-07-01'
        |  AND l_shipdate > TIMESTAMP '1998-07-01'
        |GROUP BY 1, 2
        |ORDER BY revenue_cents DESC, o_orderkey
        |LIMIT 10""".stripMargin)
  }

  /** Wide↔long reshape: pivot revenue to (linestatus × returnflag) columns,
    * then unpivot (melt) back to long form — the oracle computes the long
    * form directly, so the round-trip must be lossless. Missing grid cells
    * surface as NULL after unpivot and are dropped to match the direct
    * aggregation. */
  val qUnpivotReturns: Q = new Q {
    val name = "q_unpivot_returns"
    def run(spark: SparkSession, dir: String): DataFrame = {
      // both sides restrict to the explicit pivot value list, so the
      // round-trip is lossless by construction even if the data ever grows
      // a flag outside {A,N,R} (pivot would silently drop it; the oracle's
      // direct GROUP BY would not)
      val wide = Tables.lineitem(spark, dir)
        .where(col("l_returnflag").isin("A", "N", "R"))
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(cents(col("l_extendedprice"))))
      wide.unpivot(Array(col("l_linestatus")),
          Array(col("A"), col("N"), col("R")), "returnflag", "rev_cents")
        .where(col("rev_cents").isNotNull)
        .orderBy("l_linestatus", "returnflag")
    }
    val oracle = Some(
      """SELECT l_linestatus, l_returnflag AS returnflag,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem
        |WHERE l_returnflag IN ('A', 'N', 'R')
        |GROUP BY 1, 2
        |ORDER BY l_linestatus, returnflag""".stripMargin)
  }

  /** Correlated EXISTS + NOT EXISTS through the SQL parser — Catalyst
    * decorrelates both into semi/anti joins (one pass over orders each,
    * never per-customer subquery execution). */
  val qExistsCustomers: Q = new Q {
    val name = "q_exists_customers"
    private def sql(cust: String, ord: String) =
      s"""SELECT c_custkey, c_name
         |FROM $cust c
         |WHERE EXISTS (SELECT 1 FROM $ord o
         |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
         |  AND NOT EXISTS (SELECT 1 FROM $ord o
         |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
         |ORDER BY c_custkey""".stripMargin
    def run(spark: SparkSession, dir: String): DataFrame = {
      Tables.customer(spark, dir).createOrReplaceTempView("graft_ex_customer")
      Tables.orders(spark, dir).createOrReplaceTempView("graft_ex_orders")
      try spark.sql(sql("graft_ex_customer", "graft_ex_orders"))
      finally {
        spark.catalog.dropTempView("graft_ex_customer")
        spark.catalog.dropTempView("graft_ex_orders")
      }
    }
    val oracle = Some(sql("customer", "orders"))
  }

  /** Correlated LATERAL subquery with ORDER BY + LIMIT: top-2 customers by
    * balance per nation. Catalyst plans the correlated limit as a
    * partitioned window top-n, not a per-nation re-scan. */
  val qLateralTopn: Q = new Q {
    val name = "q_lateral_topn"
    private def sql(nat: String, cust: String) =
      s"""SELECT n.n_name, t.c_custkey, t.bal_cents
         |FROM $nat n, LATERAL (
         |  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
         |  FROM $cust c WHERE c.c_nationkey = n.n_nationkey
         |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
         |ORDER BY n.n_name, t.bal_cents DESC, t.c_custkey""".stripMargin
    def run(spark: SparkSession, dir: String): DataFrame = {
      Tables.nation(spark, dir).createOrReplaceTempView("graft_lat_nation")
      Tables.customer(spark, dir).createOrReplaceTempView("graft_lat_customer")
      try spark.sql(sql("graft_lat_nation", "graft_lat_customer"))
      finally {
        spark.catalog.dropTempView("graft_lat_nation")
        spark.catalog.dropTempView("graft_lat_customer")
      }
    }
    val oracle = Some(sql("nation", "customer"))
  }

  /** Deterministic ~10% sample via md5 prefix (hex '00'..'19' = 26/256):
    * engine-agnostic (md5 is md5 everywhere, unlike xxhash64/hash whose
    * algorithms differ between Spark and DuckDB), reproducible across runs
    * and cluster sizes, and a pure scan-side filter — sampling a 100 TB
    * table costs one filtered scan, no shuffle. */
  val qSampleMd5: Q = new Q {
    val name = "q_sample_md5"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.orders(spark, dir)
        .where(substring(md5(col("o_orderkey").cast("string")), 1, 2) < "1a")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("rev_cents"))
        .orderBy("o_orderstatus")
    val oracle = Some(
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM orders
        |WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** SCD-2 history build via gaps-and-islands: collapse each customer's
    * consecutive same-status order runs into [valid_from, valid_to)
    * intervals with a current-row flag. Runs are numbered with a
    * change-flag running sum (island = sum of status≠lag(status)), so BOTH
    * windows partition by the customer key alone — one exchange feeds the
    * whole history build, where the row_number-difference trick would
    * shuffle the full fact twice on different keys. run_id is chronological
    * and unique per customer, making every downstream ordering total. */
  val qScd2OrderStatus: Q = new Q {
    val name = "scd2_order_status"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val runs = Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"), col("o_orderkey"))
        .withColumn("chg",
          when(col("o_orderstatus") === lag("o_orderstatus", 1).over(w), lit(0L))
            .otherwise(lit(1L)))
        .withColumn("run_id",
          sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      runs.groupBy("o_custkey", "o_orderstatus", "run_id")
        .agg(min("o_orderdate").as("valid_from"),
          count(lit(1)).as("n_orders"))
        .withColumn("valid_to",
          lead("valid_from", 1).over(
            Window.partitionBy("o_custkey").orderBy("run_id")))
        .withColumn("is_current", col("valid_to").isNull.cast("int").cast("long"))
        .select(col("o_custkey"), col("o_orderstatus"), col("run_id"),
          col("valid_from"), col("valid_to"), col("n_orders"), col("is_current"))
        .orderBy("o_custkey", "run_id")
    }
    val oracle = Some(
      """WITH flagged AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    CASE WHEN o_orderstatus = lag(o_orderstatus) OVER w
        |         THEN 0 ELSE 1 END AS chg
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |runs AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate,
        |    sum(chg) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM flagged),
        |islands AS (
        |  SELECT o_custkey, o_orderstatus, run_id,
        |    min(o_orderdate) AS valid_from, count(*) AS n_orders
        |  FROM runs GROUP BY 1, 2, 3)
        |SELECT o_custkey, o_orderstatus, CAST(run_id AS BIGINT) AS run_id, valid_from,
        |  lead(valid_from, 1) OVER w2 AS valid_to,
        |  n_orders,
        |  CAST(CASE WHEN lead(valid_from, 1) OVER w2 IS NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_current
        |FROM islands
        |WINDOW w2 AS (PARTITION BY o_custkey ORDER BY run_id)
        |ORDER BY o_custkey, run_id""".stripMargin)
  }

  /** Remaining analytic window functions in one sweep: lead, first_value,
    * nth_value, percent_rank, cume_dist over the per-customer order
    * timeline (rank/dense_rank/ntile and lag live in q_rank_functions and
    * the user pipeline). One shuffle: every window shares the partition
    * and ordering. */
  val qWindowAnalytics: Q = new Q {
    val name = "q_window_analytics"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          lead("o_orderkey", 1).over(w).as("next_orderkey"),
          first("o_orderkey").over(w).as("first_orderkey"),
          nth_value(col("o_orderkey"), 2).over(wf).as("second_orderkey"),
          round(percent_rank().over(w) * 1e6).cast("long").as("pct_rank_e6"),
          round(cume_dist().over(w) * 1e6).cast("long").as("cume_dist_e6"))
        .orderBy("o_custkey", "o_orderkey")
    }
    val oracle = Some(
      """SELECT o_custkey, o_orderkey,
        |  lead(o_orderkey, 1) OVER w AS next_orderkey,
        |  first_value(o_orderkey) OVER w AS first_orderkey,
        |  nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS second_orderkey,
        |  CAST(round(percent_rank() OVER w * 1e6) AS BIGINT) AS pct_rank_e6,
        |  CAST(round(cume_dist() OVER w * 1e6) AS BIGINT) AS cume_dist_e6
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  /** Spark 4 VARIANT path for semi-structured data: parse_json once into
    * the binary variant encoding, then typed variant_get extraction — at
    * scale this beats per-access get_json_object re-parsing (q_events_json
    * keeps the string-path twin). Aggregates must match the string path
    * bit-for-bit. */
  val qVariantExtract: Q = new Q {
    val name = "q_variant_extract"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.events(spark, dir)
        .withColumn("v", parse_json(col("props")))
        .withColumn("k", expr("variant_get(v, '$.k', 'bigint')"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          avg("k").cast("double").as("avg_k_raw"))
        .select(col("event_type"), col("n"), col("sum_k"),
          round(col("avg_k_raw") * 1e4).cast("long").as("avg_k_e4"))
        .orderBy("event_type")
    val oracle = Some(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(round(avg(k) * 1e4) AS BIGINT) AS avg_k_e4
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** regexp_extract_all + split + array slicing over documents — arrays are
    * reduced to scalars (counts, joined prefixes) so the verifier can
    * compare them. Pure per-row narrow work: no shuffle before the final
    * sort at any scale. */
  val qRegexpArrays: Q = new Q {
    val name = "q_regexp_arrays"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[a-z]{5,}"), lit(0)))
            .cast("long").as("n_long_words"),
          array_join(slice(split(col("text"), " "), 1, 3), "_").as("prefix3"),
          length(regexp_replace(col("text"), "[aeiou]", "")).cast("long")
            .as("n_consonant_chars"))
        .orderBy("doc_id")
    val oracle = Some(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z]{5,}', 0)) AS BIGINT) AS n_long_words,
        |  array_to_string(list_slice(string_split(text, ' '), 1, 3), '_') AS prefix3,
        |  CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
        |    AS n_consonant_chars
        |FROM documents ORDER BY doc_id""".stripMargin)
  }

  /** Recursive CTE (Spark 4): per-region linked-list walk over the nation
    * dimension — a window derives predecessor edges, the recursion follows
    * them counting depth. Iterative graph traversal inside one SQL
    * statement; each recursion step is a self-contained join, so at scale
    * the iteration count is the chain depth, not the row count (the same
    * fixpoint shape as DedupOps.connectedComponents). */
  val qRecursiveWalk: Q = new Q {
    val name = "q_recursive_walk"
    private def sql(nat: String) =
      s"""WITH RECURSIVE base AS (
         |  SELECT n_nationkey, n_regionkey,
         |    lag(n_nationkey) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey)
         |      AS prev_key
         |  FROM $nat),
         |walk(n_nationkey, n_regionkey, depth) AS (
         |  SELECT n_nationkey, n_regionkey, CAST(0 AS BIGINT)
         |  FROM base WHERE prev_key IS NULL
         |  UNION ALL
         |  SELECT b.n_nationkey, b.n_regionkey, w.depth + 1
         |  FROM walk w JOIN base b ON b.prev_key = w.n_nationkey)
         |SELECT CAST(n_regionkey AS BIGINT) AS region_key,
         |       CAST(n_nationkey AS BIGINT) AS nation_key, depth
         |FROM walk ORDER BY region_key, depth, nation_key""".stripMargin
    def run(spark: SparkSession, dir: String): DataFrame = {
      Tables.nation(spark, dir).createOrReplaceTempView("graft_rec_nation")
      try spark.sql(sql("graft_rec_nation"))
      finally spark.catalog.dropTempView("graft_rec_nation")
    }
    val oracle = Some(sql("nation"))
  }

  /** NULL-semantics parity: nulls synthesized with nullif, grouped (NULL is
    * its own group), counted (count(col) skips nulls, count(*) doesn't),
    * probed with null-safe equality, and ordered with an EXPLICIT NULLS
    * FIRST — Spark sorts nulls first by default, DuckDB last, so implicit
    * ordering is an engine-divergence trap this query pins down. */
  val qNullSemantics: Q = new Q {
    val name = "q_null_semantics"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.customer(spark, dir)
        .groupBy(expr("nullif(c_nationkey % 5, 2)").as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          count(expr("nullif(c_nationkey % 5, 2)")).as("n_nonnull"),
          // <=> against NULL is TRUE exactly for the NULL group (plain = would
          // be NULL everywhere) — the probe distinguishes null-safe equality
          max(expr("CAST(nullif(c_nationkey % 5, 2) <=> CAST(NULL AS INT) AS INT)"))
            .cast("long").as("is_null_bucket"),
          sum(cents(col("c_acctbal"))).as("bal_cents"))
        .orderBy(col("bucket").asc_nulls_first)
    val oracle = Some(
      """SELECT nullif(c_nationkey % 5, 2) AS bucket,
        |  count(*) AS n_rows,
        |  count(nullif(c_nationkey % 5, 2)) AS n_nonnull,
        |  CAST(max(CASE WHEN nullif(c_nationkey % 5, 2) IS NOT DISTINCT FROM NULL
        |               THEN 1 ELSE 0 END) AS BIGINT) AS is_null_bucket,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
        |FROM customer
        |GROUP BY 1 ORDER BY bucket NULLS FIRST""".stripMargin)
  }

  /** OFFSET/LIMIT pagination (page 6 of 20 over key-ordered orders).
    * Engine-parity surface: Spark 3.4+ `Dataset.offset` plans a global
    * CollectLimit with skip — correct, but at 100 TB every page pays the
    * full ordered prefix, so the SCALE path is keyset pagination
    * (`WHERE o_orderkey > last_seen ORDER BY ... LIMIT n` — a pure
    * scan-range predicate; PlanSpec proves the two agree). */
  val qPagination: Q = new Q {
    val name = "q_pagination"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), cents(col("o_totalprice")).as("price_cents"))
        .orderBy("o_orderkey")
        .offset(100)
        .limit(20)
    val oracle = Some(
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 100""".stripMargin)
  }

  /** CDC changelog replay (changelog compaction): a synthetic I/U/D change
    * stream is derived from orders by key congruence — every key inserts
    * (seq 1), keys ≡ 0 mod 3 update price +$10 (seq 2), keys ≡ 0 mod 5
    * delete (seq 3) — and replayed to the final table state: latest op per
    * key wins (one row_number window keyed by the primary key), deletes
    * drop the row. This is the APPLY step of a CDC pipeline (Debezium-
    * style log → table), complementing `scd2_order_status` (history
    * build), `lake_merge_upsert` (two-version merge), and `q_table_diff`
    * (reconciliation). Output is per-status live-row stats plus a key
    * checksum so the replayed STATE is value-checked, not just counted.
    *
    * Scale shape: the changelog is generated and replayed in one pass —
    * union of narrow projections, one hash exchange on the key for the
    * latest-wins window, one aggregate. Log depth per key is bounded (≤3
    * here; real logs bound it by compaction cadence), so the window state
    * is O(ops-per-key). */
  val qCdcReplay: Q = new Q {
    val name = "q_cdc_replay"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          cents(col("o_totalprice")).as("v"))
      val log = o.select(col("k"), col("st"), lit("I").as("op"),
          lit(1L).as("seq"), col("v"))
        .unionAll(o.where(col("k") % 3 === 0)
          .select(col("k"), col("st"), lit("U").as("op"), lit(2L).as("seq"),
            (col("v") + 1000L).as("v")))
        .unionAll(o.where(col("k") % 5 === 0)
          .select(col("k"), col("st"), lit("D").as("op"), lit(3L).as("seq"),
            lit(0L).as("v")))
      val latest = log
        .withColumn("rn", row_number().over(
          Window.partitionBy("k").orderBy(col("seq").desc)))
        .where(col("rn") === 1)
      latest.groupBy("st")
        .agg(sum(when(col("op") =!= "D", 1L).otherwise(0L)).as("n_live"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deleted"),
          sum(when(col("op") =!= "D", col("v")).otherwise(0L)).as("live_cents"),
          sum(when(col("op") =!= "D", col("k") % 1000000007L).otherwise(0L))
            .as("key_checksum"))
        .orderBy("st")
        .withColumnRenamed("st", "o_orderstatus")
    }
    val oracle = Some(
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |log AS (
        |  SELECT k, st, 'I' AS op, 1 AS seq, v FROM o
        |  UNION ALL
        |  SELECT k, st, 'U', 2, v + 1000 FROM o WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k, st, 'D', 3, 0 FROM o WHERE k % 5 = 0),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |    FROM log) t
        |  WHERE rn = 1)
        |SELECT st AS o_orderstatus,
        |  CAST(sum(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
        |  CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
        |  CAST(sum(CASE WHEN op <> 'D' THEN v ELSE 0 END) AS BIGINT) AS live_cents,
        |  CAST(sum(CASE WHEN op <> 'D' THEN k % 1000000007 ELSE 0 END) AS BIGINT)
        |    AS key_checksum
        |FROM latest GROUP BY st ORDER BY st""".stripMargin)
  }

  val all: Seq[Q] = Seq(qTpchQ3, qPagination, qUnpivotReturns, qExistsCustomers,
    qLateralTopn, qSampleMd5, qScd2OrderStatus, qWindowAnalytics,
    qVariantExtract, qRegexpArrays, qRecursiveWalk, qNullSemantics, qCdcReplay)
}
