package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-behavior probe: replicate the FACT tables N× with shifted keys
  * (dims stay fixed — the realistic growth shape: facts accrete, dimensions
  * don't), run representative catalog queries at 1× and N×, and print the
  * warm-time ratio per query. Near-linear ratios (≲ N) are the evidence
  * that a plan's shuffle/agg structure survives scale-up; super-linear
  * ratios flag a plan that would fall over at 100 TB.
  *
  * Key shifting keeps join consistency: l_orderkey/o_orderkey shift
  * together; o_custkey, user_id stay (more activity per entity over a
  * longer window). documents/embeddings replicate content verbatim, which
  * makes dedup/ANN probes WORST-case (every replica is a near-dup / exact
  * tie).
  *
  * The `users` mode scales the USER dimension instead (VERDICT r8 item 7):
  * every events replica shifts user_id too, so N× replicas = N× distinct
  * users with facts proportional and per-user activity CONSTANT. The
  * default mode (facts ×N, users fixed) cannot see per-user state growth
  * or a user-grain broadcast going superlinear — this axis can.
  *
  * The `dims` mode scales the part/customer DIMENSIONS with facts
  * (VERDICT r9 item 4): every replica shifts p_partkey/c_custkey AND the
  * fact foreign keys consistently, so N× = N DISJOINT copies of the base
  * world. This is the fair axis for the co-purchase graph family: the
  * default facts-×N-over-fixed-dims mode densifies the part-pair graph
  * quadratically (every order replica re-pairs the SAME parts), which
  * reads as super-linearity even for a perfectly sharded plan; under
  * disjoint-world scaling a well-shaped graph plan must be near-linear.
  *
  * Usage: runMain graft.tools.ScaleProbe [users|dims] [replicas] [query...]
  */
object ScaleProbe {
  private val KeyStride = 1000000000000L // far above any real key

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("users")) return usersMain(args.tail)
    if (args.headOption.contains("dims")) return dimsMain(args.tail)
    val replicas = if (args.nonEmpty) args(0).toInt else 10
    val names = if (args.length > 1) args.tail.toSeq else Seq(
      "q1_agg", "q_tpch_q3", "q_topk_orders_agg", "scd2_order_status",
      "q_windowed_counts", "dedup_minhash_lsh", "ann_ivf_topk",
      "geo_enrich", "zone_report", "q_sessionize",
      // round-4 wave (keys-insensitive semantics only: packed-BIGINT
      // tie-breaks like q_minmax_by assume unshifted key ranges)
      "q_skew_twophase_agg", "q_ohlc_daily", "q_set_ops_all",
      "q_string_agg", "doc_salient_term",
      // session-2 wave: TPC-H shapes, custom broadcast as-of join, DPP
      "q_tpch_q5", "q_tpch_q10", "q_tpch_q18",
      "q_asof_broadcast_value", "q_dpp_month_revenue",
      "q_tpch_q13", "q_tpch_q17", "q_rolling_distinct_users",
      // round-5 wave: TPC-H closeout, retrieval, lake ops, time series
      "q_tpch_q1", "q_tpch_q21", "bm25_topk", "q_table_diff",
      "q_zorder_layout", "pq_codes", "q_ewma_revenue", "q_incremental_agg")
    val base = "/root/testdata/sf0.1"
    val scaled = s"/tmp/graft_scale/x$replicas"
    val spark = graft.Sessions.local()

    buildScaled(spark, base, scaled, replicas)

    report(spark, names, base, scaled, s"replicas=$replicas")
  }

  /** User-dimension arm: events ×N with user_id AND event_id shifted per
    * replica — N× distinct users, per-user activity constant. Sub-linear-
    * to-linear wall ratios prove no per-user state or pair space grows
    * faster than the user count (the axis the fixed-dims probe cannot
    * exercise: it was exactly how the user-grain broadcast hint in
    * `recommendations` stayed invisible through r8). */
  private def usersMain(args: Array[String]): Unit = {
    val replicas = if (args.nonEmpty) args(0).toInt else 10
    val names = if (args.length > 1) args.tail.toSeq else Seq(
      "recommendations", "recommendations_grid_full", "q_cohort_retention",
      "q_user_ltv", "user_city_mart", "q_attribution_first_touch",
      "q_sessionize", "user_home_city")
    val base = "/root/testdata/sf0.1"
    val scaled = s"/tmp/graft_scale/users_x$replicas"
    val spark = graft.Sessions.local()
    if (!new java.io.File(s"$scaled/_done").exists()) {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$base/$t.parquet")
          .write.mode(SaveMode.Overwrite).parquet(s"$scaled/$t.parquet")
      }
      (0 until replicas).map { i =>
        graft.Tables.events(spark, base)
          .withColumn("event_id", col("event_id") + lit(i * KeyStride))
          .withColumn("user_id", col("user_id") + lit(i * KeyStride))
      }.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$scaled/events.parquet")
      new java.io.File(s"$scaled/_done").createNewFile()
    }
    report(spark, names, base, scaled, s"users x$replicas, facts proportional")
  }

  /** Dims arm: part/customer/supplier dims ×N with all fact foreign keys
    * shifted per replica — N disjoint copies of the base world. Output
    * cardinality scales exactly ×N, so wall ratios ≲ N certify the plan
    * shards; a super-linear ratio HERE (unlike the fixed-dims arm, where
    * fact replication densifies pair graphs quadratically) is a genuine
    * scale bug. region/nation stay (c_nationkey unshifted remains valid);
    * events/documents/embeddings copy verbatim — not this axis. */
  private def dimsMain(args: Array[String]): Unit = {
    val replicas = if (args.nonEmpty) args(0).toInt else 10
    val names = if (args.length > 1) args.tail.toSeq else Seq(
      "q_copurchase_edges", "q_pagerank", "q_graph_triangles", "q_graph_cc",
      "q_link_prediction", "q_label_propagation", "q_kcore",
      "q_hits_bipartite", "q_degree_histogram", "q_graph_assortativity",
      "q_assoc_rules", "q_item_cf")
    val base = "/root/testdata/sf0.1"
    val scaled = s"/tmp/graft_scale/dims_x$replicas"
    val spark = graft.Sessions.local()
    if (!new java.io.File(s"$scaled/_done").exists()) {
      def reps(df: DataFrame, shifted: Seq[String]): DataFrame =
        (0 until replicas).map { i =>
          shifted.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * KeyStride)))
        }.reduce(_ unionByName _)
      Seq("region", "nation").foreach { t =>
        spark.read.parquet(s"$base/$t.parquet")
          .write.mode(SaveMode.Overwrite).parquet(s"$scaled/$t.parquet")
      }
      Seq("documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$base/$t.parquet")
          .write.mode(SaveMode.Overwrite).parquet(s"$scaled/$t.parquet")
      }
      graft.Tables.events(spark, base)
        .write.mode(SaveMode.Overwrite).parquet(s"$scaled/events.parquet")
      reps(spark.read.parquet(s"$base/part.parquet"), Seq("p_partkey"))
        .write.mode(SaveMode.Overwrite).parquet(s"$scaled/part.parquet")
      reps(spark.read.parquet(s"$base/customer.parquet"), Seq("c_custkey"))
        .write.mode(SaveMode.Overwrite).parquet(s"$scaled/customer.parquet")
      reps(spark.read.parquet(s"$base/supplier.parquet"), Seq("s_suppkey"))
        .write.mode(SaveMode.Overwrite).parquet(s"$scaled/supplier.parquet")
      reps(spark.read.parquet(s"$base/orders.parquet"),
        Seq("o_orderkey", "o_custkey"))
        .write.mode(SaveMode.Overwrite).parquet(s"$scaled/orders.parquet")
      reps(spark.read.parquet(s"$base/lineitem.parquet"),
        Seq("l_orderkey", "l_partkey", "l_suppkey"))
        .write.mode(SaveMode.Overwrite).parquet(s"$scaled/lineitem.parquet")
      new java.io.File(s"$scaled/_done").createNewFile()
    }
    report(spark, names, base, scaled, s"dims+facts x$replicas, disjoint worlds")
  }

  /** Warm 1× vs N× seconds and their ratio, one line per query; then
    * stops the session. */
  private def report(spark: SparkSession, names: Seq[String], base: String,
                     scaled: String, label: String): Unit = {
    val qs = graft.SparkEntry.queries
    println(f"${"query"}%-28s ${"t1x_warm"}%10s ${"tNx_warm"}%10s  ratio ($label)")
    names.foreach { name =>
      val t1 = warm(spark, qs(name), base)
      val tN = warm(spark, qs(name), scaled)
      println(f"$name%-28s $t1%9.2fs $tN%9.2fs  ${tN / t1}%5.1fx")
    }
    spark.stop()
  }

  // measurement recipe mirrors graft.Bench.pass (NoopRun, min over passes)
  // so probe numbers stay comparable to BENCH — change both together
  private def warm(spark: SparkSession,
                   fn: (SparkSession, String) => DataFrame, dir: String): Double =
    (1 to 2).map(_ => graft.NoopRun(spark)(fn(spark, dir)).seconds).min

  private def buildScaled(spark: SparkSession, base: String, out: String,
                          replicas: Int): Unit = {
    if (new java.io.File(s"$out/_done").exists()) return
    def reps(df: DataFrame, shifts: Map[String, Boolean]): DataFrame =
      (0 until replicas).map { i =>
        shifts.foldLeft(df) { case (d, (c, shift)) =>
          if (shift) d.withColumn(c, col(c) + lit(i * KeyStride)) else d
        }
      }.reduce(_ unionByName _)

    val copyAsIs = Seq("region", "nation", "customer", "supplier", "part")
    copyAsIs.foreach { t =>
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
    }
    reps(spark.read.parquet(s"$base/orders.parquet"),
      Map("o_orderkey" -> true))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/orders.parquet")
    reps(spark.read.parquet(s"$base/lineitem.parquet"),
      Map("l_orderkey" -> true))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/lineitem.parquet")
    // events goes through THE loader so ts is normalized whatever the
    // fixture encoding; replicas land as TimestampType (loader pass-through)
    reps(graft.Tables.events(spark, base),
      Map("event_id" -> true))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/events.parquet")
    reps(spark.read.parquet(s"$base/documents.parquet"),
      Map("doc_id" -> true))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    reps(spark.read.parquet(s"$base/embeddings.parquet"),
      Map("vec_id" -> true))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    new java.io.File(s"$out/_done").createNewFile()
    ()
  }
}
