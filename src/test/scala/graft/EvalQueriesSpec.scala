package graft

import graft.queries.{DedupQueries, EvalQueries, VectorQueries}
import org.apache.spark.sql.functions._

/** Invariant specs for the round-9 data-QA wave — properties the DuckDB
  * hash-compare can't express, checked against driver-side recomputations
  * on sf0.001. */
class EvalQueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def halfUp(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  test("q_record_linkage matches a driver-side blocked linkage exactly") {
    val got = EvalQueries.qRecordLinkage.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val cust = Tables.customer(spark, dir)
      .select(col("c_nationkey").cast("long"), col("c_custkey").cast("long"), col("c_name"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val want = (for {
      (n1, k1, s1) <- cust; (n2, k2, s2) <- cust
      if n1 == n2 && k1 < k2
      d = lev(s1, s2) if d <= 2
    } yield (n1, k1, k2, d.toLong)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    assert(want.nonEmpty, "fixture produced no linkage pairs — threshold dead")
  }

  test("split_dedup_aware: total coverage, cluster purity, and no cross-split near-dups") {
    val rows = EvalQueries_split(dir)
    val docs = Tables.documents(spark, dir).count()
    assert(rows.length.toLong == docs, "split must cover every document exactly once")
    assert(rows.map(_._3).toSet.subsetOf(Set("train", "val", "test")))
    // purity: one split per cluster
    rows.groupBy(_._2).foreach { case (c, rs) =>
      assert(rs.map(_._3).toSet.size == 1, s"cluster $c spans splits")
    }
    // the leakage guarantee: no LSH near-dup pair crosses a split boundary
    val split = rows.map(r => r._1 -> r._3).toMap
    val pairs = DedupQueries.minhashPairs(spark, dir)
      .select("id_l", "id_r").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (l, r) => split(l) == split(r) },
      "near-duplicate pair assigned to different splits (eval contamination)")
  }

  private def EvalQueries_split(d: String): Array[(Long, Long, String)] = {
    val rows = DedupQueries.splitDedupAware.run(spark, d).collect()
    spark.catalog.clearCache()
    rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
  }

  test("ann_label_consistency: bounds, arithmetic, and query-set size") {
    val rows = VectorQueries.annLabelConsistency.run(spark, dir).collect()
    val expectedQ = Tables.embeddings(spark, dir)
      .where(col("vec_id") % VectorQueries.QueryStride === 0 &&
        col("vec_id") < VectorQueries.QueryCap).count()
    assert(rows.length.toLong == expectedQ, "one row per query vector")
    rows.foreach { r =>
      val nSame = r.getAs[Long]("n_same")
      assert(nSame >= 0L && nSame <= VectorQueries.TopK)
      assert(r.getAs[Long]("agree_e4") == nSame * 10000L / VectorQueries.TopK)
    }
  }

  test("q_schema_evolution: old batch has no status, new batch fully populated") {
    val rows = EvalQueries.qSchemaEvolution.run(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("batch")).toSeq == Seq(1L, 2L))
    val Seq(b1, b2) = rows.toSeq
    assert(b1.getAs[Long]("n_status") == 0L, "added column must be NULL for the old batch")
    assert(b2.getAs[Long]("n_status") == b2.getAs[Long]("n"), "new batch fully populated")
    val o = Tables.orders(spark, dir).select(col("o_orderkey").cast("long"),
      col("o_totalprice")).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(b1.getAs[Long]("n") == o.count(_._1 % 2 == 0).toLong)
    assert(b1.getAs[Long]("sum_cents") == o.filter(_._1 % 2 == 0).map(x => halfUp(x._2 * 100)).sum)
    assert(b2.getAs[Long]("sum_cents") == o.filter(_._1 % 2 == 1).map(x => halfUp(x._2 * 100)).sum)
  }

  test("q_approx_percentile_envelope: exacts match a driver-side sort-select, flags green") {
    val rows = EvalQueries.qApproxPercentileEnvelope.run(spark, dir).collect()
    assert(rows.nonEmpty)
    val cents = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice")).collect()
      .map(r => r.getString(0) -> halfUp(r.getDouble(1) * 100))
      .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).sorted }
    rows.foreach { r =>
      val f = r.getAs[String]("flag")
      val sorted = cents(f)
      val n = sorted.length
      assert(r.getAs[Long]("n") == n.toLong)
      def kOf(p: Int) = (n.toLong * p + 99) / 100
      assert(r.getAs[Long]("p50_cents") == sorted(kOf(50).toInt - 1), s"$f p50")
      assert(r.getAs[Long]("p95_cents") == sorted(kOf(95).toInt - 1), s"$f p95")
      assert(r.getAs[Long]("p50_ok") == 1L && r.getAs[Long]("p95_ok") == 1L,
        s"$f sketch estimate escaped its guaranteed rank envelope")
    }
  }

  test("q_higher_order_funcs matches a driver-side left fold exactly") {
    val got = EvalQueries.qHigherOrderFuncs.run(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
    assert(emb.nonEmpty && got.size == emb.length)
    emb.take(50).foreach { r =>
      val id = r.getLong(0)
      val dbl = r.getSeq[Float](1).map(_.toDouble)
      val g = got(id)
      assert(g.getAs[Long]("n_pos") == dbl.count(_ > 0).toLong, s"$id n_pos")
      assert(g.getAs[Long]("sum_e6") == halfUp(dbl.foldLeft(0.0)(_ + _) * 1e6), s"$id sum")
      assert(g.getAs[Long]("dot_e6") ==
        halfUp(dbl.map(x => x * x).foldLeft(0.0)(_ + _) * 1e6), s"$id dot")
      assert(g.getAs[Long]("any_big") == (if (dbl.exists(x => math.abs(x) > 2)) 1L else 0L))
      assert(g.getAs[Long]("all_small") == (if (dbl.forall(x => math.abs(x) < 100)) 1L else 0L))
    }
  }

  test("q_scd2_asof: exactly one state per customer active at T, matching a replay") {
    val t = java.sql.Timestamp.valueOf("1996-06-01 00:00:00")
    val rows = EvalQueries.qScd2Asof.run(spark, dir).collect()
    val custs = rows.map(_.getAs[Long]("o_custkey"))
    assert(custs.distinct.length == custs.length, "as-of read must be unique per key")
    // driver-side replay: latest status among orders strictly before/at T
    val orders = Tables.orders(spark, dir)
      .select(col("o_custkey").cast("long"), col("o_orderstatus"),
        col("o_orderdate").cast("timestamp"), col("o_orderkey").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), r.getLong(3)))
    val want = orders.filter(_._3.compareTo(t) <= 0)
      .groupBy(_._1).map { case (k, os) =>
        k -> os.maxBy(o => (o._3.getTime, o._4))._2
      }
    assert(rows.length == want.size, "one row per customer with history at T")
    rows.foreach { r =>
      assert(r.getAs[String]("status_at") == want(r.getAs[Long]("o_custkey")),
        s"as-of state mismatch for customer ${r.getAs[Long]("o_custkey")}")
    }
  }

  test("q_debounce matches a driver-side replay and never keeps a rapid repeat") {
    val rows = EvalQueries.qDebounce.run(spark, dir).collect()
    val ev = Tables.events(spark, dir)
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("event_type"), expr("unix_micros(ts)")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byType = ev.groupBy(_._3)
    rows.foreach { r =>
      val et = r.getAs[String]("event_type")
      val es = byType(et)
      val kept = es.groupBy(_._2).values.flatMap { seq =>
        val s = seq.sortBy(e => (e._4, e._1))
        s.zip(None +: s.map(Some(_))).collect {
          case (e, prev) if prev.forall(p => e._4 - p._4 >= EvalQueries.DebounceGapUs) => e
        }
      }.toSeq
      assert(r.getAs[Long]("n_total") == es.length.toLong)
      assert(r.getAs[Long]("n_kept") == kept.length.toLong, s"$et kept count")
      assert(r.getAs[Long]("kept_id_sum") == kept.map(_._1).sum, s"$et kept ids")
    }
  }

  test("q_ks_drift: statistic in [0, 1e6] and exact for a driver-side CDF walk") {
    val rows = EvalQueries.qKsDrift.run(spark, dir).collect()
    assert(rows.nonEmpty)
    val b = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("ts").cast("timestamp"), col("value")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).compareTo(b) < 0, halfUp(r.getDouble(2) * 10000)))
    rows.foreach { r =>
      val et = r.getAs[String]("event_type")
      val (a, c) = ev.filter(_._1 == et).partition(_._2)
      val (na, nb) = (a.length.toLong, c.length.toLong)
      assert(r.getAs[Long]("na") == na && r.getAs[Long]("nb") == nb)
      val ks = r.getAs[Long]("ks_e6")
      assert(ks >= 0L && ks <= 1000000L)
      val xs = (a.map(_._3) ++ c.map(_._3)).distinct.sorted
      val dnum = xs.map(x =>
        math.abs(a.count(_._3 <= x).toLong * nb - c.count(_._3 <= x).toLong * na)).max
      assert(ks == dnum * 1000000L / (na * nb), s"$et KS mismatch")
    }
  }

  test("q_label_gini: zero for pure sources, bounded by (k-1)/k, exact recompute") {
    val rows = EvalQueries.qLabelGini.run(spark, dir).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, dir).select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val counts = docs.filter(_._1 == src).groupBy(_._2).values.map(_.length.toLong).toSeq
      val n = counts.sum
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("n_langs") == counts.length.toLong)
      val gini = (n * n - counts.map(c => c * c).sum) * 1000000L / (n * n)
      assert(r.getAs[Long]("gini_e6") == gini, s"$src gini")
      if (counts.length == 1) assert(gini == 0L)
      val k = counts.length.toLong
      assert(gini <= (k - 1) * 1000000L / k, s"$src above theoretical max")
    }
  }

  test("q_record_linkage plans a blocked equi-join, never a cartesian pair space") {
    // pin the shape on the pair frame itself: run() persists it before the
    // global sort (sample-pass economy), which would hide the join behind
    // an InMemoryRelation in the outer plan
    val plan = EvalQueries.linkagePairs(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"linkage must join on the blocking key:\n$plan")
  }
}
