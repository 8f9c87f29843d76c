package graft

import graft.queries.{DedupQueries, VectorQueries}
import org.apache.spark.sql.functions._

/** Invariant + from-scratch recompute specs for the round-10 wave 21
  * queries (provenance dedup matrix, vocabulary-dup channel, threshold
  * sweep, duplication cost, IVF tuning curve) on sf0.001.
  */
class Wave21QueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def docsText(): Map[Long, String] =
    Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap

  private def docsSource(): Map[Long, String] =
    Tables.documents(spark, dir).select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap

  private def lshPairs(): Array[(Long, Long, Long)] = {
    val rows = SparkEntry.queries("dedup_minhash_lsh")(spark, dir).collect()
    spark.catalog.clearCache()
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
  }

  test("q_dedup_cross_source matches the matrix rebuilt from the pair query and sources") {
    val src = docsSource()
    val cells = lshPairs()
      .map { case (l, r, j) =>
        val ss = Seq(src(l), src(r)).sorted
        ((ss.head, ss.last), j) }
      .groupBy(_._1)
      .map { case (k, v) =>
        val js = v.map(_._2)
        k -> (js.length.toLong, js.max, js.sum / js.length) }
    val got = DedupQueries.qDedupCrossSource.run(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == cells && cells.nonEmpty)
  }

  test("q_shuffled_dups matches a from-scratch vocabulary-signature recompute") {
    val texts = docsText()
    val vocab = texts.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.sorted.mkString(" ")
    }
    val groups = vocab.groupBy(_._2).values.map(_.keys.toSeq.sorted)
      .filter(_.size >= 2).toSeq
    val want = groups.flatMap { ids =>
      val canonical = ids.head
      ids.zipWithIndex.map { case (id, i) =>
        (id, canonical, (i + 1).toLong, ids.size.toLong,
          if (texts(id) == texts(canonical)) 1L else 0L) }
    }.sortBy(_._1)
    val got = DedupQueries.qShuffledDups.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == want && want.nonEmpty)
    assert(want.exists(_._5 == 0L), "no true shuffles on the fixture — channel vacuous")
  }

  test("q_jaccard_threshold_sweep is monotone and consistent with the pair query above the boundary") {
    val rows = DedupQueries.qJaccardThresholdSweep.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    spark.catalog.clearCache()
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    // pairs and docs shrink (weakly) as the threshold rises
    rows.sliding(2).foreach { case Array((_, p1, d1), (_, p2, d2)) =>
      assert(p2 <= p1 && d2 <= d1)
    case _ => () }
    // above 0.8 there is no rounding boundary vs the θ=0.7-filtered pair
    // query: jac_e4 >= 8000 ⇒ jac > 0.7, so the counts must agree exactly
    val pairs8 = lshPairs().filter(_._3 >= 8000L)
    val row8 = rows.find(_._1 == 8000L).get
    assert(row8._2 == pairs8.length)
    assert(row8._3 == pairs8.flatMap(p => Seq(p._1, p._2)).distinct.length)
  }

  test("q_dup_inflation matches a recompute from the split query's clusters") {
    val texts = docsText()
    val src = docsSource()
    val clusters = SparkEntry.queries("split_dedup_aware")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
    spark.catalog.clearCache()
    def tokN(id: Long): Long =
      texts(id).toLowerCase.split("\\s+").count(_.nonEmpty).toLong
    val want = clusters.groupBy(c => src(c._1)).map { case (s, ds) =>
      val canon = ds.filter(d => d._1 == d._2)
      val tTot = ds.map(d => tokN(d._1)).sum
      val tCan = canon.map(d => tokN(d._1)).sum
      s -> (ds.length.toLong, canon.length.toLong, tTot, tCan,
        if (tCan == 0) -1L else tTot * 10000 / tCan)
    }
    val got = DedupQueries.qDupInflation.run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got == want && want.nonEmpty)
    // dedup must actually bite somewhere, else the report is vacuous
    assert(want.values.exists(v => v._5 > 10000L))
  }

  test("q_ann_nprobe_sweep matches a full driver recompute of recall and scan cost") {
    import VectorQueries._
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding").toArray))
      .sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (k <- a.indices) { d += a(k).toDouble * b(k); na += a(k).toDouble * a(k); nb += b(k).toDouble * b(k) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents = emb.filter(e => e._1 % IvfStride == 0 && e._1 < IvfCentCap)
    // per-vector centroid ranking (cos desc, c_id asc)
    def ranking(v: Array[Float]): Seq[Long] =
      cents.map(c => (c._1, cos(v, c._2))).sortBy(t => (-t._2, t._1)).map(_._1).toSeq
    val assigned = emb.map(e => (e._1, ranking(e._2).head))
    val sizes = assigned.groupBy(_._2).map { case (c, xs) => c -> xs.length.toLong }
    val queries = emb.filter(e => e._1 % QueryStride == 0 && e._1 < QueryCap)
    val vecs = emb.toMap
    val brute = queries.flatMap { case (q, qv) =>
      emb.filter(_._1 != q).map(e => (q, e._1, cos(qv, e._2)))
        .sortBy(t => (-t._3, t._2)).take(TopK).map(t => (q, t._2))
    }.toSet
    val rows = qAnnNprobeSweep.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == ProbeSweep.map(_.toLong))
    for ((p, nTruth, nHits, recallE4, scanned) <- rows) {
      assert(nTruth == brute.size)
      val byCluster = assigned.groupBy(_._2)
      val want = queries.flatMap { case (q, qv) =>
        val probed = ranking(qv).take(p.toInt).toSet
        probed.toSeq.flatMap(c => byCluster.getOrElse(c, Array.empty).map(_._1))
          .filter(_ != q)
          .map(cid => (cid, cos(qv, vecs(cid))))
          .sortBy(t => (-t._2, t._1)).take(TopK).map(t => (q, t._1))
      }.toSet
      assert(nHits == brute.intersect(want).size, s"nprobe=$p hit mismatch")
      assert(recallE4 == nHits * 10000 / nTruth)
      val wantScanned = queries.map { case (q, qv) =>
        ranking(qv).take(p.toInt).map(c => sizes.getOrElse(c, 0L)).sum - 1
      }.sum
      assert(scanned == wantScanned, s"nprobe=$p scan-cost mismatch")
    }
    // the curve must be monotone: wider probes never lose recall or cost
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 >= a._3 && b._5 >= a._5)
    case _ => () }
  }
}
