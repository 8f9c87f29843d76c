package graft

import graft.queries.VectorQueries
import org.apache.spark.sql.functions._

/** Invariant specs for the round-10 wave 20 queries — independent
  * driver-side recomputations on sf0.001.
  */
class Wave20QueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Driver-side re-derivation of the banded LSH machinery: 32-plane
    * signature, 8 bands x 4 bits, candidate pairs, exact cosine. */
  private def embeddings(): Array[(Long, Array[Float])] =
    Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding").toArray))

  private def sig32(v: Array[Float]): Long = {
    var bucket = 0L
    for (j <- 0 until VectorQueries.DedupLshPlanes) {
      var d = 0.0
      for (k <- v.indices) {
        val i = k + 1L
        val c = (((j * 73856093L + i * 19349663L) % 2001L) - 1000L) / 1000.0
        d += c * v(k).toDouble
      }
      if (d >= 0) bucket += (1L << j)
    }
    bucket
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (k <- a.indices) {
      dot += a(k).toDouble * b(k).toDouble
      na += a(k).toDouble * a(k).toDouble
      nb += b(k).toDouble * b(k).toDouble
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def bandKeys(sig: Long): Seq[Long] =
    (0 until VectorQueries.DedupLshBands).map(b =>
      b.toLong * (1 << VectorQueries.DedupLshBandBits) +
        ((sig >> (b * VectorQueries.DedupLshBandBits)) &
          ((1 << VectorQueries.DedupLshBandBits) - 1)))

  test("dedup_embedding_lsh matches a from-scratch banded recompute and is a verified subset of brute truth") {
    val emb = embeddings()
    val sigs = emb.map { case (id, v) => (id, sig32(v)) }.toMap
    val vecs = emb.toMap
    val ids = emb.map(_._1).sorted
    val candWant = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      l = ids(i); r = ids(j)
      if bandKeys(sigs(l)).toSet.intersect(bandKeys(sigs(r)).toSet).nonEmpty
    } yield (l, r)).toSet
    val want = candWant.filter { case (l, r) =>
      cosine(vecs(l), vecs(r)) >= VectorQueries.NearDupCos
    }.map { case (l, r) => (l, r, math.round(cosine(vecs(l), vecs(r)) * 1000000)) }
    val got = VectorQueries.dedupEmbeddingLsh.run(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_l"), r.getAs[Long]("id_r"),
        r.getAs[Long]("cos_e6"))).toSet
    assert(got == want)
    // structurally a subset of the brute-force twin
    val brute = VectorQueries.dedupEmbedding.run(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_l"), r.getAs[Long]("id_r"),
        r.getAs[Long]("cos_e6"))).toSet
    assert(got.subsetOf(brute), "LSH pairs must be a subset of brute-force pairs")
  }

  test("q_embedding_lsh_recall audit row is consistent with the two pair sets") {
    val brute = VectorQueries.dedupEmbedding.run(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_l"), r.getAs[Long]("id_r"),
        r.getAs[Long]("cos_e6")))
    val lsh = VectorQueries.dedupEmbeddingLsh.run(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_l"), r.getAs[Long]("id_r"))).toSet
    val missed = brute.filterNot(t => lsh.contains((t._1, t._2)))
    val row = VectorQueries.qEmbeddingLshRecall.run(spark, dir).collect().head
    assert(row.getAs[Long]("n_truth") == brute.length)
    assert(row.getAs[Long]("n_hit") == brute.length - missed.length)
    assert(row.getAs[Long]("n_missed") == missed.length)
    val wantRecall =
      if (brute.isEmpty) -1L
      else (brute.length - missed.length).toLong * 10000 / brute.length
    assert(row.getAs[Long]("recall_e4") == wantRecall)
    val wantWorst = if (missed.isEmpty) -1L else missed.map(_._3).max
    assert(row.getAs[Long]("worst_miss_cos_e6") == wantWorst)
  }

  test("q_contamination_report matches a from-scratch driver recompute of both leakage channels") {
    import graft.queries.DedupQueries
    val K = DedupQueries.ContamK
    // split assignment from the catalog splitter (itself oracle-gated)
    val split = SparkEntry.queries("split_dedup_aware")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[String]("split")))
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toMap
    def grams(text: String): IndexedSeq[String] = {
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toIndexedSeq
      (0 to toks.length - K).map(i => toks.slice(i, i + K).mkString(" "))
    }
    // channel 1: no minhash cluster may span train and an eval split
    val bySplit = split.groupBy(_._3)
    val trainClusters = bySplit.getOrElse("train", Array.empty).map(_._2).toSet
    for (s <- Seq("val", "test"); (_, c, _) <- bySplit.getOrElse(s, Array.empty))
      assert(!trainClusters.contains(c), s"cluster $c spans train and $s")
    // channel 2: longest run of consecutive train-shared K-grams per eval doc
    val trainGrams = bySplit.getOrElse("train", Array.empty)
      .flatMap(d => grams(docs(d._1))).toSet
    def maxRun(id: Long): Int = {
      val hits = grams(docs(id)).map(trainGrams.contains)
      var best = 0; var cur = 0
      hits.foreach { h => cur = if (h) cur + 1 else 0; best = math.max(best, cur) }
      best
    }
    val got = DedupQueries.qContaminationReport.run(spark, dir).collect()
      .map(r => r.getAs[String]("split") -> r).toMap
    for (s <- Seq("val", "test")) {
      val members = bySplit.getOrElse(s, Array.empty).map(_._1)
      val runs = members.map(maxRun)
      val nSpan = runs.count(_ >= DedupQueries.ContamMinRun)
      val maxSpan = runs.filter(_ >= DedupQueries.ContamMinRun)
        .maxOption.map(_ + K - 1).getOrElse(0)
      val row = got(s)
      assert(row.getAs[Long]("n_docs") == members.length)
      assert(row.getAs[Long]("n_cluster_leaked") == 0L)
      assert(row.getAs[Long]("n_span_docs") == nSpan,
        s"$s: span-doc count mismatch")
      assert(row.getAs[Long]("max_span_tokens") == maxSpan)
      assert(row.getAs[Long]("span_share_e4") ==
        nSpan.toLong * 10000 / members.length)
    }
    assert(got.keySet == Set("val", "test"))
  }
}
