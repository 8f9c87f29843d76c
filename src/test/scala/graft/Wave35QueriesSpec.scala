package graft

import graft.queries.{DedupQueries, Q}

/** Round-10 wave 35: MinHash signature-length sensitivity — a driver
  * recompute of all three arms from the raw shingle sets on sf0.001,
  * pinning the prefix property (k-perm signature ≡ first k entries of
  * the 64-perm one) and the sizing story (64 perms never worse than 16
  * in mean absolute error on the measured pairs).
  */
class Wave35QueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val P = 1000000007L
  private val Mult = 2654435761L

  private def sig(hs: Seq[Long], nPerm: Int): Array[Long] =
    Array.tabulate(nPerm) { i =>
      val a = 2L * i + 1L
      val b = (i * Mult) % P
      hs.map(h => ((a * h) % P + b) % P).min
    }

  test("q_minhash_perm_sweep matches a driver recompute from raw shingle sets") {
    val shn = SparkEntry.queries("dedup_minhash_lsh")(spark, dir)
      .select("id_l", "id_r").collect().map(r => (r.getLong(0), r.getLong(1)))
    spark.catalog.clearCache()
    val hs = Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.ops.TextOps.shingleHashes(
          org.apache.spark.sql.functions.col("text"), DedupQueries.ShingleK).as("hs"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    val perArm = Seq(16, 32, 64).map { k =>
      val errs = shn.map { case (l, r) =>
        val (a, b) = (hs(l), hs(r))
        val inter = a.toSet.intersect(b.toSet).size.toLong
        val jacE6 = inter * 1000000L / (a.size + b.size - inter)
        val agree = sig(a, 64).take(k).zip(sig(b, 64).take(k))
          .count { case (x, y) => x == y }.toLong
        // prefix property: the k-perm signature IS the 64-perm prefix
        assert(sig(a, k).toSeq == sig(a, 64).take(k).toSeq)
        agree * 1000000L / k - jacE6
      }
      (k.toLong, errs.length.toLong, errs.map(math.abs).sum / errs.length,
        errs.map(math.abs).max, errs.sum)
    }
    val got = DedupQueries.qMinhashPermSweep.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == perArm && perArm.head._2 > 0)
    // the sizing story: 64 perms never worse than 16 in mean abs error
    val byK = got.map(g => g._1 -> g._3).toMap
    assert(byK(64L) <= byK(16L),
      s"64-perm error ${byK(64L)} exceeds 16-perm ${byK(16L)}")
  }
}
