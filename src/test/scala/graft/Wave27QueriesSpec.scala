package graft

import graft.queries.{CurationQueries, PackDoc}
import graft.ops.PrefixOps

/** Round-10 wave 27: the parallel packing twin and temperature mixture —
  * driver recomputes on sf0.001 plus the two stress arms the oracle
  * cannot see: the distributed prefix sum under a SINGLE giant source
  * split across many partitions (the exact case the per-key window
  * cannot shard), and the corrected integer sqrt at its float-seed
  * failure edges.
  */
class Wave27QueriesSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def toks(t: String): Long =
    "\\S+".r.findAllIn(t.toLowerCase).length.toLong

  test("q_token_packing_fixed matches a sequential driver recompute") {
    val b = CurationQueries.PackBudget
    val want = Tables.documents(spark, dir).select("source", "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), toks(r.getString(2))))
      .groupBy(_._1).toSeq.flatMap { case (src, ds) =>
        var cum = 0L
        ds.sortBy(_._2).map { case (_, id, n) =>
          val first = cum / b
          val last = (cum + math.max(n, 1L) - 1L) / b
          val row = (src, id, n, cum, first, last, last - first)
          cum += n
          row
        }
      }.sortBy(t => (t._1, t._2))
    val got = CurationQueries.qTokenPackingFixed.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == want && want.nonEmpty)
    assert(got.exists(_._7 > 0L), "no doc ever straddles a pack — budget never binds")
  }

  test("q_token_packing_fixed is the scale twin of pack_sequences: identical assignment on the shared grain") {
    // pack_sequences: per-source WINDOW cumsum over n_toks > 0 docs;
    // q_token_packing_fixed: two-pass prefix sum over ALL docs. Zero-token
    // docs add nothing to the stream, so on the n_toks > 0 grain the two
    // must agree row-for-row (same budget constant).
    assert(CurationQueries.PackBudget == graft.queries.MixQueries.PackBudget)
    val win = graft.queries.MixQueries.packSequences.run(spark, dir)
      .select("doc_id", "tok_start", "seq_first", "seq_last").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    val par = CurationQueries.qTokenPackingFixed.run(spark, dir)
      .where("n_tokens > 0")
      .select("doc_id", "cum_before", "pack_first", "pack_last").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(par.toSeq == win.toSeq && win.nonEmpty)
  }

  test("distributed prefix sum is exact when ONE source spans many partitions") {
    // 5000 docs, one source — the case a per-key window serializes on a
    // single reducer and PrefixOps must spread over all 16 slices.
    val docs = spark.createDataset(
      (0L until 5000L).map(i => PackDoc("mono", i, i % 7 + 1)))
    val got = PrefixOps.cumBefore(docs, 16)
      .collect().map { case (d, cum) => (d.doc_id, cum) }.sortBy(_._1)
    var acc = 0L
    val want = (0L until 5000L).map { i =>
      val row = (i, acc); acc += i % 7 + 1; row
    }
    assert(got.toSeq == want)
    spark.catalog.clearCache()
    // the layout actually split the source: >1 partition contributed
    val nParts = PrefixOps.cumBefore(docs, 16).rdd
      .mapPartitions(it => Iterator.single(if (it.hasNext) 1 else 0))
      .collect().sum
    assert(nParts > 1, "range partitioner put the whole source in one slice")
  }

  test("prefix sum keeps per-source independence when sources interleave slices") {
    val docs = spark.createDataset(
      (0L until 600L).map(i => PackDoc(if (i % 3 == 0) "a" else "b", i, 2L)))
    val got = PrefixOps.cumBefore(docs, 8)
      .collect().map { case (d, cum) => (d.source, d.doc_id, cum) }
      .groupBy(_._1)
    got.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      sorted.zipWithIndex.foreach { case ((_, _, cum), idx) =>
        assert(cum == 2L * idx, s"offset chain broken at rank $idx")
      }
    }
  }

  test("q_mixture_temperature matches a BigInt-exact driver recompute") {
    val bySrc = Tables.documents(spark, dir).select("source", "text").collect()
      .map(r => (r.getString(0), toks(r.getString(1))))
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }.toSeq
    def bigIsqrt(x: Long): Long =
      BigInt(x).bigInteger.sqrt().longValueExact()
    val totT = bySrc.map(_._2).sum
    val totI = bySrc.map(t => bigIsqrt(t._2)).sum
    val want = bySrc.map { case (s, t) =>
      (s, t, t * 1000000L / totT, bigIsqrt(t), bigIsqrt(t) * 1000000L / totI)
    }.sortBy(_._1)
    val got = CurationQueries.qMixtureTemperature.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == want && want.nonEmpty)
    // temperature flattening: every small source gains weight vs raw share
    val smallGain = got.filter(g => g._3 < 1000000L / got.size)
    smallGain.foreach(g => assert(g._5 >= g._3,
      s"${g._1}: α=1/2 must not shrink a below-average source"))
  }

  test("column isqrt is exact at float-seed edges (k², k²±1, large x)") {
    val ks = Seq(1L, 2L, 3L, 10L, 94906265L /* ~sqrt(2^53) */, 1L << 25)
    val xs = (ks.flatMap(k => Seq(k * k - 1, k * k, k * k + 1)) ++
      Seq(0L, 1L, 2L, (1L << 52) - 1)).filter(_ >= 0).distinct
    val got = xs.toDF("x")
      .select(CurationQueries.isqrt(org.apache.spark.sql.functions.col("x")))
      .collect().map(_.getLong(0))
    xs.zip(got).foreach { case (x, g) =>
      assert(g == BigInt(x).bigInteger.sqrt().longValueExact(), s"isqrt($x) = $g")
    }
  }
}
