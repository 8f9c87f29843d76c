package graft

import graft.queries.DedupQueries

/** Round-10 wave 25: near-dup pair edit-type classification — a full
  * driver recompute on sf0.001 plus a synthetic edge-case battery for
  * the packed-state run-length fold (the fixture's near-dups are all
  * prefix-anchored truncations with zero common suffix, so the suffix
  * path and the class thresholds need crafted inputs to be exercised).
  */
class Wave25QueriesSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def toks(t: String): IndexedSeq[String] =
    t.toLowerCase.split("\\s+").filter(_.nonEmpty).toIndexedSeq

  private def runLen(a: Seq[String], b: Seq[String]): Long =
    a.zip(b).takeWhile { case (x, y) => x == y }.length.toLong

  private def classify(lenL: Long, lenR: Long, pre: Long, suf: Long): String =
    if (pre == lenL && pre == lenR) "identical_tokens"
    else if (pre * 2 >= math.max(lenL, lenR)) "prefix_anchored"
    else if (suf * 2 >= math.max(lenL, lenR)) "suffix_anchored"
    else if ((pre + suf) * 2 >= math.max(lenL, lenR)) "ends_anchored"
    else "internal_rewrite"

  test("q_dedup_pair_classify matches a driver recompute on the verified pair set") {
    val texts = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), toks(r.getString(1)))).toMap
    val pairs = SparkEntry.queries("dedup_minhash_lsh")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    spark.catalog.clearCache()
    val want = pairs.map { case (l, r) =>
      val (a, b) = (texts(l), texts(r))
      val pre = runLen(a, b)
      val suf0 = runLen(a.reverse, b.reverse)
      val suf = math.min(suf0, math.min(a.length, b.length) - pre)
      (l, r, a.length.toLong, b.length.toLong, pre, suf,
        classify(a.length, b.length, pre, suf))
    }.sortBy(t => (t._1, t._2)).toSeq
    val got = DedupQueries.qDedupPairClassify.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6))).toSeq
    assert(got == want && want.nonEmpty)
    assert(want.map(_._5).distinct.size > 5,
      "prefix run lengths degenerate — fold not exercised")
  }

  test("the run-length fold handles suffix, padding, and class-threshold edges on crafted pairs") {
    // pairs crafted per class; zip_with padding (unequal lengths) hits the
    // coalesce(null-eq) arm of the fold
    val cases = Seq(
      ("a b c d", "a b c d", "identical_tokens"),
      ("a b c d e f", "a b c d x y", "prefix_anchored"),    // pre=4 >= 6/2
      ("x y c d e f", "q w c d e f", "suffix_anchored"),    // pre=0, suf=4
      ("a b x x e f", "a b q q q e f", "ends_anchored"),    // pre=2, suf=2, max=7
      ("a b c d e f g h", "h g f e d c b a", "internal_rewrite"),
      ("a a a a", "a a a a a a a a a a", "internal_rewrite")) // pre=4 capped suf=0; 4*2 < 10
    val df = cases.map { case (l, r, _) => (l, r) }.toDF("tl", "tr")
      .selectExpr(
        "split(tl, ' ') AS tk_l", "split(tr, ' ') AS tk_r")
      .selectExpr("size(tk_l) AS len_l", "size(tk_r) AS len_r",
        "aggregate(zip_with(tk_l, tk_r, (x, y) -> if(coalesce(x = y, false), 1L, 0L)), " +
          "1L, (s, e) -> if(s % 2 = 1 and e = 1, s + 2, (s div 2) * 2)) div 2 AS pre",
        "aggregate(zip_with(reverse(tk_l), reverse(tk_r), (x, y) -> if(coalesce(x = y, false), 1L, 0L)), " +
          "1L, (s, e) -> if(s % 2 = 1 and e = 1, s + 2, (s div 2) * 2)) div 2 AS suf0")
    val got = df.collect().map { r =>
      val (lenL, lenR) = (r.getAs[Int]("len_l").toLong, r.getAs[Int]("len_r").toLong)
      val pre = r.getAs[Long]("pre")
      val suf = math.min(r.getAs[Long]("suf0"), math.min(lenL, lenR) - pre)
      classify(lenL, lenR, pre, suf)
    }
    assert(got.toSeq == cases.map(_._3),
      s"crafted-pair classes diverged: ${got.toSeq} vs ${cases.map(_._3)}")
  }
}
