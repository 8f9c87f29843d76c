package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.expressions.TextHashExprs

class DedupVectorSpec extends SparkSpec {
  import spark.implicits._

  test("exactDupRank ranks identical content, lowest id canonical") {
    val df = Seq((1L, "x"), (5L, "x"), (3L, "x"), (2L, "y")).toDF("id", "t")
    val got = DedupOps.exactDupRank(df, col("t"), col("id"))
      .select("id", "dup_rank", "canonical_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === Set((1L, 1, 1L), (3L, 2, 1L), (5L, 3, 1L), (2L, 1, 2L)))
  }

  test("minhashSignature: sig length, range, and agreement ~ jaccard for dups") {
    val a = (1 to 50).map(i => s"tok$i").toArray
    val b = (1 to 50).map(i => if (i <= 45) s"tok$i" else s"other$i").toArray // jac ~0.82
    def hs(toks: Array[String]) = toks.map(t =>
      TextHashExprs.hashP(org.apache.spark.unsafe.types.UTF8String.fromString(t)))
      .distinct.sorted
    val df = Seq((1L, hs(a).toSeq), (2L, hs(b).toSeq)).toDF("id", "hs")
    val sigs = df.select($"id", DedupOps.minhashSignature($"hs", 128))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L).length === 128)
    assert(sigs(1L).forall(v => v >= 0 && v < 1000000007L))
    val agree = sigs(1L).zip(sigs(2L)).count { case (x, y) => x == y } / 128.0
    val trueJac = 45.0 / 55.0
    assert(math.abs(agree - trueJac) < 0.15) // MinHash estimates Jaccard
  }

  test("SimHash: identical token sets → identical fingerprints; disjoint differ") {
    val df = Seq(
      (1L, "spark scala window join group"),
      (2L, "spark scala window join group"),
      (3L, "totally different words entirely here"))
      .toDF("doc_id", "text")
    import graft.expressions.{F => GF}
    val fp = df.select($"doc_id",
      GF.simhash(GF.hashPArray(TextOps.tokens($"text")), 32).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
    assert(fp.values.forall(v => v >= 0 && v < (1L << 32)))
  }

  test("IntersectSizeSorted equals array_intersect size on sorted sets") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 30).map { i =>
      val a = (1 to 40).map(_ => rnd.nextInt(100).toLong).distinct.sorted
      val b = (1 to 40).map(_ => rnd.nextInt(100).toLong).distinct.sorted
      (a, b)
    }
    val df = rows.toDF("a", "b")
      .select(DedupOps.intersectSizeSorted($"a", $"b").as("fast"),
        size(array_intersect($"a", $"b")).as("ref"))
    df.collect().foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("bucketPairs emits each unordered pair once across shared buckets") {
    val df = Seq((1L, "b1"), (2L, "b1"), (3L, "b1"), (1L, "b2"), (2L, "b2"))
      .toDF("id", "bk")
    val got = DedupOps.bucketPairs(df, "id", "bk")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("DotProduct kernel: known vectors, and cosine(v, v) == 1") {
    val v1 = Seq(1.0f, 2.0f, 3.0f)
    val v2 = Seq(4.0f, 5.0f, 6.0f)
    val df = Seq((v1, v2)).toDF("a", "b")
    val dot = df.select(VectorOps.dot($"a", $"b")).as[Double].head()
    assert(dot === 32.0)
    val cos = df.select(VectorOps.cosine($"a", $"a")).as[Double].head()
    assert(math.abs(cos - 1.0) < 1e-12)
  }

  test("bruteForceTopK ranks by cosine desc with id tie-break") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = emb.where($"vec_id" === 0).select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val c = emb.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val got = VectorOps.bruteForceTopK(q, c, 3)
      .orderBy("rank").select("c_id").as[Long].collect().toSeq
    assert(got === Seq(3L, 1L, 2L)) // exact match first (id 3), then near, then orthogonal
  }

  test("lshBucket: deterministic, in-range, equal vectors share a bucket") {
    val emb = Seq((0L, (1 to 64).map(_.toFloat)), (1L, (1 to 64).map(_.toFloat)),
      (2L, (1 to 64).map(i => -i.toFloat)))
      .toDF("vec_id", "embedding")
    val got = emb.select($"vec_id", VectorOps.lshBucket($"embedding", 8).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(got(0L) === got(1L))
    assert(got.values.forall(b => b >= 0 && b < 256))
  }

  test("hamming arithmetic matches bit-count of xor") {
    val df = Seq((0L, 0L), (5L, 3L), (255L, 0L), (1023L, 512L)).toDF("a", "b")
    val got = df.select(DedupOps.hamming($"a", $"b", 12)).as[Long].collect().toSeq
    val want = Seq((0L, 0L), (5L, 3L), (255L, 0L), (1023L, 512L))
      .map { case (a, b) => java.lang.Long.bitCount(a ^ b).toLong }
    assert(got === want)
  }

  test("hamming is exact above 2^53 (double division would corrupt low bits)") {
    val pairs = Seq(
      ((1L << 62) | 1L, 1L << 62),          // differ in bit 0 only
      ((1L << 62) | (1L << 61), 1L << 62),  // differ in bit 61
      (Long.MaxValue, Long.MaxValue - 1))
    val got = pairs.toDF("a", "b")
      .select(DedupOps.hamming($"a", $"b", 63)).as[Long].collect().toSeq
    val want = pairs.map { case (a, b) => java.lang.Long.bitCount(a ^ b).toLong }
    assert(got === want)
  }

  test("connectedComponents (iterative path) labels a >20-hop chain with its min id") {
    // path graph 0-1-2-...-59: diameter 59 > the old per-hop iteration cap;
    // pointer doubling converges in O(log n) rounds. driverEdgeLimit=0
    // forces the distributed loop even for this small fixture.
    val nodes = (0L to 59L).toDF("id")
    val pairs = (0L until 59L).map(i => (i, i + 1)).toDF("id_l", "id_r")
    val got = DedupOps.connectedComponents(nodes, pairs, driverEdgeLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(got.size === 60 && got.values.forall(_ === 0L))
  }

  test("connectedComponents: singletons keep own id; components get min id") {
    val nodes = (0L to 9L).toDF("id")
    val pairs = Seq((3L, 7L), (7L, 5L), (8L, 9L)).toDF("id_l", "id_r")
    val got = DedupOps.connectedComponents(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    val want = Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
      5L -> 3L, 6L -> 6L, 7L -> 3L, 8L -> 8L, 9L -> 8L)
    assert(got === want)
  }

  test("connectedComponents: driver and iterative paths label identically") {
    // random-ish multi-component graph incl. a chain, a star, a cycle,
    // cross-links, and singletons — both plan choices must agree exactly
    val nodes = (0L to 99L).toDF("id")
    val edges = (0L until 19L).map(i => (i, i + 1)) ++ // chain 0..19
      (21L to 29L).map(i => (20L, i)) ++                // star at 20
      Seq((30L, 31L), (31L, 32L), (32L, 30L)) ++        // cycle
      Seq((19L, 25L), (32L, 40L), (41L, 45L))           // cross-links
    val pairs = edges.toDF("id_l", "id_r")
    val viaDriver = DedupOps.connectedComponents(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    val viaLoop = DedupOps.connectedComponents(nodes, pairs, driverEdgeLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver === viaLoop)
    assert(viaDriver(19L) === 0L && viaDriver(25L) === 0L) // chain+star merged
    assert(viaDriver(40L) === 30L && viaDriver(45L) === 41L)
    assert(viaDriver(99L) === 99L)
  }

  test("connectedComponents throws rather than returning unconverged labels") {
    val nodes = (0L to 9L).toDF("id")
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("id_l", "id_r")
    assertThrows[IllegalStateException] {
      DedupOps.connectedComponents(nodes, pairs, maxIter = 1, driverEdgeLimit = 0)
        .collect()
    }
  }

  test("multi-probe IVF recall dominates single-probe against brute force") {
    import graft.queries.VectorQueries
    val dir = "/root/testdata/sf0.01"
    def pairs(df: org.apache.spark.sql.DataFrame, q: String, c: String) =
      df.select(col(q).cast("long"), col(c).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(VectorQueries.annBruteTopk.run(spark, dir), "q_id", "c_id")
    val sp = pairs(VectorQueries.annIvfTopk.run(spark, dir), "q_id", "c_id")
    val mp = pairs(VectorQueries.annIvfMpTopk.run(spark, dir), "q_id", "c_id")
    val rSp = (sp & truth).size.toDouble / truth.size
    val rMp = (mp & truth).size.toDouble / truth.size
    assert(rMp >= rSp, s"multi-probe recall $rMp must be >= single-probe $rSp")
    // random synthetic embeddings spread candidates thinly across cells;
    // the point is the ORDERING above — the floor just guards degeneracy
    assert(rMp >= 0.3, s"multi-probe recall $rMp unexpectedly low")
  }

  test("ann_recall_at_k grades every query with mp >= ivf and sane bounds") {
    import graft.queries.VectorQueries
    val rows = VectorQueries.annRecallAtK.run(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, hi, hm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (pi, pm) = (r.getLong(4), r.getLong(5))
      assert(n == VectorQueries.TopK)
      assert(hi >= 0 && hi <= n && hm >= 0 && hm <= n)
      assert(hm >= hi, s"q ${r.getLong(0)}: multi-probe hits $hm < single-probe $hi")
      assert(pi == hi * 100 / n && pm == hm * 100 / n)
    }
  }
}
