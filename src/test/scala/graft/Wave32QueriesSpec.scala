package graft

import graft.queries.MultimodalQueries

/** Round-10 wave 32: the multimodal stage widened — perceptual-hash image
  * dedup, nearest-neighbor resize, windowed audio energy. Each is
  * recomputed from the raw payload bytes in the driver on sf0.001; the
  * phash test additionally pins the banding against a brute-force Hamming
  * sweep (band recall at τ: every pair the bands surface must be a true
  * ≤ τ pair, and every ≤ τ pair sharing a band must be surfaced).
  */
class Wave32QueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def docs: Seq[(Long, Array[Byte])] =
    Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).getBytes("UTF-8")))
      .filter(_._2.nonEmpty).toSeq

  private def phash(b: Array[Byte]): Long = {
    val n = b.length.toLong
    val s = (0 until 64).map(k => (b(((k * n) / 64).toInt) & 0xff).toLong)
    val mean = s.sum / 64
    s.zipWithIndex.map { case (x, k) => if (x > mean) 1L << k else 0L }.reduce(_ | _)
  }

  test("mm_phash_dedup matches a driver recompute of banded aHash pairs (sf0.01)") {
    // sf0.001 has no qualifying pair; the 500-doc corpus does — the brute
    // driver sweep (125k pairs) doubles as the banding's recall oracle
    val d01 = "/root/testdata/sf0.01"
    val hs = Tables.documents(spark, d01).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).getBytes("UTF-8")))
      .filter(_._2.nonEmpty).map { case (id, b) => (id, phash(b)) }.toSeq
    def bands(h: Long): Set[(Int, Long)] =
      (0 until 4).map(b => (b, (h >> (b * 16)) & 65535L)).toSet
    val want = (for {
      (il, hl) <- hs; (ir, hr) <- hs if il < ir
      if bands(hl).intersect(bands(hr)).nonEmpty
      ham = java.lang.Long.bitCount(hl ^ hr).toLong if ham <= 6L
    } yield (il, ir, ham)).sortBy(t => (t._1, t._2))
    val got = MultimodalQueries.mmPhashDedup.run(spark, d01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want && want.nonEmpty)
  }

  test("mm_phash_dedup emits a near pair whose hashes differ in sign") {
    import spark.implicits._
    // 64-byte payloads sample every byte: bits 32..63 set in one hash
    // (negative), bits 32..62 in the other (positive) — Hamming 1, with
    // bands 0-2 equal
    val texts = Seq("a" * 32 + "b" * 32, "a" * 32 + "b" * 31 + "a")
    val hs = texts.map(t => phash(t.getBytes("UTF-8")))
    assert(hs(0) < 0L && hs(1) > 0L && java.lang.Long.bitCount(hs(0) ^ hs(1)) == 1)
    val fixture = graft.ops.Staging.dir("/tmp/graft_phash_spec", dir, "mixed_sign")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$fixture/documents.parquet")
    val got = MultimodalQueries.mmPhashDedup.run(spark, fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 1L, 1L)))
  }

  test("the codegen aHash64 kernel equals a byte-level reference on crafted payloads") {
    import spark.implicits._
    // flat payload (all bits 0: nothing exceeds the mean), single byte,
    // step ramp, and a real doc prefix — plus the bit-63 lane
    val texts = Seq("aaaaaaaaaaaaaaaa", "z",
      (0 until 128).map(i => ('a' + i % 26).toChar).mkString,
      "the quick brown fox jumps over the lazy dog " * 20)
    val got = texts.toDF("text")
      .select(graft.expressions.F.aHash64(org.apache.spark.sql.functions.col("text")))
      .collect().map(_.getLong(0))
    texts.zip(got).foreach { case (t, g) =>
      assert(g == phash(t.getBytes("UTF-8")), s"aHash64 mismatch on ${t.take(20)}")
    }
    assert(phash("aaaaaaaaaaaaaaaa".getBytes) == 0L, "flat payload must hash to 0")
  }

  test("mm_resize_nn matches per-pixel driver sampling") {
    val want = docs.flatMap { case (id, b) =>
      val n = b.length.toLong
      val w = n % 64 + 1
      val h = (n / 64) % 64 + 1
      for (r <- 0L until 4L; c <- 0L until 4L) yield {
        val idx = ((r * h / 4) * w + (c * w / 4)) % n
        (id, r, c, idx, (b(idx.toInt) & 0xff).toLong)
      }
    }.sortBy(t => (t._1, t._2, t._3))
    val got = MultimodalQueries.mmResizeNn.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == want && want.nonEmpty)
  }

  test("mm_audio_energy matches a driver fold and frames tile correctly") {
    val want = docs.filter(_._1 % 3 == 1).flatMap { case (id, b) =>
      val n = b.length
      (0 to (n - 1) / 160).map { f =>
        val from = f * 160
        val until = math.min(from + 400, n)
        val frame = b.slice(from, until)
        (id, f.toLong, frame.length.toLong,
          frame.map(x => { val v = (x & 0xff).toLong; v * v }).sum)
      }
    }.sortBy(t => (t._1, t._2))
    val got = MultimodalQueries.mmAudioEnergy.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want && want.nonEmpty)
    // frame indices tile contiguously from 0, and at least one payload is
    // long enough that overlapping (hop < frame) windows actually occur
    got.groupBy(_._1).foreach { case (id, fs) =>
      val idxs = fs.map(_._2).sorted
      assert(idxs == (0L until idxs.length).toSeq, s"$id: frame gap in $idxs")
    }
    assert(got.exists(_._3 == 400L), "no full frame — payloads shorter than one window")
  }
}
