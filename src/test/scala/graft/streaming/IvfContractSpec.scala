package graft.streaming

import graft.ops.IvfIndex
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Two IVF-index contracts sharpened in r18:
  *
  *  1. DIMENSION IS A CORPUS PROPERTY (`_manifest.json`), not an engine
  *     constant: a non-64-dim corpus runs end-to-end (insert → search →
  *     refresh → forget), a mismatched or mixed-dim batch fails loudly
  *     BEFORE any mutation (the dot kernel folds over the shorter row —
  *     silent truncation otherwise), and a legacy pre-manifest index
  *     derives its dim read-only and is adopted by the next insert.
  *
  *  2. THE PINNED-READER LOOKBACK WINDOW IS NAMED: a generation survives
  *     exactly one [[IvfIndex.refreshCentroids]] cycle; a reader
  *     pinned across two gets a contract error naming the window, not a
  *     raw FileNotFoundException mid-probe. */
class IvfContractSpec extends SparkSpec {
  import spark.implicits._
  import StreamingOps._

  private val Dim = 16

  /** deterministic non-64-dim embedding; never the zero vector */
  private def vec(id: Long, dim: Int = Dim): Seq[Float] =
    Seq.tabulate(dim)(k => (((id * 31 + k * 7) % 13) - 6 + 0.5).toFloat)

  private def dfv(ids: Seq[Long], dim: Int = Dim) =
    ids.map(id => (id, vec(id, dim))).toDF("vec_id", "embedding")

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"ivfc_$tag").toString + "/index"

  test("a dim-16 corpus runs end-to-end: insert, search, refresh, forget") {
    val p = freshPath("dim16")
    ivfSearchInsertBatch(dfv(0L to 29L), p, batchId = 1L)
    assert(IvfIndex.dim(spark, p).contains(Dim),
      "bootstrap did not record the corpus dim in the manifest")
    val hits = ivfSearchInsertBatch(dfv(30L to 59L), p, batchId = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(hits.nonEmpty, "dim-16 second batch found no partners — vacuous")
    // exact-match probe through the pinned-reader path: an identical
    // vector must surface its twin at cosine 1.0 (cos_e6 = 1000000)
    val g = IvfIndex.resolve(spark, p)
    val probe = Seq((900005L, vec(5L))).toDF("vec_id", "embedding")
    val top = ivfSearchResolved(probe, p, g).orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(top.headOption.contains((5L, 1000000L)),
      s"exact dim-16 twin not the top hit: ${top.toSeq}")
    // refresh re-clusters at dim 16; the manifest survives
    IvfIndex.refreshCentroids(spark, p)
    assert(IvfIndex.dim(spark, p).contains(Dim))
    val g1 = IvfIndex.resolve(spark, p)
    assert(ivfSearchResolved(probe, p, g1).collect()
      .map(_.getLong(1)).headOption.contains(5L))
    // forget the twin: it must stop surfacing, everywhere
    forgetVectorsBatch(Seq(5L).toDF("vec_id"), p).count()
    assert(!ivfSearchResolved(probe, p, g1).collect()
      .map(_.getLong(1)).contains(5L),
      "forgotten dim-16 vector still surfaced")
  }

  test("a mismatched-dim batch and a mixed-dim batch both fail loudly " +
      "before any mutation") {
    val p = freshPath("mismatch")
    ivfSearchInsertBatch(dfv(0L to 19L), p, batchId = 1L)
    val posted = spark.read.parquet(s"$p/g=0/postings").count()
    val exDim = intercept[IllegalArgumentException] {
      ivfSearchInsertBatch(dfv(20L to 24L, dim = 8), p, batchId = 2L)
    }
    assert(exDim.getMessage.contains("does not match the index's recorded dim=16"),
      exDim.getMessage)
    val exMix = intercept[IllegalArgumentException] {
      ivfSearchInsertBatch(
        dfv(Seq(30L)).unionByName(dfv(Seq(31L), dim = 8)), p, batchId = 3L)
    }
    assert(exMix.getMessage.contains("mixed embedding dimensions"),
      exMix.getMessage)
    assert(spark.read.parquet(s"$p/g=0/postings").count() == posted,
      "a refused batch mutated the postings")
    // the reader enforces the same contract
    val g = IvfIndex.resolve(spark, p)
    val exQ = intercept[IllegalArgumentException] {
      ivfSearchResolved(dfv(Seq(800L), dim = 8), p, g).count()
    }
    assert(exQ.getMessage.contains("does not match"), exQ.getMessage)
  }

  test("a legacy pre-manifest index derives dim read-only and is adopted " +
      "by the next insert batch") {
    val p = freshPath("legacy")
    ivfSearchInsertBatch(dfv(0L to 19L), p, batchId = 1L)
    // simulate a pre-r18 index: drop the manifest
    assert(new java.io.File(s"$p/_manifest.json").delete())
    assert(IvfIndex.dim(spark, p).contains(Dim),
      "legacy derivation from the stored centroids failed")
    assert(!new java.io.File(s"$p/_manifest.json").exists,
      "read-only derivation wrote a manifest")
    // a reader works against the legacy index; a wrong-dim query is
    // still refused (derived dim is enforced)
    val g = IvfIndex.resolve(spark, p)
    intercept[IllegalArgumentException] {
      ivfSearchResolved(dfv(Seq(800L), dim = 8), p, g).count()
    }
    // the next WRITER batch adopts: manifest reappears, wrong dim refused
    ivfSearchInsertBatch(dfv(20L to 24L), p, batchId = 2L)
    assert(new java.io.File(s"$p/_manifest.json").exists,
      "insert did not adopt the legacy index into the manifest")
    assert(IvfIndex.dim(spark, p).contains(Dim))
    intercept[IllegalArgumentException] {
      ivfSearchInsertBatch(dfv(Seq(40L), dim = 8), p, batchId = 3L)
    }
  }

  test("a foreign manifest fmt is refused loudly; a manifest without the " +
      "field reads as fmt 1") {
    val p = freshPath("fmt")
    ivfSearchInsertBatch(dfv(0L to 9L), p, batchId = 1L)
    // the field landed one commit after the manifest: dim-only manifests
    // must keep reading (fmt defaults to 1)
    graft.ops.ShardedStore.writeTextFile(spark, s"$p/_manifest.json",
      s"""{"dim":$Dim}""")
    assert(IvfIndex.dim(spark, p).contains(Dim))
    graft.ops.ShardedStore.writeTextFile(spark, s"$p/_manifest.json",
      s"""{"fmt":99,"dim":$Dim}""")
    val ex = intercept[IllegalArgumentException] {
      ivfSearchInsertBatch(dfv(Seq(10L)), p, batchId = 2L)
    }
    assert(ex.getMessage.contains("fmt=99"), ex.getMessage)
  }

  test("pinned reader across ONE refresh works; across TWO gets the named " +
      "lookback contract error, not a raw read failure") {
    val p = freshPath("lookback")
    ivfSearchInsertBatch(dfv(0L to 39L), p, batchId = 1L)
    val g0 = IvfIndex.resolve(spark, p)
    val probe = Seq((900007L, vec(7L))).toDF("vec_id", "embedding")
    IvfIndex.refreshCentroids(spark, p)
    // one refresh: the pin is inside the lookback window
    assert(new java.io.File(g0).exists, "predecessor pruned too early")
    assert(ivfSearchResolved(probe, p, g0).collect()
      .map(_.getLong(1)).headOption.contains(7L))
    val g1 = IvfIndex.resolve(spark, p)
    // second refresh needs new content to matter, but prunes regardless
    ivfSearchInsertBatch(dfv(40L to 49L), p, batchId = 2L)
    IvfIndex.refreshCentroids(spark, p)
    assert(!new java.io.File(g0).exists,
      "generation older than the predecessor survived the second refresh")
    val ex = intercept[IllegalStateException] {
      ivfSearchResolved(probe, p, g0).count()
    }
    assert(ex.getMessage.contains("lookback window") &&
      ex.getMessage.contains("re-resolve"), ex.getMessage)
    // the immediate predecessor (g1) is still a valid pin
    assert(ivfSearchResolved(probe, p, g1).collect()
      .map(_.getLong(1)).headOption.contains(7L))
  }
}
