package graft.streaming

import graft.ops.IvfIndex
import graft.SparkSpec
import graft.ops.VectorOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins [[IvfIndex.refreshCentroids]] against the frozen bootstrap
  * index it replaces, on a fixture with PLANTED DRIFT — the scenario the
  * op exists for. (On structureless data, IVF recall is centroid-set-
  * agnostic up to noise — measured on the sf0.001 embeddings before this
  * fixture was built — so "refresh ≥ frozen" is only a meaningful claim
  * when the drift has structure.)
  *
  * Fixture (deterministic, seeded): the bootstrap corpus is four tight
  * clusters around orthogonal directions; the two inserted batches form
  * a fifth tight cluster around a direction ORTHOGONAL to all of them.
  * Against the frozen stride-drawn centroids, every drifted vector's
  * centroid cosines are noise (the drift direction is orthogonal to all
  * cells), so the drifted cluster SCATTERS across cells and a drifted
  * query's nProbe cells miss most of its true neighbors. A refresh
  * re-clusters with the drifted mass present, dedicates a centroid to
  * it, and recall recovers — the spec pins refreshed ≥ frozen overall
  * and a strict improvement on the drifted queries.
  */
class IvfRefreshSpec extends SparkSpec {
  import StreamingOps._
  import spark.implicits._

  private val NProbe = 2
  private val TopK = 5
  private val Dim = 64

  /** Unit vector around `axis` with gaussian noise of scale `sigma`,
    * deterministically seeded per id. */
  private def vec(id: Long, axis: Int, sigma: Double): Seq[Float] = {
    val rnd = new java.util.Random(1000003L * id + 17L * axis)
    val raw = Array.tabulate(Dim)(j =>
      (if (j == axis) 1.0 else 0.0) + sigma * rnd.nextGaussian())
    val n = math.sqrt(raw.map(x => x * x).sum)
    raw.map(x => (x / n).toFloat).toSeq
  }

  // corpus ids 0..399: four tight clusters on axes 0..3; drifted ids
  // 400..499: one tight cluster on axis 10 (orthogonal to all corpus
  // axes) — batch 1 = 400..449, batch 2 = 450..499
  private lazy val corpus = (0L until 400L).map(i => (i, vec(i, (i % 4).toInt, 0.25)))
  private lazy val drifted = (400L until 500L).map(i => (i, vec(i, 10, 0.25)))

  /** Mean recall@k (e4) of the index's IVF probe vs brute truth over its
    * own postings, for `queries` — recomputed from the index files so
    * frozen and refreshed indexes are measured identically. */
  private def meanRecallE4(indexPath: String,
                           queries: Seq[(Long, Seq[Float])]): Long = {
    val q = queries.toDF("q_id", "q_vec")
    val gd = IvfIndex.resolve(spark, indexPath)
    val cents = spark.read.parquet(s"$gd/centroids")
    val postings = spark.read.parquet(s"$gd/postings")
      .select("vec_id", "embedding", "centroid_id")
    val wQ = Window.partitionBy("q_id").orderBy(col("cs").desc, col("c_id").asc)
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cs", VectorOps.cosine(col("q_vec"), col("c_vec")))
      .withColumn("rn", row_number().over(wQ)).where(col("rn") <= NProbe)
      .select(col("q_id"), col("c_id").as("centroid_id"), lit(1).as("in_probe"))
    val scored = postings.crossJoin(broadcast(q))
      .where(col("q_id") =!= col("vec_id"))
      .withColumn("cs", VectorOps.cosine(col("q_vec"), col("embedding")))
      .join(broadcast(probes), Seq("q_id", "centroid_id"), "left")
    val wR = Window.partitionBy("q_id").orderBy(col("cs").desc, col("vec_id").asc)
    val truth = scored.withColumn("rn", row_number().over(wR))
      .where(col("rn") <= TopK).select("q_id", "vec_id")
    val hits = scored.where(col("in_probe") === 1)
      .withColumn("rn", row_number().over(wR))
      .where(col("rn") <= TopK).select("q_id", "vec_id")
    val m = hits.join(truth, Seq("q_id", "vec_id")).count()
    m * 10000 / (TopK * queries.size)
  }

  test("forgotten vectors: refresh purges them for free and drops the deletion vector; compaction purges the merged horizon") {
    val indexPath =
      java.nio.file.Files.createTempDirectory("ivf_fgt").toString + "/index"
    ivfSearchInsertBatch(corpus.toDF("vec_id", "embedding"), indexPath, batchId = 0L)
    ivfSearchInsertBatch(drifted.take(50).toDF("vec_id", "embedding"),
      indexPath, batchId = 1L)
    ivfSearchInsertBatch(drifted.drop(50).toDF("vec_id", "embedding"),
      indexPath, batchId = 2L)
    val gone = Seq(7L, 13L, 421L, 473L) // corpus + both drifted batches
    forgetVectorsBatch(gone.toDF("vec_id"), indexPath).count()
    def postings() = spark.read.parquet(
      s"${IvfIndex.resolve(spark, indexPath)}/postings")
    // still on disk (logical forget), but unmatchable: a probe AT one of
    // the forgotten vectors must not return it
    assert(postings().where(col("vec_id").isin(gone: _*)).count() == gone.size)
    val probeAtGone = ivfSearchInsertBatch(
      Seq((2000007L, corpus(7)._2)).toDF("vec_id", "embedding"),
      indexPath, batchId = 8L)
      .collect().map(_.getLong(1)).toSet
    assert(probeAtGone.nonEmpty && !probeAtGone.exists(gone.contains),
      s"forgotten vector surfaced as a partner: $probeAtGone")
    // compaction purges the merged horizon (batches <= 1) but keeps the
    // deletion vector (batch-2 rows may still carry tombstoned ids)
    IvfIndex.compact(spark, indexPath, upToBatchId = 1L)
    val afterCompact = postings().where(col("vec_id").isin(gone: _*))
      .select("vec_id").as[Long].collect().toSet
    assert(afterCompact == Set(473L),
      s"horizon purge wrong: $afterCompact (only the batch-2 row should survive)")
    assert(new java.io.File(s"$indexPath/tombstones").exists,
      "compaction must NOT drop the deletion vector")
    // refresh rewrites everything: zero forgotten rows in the new
    // generation, centroids fitted without them, vector dropped
    IvfIndex.refreshCentroids(spark, indexPath)
    assert(postings().where(col("vec_id").isin(gone: _*)).count() == 0,
      "refresh left forgotten rows in the new generation")
    assert(!new java.io.File(s"$indexPath/tombstones").exists,
      "refresh settled the debt but kept the deletion vector")
    // survivors intact
    assert(postings().select("vec_id").distinct().count() ==
      corpus.size + drifted.size + 1 - gone.size) // +1: the probe insert
  }

  test("refreshCentroids: content preserved, cells rebuilt, recall >= frozen (and recovers on the drifted cluster)") {
    val indexPath =
      java.nio.file.Files.createTempDirectory("ivf_refresh").toString + "/index"
    ivfSearchInsertBatch(corpus.toDF("vec_id", "embedding"), indexPath, batchId = 0L)
    ivfSearchInsertBatch(drifted.take(50).toDF("vec_id", "embedding"),
      indexPath, batchId = 1L)
    ivfSearchInsertBatch(drifted.drop(50).toDF("vec_id", "embedding"),
      indexPath, batchId = 2L)

    val corpusQ = corpus.filter(_._1 % 50 == 1)   // 8 in-distribution queries
    val driftedQ = drifted.filter(_._1 % 10 == 7) // 10 drifted queries
    def postingsContent() = spark.read
      .parquet(s"${IvfIndex.resolve(spark, indexPath)}/postings")
      .select(col("vec_id"), col("batch_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val frozenContent = postingsContent()
    val frozenGen = IvfIndex.resolve(spark, indexPath)
    val frozenK = spark.read.parquet(s"$frozenGen/centroids").count()
    val frozenAll = meanRecallE4(indexPath, corpusQ ++ driftedQ)
    val frozenDrifted = meanRecallE4(indexPath, driftedQ)
    // the fixture must exhibit the failure the op fixes, or the test is
    // vacuous: the drifted cluster scatters across frozen cells
    assert(frozenDrifted <= 6000,
      s"drifted queries not degraded under frozen centroids ($frozenDrifted) — fixture vacuous")

    IvfIndex.refreshCentroids(spark, indexPath)

    // content: every (vec_id, batch_id) posting survives exactly once
    assert(postingsContent() == frozenContent,
      "refresh lost, duplicated, or re-stamped postings")
    // generation swap: pointer advanced, the PREVIOUS generation dir
    // survives untouched (the zero-downtime lookback for readers that
    // resolved before the repoint)
    val refreshedGen = IvfIndex.resolve(spark, indexPath)
    assert(refreshedGen != frozenGen, "refresh did not advance the generation")
    assert(new java.io.File(s"$frozenGen/centroids").exists() &&
      new java.io.File(s"$frozenGen/postings").exists(),
      "refresh pruned the immediate predecessor generation")
    // structure: k centroids with ids 0..k-1; every posting in a live cell
    val cents = spark.read.parquet(s"$refreshedGen/centroids")
    assert(cents.count() == frozenK)
    val cids = cents.select("c_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(cids == (0L until frozenK).toSeq, s"centroid ids not 0..k-1: $cids")
    val orphan = spark.read.parquet(s"$refreshedGen/postings")
      .select("centroid_id").distinct()
      .join(cents.select(col("c_id").as("centroid_id")),
        Seq("centroid_id"), "left_anti").count()
    assert(orphan == 0, "postings assigned to a nonexistent centroid")
    // recall: overall at least frozen, and a strict recovery on the
    // drifted cluster (the reason the op exists)
    val refreshedAll = meanRecallE4(indexPath, corpusQ ++ driftedQ)
    val refreshedDrifted = meanRecallE4(indexPath, driftedQ)
    info(s"recall@$TopK e4 overall: frozen=$frozenAll refreshed=$refreshedAll; " +
      s"drifted: frozen=$frozenDrifted refreshed=$refreshedDrifted")
    assert(refreshedAll >= frozenAll,
      s"refresh regressed overall recall: frozen=$frozenAll refreshed=$refreshedAll")
    assert(refreshedDrifted > frozenDrifted,
      s"refresh did not recover drifted recall: $frozenDrifted -> $refreshedDrifted")
    // no litter: only the pointer, the dim manifest (r18 — a corpus
    // property, not litter), their local-FS checksum companions, and
    // generation dirs remain
    val litter = new java.io.File(indexPath).listFiles().map(_.getName)
      .filterNot(n => n == "_gen" || n == "_manifest.json" ||
        n.startsWith("g=") || n.endsWith(".crc"))
    assert(litter.isEmpty, s"swap litter: ${litter.mkString(",")}")
    // a search through the REAL op still works against the refreshed
    // layout (replay of batch 2: excludes its own rows, returns hits,
    // dynamic overwrite keeps the content fixed)
    val h = ivfSearchInsertBatch(drifted.drop(50).toDF("vec_id", "embedding"),
      indexPath, batchId = 2L)
    assert(h.count() > 0, "post-refresh search returned nothing")
    assert(postingsContent() == frozenContent,
      "post-refresh replay changed the postings content")
  }
}
