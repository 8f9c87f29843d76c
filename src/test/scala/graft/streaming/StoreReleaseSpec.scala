package graft.streaming

import org.apache.spark.sql.functions.col

import graft.{SparkSpec, StoreCycle}
import graft.ops.SignatureIndex

/** Store ops leave persisted only what they return: a steady-state ingest
  * its settled verdicts, a compaction nothing. Counted as RDD ids that
  * appear in `getPersistentRDDs` across the op and are still there after
  * it (a checkpointed intermediate stays listed until released or
  * garbage-collected; `Dataset.unpersist` does not drop it). */
class StoreReleaseSpec extends SparkSpec {
  import spark.implicits._

  private def newPersisted[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = body
    (out, (sc.getPersistentRDDs.keySet -- before).size)
  }

  test("a steady-state ingest persists only its verdicts; a compaction nothing") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val (d1, d2) = docs.splitAt(docs.length / 2)
    val index = java.nio.file.Files.createTempDirectory("p_release").toString + "/index"
    StreamingOps.deltaDedupVerifiedBatch(d1.toDF("doc_id", "text"), index, 0.7).count()
    val (verdicts, ingestLeft) = newPersisted(
      StreamingOps.deltaDedupVerifiedBatch(d2.toDF("doc_id", "text"), index, 0.7))
    assert(ingestLeft === 1)
    assert(verdicts.count() === d2.size)
    // tombstones, so that the compaction runs its purge
    StreamingOps.forgetBatchLogical(d1.take(5).map(_._1).toDF("doc_id"), index).count()
    val (_, compactLeft) = newPersisted(SignatureIndex.compact(spark, index))
    assert(compactLeft === 0)
  }

  test("ann_delta_topk leaves no persisted frame behind") {
    val (rows, left) = newPersisted(
      graft.queries.VectorQueries.annDeltaTopk.run(spark, "/root/testdata/sf0.001").collect())
    assert(rows.nonEmpty)
    assert(left === 0)
  }

  test("the cluster-store entries leave no persisted frame behind") {
    import graft.queries.DedupQueries._
    for (q <- Seq(dedupClustersDelta, dedupClustersForget,
        dedupClustersStableIds, dedupClustersStableForget)) {
      def run() = q.run(spark, "/root/testdata/sf0.001").collect()
      // the measured call is the steady-state one: the first also builds
      // the once-per-JVM store. The cache is cleared in between, so that a
      // pair frame left cached cannot absorb the measured call's persist
      // and hide a leak
      run()
      spark.catalog.clearCache()
      val (rows, left) = newPersisted(run())
      assert(rows.nonEmpty, q.name)
      assert(left === 0, s"${q.name} left $left persisted RDDs")
    }
  }

  test("every store op leaves persisted only the settled frame it returns") {
    val root = java.nio.file.Files.createTempDirectory("p_release_cycle").toString
    val steps = StoreCycle.run(spark, root)
    for (s <- steps)
      assert(s.persisted === s.returned.toSet,
        s"${s.op} left persisted RDDs ${s.persisted} besides its result ${s.returned}")
    // every op that hands back a receipt, verdicts or hits returns it settled
    assert(steps.filter(_.returned.isEmpty).map(_.op) ===
      Seq("compact", "cluster merge", "cluster forget", "ivf bootstrap"))
  }
}
