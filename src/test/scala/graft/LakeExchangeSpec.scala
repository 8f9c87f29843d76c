package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.streaming.StreamingOps

/** Exchange budgets of the lake ops: no exchange a lake op computes twice,
  * and none that only feeds a join AQE later broadcasts. Each op runs
  * under [[NoopRun.traced]]; its exchanges are read from the executed
  * plans (AQE query stages, subqueries and the plans of the cached
  * relations they scan, via AdaptiveSparkPlanHelper). A failure names the
  * op and prints its exchanges. */
class LakeExchangeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private lazy val lake = {
    val dir = Files.createTempDirectory("graft-lake-ex").toString
    Pipeline.runStage1GeoEnrich(spark, sf, dir)
    dir
  }

  private def exchangesOf(body: => Unit): Seq[NoopRun.Exchange] = {
    val (_, plans, _) = NoopRun.traced(spark)(body)
    NoopRun.exchanges(plans)
  }

  private def listing(op: String, ex: Seq[NoopRun.Exchange]): String =
    s"$op exchanges:\n  " + ex.mkString("\n  ")

  private def hashOn(keys: String*)(e: NoopRun.Exchange): Boolean =
    e.kind == "shuffle" &&
      e.partitioning.matches(s"hashpartitioning\\(${keys.mkString(", ")}, \\d+\\)")

  test("stage 2 shuffles the visits by user_id once for home and travel") {
    val ex = exchangesOf(Pipeline.runStage2UserCity(spark, lake))
    val visits = ex.filter(e => hashOn("user_id")(e) && e.columns.contains("visit_date"))
    assert(visits.size === 1, listing("Pipeline stage 2", ex))
    assert(visits.head.shuffleBytes > 0, listing("Pipeline stage 2", ex))
  }

  test("stage 4's pair sides read one shared (channel, zone_id) exchange") {
    val ex = exchangesOf(Pipeline.runStage4Recommendations(spark, lake))
    val pairKey = ex.filter(hashOn("channel", "zone_id"))
    assert(pairKey.size === 1, listing("Pipeline stage 4", ex))
    assert(pairKey.head.reads === 2, listing("Pipeline stage 4", ex))
    // the subscribers are shuffled for the pair key and nothing else
    val subscribers = ex.filter(e => e.kind == "shuffle" && e.columns.contains("channel"))
    assert(subscribers === pairKey, listing("Pipeline stage 4", ex))
  }

  test("an ingest shuffles no full signature row (hs, sig and bands)") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .orderBy("doc_id").limit(120).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val index = Files.createTempDirectory("graft-ingest-ex").toString + "/index"
    import spark.implicits._
    // the first batch creates the index, the second probes a non-empty one
    docs.grouped(60).zipWithIndex.foreach { case (batch, i) =>
      val op = s"deltaDedupVerifiedBatch (batch $i)"
      val ex = exchangesOf(StreamingOps.deltaDedupVerifiedBatch(
        batch.toDF("doc_id", "text"), index, 0.7).count(): Unit)
      val full = ex.filter(e => Seq("hs", "sig", "bands").forall(e.columns.contains))
      assert(full.isEmpty, listing(op, ex))
    }
  }
}
