package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions.col

import graft.ops.SignatureIndex
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
    val NoopRun.Trace(_, plans, _, _) = NoopRun.traced(spark)(body)
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

  /** Parquet file names per shard dir of one index table. */
  private def shardFiles(table: String): Map[String, Set[String]] =
    Option(new File(table).listFiles()).toSeq.flatten.filter(_.isDirectory)
      .filterNot(_.getName.startsWith(".")).map { d =>
        d.getName -> Option(d.listFiles()).toSeq.flatten.map(_.getName)
          .filter(_.endsWith(".parquet")).toSet
      }.toMap

  test("a physical forget and a tombstone purge rewrite their shards in place") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .orderBy("doc_id").limit(120).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val index = Files.createTempDirectory("graft-forget-ex").toString + "/index"
    // two ingests: every shard of both tables holds two files
    docs.grouped(60).foreach(b =>
      StreamingOps.deltaDedupVerifiedBatch(b.toDF("doc_id", "text"), index, 0.7).count(): Unit)
    val ids = SignatureIndex.sigs(spark, index).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    def listings = Seq("sigs", "bands").map(t => t -> shardFiles(s"$index/$t")).toMap
    def inPlace(op: String)(body: => Unit): Unit = {
      val before = listings
      val NoopRun.Trace(_, plans, _, _) = NoopRun.traced(spark)(body)
      val ex = NoopRun.exchanges(plans)
      val carried = ex.filter(e => e.columns.contains("hs") || e.columns.contains("bk"))
      assert(carried.isEmpty, listing(op, ex))
      // one broadcast of the ids serves every shard of a table's rewrite,
      // not one per shard
      val stagings = plans.filter(p => NoopRun.nodes(Seq(p)).exists {
        case DataWritingCommandExec(w: InsertIntoHadoopFsRelationCommand, _) =>
          w.outputPath.getName == ".staging"
        case _ => false
      })
      assert(stagings.size >= 2, s"$op staged ${stagings.size} tables")
      stagings.foreach { p =>
        val sx = NoopRun.exchanges(Seq(p))
        assert(sx.count(e => e.kind == "broadcast" && e.columns == Seq("doc_id")) <= 1,
          listing(s"$op staging", sx))
      }
      val after = listings
      val rewritten = for {
        t <- Seq("sigs", "bands")
        (pt, files) <- after(t) if !before(t).get(pt).contains(files)
      } yield (s"$t/$pt", files.size)
      assert(rewritten.exists(_._1.startsWith("sigs/")) &&
        rewritten.exists(_._1.startsWith("bands/")), s"$op rewrote no shard of a table")
      assert(rewritten.forall(_._2 == 1), s"$op left shards of several files: $rewritten")
    }
    inPlace("forgetBatch") {
      StreamingOps.forgetBatch(ids.take(3).toDF("doc_id"), index).count(): Unit
    }
    StreamingOps.forgetBatchLogical(ids.slice(3, 6).toDF("doc_id"), index).count()
    inPlace("compact (tombstone purge)")(SignatureIndex.compact(spark, index))
    assert(SignatureIndex.sigs(spark, index).where(col("doc_id").isin(ids.take(6): _*))
      .isEmpty, "a forgotten doc survived")
  }
}
