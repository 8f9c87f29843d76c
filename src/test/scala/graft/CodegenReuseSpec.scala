package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.streaming.StreamingOps

/** A repeated op compiles nothing new: Spark's compiled-class cache is
  * sized by [[Sessions.defaults]] to hold a whole lake cycle, and generated
  * class names carry no codegen stage id, so the same pipeline keeps one
  * name however AQE numbers its stages. Every run still analyses, plans
  * and generates its source; only the Janino compile of byte-identical
  * source is reused. Counts are [[NoopRun.compiles]] deltas. */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def compilesOf(body: => Unit): Long = {
    val c0 = NoopRun.compiles()
    body
    NoopRun.compiles() - c0
  }

  test("the compiled-class cache holds the Sessions.defaults entry count") {
    // CodeGenerator sizes its JVM-wide cache from SQLConf.get at the first
    // codegen, which runs inside an action, under this session's conf
    val key = "spark.sql.codegen.cache.maxEntries"
    assert(spark.conf.get(key) === Sessions.defaults(key))
  }

  test("a second Pipeline.runAll over the same fixture compiles at most a tenth of the first") {
    // not exactly 0: AQE picks a converted join's build side from whichever
    // input stage finishes first, so a run can meet a plan variant the
    // first run did not and compile it once (4 of 131 classes seen here);
    // with the default 100-entry cache the second run recompiled most of
    // the first run's classes
    def refresh() = compilesOf(
      Pipeline.runAll(spark, sf, Files.createTempDirectory("graft-lake").toString))
    val first = refresh()
    val second = refresh()
    assert(second * 10 <= first, s"first run compiled $first classes, second $second")
  }

  test("a third ingest batch compiles at most a tenth of the first batch") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val index = Files.createTempDirectory("graft-codegen").toString + "/index"
    val counts = docs.grouped((docs.size + 2) / 3).toSeq.map { b =>
      compilesOf(StreamingOps.deltaDedupVerifiedBatch(
        b.toDF("doc_id", "text"), index, 0.7).count(): Unit)
    }
    assert(counts.size === 3)
    assert(counts(2) * 10 <= counts(0), s"compilations per batch: $counts")
  }
}
