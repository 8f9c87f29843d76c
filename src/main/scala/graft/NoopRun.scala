package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed run of a query the way graft.Bench times it: build the frame,
  * write every row to the noop sink, then clear the cache outside the
  * timed region. Shared by Explain and the dev tools; Bench keeps its own
  * copy, because it is the driver contract. */
object NoopRun {
  /** Wall seconds of the build and write, and the Janino compilations
    * (misses of Spark's compiled-class cache) they caused. */
  final case class Timed(seconds: Double, compiles: Long)

  def apply(spark: SparkSession)(build: => DataFrame): Timed = {
    val c0 = compiles()
    val t0 = System.nanoTime()
    try {
      build.write.format("noop").mode("overwrite").save()
      Timed((System.nanoTime() - t0) / 1e9, compiles() - c0)
    } finally spark.catalog.clearCache()
  }

  /** Janino compilations in this JVM so far. */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
