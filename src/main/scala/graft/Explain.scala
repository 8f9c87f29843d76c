package graft

/** Dev utility: print the formatted physical plan and cold/warm timings for
  * one cataloged query, timed with graft.Bench's recipe ([[NoopRun]]), with
  * each rep's Janino compilations, shuffle bytes, Spark jobs and exchanges
  * (one line each: kind, shuffle bytes written, plan sites reading it,
  * partitioning, columns). Usage: runMain graft.Explain <query> [sfDir] [reps]. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.local()
    val q = SparkEntry.catalog.find(_.name == name)
      .getOrElse(sys.error(s"unknown query '$name'; known: " +
        SparkEntry.catalog.map(_.name).sorted.mkString(", ")))
    q.run(spark, sfDir).explain("formatted")
    spark.catalog.clearCache()
    (1 to reps).foreach { r =>
      val t = NoopRun(spark)(q.run(spark, sfDir))
      println(f"[explain] rep=$r time=${t.seconds}%.3fs compiles=${t.compiles} " +
        s"shuffle_bytes=${t.shuffleBytes} jobs=${t.jobs} exchanges=${t.exchanges.size}")
      t.exchanges.foreach(e => println(s"[explain]   $e"))
    }
    spark.stop()
  }
}
