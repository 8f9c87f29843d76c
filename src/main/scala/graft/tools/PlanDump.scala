package graft.tools

/** Dump `.explain("formatted")` for named catalog queries to files —
  * the committed per-round plan artifacts (plans/rNN/query_before.txt,
  * query_after.txt). Each query runs first (its rows are dropped), so the
  * dump shows the final adaptive plan, with the stages and partition
  * counts AQE picked at run time, above the initial one.
  *
  * Usage: runMain graft.tools.PlanDump sfDir outDir suffix query...
  * Writes outDir/query_suffix.txt. Session shape mirrors graft.Bench
  * ([[graft.Sessions.local]]: one shuffle partition per core) so the plans
  * are the ones the bench actually runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(dir, outDir, suffix, names @ _*) = args.toSeq.toArray: @unchecked
    val spark = graft.Sessions.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val qs = graft.SparkEntry.queries
    names.foreach { n =>
      val qe = qs(n)(spark, dir).queryExecution
      qe.toRdd.foreach(_ => ())
      val plan = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
