package graft.tools

/** Dev-only subset of [[graft.Verify]]: dump ONLY the named queries (plus
  * their oracle SQL) so tools/check.py can gate a work-in-progress query
  * without re-running the whole catalog.
  * Usage: runMain graft.tools.VerifyOne <sfDir> <outDir> <name>...
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSeq
    val spark = graft.Sessions.local()
    new java.io.File(outDir).mkdirs()
    val qs = graft.SparkEntry.queries
    names.foreach { name =>
      qs(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      spark.catalog.clearCache()
    }
    graft.Verify.writeOracleJson(outDir,
      graft.SparkEntry.oracleSql.view.filterKeys(names.contains).toMap)
    spark.stop()
  }
}
