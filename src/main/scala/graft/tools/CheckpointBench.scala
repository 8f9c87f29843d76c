package graft.tools

import graft.{NoopRun, Sessions, SparkEntry}
import graft.ops.Checkpoints

/** Measures the RELIABLE-checkpoint overhead on the deepest iterative
  * lineage users (the CheckpointModeSpec set): each query runs warm in
  * both checkpoint modes and the per-query min-of-reps is compared.
  * `local` (localCheckpoint, executor blocks) is the dev default;
  * `reliable` (Dataset.checkpoint to a durable dir) is the 100 TB
  * production mode that survives executor loss — this tool prices that
  * insurance so the trade-off is a measured number, not folklore.
  *
  * Usage: runMain graft.tools.CheckpointBench [sfDir] [reps]
  * Prints ONE JSON line: per-query local/reliable seconds (min of reps)
  * and the e2-scaled overhead ratio.
  */
object CheckpointBench {
  private val Names = Seq("q_label_propagation", "q_hits_bipartite",
    "q_kcore", "dedup_clusters", "doc_salient_term")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = Sessions.local()
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_ckpt_bench").toString

    // Between-rep cleanup happens OUTSIDE the measured region: timing
    // clearCache(), and letting reliable-mode checkpoint files pile up
    // across reps, both inflate exactly the reliable/local ratio this
    // tool exists to measure.
    def wipeCheckpoints(): Unit = {
      val root = java.nio.file.Paths.get(ckptDir)
      if (java.nio.file.Files.exists(root)) {
        val walk = java.nio.file.Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .filter(p => p != root)
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
      // re-point the context at a fresh per-run subdir (setCheckpointDir
      // appoints a new UUID dir under ckptDir) so later reps never write
      // into a path the wipe just removed
      if (spark.sparkContext.getCheckpointDir.nonEmpty)
        spark.sparkContext.setCheckpointDir(ckptDir)
    }
    def time(name: String): Double = {
      val dt = NoopRun(spark)(SparkEntry.queries(name)(spark, sfDir)).seconds
      wipeCheckpoints()
      dt
    }
    def measure(mode: String): Map[String, Double] = {
      if (mode == "reliable") {
        spark.conf.set(Checkpoints.ModeKey, "reliable")
        spark.conf.set(Checkpoints.DirKey, ckptDir)
      } else {
        spark.conf.unset(Checkpoints.ModeKey)
        spark.conf.unset(Checkpoints.DirKey)
      }
      Names.map { n => n -> (1 to reps).map(_ => time(n)).min }.toMap
    }

    Names.foreach(time) // warmup pass (JVM/codegen/reader init)
    val local = measure("local")
    val reliable = measure("reliable")
    val perQ = Names.map { n =>
      val r = (reliable(n) / local(n) * 100).round
      s""""$n":{"local_s":${f"${local(n)}%.3f"},"reliable_s":${f"${reliable(n)}%.3f"},"ratio_e2":$r}"""
    }.mkString("{", ",", "}")
    val tl = local.values.sum
    val tr = reliable.values.sum
    println(s"""{"metric":"checkpoint_overhead","sf":"$sfDir","reps":$reps,""" +
      s""""total_local_s":${f"$tl%.3f"},"total_reliable_s":${f"$tr%.3f"},""" +
      s""""total_ratio_e2":${(tr / tl * 100).round},"queries":$perQ}""")
    spark.stop()
  }
}
