package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions.assert

import graft.ops.Checkpoints

/** Runs a block in reliable checkpoint mode as a session whose checkpoint
  * dir changes: a one-row frame is first settled under one fresh dir, then
  * the block runs with `spark.graft.checkpoint.dir` set to a second fresh
  * dir of its own. The first cut makes the check independent of whether an
  * earlier suite in the same JVM already checkpointed. Asserts that the
  * block's checkpoints landed under its own dir. */
object ReliableCheckpoints {
  def apply[A](spark: SparkSession, tag: String)(body: => A): A = {
    def fresh(step: String): Path = Files.createTempDirectory(s"graft_ckpt_${tag}_$step")
    val own = fresh("run")
    try {
      spark.conf.set(Checkpoints.ModeKey, "reliable")
      spark.conf.set(Checkpoints.DirKey, fresh("before").toString)
      Checkpoints.settled(spark.range(1).toDF())(_.count())
      spark.conf.set(Checkpoints.DirKey, own.toString)
      val out = body
      val written = Files.list(own).anyMatch(Files.isDirectory(_))
      assert(written, s"no checkpoint was written under $own")
      out
    } finally {
      spark.conf.unset(Checkpoints.ModeKey)
      spark.conf.unset(Checkpoints.DirKey)
    }
  }

  /** Spark's per-RDD reliable checkpoint directories (`rdd-<id>`) under
    * `root` (Spark adds a UUID level between the two). */
  def rddDirs(root: Path): Seq[Path] =
    Files.walk(root).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))
}
