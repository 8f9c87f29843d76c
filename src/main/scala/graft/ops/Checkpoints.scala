package graft.ops

import org.apache.spark.graftshim.RddShim
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one lineage-cut primitive for every iterative / reused-frame plan
  * (Pregel-via-joins graph queries, union-find doubling, greedy sketch
  * loops). Mode is a session switch so the SAME query code runs in both
  * deployment shapes:
  *
  *  - `spark.graft.checkpoint.mode=local` (default): `localCheckpoint` —
  *    executor-local block storage, no reliable-FS write, fastest. The
  *    right dev/local-mode choice, but NOT replicated: on a real cluster an
  *    executor loss discards the blocks and kills the job mid-iteration.
  *  - `spark.graft.checkpoint.mode=reliable`: `Dataset.checkpoint()` into
  *    `spark.graft.checkpoint.dir` (set it to a durable FS path — HDFS/
  *    object store on a cluster). Survives executor loss; the production
  *    mode for multi-hour 100 TB iterative jobs.
  *
  * Both modes are EAGER (materialize now, truncate lineage now) — the
  * doubling self-joins and per-round cuts rely on that. Results are
  * mode-independent by construction (`CheckpointModeSpec` pins it on the
  * iterative graph family).
  */
object Checkpoints {
  val ModeKey = "spark.graft.checkpoint.mode"
  val DirKey = "spark.graft.checkpoint.dir"

  /** Releases a frame settled by `localCheckpoint`/`checkpoint` once its
    * consumer is done with it. `Dataset.unpersist` only drops CacheManager
    * entries; the checkpointed RDD stays in `getPersistentRDDs`, holding
    * its blocks until the JVM happens to collect it, so the RDD itself is
    * dropped here. The frame cannot be read afterwards. */
  def release(settled: DataFrame): Unit = settled.queryExecution.logical match {
    case r: LogicalRDD => RddShim.drop(r.rdd)
    case _ => settled.unpersist(blocking = false): Unit
  }

  implicit class LineageCut(private val df: DataFrame) extends AnyVal {
    /** Eagerly materialize `df` and truncate its lineage, honoring the
      * session's checkpoint mode. */
    def cutLineage(): DataFrame = {
      val spark = df.sparkSession
      if (spark.conf.get(ModeKey, "local") == "reliable") {
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(spark.conf.get(DirKey, "/tmp/graft_checkpoint"))
        df.checkpoint()
      } else df.localCheckpoint()
    }
  }
}
