package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.graftshim.RddShim
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one place that cuts lineage. Every frame the engine settles goes
  * through one of three forms:
  *
  *  - [[LineageCut.cutLineage]] (hand-off): a receipt, verdict or result
  *    that outlives the call that made it.
  *  - [[settled]] (scoped): lives for one lexical block (a store read
  *    settled before the store mutates, a frame every round reads).
  *  - [[iterate]] (rounds): each round of a loop (Pregel-via-joins graph
  *    queries, union-find doubling) is settled and the one before it
  *    released; the last round is handed off.
  *
  * Mode is a session switch so the SAME code runs in both deployment
  * shapes:
  *
  *  - `spark.graft.checkpoint.mode=local` (default): `localCheckpoint` —
  *    executor-local block storage, no reliable-FS write, fastest. The
  *    right dev/local-mode choice, but NOT replicated: on a real cluster an
  *    executor loss discards the blocks and kills the job mid-iteration.
  *  - `spark.graft.checkpoint.mode=reliable`: `Dataset.checkpoint()` into
  *    `spark.graft.checkpoint.dir` (set it to a durable FS path — HDFS/
  *    object store on a cluster). Survives executor loss; the production
  *    mode for multi-hour 100 TB iterative jobs and for store mutations
  *    that must not lose a settled frame half way.
  *
  * Both modes are EAGER (materialize now, truncate lineage now) — the
  * doubling self-joins, per-round cuts and settle-before-mutate steps rely
  * on that. Results are mode-independent by construction
  * (`CheckpointModeSpec` pins it on the iterative graph family and on
  * every store op).
  */
object Checkpoints {
  val ModeKey = "spark.graft.checkpoint.mode"
  val DirKey = "spark.graft.checkpoint.dir"

  /** Settles `df` ([[LineageCut.cutLineage]]), runs `body` on the settled
    * frame and releases it when `body` exits, normally or not. `body` must
    * not return the settled frame or a lazy frame that reads it. */
  def settled[A](df: DataFrame)(body: DataFrame => A): A = {
    val s = df.cutLineage()
    try body(s) finally discard(s)
  }

  /** Runs up to `rounds` steps from `init` (never released here), settling
    * each round and releasing the one before, so a loop holds at most two
    * settled rounds; stops after the first round for which `until` holds.
    * Returns the last round as a hand-off (`init` when `rounds` is 0). */
  def iterate(init: DataFrame, rounds: Int, until: DataFrame => Boolean = _ => false)
             (step: DataFrame => DataFrame): DataFrame = {
    @annotation.tailrec def go(cur: DataFrame, k: Int): DataFrame =
      if (k == rounds) cur
      else {
        val next = try step(cur).cutLineage() finally if (k > 0) discard(cur)
        if (until(next)) next else go(next, k + 1)
      }
    go(init, 0)
  }

  /** Releases every settled frame `df` reads: a frame settled here, or the
    * result of an op that a caller drops (a store op's receipt) or is done
    * with. `Dataset.unpersist` only drops CacheManager entries; a locally
    * checkpointed RDD stays in `getPersistentRDDs`, holding its blocks
    * until the JVM happens to collect it, so the RDD itself is dropped. A
    * reliable checkpoint's files are deleted too: Spark's cleaner keeps
    * them by default (`spark.cleaner.referenceTracking.cleanCheckpoints`). */
  def discard(df: DataFrame): Unit =
    df.queryExecution.logical.collect {
      case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd
    }.foreach { rdd =>
      RddShim.drop(rdd)
      rdd.getCheckpointFile.foreach { f =>
        val p = new Path(f)
        p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }

  implicit class LineageCut(private val df: DataFrame) extends AnyVal {
    /** Eagerly materialize `df` and truncate its lineage, honoring the
      * session's checkpoint mode. */
    def cutLineage(): DataFrame = {
      val spark = df.sparkSession
      if (spark.conf.get(ModeKey, "local") == "reliable") {
        val sc = spark.sparkContext
        // Spark checkpoints into a UUID dir it makes under the configured
        // one, so re-point the context whenever the configured dir is not
        // that dir's parent: a session that changes the dir must write there
        val dir = new Path(spark.conf.get(DirKey, "/tmp/graft_checkpoint"))
        val want = dir.getFileSystem(sc.hadoopConfiguration).makeQualified(dir)
        if (!sc.getCheckpointDir.map(d => new Path(d).getParent).contains(want))
          sc.setCheckpointDir(want.toString)
        df.checkpoint()
      } else df.localCheckpoint()
    }
  }
}
