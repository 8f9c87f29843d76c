package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

import graft.ReliableCheckpoints.rddDirs
import graft.ops.{Checkpoints, DedupOps}

/** The iterative family (and the queries that settle one frame for a
  * later one: triangle orientation, BPE training, the MMR pool, the
  * recall arms, the staged store builds) leaves only the settled frames
  * its result reads:
  * a round loop (`Checkpoints.iterate`) releases each round once the next
  * is settled, the frames every round reads are released with their
  * `settled` scope, and a staged build discards the op results it does
  * not read. Counted explicitly in both checkpoint modes: the RDDs
  * a run leaves must be exactly the checkpointed RDDs in the result's
  * logical plan, and none may be left after `Checkpoints.discard(result)`.
  * Reliable mode runs first and counts `rdd-<id>` checkpoint dirs, which
  * nothing but a release deletes, so it also sees what a once-per-JVM
  * `Staging.once` build leaves (when no earlier suite in the JVM ran that
  * build); local mode then counts the RDD ids a run adds to
  * `getPersistentRDDs`, which holds its RDDs weakly (a round that only GC
  * dropped can vanish before it is counted). */
class RoundReleaseSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def leavesOnly(name: String, settledFrames: Int, left: => Set[Int])
                        (build: => DataFrame): Unit = {
    val df = build
    df.write.format("noop").mode("overwrite").save()
    val read = df.queryExecution.logical.collect {
      case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd.id
    }.toSet
    assert(read.size === settledFrames, s"$name's result reads ${read.size} settled frames")
    assert(left === read, s"$name left settled frames its result does not read")
    Checkpoints.discard(df)
    assert(left.isEmpty, s"$name left settled frames after discard")
  }

  private def inBothModes(name: String, settledFrames: Int)(build: => DataFrame): Unit = {
    val ckpt = Files.createTempDirectory("graft_round_release")
    try {
      spark.conf.set(Checkpoints.ModeKey, "reliable")
      spark.conf.set(Checkpoints.DirKey, ckpt.toString)
      leavesOnly(name, settledFrames,
        rddDirs(ckpt).map(_.getFileName.toString.stripPrefix("rdd-").toInt).toSet)(build)
    } finally {
      spark.conf.unset(Checkpoints.ModeKey)
      spark.conf.unset(Checkpoints.DirKey)
    }
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    leavesOnly(name, settledFrames, sc.getPersistentRDDs.keySet.toSet -- before)(build)
  }

  // q_graph_modularity's result reads two settled frames: the last LPA
  // round (community sizes) and the label-joined edges (three aggregates);
  // q_graph_triangles' result reads its oriented edges, not the undirected
  // edges they came from; q_bpe_merges' and q_mmr_diversify's results are
  // built on the driver, so they read none. The ANN entries' results read
  // their last search (ann_delta_*) or none; the staged builds' earlier
  // hits and receipts are discarded. q_dedup_recall_forget reads its own
  // cut of the two arms, dedup_delta_batch2 its batch-2 verdicts. The
  // stable cluster-store entries read the store's files only; their
  // stable merges' receipts are discarded.
  private val queries = Seq("q_pagerank" -> 1, "q_bfs_hops" -> 1, "q_weighted_sssp" -> 1,
    "q_kcore" -> 1, "q_hits_bipartite" -> 1, "q_label_propagation" -> 1,
    "q_graph_modularity" -> 2, "q_graph_triangles" -> 1, "q_bpe_merges" -> 0,
    "q_mmr_diversify" -> 0, "ann_delta_evolve" -> 1, "ann_delta_forget" -> 1,
    "q_ann_recall_evolution" -> 0, "q_ann_refresh_recall" -> 1,
    "q_dedup_recall_forget" -> 1, "dedup_delta_batch2" -> 1,
    "dedup_clusters_stable_ids" -> 0, "dedup_clusters_stable_forget" -> 0)

  for ((name, n) <- queries)
    test(s"$name leaves only the settled frames its result reads") {
      inBothModes(name, n)(SparkEntry.queries(name)(spark, dir))
    }

  test("connectedComponents' doubling path leaves only its last round") {
    inBothModes("doubling", 1) {
      val parts = Tables.part(spark, dir).select(col("p_partkey").cast("long").as("id"))
      val pairs = SparkEntry.queries("q_copurchase_edges")(spark, dir)
        .select(col("part_a").as("id_l"), col("part_b").as("id_r"))
      DedupOps.connectedComponents(parts, pairs, driverEdgeLimit = 0)
    }
  }
}
