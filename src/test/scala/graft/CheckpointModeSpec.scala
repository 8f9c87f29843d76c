package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

import graft.ReliableCheckpoints.rddDirs
import graft.ops.{Checkpoints, DedupOps}

/** Pins that the iterative graph/dedup family is CHECKPOINT-MODE-AGNOSTIC
  * (r9 verdict item 5): every `cutLineage()` site produces identical
  * results whether it runs as executor-local `localCheckpoint` (the dev
  * default — fast, not replicated) or as a reliable `checkpoint(dir)`
  * (the production mode at 100 TB, where an executor loss mid-iteration
  * must not kill a multi-hour job). The switch is data-independent by
  * construction — `cutLineage` only changes WHERE the materialized blocks
  * live — and this spec proves it empirically on the queries with the
  * deepest iterative lineage, and on every mutating op of the three
  * persisted stores ([[StoreCycle]]), whose settle-before-mutate steps
  * must survive an executor loss in the cluster mode too. Spark keeps
  * reliable checkpoint files, so both tests also check that nothing is
  * left under the checkpoint dir once a result is released.
  */
class CheckpointModeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // Deepest cutLineage users: every Pregel-via-joins round loop and HITS,
  // union-find (dedup_clusters, which takes the driver path at this size,
  // and the forced doubling path), and doc_salient_term, which settles
  // nothing (a control).
  private val cases: Seq[(String, () => DataFrame)] =
    Seq("q_pagerank", "q_bfs_hops", "q_weighted_sssp", "q_label_propagation",
      "q_graph_modularity", "q_hits_bipartite", "q_kcore", "dedup_clusters",
      "doc_salient_term").map(n => n -> (() => SparkEntry.queries(n)(spark, dir))) :+
      "connectedComponents doubling" -> { () =>
        DedupOps.connectedComponents(
          Tables.part(spark, dir).select(col("p_partkey").cast("long").as("id")),
          SparkEntry.queries("q_copurchase_edges")(spark, dir)
            .select(col("part_a").as("id_l"), col("part_b").as("id_r")),
          driverEdgeLimit = 0).orderBy("node")
      }

  /** The result's rows, and for each settled frame it reads, its reliable
    * checkpoint file if that exists once the result is consumed; the
    * result is then discarded. */
  private def consume(df: DataFrame): (Seq[String], Seq[Option[String]]) =
    try {
      val rows = df.collect().map(_.toString).toSeq
      val files = df.queryExecution.logical.collect {
        case r: LogicalRDD if r.rdd.isCheckpointed =>
          r.rdd.getCheckpointFile.filter(f => Files.exists(Path.of(new java.net.URI(f))))
      }
      (rows, files)
    } finally {
      Checkpoints.discard(df)
      spark.catalog.clearCache()
    }

  test("iterative queries produce identical results in local and reliable checkpoint modes") {
    val ckptDir = Files.createTempDirectory("graft_ckpt_spec")
    val written = for ((name, build) <- cases) yield {
      spark.conf.unset(Checkpoints.ModeKey)
      val (local, _) = consume(build())
      try {
        spark.conf.set(Checkpoints.ModeKey, "reliable")
        spark.conf.set(Checkpoints.DirKey, ckptDir.toString)
        val (reliable, files) = consume(build())
        assert(reliable == local,
          s"$name diverged between checkpoint modes")
        assert(local.nonEmpty, s"$name returned no rows — vacuous parity")
        // every settled frame the result reads was written under this dir
        assert(files.forall(_.exists(_.contains(ckptDir.toString + "/"))),
          s"$name read settled frames without checkpoint files here: $files")
        // and no round or scoped frame outlived the discarded result
        assert(rddDirs(ckptDir).isEmpty, s"$name left checkpoint dirs ${rddDirs(ckptDir)}")
        files.size
      } finally {
        spark.conf.unset(Checkpoints.ModeKey)
        spark.conf.unset(Checkpoints.DirKey)
      }
    }
    // reliable mode actually wrote checkpoint data (the switch engaged)
    assert(written.sum > 0, "reliable mode never wrote to the checkpoint dir")
  }

  test("store ops give identical results in local and reliable checkpoint modes") {
    def tmp(tag: String) =
      java.nio.file.Files.createTempDirectory(s"graft_ckpt_store_$tag").toString
    spark.conf.unset(Checkpoints.ModeKey)
    val local = StoreCycle.run(spark, tmp("local"))
    val ckptDir = tmp("dir")
    val reliable =
      try {
        spark.conf.set(Checkpoints.ModeKey, "reliable")
        spark.conf.set(Checkpoints.DirKey, ckptDir)
        StoreCycle.run(spark, tmp("reliable"))
      } finally {
        spark.conf.unset(Checkpoints.ModeKey)
        spark.conf.unset(Checkpoints.DirKey)
      }
    def outcome(steps: Seq[StoreCycle.Step]) = steps.map(s => (s.op, s.rows, s.counts))
    assert(outcome(reliable) === outcome(local))
    // not vacuous: verdicts came back and every store holds rows
    assert(local.head.rows.nonEmpty)
    assert(local.flatMap(_.counts).filter(_._2 > 0).map(_._1).toSet ===
      Set("sigs", "bands", "tombstones", "by_doc", "by_cluster", "edges", "postings"))
    // reliable mode settles into checkpoint files under this test's own
    // dir (the earlier test set another one): each settled result has its
    // own directory, and an op leaves no other one behind
    val settled = reliable.filter(_.returned.isDefined)
    assert(settled.nonEmpty)
    val own = {
      val p = new org.apache.hadoop.fs.Path(ckptDir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
    }
    for (s <- settled) assert(s.checkpoint.exists(d => d.startsWith(own + "/") &&
      new org.apache.hadoop.fs.Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(d))),
      s"${s.op} result has no checkpoint files under $own: ${s.checkpoint}")
    for (s <- reliable)
      assert(s.strayCheckpoints.isEmpty, s"${s.op} left checkpoint files ${s.strayCheckpoints}")
    assert(local.forall(_.checkpoint.isEmpty))
  }
}
