package graft

import graft.ops.Checkpoints

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
  * must survive an executor loss in the cluster mode too.
  */
class CheckpointModeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // Deepest cutLineage users: Pregel-via-joins rounds (LPA, HITS,
  // k-core), union-find doubling (dedup_clusters), and a greedy sketch
  // loop (doc_salient_term).
  private val names = Seq("q_label_propagation", "q_hits_bipartite",
    "q_kcore", "dedup_clusters", "doc_salient_term")

  private def rows(name: String): Seq[String] =
    try SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq
    finally spark.catalog.clearCache()

  test("iterative queries produce identical results in local and reliable checkpoint modes") {
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_ckpt_spec").toString
    for (name <- names) {
      spark.conf.unset(Checkpoints.ModeKey)
      val local = rows(name)
      try {
        spark.conf.set(Checkpoints.ModeKey, "reliable")
        spark.conf.set(Checkpoints.DirKey, ckptDir)
        val reliable = rows(name)
        assert(reliable == local,
          s"$name diverged between checkpoint modes")
        assert(local.nonEmpty, s"$name returned no rows — vacuous parity")
      } finally {
        spark.conf.unset(Checkpoints.ModeKey)
        spark.conf.unset(Checkpoints.DirKey)
      }
    }
    // reliable mode actually wrote checkpoint data (the switch engaged)
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckptDir))
      .count() > 1
    assert(wrote, "reliable mode never wrote to the checkpoint dir")
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
