package graft.tools

/** Quantifies the sampled-recall estimator's SPREAD: runs both sampled
  * gates ([[graft.queries.DedupQueries.qLshRecallSampled]] /
  * [[graft.queries.VectorQueries.qEmbeddingLshRecallSampled]]) at several
  * hash salts — independent fixed-size samples of the same corpus — and
  * prints one JSON line per (gate, salt) with the audit row, plus a
  * summary min/max recall_e4 band per gate. A tight band across salts is
  * the evidence that a single sampled run's verdict is trustworthy; a
  * wide band says raise [[graft.queries.DedupQueries.RecallSampleTarget]].
  * (Samples at different salts are independent, not disjoint — expected
  * overlap ≈ Target²/n docs.)
  *
  * Usage: runMain graft.tools.SampledGateVariance [sfDir] [salts...]
  * (defaults: /root/testdata/sf0.1 and salts rcl,rclB,rclC)
  */
object SampledGateVariance {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val salts = if (args.length > 1) args.drop(1).toSeq else Seq("rcl", "rclB", "rclC")
    val spark = graft.Sessions.local()

    def audit(gate: String, salt: String,
              df: org.apache.spark.sql.DataFrame): Long = {
      val r = df.collect()(0)
      val cols = df.columns.zipWithIndex
        .map { case (c, i) => s""""$c":${r.getLong(i)}""" }.mkString(",")
      println(s"""{"gate":"$gate","salt":"$salt","sf":"$sfDir",$cols}""")
      spark.catalog.clearCache()
      r.getLong(df.columns.indexOf("recall_e4"))
    }
    val bands = Seq(
      "q_lsh_recall_sampled" -> ((s: String) =>
        graft.queries.DedupQueries.lshRecallSampledFor(spark, sfDir, s)),
      "q_embedding_lsh_recall_sampled" -> ((s: String) =>
        graft.queries.VectorQueries.embeddingLshRecallSampledFor(spark, sfDir, s))
    ).map { case (gate, run) =>
      val rs = salts.map(s => audit(gate, s, run(s)))
      s""""$gate":{"min_recall_e4":${rs.min},"max_recall_e4":${rs.max},"spread_e4":${rs.max - rs.min}}"""
    }
    println(s"""{"metric":"sampled_gate_variance","sf":"$sfDir","salts":${salts.size},${bands.mkString(",")}}""")
    spark.stop()
  }
}
