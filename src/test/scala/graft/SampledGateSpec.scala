package graft

import graft.queries.VectorQueries

/** Pins the single-salt sampled recall gate
  * ([[VectorQueries.embeddingLshRecallSampledFor]], the tagged single-pass
  * shape) against the pooled catalog gate — which is DuckDB-hash-checked every round — run
  * with the same one salt: the shared audit columns must agree exactly,
  * so a refactor of either path cannot silently change the estimator. */
class SampledGateSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("single-salt sampled gate equals the pooled gate at one salt") {
    for (salt <- Seq("rcl", "rclB")) {
      val single = VectorQueries.embeddingLshRecallSampledFor(spark, dir, salt)
        .collect()(0)
      spark.catalog.clearCache()
      val pooled = VectorQueries.embeddingLshRecallSampledPooled(spark, dir, Seq(salt))
        .collect()(0)
      for (c <- Seq("n_sampled", "n_truth", "n_lsh", "n_hit", "n_missed",
          "recall_e4", "worst_miss_cos_e6")) {
        assert(single.getAs[Long](c) == pooled.getAs[Long](c),
          s"salt=$salt column $c: single=${single.getAs[Long](c)} pooled=${pooled.getAs[Long](c)}")
      }
      // with one salt the pooled variance band collapses onto the estimate
      assert(pooled.getAs[Long]("recall_min_e4") == pooled.getAs[Long]("recall_e4"))
      assert(pooled.getAs[Long]("recall_max_e4") == pooled.getAs[Long]("recall_e4"))
      spark.catalog.clearCache()
    }
  }
}
