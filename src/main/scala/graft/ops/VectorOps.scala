package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector/similarity operators over `array<float>` embedding columns —
  * brute-force cosine top-k as the exactness baseline and a
  * random-hyperplane LSH bucketing as the scale path.
  *
  * All arithmetic is double-precision with a FIXED sequential fold order
  * (Spark `aggregate` ≡ DuckDB `list_reduce` with prepended seed), so both
  * engines produce bit-identical sums — similarities are oracle-checkable
  * without tolerance.
  */
object VectorOps {

  /** Dot product via the codegen'd [[graft.expressions.DotProduct]] kernel
    * (higher-order functions are interpreted; unrolled trees overflow JIT
    * method limits — a generated loop is the fast shape). Accumulation
    * order (0.0 + p1) + p2 + … matches the sequential fold, so results are
    * bit-equal to the DuckDB `list_reduce` oracle. The kernel reads the
    * runtime array length. */
  def dot(a: Column, b: Column): Column = graft.expressions.F.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * candidates by cosine (desc), ties broken by candidate id.
    *
    * Scale design: `queries` is broadcast (queries are few relative to the
    * corpus); candidates stream map-side — the only shuffle is the final
    * per-query top-k window over |queries|·|corpus-partition-topk| rows,
    * which AQE coalesces. At 100 TB the window input can be pre-reduced with
    * a per-partition top-k if |queries| is large.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                     qId: String = "q_id", cId: String = "c_id",
                     qVec: String = "q_vec", cVec: String = "c_vec"): DataFrame = {
    // hint kept: the query batch's estimate is its corpus's; without it a
    // CartesianProduct once that estimate passes the broadcast threshold
    val joined = candidates.crossJoin(broadcast(queries))
      .where(col(qId) =!= col(cId))
      .withColumn("cosine_sim", cosine(col(qVec), col(cVec)))
    val w = Window.partitionBy(qId).orderBy(col("cosine_sim").desc, col(cId).asc)
    joined.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Random-hyperplane (SimHash-for-vectors) LSH bucket id from `nPlanes`
    * sign bits: bucket = Σ_j [dot(plane_j, v) >= 0] · 2^j.
    * In-row, shuffle-free, codegen'd; the scale path for ANN — candidates
    * are then equi-joined on `bucket` instead of cross-joined. */
  def lshBucket(vec: Column, nPlanes: Int): Column =
    graft.expressions.F.lshBucket(vec, nPlanes)
}
