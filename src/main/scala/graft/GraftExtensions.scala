package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.expressions._

/** SparkSessionExtensions entry point: registers the engine's codegen'd
  * kernels as SQL functions, so `spark.sql("SELECT graft_dot(a, b) …")`
  * works anywhere the library jar is on the classpath. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (done by the
  * Verify/Bench/Explain mains and the test harness).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // auto-kernelization: user-written size(filter(arr, t -> t IN (...)))
    // becomes the codegen'd StopwordCount loop (HOFs are CodegenFallback)
    ext.injectOptimizerRule(_ => graft.plans.KernelizeStopwordCount)
    // idiomatic aggregate∘zip_with dot products get the DotProduct kernel
    ext.injectOptimizerRule(_ => graft.plans.KernelizeDotProduct)

    // whole-operator custom plan: broadcast as-of join (logical node built
    // by graft.plans.AsOfJoin, planned here into BroadcastAsOfJoinExec),
    // with probe-side predicate pushdown restored for the custom node
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinPushdown)

    // a global sort over small materialized shuffle stages ranges into one
    // partition, so RangePartitioner starts no sampling job
    ext.injectQueryStagePrepRule(_ => graft.plans.SmallRangeSort)

    // SQL surface for the same operator: `GRAFT ASOF JOIN l, r ON k MATCH
    // lts TO rts VALUES v…` — a delegating parser (non-GRAFT statements
    // pass through untouched) plus the resolution rule that lowers the
    // parsed node onto the checked AsOfJoin builder
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    ext.injectResolutionRule(spark => graft.plans.ResolveGraftAsOf(spark))

    def reg(name: String, usage: String)(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name, usage),
        builder))

    reg("graft_dot", "dot product of two float arrays (double accumulate)") {
      case Seq(a, b) => DotProduct(a, b)
    }
    reg("graft_lsh_bucket", "graft_lsh_bucket(vec, nPlanes): hyperplane-LSH bucket id") {
      case Seq(v, n) => LshBucket(v, intLit(n, "nPlanes"))
    }
    reg("graft_minhash", "graft_minhash(hashes, nPerm): MinHash signature array") {
      case Seq(hs, n) => MinHashSig(hs, intLit(n, "nPerm"))
    }
    reg("graft_simhash", "graft_simhash(hashes, nBits): SimHash fingerprint") {
      case Seq(hs, n) => SimHash(hs, intLit(n, "nBits"))
    }
    reg("graft_hashp_array", "per-element portable md5-based hash of a string array") {
      case Seq(a) => HashPArray(a)
    }
    reg("graft_shingle_hashes", "graft_shingle_hashes(tokens, k): distinct sorted k-shingle hashes") {
      case Seq(t, k) => ShingleHashSet(t, intLit(k, "k"))
    }
    reg("graft_shingle_hash_seq",
      "graft_shingle_hash_seq(tokens, k): positional (ordered, multiset) k-shingle hashes") {
      case Seq(t, k) => ShingleHashSeq(t, intLit(k, "k"))
    }
    reg("graft_polyfold", "rolling polynomial fold of a long array (mod 1e9+7)") {
      case Seq(a) => PolyFold(a)
    }
    reg("graft_intersect_size", "intersection size of two sorted distinct long arrays") {
      case Seq(a, b) => IntersectSizeSorted(a, b)
    }
    reg("graft_ahash64", "64-bit average perceptual hash of a string payload") {
      case Seq(s) => AHash64(s)
    }
    reg("graft_topk", "graft_topk(ord, id, k): bounded top-k aggregate (ord DESC, id ASC)") {
      case Seq(o, i, kk) => BoundedTopK(o, i, intLit(kk, "k")).toAggregateExpression()
    }
    reg("graft_vector_sum", "graft_vector_sum(vec, dim): element-wise float-vector sum aggregate") {
      case Seq(v, d) => VectorSum(v, intLit(d, "dim")).toAggregateExpression()
    }
    reg("graft_vector_sum_long", "graft_vector_sum_long(vec, dim): exact element-wise long-vector sum aggregate") {
      case Seq(v, d) => VectorSumLong(v, intLit(d, "dim")).toAggregateExpression()
    }
    reg("graft_stopword_count",
      "graft_stopword_count(tokens, 'w1,w2,...'): count of tokens in the fixed comma-separated word set") {
      case Seq(t, w) =>
        val words = w match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
            s.toString.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
          case other => throw new IllegalArgumentException(
            s"word list must be a string literal, got $other")
        }
        StopwordCount(t, words)
    }
  }
}
