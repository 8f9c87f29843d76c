package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.Shim

/** Column-level facade over the custom codegen expressions (the Scala-API
  * twin of the SQL functions GraftExtensions registers). */
object F {
  def dot(a: Column, b: Column): Column =
    Shim.column(DotProduct(Shim.expression(a), Shim.expression(b)))

  def lshBucket(vec: Column, nPlanes: Int): Column =
    Shim.column(LshBucket(Shim.expression(vec), nPlanes))

  def minhash(hashes: Column, nPerm: Int): Column =
    Shim.column(MinHashSig(Shim.expression(hashes), nPerm))

  def simhash(hashes: Column, nBits: Int): Column =
    Shim.column(SimHash(Shim.expression(hashes), nBits))

  def hashPArray(strings: Column): Column =
    Shim.column(HashPArray(Shim.expression(strings)))

  def shingleHashes(tokens: Column, k: Int): Column =
    Shim.column(ShingleHashSet(Shim.expression(tokens), k))

  /** Positional (multiset, ordered) k-shingle hashes — span detection. */
  def shingleHashSeq(tokens: Column, k: Int): Column =
    Shim.column(ShingleHashSeq(Shim.expression(tokens), k))

  def polyFold(longs: Column): Column =
    Shim.column(PolyFold(Shim.expression(longs)))

  /** Codegen'd count of tokens in a fixed word set (stopword hits). */
  def stopwordCount(tokens: Column, words: Seq[String]): Column =
    Shim.column(StopwordCount(Shim.expression(tokens), words))

  def intersectSizeSorted(a: Column, b: Column): Column =
    Shim.column(IntersectSizeSorted(Shim.expression(a), Shim.expression(b)))

  /** `c` computed once per row: Catalyst does not copy it into the filters
    * and join conditions above it (see [[EvalOnce]]). */
  def evalOnce(c: Column): Column = Shim.column(EvalOnce(Shim.expression(c)))

  def aHash64(s: Column): Column =
    Shim.column(AHash64(Shim.expression(s)))

  /** Bounded top-k aggregate column: array<struct<ord,id>> of the k best
    * (ord DESC, id ASC) pairs per group with O(k) map-side state. */
  def boundedTopK(ord: Column, id: Column, k: Int): Column =
    Shim.column(BoundedTopK(Shim.expression(ord), Shim.expression(id), k)
      .toAggregateExpression())

  /** Element-wise vector-sum aggregate (array<float> → array<double>). */
  def vectorSum(vec: Column, dim: Int): Column =
    Shim.column(VectorSum(Shim.expression(vec), dim).toAggregateExpression())

  /** Exact-integer vector-sum aggregate (array<long> → array<long>). */
  def vectorSumLong(vec: Column, dim: Int): Column =
    Shim.column(VectorSumLong(Shim.expression(vec), dim).toAggregateExpression())

  /** Argmin centroid index for a quantized long vector (ties → lowest). */
  def nearestCentroid(v: Column, centroids: Array[Array[Long]]): Column =
    Shim.column(NearestCentroidLong(Shim.expression(v),
      centroids.map(_.toSeq).toSeq))

  def nearestZone(lat: Column, lon: Column, zoneIds: Array[Long],
                  zoneNames: Array[String], zoneLats: Array[Double],
                  zoneLons: Array[Double]): Column =
    Shim.column(NearestZone(Shim.expression(lat), Shim.expression(lon),
      zoneIds, zoneNames, zoneLats, zoneLons))
}
