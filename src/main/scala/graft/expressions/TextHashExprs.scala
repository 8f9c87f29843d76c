package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd text-hash kernels. The portable 60-bit hash is
  * parseLong(hex(md5(utf8))[0,15), 16) % 1e9+7 — identical to the
  * column-expression form conv(substr(md5(s),1,15),16,10) % P and to the
  * DuckDB oracle's CAST('0x'||substr(md5(s),1,15) AS BIGINT) % P. These
  * kernels fuse the interpreted transform/slice/concat higher-order chains
  * into one generated loop per row.
  */
object TextHashExprs {
  val P = 1000000007L

  private val mdTL: ThreadLocal[MessageDigest] = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Same 60-bit md5 hash as HashOps.hash60, computed JVM-side. */
  def hash60(bytes: Array[Byte]): Long = {
    val d = mdTL.get().digest(bytes)
    // first 15 hex digits = 7.5 bytes: build the value directly
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  def hashP(s: UTF8String): Long = hash60(s.getBytes) % P
}

/** Per-token hashP over a string-array column (multiset — keeps
  * duplicates and order). Input array<string>, output array<long>. */
case class HashPArray(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = TextHashExprs.hashP(xs.getUTF8String(i)); i += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = TextHashExprs.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val arrClass = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, xs => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      s"""
        final int $n = $xs.numElements();
        final long[] $out = new long[$n];
        for (int $i = 0; $i < $n; $i++) {
          $out[$i] = $helper.hashP($xs.getUTF8String($i));
        }
        ${ev.value} = new $arrClass($out);
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct k-word-shingle hash set from a token array: joins k
  * consecutive tokens with single spaces, hashes with hashP, dedupes
  * preserving first occurrence (same result as
  * array_distinct ∘ transform(hashP) ∘ shingles). Input array<string>,
  * output array<long> (empty when |tokens| < k). */
case class ShingleHashSet(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    ShingleHashSet.compute(xs, k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = ShingleHashSet.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, xs => s"${ev.value} = $helper.compute($xs, $k);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashSet {
  private val Space = Array[Byte](' ')

  def compute(xs: ArrayData, k: Int): GenericArrayData = {
    val n = xs.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= n - k) {
      var len = k - 1
      var j = 0
      while (j < k) { len += xs.getUTF8String(i + j).numBytes(); j += 1 }
      val buf = new Array[Byte](len)
      var off = 0
      j = 0
      while (j < k) {
        if (j > 0) { buf(off) = ' '; off += 1 }
        val t = xs.getUTF8String(i + j)
        t.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off)
        off += t.numBytes()
        j += 1
      }
      seen.add(TextHashExprs.hash60(buf) % TextHashExprs.P)
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var m = 0
    while (it.hasNext) { out(m) = it.next(); m += 1 }
    // emitted SORTED: no consumer observes order (min-hash, intersection
    // size, jaccard are order-free) and sortedness unlocks the O(n+m)
    // merge in IntersectSizeSorted
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }
}

/** POSITIONAL k-word-shingle hashes from a token array: element i is the
  * hashP of the shingle starting at token i+1 — duplicates and order kept
  * (the exact-substring span detector needs positions, unlike the set
  * variant above). Same per-shingle bytes and hash as ShingleHashSet, so
  * the SQL mirror is the same list_transform/list_slice expression without
  * list_distinct. Input array<string>, output array<long> (empty when
  * |tokens| < k). */
case class ShingleHashSeq(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    ShingleHashSeq.compute(xs, k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = ShingleHashSeq.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, xs => s"${ev.value} = $helper.compute($xs, $k);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashSeq {
  def compute(xs: ArrayData, k: Int): GenericArrayData = {
    val n = xs.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      var len = k - 1
      var j = 0
      while (j < k) { len += xs.getUTF8String(i + j).numBytes(); j += 1 }
      val buf = new Array[Byte](len)
      var off = 0
      j = 0
      while (j < k) {
        if (j > 0) { buf(off) = ' '; off += 1 }
        val t = xs.getUTF8String(i + j)
        t.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off)
        off += t.numBytes()
        j += 1
      }
      out(i) = TextHashExprs.hash60(buf) % TextHashExprs.P
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Intersection cardinality of two ascending-sorted distinct long arrays —
  * a codegen'd two-pointer merge. Replaces interpreted `array_intersect`+
  * `size` on the hot candidate-refinement path (result is identical because
  * both inputs are sets). */
case class IntersectSizeSorted(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val n = x.numElements(); val m = y.numElements()
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j"); val c = ctx.freshName("c")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
        int $i = 0; int $j = 0; int $c = 0;
        final int $n = $x.numElements(); final int $m = $y.numElements();
        while ($i < $n && $j < $m) {
          final long $xv = $x.getLong($i); final long $yv = $y.getLong($j);
          if ($xv == $yv) { $c++; $i++; $j++; }
          else if ($xv < $yv) { $i++; } else { $j++; }
        }
        ${ev.value} = $c;
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `child`, evaluated once per row where Catalyst would copy it. The
  * optimizer inlines a deterministic projection into every filter and join
  * condition that reads it: `inter` = [[IntersectSizeSorted]] under a
  * `jac >= θ` filter would run three times per candidate pair, twice in
  * the join condition the filter is pushed into (numerator and union) and
  * once in the projection. Reported non-deterministic, the way a UDF is
  * marked `asNondeterministic` for the same reason, its projection stays a
  * barrier: filters above it stay above it, and the value is computed
  * once. The value itself is deterministic. */
case class EvalOnce(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** SimHash fingerprint (nBits ≤ 63) over a long-array of token hashes:
  * bit j set when Σ (2·bit_j(h) − 1) > 0 — single pass, nBits counters. */
case class SimHash(child: Expression, nBits: Int) extends UnaryExpression {
  require(nBits >= 1 && nBits <= 63)
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val counts = new Array[Long](nBits)
    var i = 0
    while (i < n) {
      val h = xs.getLong(i)
      var j = 0
      while (j < nBits) { counts(j) += 2L * ((h >>> j) & 1L) - 1L; j += 1 }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < nBits) { if (counts(j) > 0) fp += (1L << j); j += 1 }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val n = ctx.freshName("n")
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val j = ctx.freshName("j")
      val fp = ctx.freshName("fp")
      s"""
        final int $n = $xs.numElements();
        final long[] $counts = new long[$nBits];
        for (int $i = 0; $i < $n; $i++) {
          final long $h = $xs.getLong($i);
          for (int $j = 0; $j < $nBits; $j++) {
            $counts[$j] += 2L * (($h >>> $j) & 1L) - 1L;
          }
        }
        long $fp = 0L;
        for (int $j = 0; $j < $nBits; $j++) {
          if ($counts[$j] > 0) $fp += (1L << $j);
        }
        ${ev.value} = $fp;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of tokens contained in a fixed word set — the codegen twin of
  * size(filter(toks, t => t.isin(words))). Spark's higher-order `filter`
  * evaluates its lambda interpreted AND materializes the filtered array;
  * this kernel is one generated hash-set-probe loop per row, no
  * allocation. Semantics identical to the SQL
  * len(list_filter(toks, t -> t IN (...))) the oracles use. */
case class StopwordCount(child: Expression, words: Seq[String])
  extends UnaryExpression {

  override def dataType: DataType = LongType

  @transient private lazy val wordSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](math.max(8, words.size * 2))
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val n = xs.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (wordSet.contains(xs.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", wordSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, xs => {
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      s"""
        final int $n = $xs.numElements();
        long $c = 0L;
        for (int $i = 0; $i < $n; $i++) {
          if ($setRef.contains($xs.getUTF8String($i))) $c++;
        }
        ${ev.value} = $c;
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
