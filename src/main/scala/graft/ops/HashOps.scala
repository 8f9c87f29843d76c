package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic hashing.
  *
  * Spark's native `hash`/`xxhash64` have no DuckDB equivalent, so every
  * hash that feeds an oracle-checked result is built on md5 hex — identical
  * on both engines — reduced to a 60-bit non-negative long:
  *
  *   Spark : CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)
  *   DuckDB: CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
  *
  * 15 hex digits = 60 bits < 2^63, so the value is exact and non-negative
  * in both. Downstream modular arithmetic stays below 2^63 by reducing
  * into a 1e9+7 field first.
  */
object HashOps {
  /** Large prime field for portable modular arithmetic. */
  val P: Long = 1000000007L

  /** 60-bit non-negative content hash of a string column. */
  def hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** hash60 reduced into the 1e9+7 field (safe to multiply by small ints). */
  def hashP(s: Column): Column = hash60(s) % P

  /** DuckDB SQL fragments mirroring the above (for oracle queries). */
  def sqlHash60(expr: String): String =
    s"CAST('0x' || substr(md5($expr), 1, 15) AS BIGINT)"
  def sqlHashP(expr: String): String =
    s"(${sqlHash60(expr)} % $P)"

  /** The i-th universal-hash permutation of a field element x:
    * h_i(x) = (a_i * x + b_i) mod P, with a_i = 2i+1 (odd, nonzero) and
    * b_i = (i * 2654435761) mod P — both derivable by pure arithmetic in
    * SQL so the MinHash oracle can reproduce them. Requires 0 ≤ x < P. */
  def permute(x: Column, i: Column): Column =
    ((lit(2L) * i + 1L) * x + (i * 2654435761L) % P) % P

  /** The fixed-SIZE deterministic sample rule of the sampled gates: keep a
    * row iff hash60(salt ":" id) in parts per million falls below
    * target·10⁶ div nRows + 1 (capped at 10⁶), so about `target` rows
    * are kept whatever the row count `nRows`. DuckDB mirror:
    * sqlHash60(salt || ':' || id) % 1000000
    *   < least(1000000, target * 1000000 // n + 1). */
  def inFixedSizeSample(id: Column, salt: Column, nRows: Column, target: Long): Column =
    hash60(concat(salt, lit(":"), id.cast("string"))) % 1000000L <
      least(lit(1000000L), call_function("div", lit(target * 1000000L), nRows) + 1)
}
