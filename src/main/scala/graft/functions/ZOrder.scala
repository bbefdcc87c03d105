package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Z-order (Morton) curve encoding as pure integer Column math — the
 * multi-dimension clustering key behind data-skipping layouts (Delta
 * OPTIMIZE ZORDER, Iceberg sort orders): rows near each other on the
 * curve are near in EVERY interleaved dimension, so parquet min/max
 * footer stats prune files for predicates on any of them, not just the
 * leading sort column of a linear order.
 *
 * The 21-bit spread uses the classic public-domain magic-mask sequence
 * (each step doubles the gap between occupied bits); everything is
 * long shifts/masks — codegen-friendly, no UDF, and bit-identical in
 * any engine with 64-bit integer ops.
 */
object ZOrder {

  /** Mask coordinates to 21 bits (the interleave capacity of a long). */
  val CoordBits = 21
  val CoordMask: Long = (1L << CoordBits) - 1

  /** Spread the low 21 bits of `c` so consecutive input bits land 3
    * apart (positions 0,3,6,...,60). */
  private def spread(c: Column): Column = {
    val m = Seq(0x1F00000000FFFFL, 0x1F0000FF0000FFL, 0x100F00F00F00F00FL,
      0x10C30C30C30C30C3L, 0x1249249249249249L)
    val s = Seq(32, 16, 8, 4, 2)
    var v = c.bitwiseAND(lit(CoordMask))
    for ((mask, sh) <- m.zip(s))
      v = (v.bitwiseOR(shiftleft(v, sh))).bitwiseAND(lit(mask))
    v
  }

  /** Morton-interleave two long columns (low 21 bits each): bit i of x
    * lands at position 3i, of y at 3i+1 (lane 3i+2 unused — the spread
    * is 3-lane; locality is unaffected).
    * Occupies ≤62 bits — always positive. */
  def morton2(x: Column, y: Column): Column =
    spread(x).bitwiseOR(shiftleft(spread(y), 1))

  /** The identical spread as SQL text (DuckDB/ANSI bit ops), for
    * oracle parity: `sqlSpread("x")` mirrors `spread(col("x"))`. */
  def sqlSpread(e: String): String = {
    val m = Seq("8725724278095871", "8725728556220671", "1157144660301377551",
      "1207822528635744451", "1317624576693539401")
    val s = Seq(32, 16, 8, 4, 2)
    var v = s"(($e) & ${CoordMask})"
    for ((mask, sh) <- m.zip(s))
      v = s"((($v | ($v << $sh))) & $mask)"
    v
  }

  /** SQL mirror of [[morton2]]. */
  def sqlMorton2(x: String, y: String): String =
    s"(${sqlSpread(x)} | (${sqlSpread(y)} << 1))"
}
