package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering: a data-layout operator for
  * multi-column data skipping. Sorting a table by the interleaved
  * bits of two bucketized columns makes every contiguous chunk of
  * rows (a parquet row group, a file) cover a BOUNDED RECTANGLE in
  * (a, b) space, so min/max footer stats prune scans filtered on
  * EITHER column — the layout trick single-column sorting only gives
  * you for the leading column. Pure integer bit arithmetic end to
  * end: codegen-friendly in Spark and bit-replayable by the portable
  * oracle (x54).
  */
object ZOrder {

  /** Linear bucketization of `c` from [lo, hi] onto 0..2^bits-1,
    * clamped at both ends (out-of-range and the hi endpoint land in
    * the edge buckets; NULL → bucket 0 so layout never drops rows).
    * Delegates to [[graft.functions.CoreFunctions.bucketize]] — the
    * single clamp/NULL implementation shared with QuantileSketch.
    */
  def bucket(c: Column, lo: Double, hi: Double, bits: Int = 16): Column = {
    require(bits > 0 && bits <= 16, s"bits $bits out of 1..16")
    graft.functions.CoreFunctions.bucketize(c, lo, hi, 1L << bits)
  }

  /** Spread the low 16 bits of `x` onto even bit positions 0,2,…,30 —
    * the classic mask-shift cascade, expressed over LongType.
    */
  private def spread16(x: Column): Column = {
    val s1 = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00FF00FFL))
    val s2 = (s1.bitwiseOR(shiftleft(s1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = (s2.bitwiseOR(shiftleft(s2, 2))).bitwiseAND(lit(0x33333333L))
    (s3.bitwiseOR(shiftleft(s3, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton code of two 16-bit buckets: bits of `a` on even
    * positions, bits of `b` on odd.
    */
  def zValue(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))
}
