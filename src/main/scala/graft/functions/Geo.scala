package graft.functions

import org.apache.spark.sql.Column

/** Geohash encoding (Niemeyer 2008, public domain spec) — the spatial
  * bucketing key that turns lat/lng proximity into PREFIX equality,
  * so spatial joins become equi-joins on truncated hashes (the same
  * blocked-join shape as the LSH family: bucket first, verify with
  * [[CoreFunctions.haversineKm]] inside the bucket).
  *
  * Pure integer/bit Column arithmetic: quantize each axis to
  * `5·precision / 2` bits (lng takes the extra bit — the even
  * interleave positions), interleave, then map 5-bit groups through
  * the base32 alphabet. The float quantization `(x+off)/span·2^bits`
  * is two IEEE ops — bit-identical in every engine — and everything
  * after is exact integers, so the SQL replay ([[geohashSql]]) is
  * generated from the same loop and can never diverge from the
  * Column form.
  */
object Geo {

  val Base32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  private def bitSplit(precision: Int): (Int, Int) = {
    require(precision >= 1 && precision <= 12, s"geohash precision $precision out of [1, 12]")
    val total = 5 * precision
    val latBits = total / 2
    (total - latBits, latBits) // (lngBits, latBits)
  }

  /** Geohash of (lat, lng) at `precision` chars; null if either
    * coordinate is null.
    *
    * Delegates to the codegen expression [[graft.plans.Geohash]]
    * (r14): the former Column-arithmetic form (one shift/AND/multiply
    * term per interleave bit — 40 terms at precision 8, each
    * re-inlining the quantization subtree because Column expressions
    * are trees, not DAGs) generated a method past janino's hard
    * 64 KB limit, so every stage containing a geohash ran with
    * whole-stage codegen DISABLED after paying a multi-second janino
    * compile of the giant class per invocation. The expression form
    * is one static call into a tight bit loop — same quantization,
    * same clamps (below-range GPS noise hashes to the edge cell, not
    * the opposite pole), same interleave, same base32 — constant code
    * size. The SQL replay below is unchanged and still spells the
    * per-bit loop the oracles embed.
    */
  def geohash(lat: Column, lng: Column, precision: Int = 8): Column = {
    bitSplit(precision) // precision validation shared with the SQL replay
    org.apache.spark.sql.graftops.ColumnBridge.column(
      graft.plans.Geohash(
        org.apache.spark.sql.graftops.ColumnBridge.expression(lat.cast("double")),
        org.apache.spark.sql.graftops.ColumnBridge.expression(lng.cast("double")),
        precision))
  }

  /** DuckDB replay of [[geohash]], generated from the same bit loop,
    * in three staged expressions (embed each in its own CTE so the
    * quantized integers aren't textually repeated 40×):
    * `latIntSql`/`lngIntSql` over the raw coordinate columns,
    * `combineSql` over columns named `lati`/`lngi`, `charsSql` over a
    * column named `comb`.
    */
  def latIntSql(lat: String, precision: Int = 8): String = {
    val (_, latBits) = bitSplit(precision)
    quantSql(lat, "90.0", "180.0", latBits)
  }

  def lngIntSql(lng: String, precision: Int = 8): String = {
    val (lngBits, _) = bitSplit(precision)
    quantSql(lng, "180.0", "360.0", lngBits)
  }

  // GREATEST(…, 0) mirrors quant's below-range clamp — the two must
  // move together or the oracle agrees with the engine's bug
  private def quantSql(c: String, off: String, span: String, bits: Int): String =
    s"LEAST(GREATEST(CAST(FLOOR((CAST($c AS DOUBLE) + $off) / $span * ${math.pow(2, bits)}) AS BIGINT), 0), ${(1L << bits) - 1})"

  def combineSql(precision: Int = 8): String = {
    val (lngBits, latBits) = bitSplit(precision)
    val total = lngBits + latBits
    val terms =
      (0 until lngBits).map(j =>
        s"(((lngi >> ${lngBits - 1 - j}) & 1) * ${1L << (total - 1 - 2 * j)})") ++
      (0 until latBits).map(j =>
        s"(((lati >> ${latBits - 1 - j}) & 1) * ${1L << (total - 2 - 2 * j)})")
    terms.mkString("(", " + ", ")")
  }

  def charsSql(precision: Int = 8): String = {
    val total = 5 * precision
    (0 until precision)
      .map(k => s"substring('$Base32', CAST(((comb >> ${total - 5 * (k + 1)}) & 31) + 1 AS INT), 1)")
      .mkString(" || ")
  }
}
