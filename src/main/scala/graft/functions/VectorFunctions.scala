package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector Column combinators (similarity-search extensions).
  *
  * Vectors are `array<float>` columns (FIXTURES.md §3 `embeddings`);
  * all math is done in double precision with left-to-right folds so
  * results are deterministic and match a sequential oracle bit-for-bit
  * (mod 1-2 ulp in transcendental steps).
  */
object VectorFunctions {

  /** array<float> → array<double>. */
  def toDoubleVec(vec: Column): Column = transform(vec, x => x.cast("double"))

  /** Dot product — backed by the native codegen'd [[graft.plans.DotProduct]]
    * Expression (the HOF fold `aggregate(zip_with(...))` is interpreted;
    * this is the similarity hot loop). Identical left-to-right
    * summation order, so results match the fold bit-for-bit.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftops.ColumnBridge.column(
      graft.plans.DotProduct(
        org.apache.spark.sql.graftops.ColumnBridge.expression(a),
        org.apache.spark.sql.graftops.ColumnBridge.expression(b)))

  /** [[dot]] over driver-side vectors: the same left-to-right sum over
    * the common prefix, for training rounds run in driver memory.
    */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Euclidean norm. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity from a precomputed-norm-free form. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Cosine given precomputed norms (avoids recomputing norms inside
    * an all-pairs join — the norms are computed once per row upstream).
    */
  def cosineWithNorms(dotAB: Column, normA: Column, normB: Column): Column =
    dotAB / (normA * normB)

  /** Deterministic Rademacher (±1) hyperplanes for sign-LSH, generated
    * at plan time from a fixed splitmix-style hash of (plane, dim) —
    * literal arrays, zero runtime cost.
    */
  def rademacherPlane(plane: Int, dim: Int): Seq[Double] =
    (0 until dim).map { d =>
      var z = (plane.toLong * 0x9E3779B97F4A7C15L) + (d.toLong * 0xBF58476D1CE4E5B9L) + 0x94D049BB133111EBL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      if ((z & 1L) == 0L) 1.0 else -1.0
    }

  /** `nPlanes`-bit sign-LSH signature of a double vector: bit j is the
    * sign of `v · r_j` for the deterministic hyperplane r_j.
    */
  def signLshSignature(vec: Column, nPlanes: Int, dim: Int): Column = {
    // the signature packs one bit per plane into an Int via `1 << j` —
    // j >= 31 silently overflows to garbage signatures
    require(nPlanes >= 1 && nPlanes <= 31,
      s"signLshSignature: nPlanes $nPlanes outside the 1..31 Int bit budget")
    (0 until nPlanes).map { j =>
      val plane = array(rademacherPlane(j, dim).map(lit): _*)
      when(dot(vec, plane) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** Split a signature int into `bands` equal bit-bands (for
    * OR-amplified bucket joins: near vectors agree on ≥1 band w.h.p.).
    */
  def signatureBands(sig: Column, nPlanes: Int, bands: Int): Seq[Column] = {
    // bands > nPlanes gives bitsPerBand = 0 and mask = 0: every band
    // key collapses to 0, one shared bucket, and the banded join
    // silently degenerates to the all-pairs cross join it exists to
    // avoid (the Dedup.bandedSigs class of bug); a non-dividing bands
    // silently drops the top nPlanes % bands planes from banding
    require(bands >= 1 && bands <= nPlanes && nPlanes % bands == 0,
      s"signatureBands: bands=$bands must divide nPlanes=$nPlanes " +
        "(bits per band = nPlanes / bands, every plane banded)")
    val bitsPerBand = nPlanes / bands
    val mask = (1 << bitsPerBand) - 1
    // exact-integer band extraction: the old `(sig / 2^k).cast(int)`
    // built a double Divide per band per row in the LSH explode hot
    // path — correct only because power-of-two division of <2^31
    // values happens to be exact in double; the shift says what it
    // means and skips the int→double→int round-trip
    (0 until bands).map(b =>
      shiftright(sig, b * bitsPerBand).bitwiseAND(lit(mask)))
  }
}
