package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min sketch (Cormode & Muthukrishnan 2005) as first-class
  * rows — the point-frequency sibling of the sketches:
  * [[HeavyHitters]] answers WHICH keys are frequent,
  * [[Hll]] answers HOW MANY distinct keys exist, and this answers
  * "how often did key k occur" for ANY k, from d·w counters
  * regardless of key cardinality.
  *
  * The sketch is a plain DataFrame of `(j, idx, cnt)` rows — depth
  * `d` hash rows × width `w` counters, stored sparsely (zero
  * counters are absent).
  *
  * Point estimates take `min_j cnt[j][h_j(k)]` — always an
  * OVERestimate of the true count (each counter only ever adds), and
  * within `εN` of it with probability `1 − e^(−d)` for `ε = e/w`.
  * A key hashing to an absent (j, idx) row has counter 0, so unseen
  * keys estimate 0 unless every one of their d cells collides.
  *
  * Scale shape: building is one explode(d) + partial-aggregated
  * groupBy over (j, idx) — map-side combine collapses to ≤ d·w rows
  * per partition, so the shuffle is sketch-sized, not data-sized.
  * Estimation broadcasts the (≤ d·w row) sketch to the probe side.
  */
object CountMin {

  private def cell(key: Column, j: Column, w: Int): Column =
    pmod(xxhash64(lit("cms"), j, key), lit(w.toLong))

  /** Sketch rows `(j, idx, cnt)` over `keyCol` occurrences (nulls
    * ignored). At most d·w rows, exact integer counts.
    */
  def sketch(df: DataFrame, keyCol: String, d: Int = 4, w: Int = 512): DataFrame = {
    require(d >= 1 && d <= 16, s"CountMin.sketch: d must be in [1,16], got $d")
    require(w >= 16, s"CountMin.sketch: w must be >= 16, got $w")
    df.filter(col(keyCol).isNotNull)
      .select(
        col(keyCol).cast("string").as("__k"),
        explode(array((0 until d).map(j => lit(j)): _*)).as("j"))
      .groupBy(col("j"), cell(col("__k"), col("j"), w).as("idx"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates: one row `(keyCol, est)` per distinct probe key,
    * est = min over the d cells (absent cell = 0). (d, w) must match
    * the sketch's.
    */
  def estimate(
      sk: DataFrame,
      probes: DataFrame,
      keyCol: String,
      d: Int = 4,
      w: Int = 512): DataFrame = {
    // CONTRACT: (d, w) are part of the sketch's identity and are NOT
    // recorded in the (j, idx, cnt) state rows — probing with a
    // different w indexes cells the sketch never wrote, so every join
    // misses and est coalesces to 0 for genuinely frequent keys.
    // Persist (d, w) alongside any stored sketch and pass them back
    // verbatim (the fold queries do exactly this).
    require(d >= 1 && d <= 16, s"CountMin.estimate: d must be in [1,16], got $d")
    require(w >= 16, s"CountMin.estimate: w must be >= 16, got $w")
    probes
      .select(col(keyCol)).filter(col(keyCol).isNotNull).distinct()
      .select(
        col(keyCol),
        explode(array((0 until d).map(j => lit(j)): _*)).as("j"))
      .withColumn("idx", cell(col(keyCol).cast("string"), col("j"), w))
      .join(Broadcasting.maybeBroadcast(sk), Seq("j", "idx"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}
