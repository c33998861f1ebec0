package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Mergeable HyperLogLog cardinality state (Flajolet et al. 2007;
  * mergeable-summaries form) — the distinct-count face of the
  * maintained-state family: unlike `approx_count_distinct` (whose
  * sketch lives only inside one aggregation), the register array here
  * is a first-class column, so partial sketches can be stored,
  * shipped, unioned across tables/days, and folded through the
  * streaming skeleton — count-distinct over a month = one register
  * merge of 30 daily states, never a re-scan.
  *
  * Registers are `array<int>` (2^p entries); the element-wise `max`
  * merge is idempotent, commutative and associative, so states merge
  * in any order/grouping and replays cannot corrupt them. Estimation
  * is pure column arithmetic (`aggregate`/`filter` HOFs + the
  * standard bias/linear-counting corrections) — no UDF anywhere.
  * Standard error ≈ 1.04/√(2^p): p=12 → ~1.6%.
  */
object Hll {

  /** Register update: index = top p hash bits, rho = leading zeros of
    * the remaining 64−p bits + 1 (capped 64−p+1 when they are zero).
    */
  private final class SketchAgg(p: Int)
      extends Aggregator[Long, Array[Int], Seq[Int]] {
    private val m = 1 << p
    override def zero: Array[Int] = new Array[Int](m)

    override def reduce(b: Array[Int], h: Long): Array[Int] = {
      val idx = (h >>> (64 - p)).toInt
      val w = h << p
      val rho = if (w == 0) 64 - p + 1 else java.lang.Long.numberOfLeadingZeros(w) + 1
      if (rho > b(idx)) b(idx) = rho
      b
    }

    override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }

    override def finish(b: Array[Int]): Seq[Int] = b.toSeq
    // vals + the memoized udaf below: stable encoder instances keep
    // re-constructed plans sameResult-equal (the HeavyHitters r12
    // finding)
    override val bufferEncoder: Encoder[Array[Int]] = ExpressionEncoder()
    override val outputEncoder: Encoder[Seq[Int]] = ExpressionEncoder()
  }

  private val udafs = scala.collection.concurrent.TrieMap
    .empty[Int, org.apache.spark.sql.expressions.UserDefinedFunction]

  /** Column form: HLL registers of `xxhash64(key)` inside any
    * `agg(...)`. Null keys must be filtered by the caller (a null
    * would otherwise hash as a constant and occupy one register).
    */
  def sketchAgg(key: Column, p: Int = 12): Column = {
    require(p >= 4 && p <= 18, s"sketchAgg: p must be in [4,18], got $p")
    udafs.getOrElseUpdate(p, udaf(new SketchAgg(p))).apply(xxhash64(key))
  }

  /** Cardinality estimate from a registers column — raw harmonic-mean
    * estimate with the standard small-range linear-counting
    * correction; pure column arithmetic.
    */
  def estimate(registers: Column): Column = {
    // m comes from the SKETCH ITSELF (the register count), never from
    // a caller parameter: a p mismatched with a persisted sketch
    // previously inflated the harmonic estimate ~(m'/m)² silently.
    // Same IEEE expression shapes as before (multiplies in the same
    // order), so estimates are bit-identical for consistent callers.
    val m = size(registers).cast("double")
    // Flajolet et al. §4 prescribe fixed bias constants for small m;
    // the asymptotic 0.7213/(1+1.079/m) only holds for m >= 128.
    val alpha = when(size(registers) === 16, lit(0.673))
      .when(size(registers) === 32, lit(0.697))
      .when(size(registers) === 64, lit(0.709))
      .otherwise(lit(0.7213) / (lit(1.0) + lit(1.079) / m))
    val z = size(filter(registers, r => r === 0)).cast("double")
    val s = aggregate(
      registers, lit(0.0), (acc, r) => acc + pow(lit(2.0), -r.cast("double")))
    val raw = alpha * m * m / s
    when(raw <= lit(2.5) * m && z > 0, m * log(m / z))
      .otherwise(raw)
      .cast("long")
  }

  /** Per-group distinct estimates: (groupCols*, registers, est). */
  def distinctByGroup(
      df: DataFrame,
      groupCols: Seq[String],
      keyCol: String,
      p: Int = 12): DataFrame =
    df.filter(col(keyCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(sketchAgg(col(keyCol), p).as("registers"))
      .withColumn("est", estimate(col("registers")))

  /** Trailing-window distinct counts via register merge: per day, the
    * estimated distinct `keyCol`s over the last `windowDays` days —
    * the rolling-MAU/WAU query. The scan aggregates each day ONCE
    * into a 2^p-register sketch; the window then merges ≤ windowDays
    * sketch rows per output day (`RANGE` on the day number, so date
    * gaps stay correct). At 100 TB this is the only viable shape:
    * the alternative — a distinct-count per (day × window) self-join
    * — re-shuffles the raw keys windowDays times.
    * Output: (day, est).
    */
  def slidingDistinct(
      df: DataFrame,
      tsCol: String,
      keyCol: String,
      windowDays: Int,
      p: Int = 12): DataFrame = {
    require(windowDays > 0, s"slidingDistinct: windowDays must be positive, got $windowDays")
    val daily = df
      // null/unparseable timestamps would form a day=NULL sketch row
      // that no real window includes — drop them like null keys
      .filter(col(keyCol).isNotNull && to_date(col(tsCol)).isNotNull)
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(sketchAgg(col(keyCol), p).as("registers"))
      .withColumn("__d", datediff(col("day"), lit("1970-01-01")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__d"))
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    daily
      .withColumn(
        "__merged",
        aggregate(
          collect_list(col("registers")).over(w),
          array_repeat(lit(0), 1 << p),
          (acc, r) => zip_with(acc, r, (x, y) => greatest(x, y))))
      .select(col("day"), estimate(col("__merged")).as("est"))
  }

  /** Merge per-group sketch STATES (the streaming-fold / cross-table
    * form): rows with the same group keys merge registers
    * element-wise. Inputs must share the same p.
    */
  def mergeStates(states: Seq[DataFrame], groupCols: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeStates: no states")
    states
      .map(_.select((groupCols.map(col) :+ col("registers")): _*))
      .reduce(_ unionByName _)
      .groupBy(groupCols.map(col): _*)
      .agg(aggregate(
        collect_list(col("registers")),
        // identity: a zero register loses every max
        array_repeat(lit(0), size(first(col("registers")))),
        // mixed-p states RAISE: zip_with null-pads the shorter array,
        // and greatest() skips the null — a p=10 state merged into
        // p=12 groups previously zeroed the tail registers SILENTLY,
        // deflating every later estimate
        (acc, r) => when(size(r) =!= size(acc),
          raise_error(concat(
            lit("Hll.mergeStates: register arrays of different p ("),
            size(acc).cast("string"), lit(" vs "), size(r).cast("string"), lit(")"))))
          .otherwise(zip_with(acc, r, (x, y) => greatest(x, y)))).as("registers"))
  }
}
