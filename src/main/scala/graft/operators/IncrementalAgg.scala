package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incremental aggregate maintenance: keep a materialized rollup
  * current by folding in delta batches, never recomputing from base
  * data — at 100 TB the full rollup is a one-time cost and every
  * subsequent load touches only the delta (the reference recomputes
  * its aggregates per load by re-running the warehouse queries over
  * the full table; see SURVEY §3 on the outsourced-Postgres pattern).
  *
  * The state is re-aggregatable by construction: per key, a row count
  * and DECIMAL-exact measure sums. Decimal addition is associative and
  * commutative — unlike double sums, merge order and batch boundaries
  * cannot change a single bit of the state, so
  * `merge(rollup(a), rollup(b)) == rollup(a ∪ b)` holds EXACTLY and a
  * rollup maintained through any sequence of deltas equals the
  * from-scratch rollup (the property the x53 oracle certifies).
  * Averages are derived, not stored (`finalizeState`).
  *
  * Scale shape: `rollup` is one partial-aggregated groupBy over the
  * delta only; `merge` shuffles pre-aggregated states (|keys| rows,
  * not |rows|).
  */
object IncrementalAgg {

  private val Exact = DecimalType(18, 4)

  /** Re-aggregatable state for `df` grouped by `keys`:
    * keys ++ (n, (sum_<measure>, n_<measure>)...).
    *
    * Measure domain: |value| < 10¹⁴ with 4 decimal places kept
    * (DECIMAL(18,4)). A value outside that domain (or NaN) does not
    * silently vanish from the sum while still counting in `n` — the
    * non-ANSI cast would null it and skew every derived average — it
    * RAISES, per row, at execution time. NULL measures are allowed:
    * they stay out of `sum_<m>` AND out of `n_<m>` (the per-measure
    * non-null count, additive like the sum), so the derived average
    * divides by the values that actually entered the sum — the davg
    * contract; the old all-rows `n` denominator read a 50 %-null
    * measure at half its true mean. Sums accumulate at DECIMAL(28,4)
    * (Spark's sum widening): overflowing that needs ~10¹⁴ rows at the
    * domain maximum, documented as out of scope.
    */
  def rollup(df: DataFrame, keys: Seq[String], measures: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        measures.flatMap { m =>
          val guarded = when(
            col(m).isNotNull && col(m).cast(Exact).isNull,
            raise_error(concat(
              lit(s"IncrementalAgg: measure $m value "), col(m).cast("string"),
              lit(" outside the DECIMAL(18,4) domain"))))
            .otherwise(col(m).cast(Exact))
          Seq(sum(guarded).as(s"sum_$m"), count(col(m)).as(s"n_$m"))
        }: _*)

  /** Additive merge of state tables — any number of batches, any
    * order, including retractions encoded as negated states.
    */
  def merge(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "merge of zero states")
    val u = states.reduce(_ unionByName _)
    val stateCols = u.columns.filterNot(keys.contains).toSeq
    u.groupBy(keys.map(col): _*)
      .agg(
        sum(col(stateCols.head)).as(stateCols.head),
        stateCols.tail.map(c => sum(col(c)).as(c)): _*)
  }

  /** Reader view over a state table: totals as doubles plus derived
    * 4-dp averages (the [[graft.functions.CoreFunctions.davg]]
    * contract — the denominator is `n_<m>`, the values that entered
    * the sum, not the all-rows `n`).
    */
  def finalizeState(state: DataFrame, keys: Seq[String], measures: Seq[String]): DataFrame =
    state.select(
      keys.map(col) ++ Seq(col("n")) ++ measures.flatMap(m =>
        Seq(
          col(s"sum_$m").cast("double").as(s"total_$m"),
          round(col(s"sum_$m").cast("double") / col(s"n_$m"), 4).as(s"avg_$m"))): _*)
}
