package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval algebra over (key, start, end) rows — coverage/uptime
  * analysis, session-span consolidation, validity-range compaction.
  *
  * [[coalesce]] merges overlapping-or-touching intervals per key into
  * maximal disjoint spans (the gaps-and-islands pattern): one shuffle
  * on the key, one per-key sort by start, then a running
  * `max(end) over (rows unbounded preceding, 1 preceding)` detects
  * island starts (an interval whose start exceeds everything seen
  * before it) and a running sum of those flags labels islands. Both
  * windows share the same (partition, order) so Spark plans a single
  * Window node over a single sort — scales like any keyed window, with
  * per-key ordering as the only per-group cost.
  *
  * Timestamps are compared as `unix_micros` longs so the same code
  * serves TIMESTAMP and (cast) TIMESTAMP_NTZ inputs under ANSI mode.
  */
object Intervals {

  /** Maximal disjoint spans per key. Intervals are [start, end];
    * `touch` (default true) also merges intervals that merely abut
    * (next.start == current.end). Invalid rows (null bounds or
    * end < start) are dropped. Output:
    * `(keyCols*, span_start, span_end, n_merged)` — one row per
    * island with how many input intervals it absorbed.
    */
  def coalesce(
      df: DataFrame,
      keyCols: Seq[String],
      startCol: String,
      endCol: String,
      touch: Boolean = true): DataFrame = {
    val s = unix_micros(col(startCol))
    val e = unix_micros(col(endCol))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(s.asc, e.asc)
    // Highest end among STRICTLY PRIOR rows (null on the first row).
    val priorMax = max(e).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val gap = if (touch) s > priorMax else s >= priorMax
    val isStart = when(priorMax.isNull || gap, 1).otherwise(0)
    val island = sum(isStart).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    df.filter(col(startCol).isNotNull && col(endCol).isNotNull && e >= s)
      .withColumn("__island", island)
      .groupBy((keyCols.map(col) :+ col("__island")): _*)
      .agg(
        min(col(startCol)).as("span_start"),
        max(col(endCol)).as("span_end"),
        count(lit(1)).as("n_merged"))
      .drop("__island")
  }
}
