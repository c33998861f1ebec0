package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral / event-sequence analytics over an event stream shape
  * `(user, type, ts, id)` — the funnel, transition-matrix and cohort
  * views every product warehouse serves.
  *
  * All three are windows-and-aggregates compositions: one shuffle on
  * the user key dominates each (plus one tiny rollup), so they scale
  * like any keyed window. Sequence order is always (ts, id) — the id
  * tie-break makes every result deterministic under equal
  * timestamps.
  */
object Behavior {

  /** Per-user earliest-completion times for an ordered stage list:
    * `(userCol, t1 … tn)` with `tᵢ` the user's first stage-i event
    * STRICTLY AFTER their tᵢ₋₁ (NULL once a stage is missed) — the
    * shared core of [[funnel]] and [[conversionLags]].
    */
  def completionTimes(
      events: DataFrame,
      stages: Seq[String],
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      withinSeconds: Option[Long] = None): DataFrame = {
    require(stages.nonEmpty, "funnel: no stages")
    require(withinSeconds.forall(_ > 0), "funnel: withinSeconds must be positive")
    // a null user key is an UNATTRIBUTABLE event, not a user: groupBy
    // would collapse every unkeyed event into one phantom "user" whose
    // t1 mixes timestamps of unrelated actors (and which the stage-2+
    // equi-joins can never match again) — exclude it like the baskets
    // operator does
    val keyed = events.filter(col(userCol).isNotNull)
    var cur = keyed
      .groupBy(col(userCol))
      .agg(min(when(col(typeCol) === stages.head, col(tsCol))).as("t1"))
    for (i <- 2 to stages.size) {
      val prevCols = (1 until i).map(j => s"t$j")
      // strict-after, optionally within the conversion window of the
      // previous stage's completion
      val inWindow = withinSeconds.fold(lit(true))(w =>
        unix_micros(col(tsCol)) - unix_micros(col(s"t${i - 1}")) <= w * 1000000L)
      // only stage-i events can contribute to this pass's min —
      // filtering BEFORE the user join shrinks each iteration's
      // shuffle from the full event stream to one stage's slice
      // (stage types are typically a few percent of events); the
      // RIGHT join keeps every cur user, so a user with no stage-i
      // event still aggregates to a NULL tᵢ exactly as before
      cur = keyed
        .filter(col(typeCol) === stages(i - 1))
        .join(cur, Seq(userCol), "right")
        .groupBy((userCol +: prevCols).map(col): _*)
        .agg(min(when(
          col(tsCol) > col(s"t${i - 1}") && inWindow,
          col(tsCol))).as(s"t$i"))
    }
    // user-cardinality-sized and shared by funnel/conversionLags on
    // plan-equal inputs
    OpCache.cached(cur)
  }

  /** ORDERED funnel: stage i counts a user only if stage i's event
    * occurs STRICTLY AFTER that user's earliest qualifying stage-i−1
    * event (the earliest-completion semantics). One aggregation pass
    * per stage (stages are few; each pass shuffles only that stage's
    * event slice on the user key).
    * Output: (stage, event_type, n_users), stage 1-based.
    */
  def funnel(
      events: DataFrame,
      stages: Seq[String],
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      withinSeconds: Option[Long] = None): DataFrame = {
    val cur = completionTimes(events, stages, userCol, typeCol, tsCol, withinSeconds)
    val counts = cur.agg(
      count(col("t1")).as("n1"),
      (2 to stages.size).map(i => count(col(s"t$i")).as(s"n$i")): _*)
    counts.select(posexplode(array((1 to stages.size).map(i => col(s"n$i")): _*))
        .as(Seq("idx", "n_users")))
      .select(
        (col("idx") + 1).cast("int").as("stage"),
        element_at(typedLit(stages), col("idx") + 1).as("event_type"),
        col("n_users"))
  }

  /** First-order transition matrix: counts of consecutive
    * (prev_type → type) pairs per user in (ts, id) order. Output:
    * (prev_type, event_type, n), the Markov-chain view of behavior.
    */
  def transitions(
      events: DataFrame,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol).asc, col(idCol).asc)
    events
      // null user keys share ONE window partition, so lag() would
      // chain unrelated actors into phantom transitions — unkeyed
      // events carry no sequence information; exclude them
      .filter(col(userCol).isNotNull)
      .withColumn("prev_type", lag(col(typeCol), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col(typeCol))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-transition conversion-lag distribution: for each consecutive
    * stage pair, over the users who completed the later stage, the
    * count plus exact median / p90 of the gap in seconds — the
    * "where does the funnel stall" view. Gaps are integer seconds
    * (floor of the µs gap), so the exact percentiles interpolate on
    * integers (half/quarter-exact doubles — engine-portable).
    * Output: (stage, from_type, to_type, n_converted, median_s, p90_s).
    */
  def conversionLags(
      events: DataFrame,
      stages: Seq[String],
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      withinSeconds: Option[Long] = None): DataFrame = {
    require(stages.size >= 2, "conversionLags: need at least two stages")
    val cur = completionTimes(events, stages, userCol, typeCol, tsCol, withinSeconds)
    val perTransition = (1 until stages.size).map { i =>
      // gaps are strictly positive (strict-after semantics), so the
      // toward-zero `div` IS the floor — matching the oracle's `//`
      val gap = expr(s"(unix_micros(t${i + 1}) - unix_micros(t$i)) div 1000000L")
      cur.filter(col(s"t${i + 1}").isNotNull)
        .select(gap.as("gap_s"))
        .agg(
          count(lit(1)).as("n_converted"),
          percentile(col("gap_s"), lit(0.5)).as("median_s"),
          percentile(col("gap_s"), lit(0.9)).as("p90_s"))
        .select(
          lit(i).cast("int").as("stage"),
          lit(stages(i - 1)).as("from_type"),
          lit(stages(i)).as("to_type"),
          col("n_converted"), col("median_s"), col("p90_s"))
    }
    perTransition.reduce(_ unionByName _)
  }

  /** Multi-touch conversion attribution: for every conversion event
    * (type = `convType`), its touches are the SAME user's events of
    * any other type in the lookback window `(conv.ts - lookback,
    * conv.ts]`, ordered by (ts, id). Two published credit models in
    * one pass (e.g. Shao & Li, KDD 2011 survey the family — public):
    *
    *  - last-touch: the latest touch gets the whole conversion;
    *  - linear: each of a conversion's n touches gets 1/n.
    *
    * The linear fraction is quantized to integer micro-credits
    * (`round(1e6 / n)` — one exactly-rounded division of integers,
    * IEEE-identical in any engine) so the per-channel sum is exact
    * integer arithmetic under any aggregation order — the repo's
    * portable-score convention.
    *
    * Scale shape: one user-keyed equi-join (conversions × touches
    * within a user, bounded by per-user activity, never cross-user)
    * + one window over conversion groups + one tiny channel rollup.
    * Output: (channel, n_last_touch, n_touches, linear_credit) with
    * linear_credit in conversions (micro-credit sum / 1e6).
    */
  def attribution(
      events: DataFrame,
      convType: String,
      lookbackSeconds: Long,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    require(lookbackSeconds > 0, s"attribution: lookback must be positive, got $lookbackSeconds")
    val conv = events
      .filter(col(typeCol) === convType)
      .select(
        col(userCol).as("__u"), col(idCol).as("conv_id"), col(tsCol).as("conv_ts"))
    val touch = events
      .filter(col(typeCol) =!= convType)
      .select(
        col(userCol).as("__u"), col(idCol).as("touch_id"),
        col(tsCol).as("touch_ts"), col(typeCol).as("channel"))
    val joined = conv.join(touch, Seq("__u"))
      .filter(
        col("touch_ts") <= col("conv_ts") &&
          unix_micros(col("conv_ts")) - unix_micros(col("touch_ts")) <
            lit(lookbackSeconds * 1000000L))
    // partition by (user, conversion id), not the id alone: event ids
    // need only be unique PER USER (the common sharded id scheme) for
    // attribution to stay correct — two users sharing an id would
    // otherwise merge their touch sets into one window, splitting
    // linear credit across both and crediting only one last-touch
    val w = Window.partitionBy(col("__u"), col("conv_id"))
    val scored = joined
      .withColumn(
        "__rk",
        row_number().over(w.orderBy(col("touch_ts").desc, col("touch_id").desc)))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__micro", round(lit(1000000L) / col("__n")).cast("long"))
    scored
      .groupBy(col("channel"))
      .agg(
        sum(when(col("__rk") === 1, 1L).otherwise(0L)).as("n_last_touch"),
        count(lit(1)).as("n_touches"),
        (sum(col("__micro")).cast("double") / lit(1e6)).as("linear_credit"))
  }

  /** Weekly cohort retention: users grouped by the week of their
    * FIRST event; each (cohort_week, week_offset) cell counts the
    * distinct users of that cohort active in that week. Weeks are
    * `date_trunc('week', …)` (Monday-start in Spark and DuckDB
    * alike); the offset is the calendar-day difference of the two
    * Mondays divided by 7 — exact in every timezone, DST included.
    * Output: (cohort_week, week_offset, n_users).
    */
  def cohortRetention(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val firstTs = events.groupBy(col(userCol))
      .agg(date_trunc("week", min(col(tsCol))).as("cohort_week"))
    events
      .join(firstTs, Seq(userCol))
      .select(
        col(userCol), col("cohort_week"),
        // CALENDAR weeks, not 604800-second spans: both endpoints are
        // week-truncated Mondays, so their day difference is an exact
        // multiple of 7 in every timezone — the fixed-seconds division
        // under-counted by one across a DST spring-forward (a 604800−
        // 3600 s "week") in any non-UTC session timezone
        (datediff(date_trunc("week", col(tsCol)), col("cohort_week")) / lit(7))
          .cast("int").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count_distinct(col(userCol)).as("n_users"))
  }
}
