package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation metrics over scored rows — the readout a
  * training-data pipeline runs after every model iteration (does the
  * quality score separate good from bad documents? does the ranker
  * put the positives on top?). Everything is exact: AUC through the
  * integer U statistic (ties at ½ via the doubled numerator), lift
  * and gains through integer counts — one double division each at
  * the very end.
  *
  * Scale shape: both metrics aggregate to the DISTINCT-SCORE grain
  * first (one map-side-combined shuffle on (group, score)), and run
  * their windows over that bounded frame — never a global per-row
  * sort. At 100 TB the distinct-score table is value-domain-sized
  * (micro-quantized scores), orders of magnitude under the row count.
  */
object Eval {


  /** The non-numeric score paths run DIRECT windows over the distinct
    * scores (banding needs arithmetic on the order key), which is a
    * one-task sort over the score domain — sound only when that
    * domain is a bounded category vocabulary. This cap makes the
    * contract LOUD instead of conventional: a row-unique string score
    * (UUIDs, free text) fails with a named error rather than silently
    * becoming the single-task global sort the repo's window-scale
    * lints exist to prevent. Numeric scores have no cap — they take
    * the banded path at any cardinality.
    *
    * BEHAVIOR CHANGE vs pre-guard releases: a non-numeric score whose
    * domain exceeds the cap used to run (as a silent single-task
    * sort) and now raises by name. A caller that knowingly accepts
    * the one-task sort can raise the cap per session via
    * `spark.graft.eval.maxNonNumericScores` (this constant is the
    * default, not a hard limit).
    */
  val MaxNonNumericScores = 65536

  /** Session override for [[MaxNonNumericScores]] — read at plan time
    * from the frame's own session so a raised cap applies exactly
    * where the caller set it.
    */
  private def nonNumericCap(df: DataFrame): Long =
    df.sparkSession.conf
      .getOption("spark.graft.eval.maxNonNumericScores")
      .map(_.toLong).getOrElse(MaxNonNumericScores.toLong)

  private def isNumeric(df: DataFrame, scoreCol: String): Boolean =
    df.schema(scoreCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]

  /** Fused domain-cardinality guard (the Resample/Itemsets assert_true
    * idiom): NULL→0 when the bound holds — the window sum is
    * unchanged — and a named in-plan raise otherwise. Fusing the guard
    * into the cumulative column keeps the optimizer from pruning it.
    * `cardWin` must be an UNBOUNDED frame over the same partitioning
    * as the guarded window, so the count it checks is the exact row
    * count that window would sort in one task.
    */
  private def cardGuard(
      op: String, cardWin: org.apache.spark.sql.expressions.WindowSpec, cap: Long): Column = {
    val card = count(lit(1)).over(cardWin)
    coalesce(
      assert_true(
        card <= lit(cap),
        concat(
          lit(s"$op: non-numeric score domain holds "), card,
          lit(s" distinct values (cap $cap) — the direct-window path is a " +
            "bounded-vocabulary contract; use a numeric score for high-cardinality " +
            "domains, or raise spark.graft.eval.maxNonNumericScores to accept the " +
            "single-task sort"))
      ).cast("long"),
      lit(0L))
  }

  /** Exact ROC-AUC per group via the Mann-Whitney U statistic on the
    * distinct-score grain: with per-score positive/negative counts
    * (p_s, n_s) and N_s = negatives strictly below s,
    * `u2 = Σ_s p_s · (2·N_s + n_s)` (each tie contributes ½, so u2 is
    * the doubled — integer — numerator) and
    * `auc = u2 / (2 · n_pos · n_neg)`.
    * Output: (groupCols*, n_pos, n_neg, u2, auc) — auc null when a
    * group lacks one of the classes (AUC is undefined there).
    *
    * Non-numeric scores are a bounded-vocabulary contract: they rank
    * lexicographically through a direct per-group window, guarded
    * in-plan at [[MaxNonNumericScores]] distinct values per group.
    */
  def aucRank(
      df: DataFrame,
      groupCols: Seq[String],
      labelCol: String,
      scoreCol: String,
      bands: Int = 64): DataFrame = {
    require(bands > 0, s"aucRank: bands must be positive, got $bands")
    val byScore = df
      .filter(col(scoreCol).isNotNull)
      .groupBy(groupCols.map(col) :+ col(scoreCol).as("__v"): _*)
      .agg(
        sum(when(col(labelCol), 1L).otherwise(0L)).as("__pos"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("__neg"))
    // one row per distinct score per group, so the banded INCLUSIVE
    // prefix minus the row's own count is exactly "negatives strictly
    // below" — and every window stays (group, band)-partitioned: a
    // plain PARTITION BY group would sort each group's whole score
    // domain in one task, which for a continuous score is row-sized.
    // NUMERIC scores only (the rankNormalize/weightedQuantile gate):
    // banding does arithmetic on the score, which on a string would
    // band numerically while ordering in-band lexicographically — an
    // inconsistent total order and a silently wrong N_s. A non-numeric
    // score is a bounded category domain; the direct per-group window
    // keeps its lexicographic order and its one-task-per-group cost is
    // vocabulary-sized.
    val cumulated =
      if (isNumeric(df, scoreCol))
        byScore.transform(Stats.bandedCum(_, Seq("__neg" -> "__cumneg"), bands, groupCols))
      else {
        val win = Window.partitionBy(groupCols.map(col): _*).orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cardWin = Window.partitionBy(groupCols.map(col): _*)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        byScore.withColumn(
          "__cumneg",
          sum(col("__neg")).over(win) + cardGuard("aucRank", cardWin, nonNumericCap(df)))
      }
    cumulated
      .withColumn("__neg_lt", col("__cumneg") - col("__neg"))
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum(col("__pos")).as("n_pos"),
        sum(col("__neg")).as("n_neg"),
        // accumulated in DECIMAL(38,0): with > ~2.1e9 positives AND
        // negatives in one group (the 100 TB regime) both the u2 sum
        // and the 2·n_pos·n_neg denominator overflow Long and wrap
        // silently under non-ANSI — decimal keeps both exact
        sum((col("__pos") * (col("__neg_lt") * 2 + col("__neg")))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("__u2d"))
      .select(
        groupCols.map(col) ++ Seq(
          col("n_pos"),
          col("n_neg"),
          col("__u2d").cast("long").as("u2"),
          when(
            col("n_pos") > 0 && col("n_neg") > 0,
            round(
              col("__u2d").cast("double") /
                (col("n_pos").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
                  col("n_neg") * 2).cast("double"),
              6)).as("auc")): _*)
  }

  /** Lift-and-gains table: rows ranked by score DESCENDING and cut
    * into `nBuckets` tie-coherent buckets — a tied score never
    * straddles a boundary (its whole run lands in the bucket of its
    * FIRST rank: `bucket = floor(rank_start · nBuckets / N) + 1`),
    * because splitting equal scores would make the table depend on an
    * arbitrary within-tie order. Buckets are therefore near-equal
    * sized, exactly equal when scores are distinct.
    * Output per bucket: (bucket, n, n_pos, cum_pos,
    * lift = (n_pos/n)/(P/N), capture = cum_pos/P), integers exact,
    * the two ratios rounded to 6.
    *
    * Non-numeric scores are a bounded-vocabulary contract (direct
    * global window, guarded in-plan at [[MaxNonNumericScores]]
    * distinct values).
    */
  def liftTable(
      df: DataFrame,
      labelCol: String,
      scoreCol: String,
      nBuckets: Int = 10,
      bands: Int = 64): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 1000, s"liftTable: nBuckets=$nBuckets out of [2, 1000]")
    require(bands > 0, s"liftTable: bands must be positive, got $bands")
    val byScore = df
      .filter(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).as("__s"))
      .agg(
        count(lit(1)).as("__n"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("__pos"))
    // rank-start in score-DESC order = banded inclusive ASC prefix on
    // the NEGATED score minus the row's own count. The distinct-score
    // domain is row-sized for a continuous score, so the prefix runs
    // banded (every window (band)-partitioned), never one global sort.
    // totals ride the banding's own bounds broadcast (carryTotals) —
    // no second aggregate lineage over the input. Non-numeric scores
    // (a bounded category domain — banding can't negate or subtract
    // them, and would order inconsistently) keep the direct window,
    // the aucRank gate.
    val cumulated =
      if (isNumeric(df, scoreCol))
        byScore
          .withColumn("__v", -col("__s"))
          .transform(Stats.bandedCum(_, Seq("__n" -> "__cumn"), bands,
            carryTotals = Seq("__n" -> "__tot_n", "__pos" -> "__tot_p")))
      else {
        val win = Window.orderBy(col("__s").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        byScore
          .withColumn(
            "__cumn",
            sum(col("__n")).over(win) + cardGuard("liftTable", wAll, nonNumericCap(df)))
          .withColumn("__tot_n", sum(col("__n")).over(wAll))
          .withColumn("__tot_p", sum(col("__pos")).over(wAll))
      }
    val bucketed = cumulated
      .withColumn("__start", col("__cumn") - col("__n"))
      .withColumn("bucket", (graft.functions.CoreFunctions.floorDiv(col("__start") * nBuckets, col("__tot_n")) + 1).cast("int"))
      .groupBy(col("bucket"))
      .agg(
        sum(col("__n")).as("n"),
        sum(col("__pos")).as("n_pos"),
        max(col("__tot_n")).as("__tot_n"),
        max(col("__tot_p")).as("__tot_p"))
    // partition-less but bounded: ≤ nBuckets (≤ 1000) rows reach it
    val wc = Window.orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .withColumn("cum_pos", sum(col("n_pos")).over(wc))
      .select(
        col("bucket"), col("n"), col("n_pos"), col("cum_pos"),
        // lift products in DECIMAL: n_pos·N and n·P both approach N²,
        // which wraps Long once the corpus passes ~3e9 rows (the same
        // silent-wrap class the aucRank u2 accumulation already closes)
        round(
          (col("n_pos").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
            col("__tot_n")).cast("double") /
            (col("n").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
              col("__tot_p")).cast("double"),
          6).as("lift"),
        round(col("cum_pos").cast("double") / col("__tot_p").cast("double"), 6).as("capture"))
  }

  /** Calibration-bin report: rows cut into `nBins` tie-coherent
    * buckets by score ASCENDING (same boundary rule as [[liftTable]],
    * reversed order — bin 1 holds the lowest scores). Per bin the
    * exact integers (n, n_pos, sum_score) let the caller compare
    * predicted confidence (sum_score/n in the caller's score units)
    * against the observed positive rate — the reliability-diagram
    * table behind ECE. `pos_rate` is the one rounded division.
    * Output: (bin, n, n_pos, sum_score, pos_rate) — sum_score NULL
    * for non-numeric scores (no meaningful sum; Spark's Sum rejects
    * dates outright), which are otherwise a bounded-vocabulary
    * contract (direct global window, guarded in-plan at
    * [[MaxNonNumericScores]] distinct values).
    */
  def calibrationBins(
      df: DataFrame,
      labelCol: String,
      scoreCol: String,
      nBins: Int = 10,
      bands: Int = 64): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"calibrationBins: nBins=$nBins out of [2, 1000]")
    require(bands > 0, s"calibrationBins: bands must be positive, got $bands")
    val numeric = isNumeric(df, scoreCol)
    // `sum_score` only exists for numeric scores: Spark's Sum rejects
    // DateType outright (AnalysisException before the window gate is
    // even reached) and a string sum is meaningless — a non-numeric
    // score gets a NULL sum_score while the count/rate columns stay
    // exact (per-bin confidence has no numeric meaning there anyway).
    val sumS = if (numeric) sum(col(scoreCol)) else first(lit(null).cast("double"))
    val byScore = df
      .filter(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).as("__s"))
      .agg(
        count(lit(1)).as("__n"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("__pos"),
        sumS.as("__sum_s"))
    // same banded rank-start as [[liftTable]], ascending this time
    // (see there for why the distinct-score window must not be global,
    // and for the non-numeric direct-window gate)
    val cumulated =
      if (numeric)
        byScore
          .withColumn("__v", col("__s"))
          .transform(Stats.bandedCum(_, Seq("__n" -> "__cumn"), bands,
            carryTotals = Seq("__n" -> "__tot_n")))
      else {
        val win = Window.orderBy(col("__s").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        byScore
          .withColumn(
            "__cumn",
            sum(col("__n")).over(win) + cardGuard("calibrationBins", wAll, nonNumericCap(df)))
          .withColumn("__tot_n", sum(col("__n")).over(wAll))
      }
    cumulated
      .withColumn("__start", col("__cumn") - col("__n"))
      .withColumn("bin", (graft.functions.CoreFunctions.floorDiv(col("__start") * nBins, col("__tot_n")) + 1).cast("int"))
      .groupBy(col("bin"))
      .agg(
        sum(col("__n")).as("n"),
        sum(col("__pos")).as("n_pos"),
        sum(col("__sum_s")).as("sum_score"))
      .withColumn(
        "pos_rate",
        round(col("n_pos").cast("double") / col("n").cast("double"), 6))
  }
}
