package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Feature-engineering and train/serve-monitoring primitives — the
  * ML-prep tier of the warehouse (quantile discretization, label
  * indexing, the hashing trick, population-stability drift).
  *
  * Shared scale shape: every operator is one corpus scan plus
  * vocabulary/group-sized state joined back broadcast; nothing
  * corpus-sized is collected or cross-joined. Portability follows the
  * repo's conventions: exact interpolated percentiles (Spark
  * `percentile` ≡ DuckDB `quantile_cont`), exact integer counts with
  * single double divisions, the md5-nibble bucket lanes of the
  * portable-twin family, and micro-nat quantization around `ln` (the
  * [[NgramLm]] insurance) where a transcendental is unavoidable.
  */
object MlPrep {

  /** Per-group equal-frequency (quantile) binning report: rows land in
    * `nBins` bins split at the group's exact i/nBins percentiles;
    * output (groupCols*, bin, n, lo, hi) — per-bin count and observed
    * value range. Bin assignment is `Σ 1[v ≥ edge_i]`, evaluated as a
    * HOF fold over the (nBins−1)-element edge array — identical edge
    * doubles in every engine make the boundary comparisons
    * bit-deterministic.
    */
  def quantileBinReport(
      df: DataFrame, groupCols: Seq[String], valueCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"quantileBinReport: nBins=$nBins out of [2, 1000]")
    val v = col(valueCol).cast("double")
    val ps = array((1 until nBins).map(i => lit(i.toDouble / nBins)): _*)
    // NaN passes isNotNull and NaN >= edge is TRUE for every edge
    // (Spark orders NaN above all doubles): NaN rows would inflate
    // the top bin and poison its reported hi with NaN — exclude them
    // like nulls (no bin describes a NaN). The EDGES come from the
    // same NaN-free frame (the psi convention, and the x117 oracle's):
    // percentile sorts NaN above every double, so edges interpolated
    // over a NaN-bearing frame shift right — and a majority-NaN group
    // would make the upper edges themselves NaN, emptying top bins.
    val clean = df.filter(v.isNotNull && !isnan(v))
    val edges = clean.groupBy(groupCols.map(col): _*)
      .agg(percentile(v, ps).as("__edges"))
    val bin = aggregate(
      col("__edges"), lit(0),
      (acc, e) => acc + when(v >= e, 1).otherwise(0))
    clean
      .join(Broadcasting.maybeBroadcast(edges), groupCols)
      .select(groupCols.map(col) ++ Seq(bin.as("bin"), v.as("__v")): _*)
      .groupBy(groupCols.map(col) :+ col("bin"): _*)
      .agg(count(lit(1)).as("n"), min(col("__v")).as("lo"), max(col("__v")).as("hi"))
  }

  /** Deterministic label indexing (the StringIndexer contract made
    * reproducible): labels ranked by (frequency desc, label asc),
    * 0-based. Output: (label, n, idx) — vocabulary-sized.
    */
  def labelIndex(df: DataFrame, labelCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("label").asc)
    df
      .filter(col(labelCol).isNotNull)
      .groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n"))
      .withColumn("idx", row_number().over(w) - 1)
  }

  /** The hashing trick on the portable md5 lane: token → bucket in
    * [0, 256) via the first two md5 nibbles (the x98 cell convention),
    * reported as per-bucket load — the collision diagnostics a
    * hashed feature space ships with. Output: (bucket, n, n_distinct).
    */
  def md5HashBuckets(df: DataFrame, tokenCol: String): DataFrame = {
    def nib(h: Column, i: Int) = instr(lit("0123456789abcdef"), substring(h, i, 1)) - 1
    val h = md5(col(tokenCol).cast("string"))
    val bucket = (nib(h, 1) * lit(16) + nib(h, 2)).cast("int")
    df
      .filter(col(tokenCol).isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"), countDistinct(col(tokenCol)).as("n_distinct"))
  }

  /** Population Stability Index per group between a reference slice
    * (`refCond` true) and the rest: decile edges from the REFERENCE,
    * Laplace-smoothed bin shares p, q = (cnt+1)/(total+nBins), and
    * PSI = Σ (p−q)·ln(p/q) with each term quantized to integer
    * micro-nats before the (exact, order-free) sum — the ln-ulp
    * insurance of the x99 convention. Output: (groupCols*, n_ref,
    * n_cur, psi).
    *
    * CONTRACT: a group with NO reference-slice rows has no decile
    * edges, so it is ABSENT from the report (the edge join is inner —
    * the same shape the SQL formulation replays). PSI cannot quantify
    * drift against an empty reference; detecting a brand-new
    * population is a membership question — run a group-membership
    * diff (anti-join of current groups vs reference groups) alongside
    * when that distinction matters for monitoring.
    */
  def psi(
      df: DataFrame, groupCols: Seq[String], valueCol: String, refCond: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 100, s"psi: nBins=$nBins out of [2, 100]")
    val v = col(valueCol).cast("double")
    val ps = array((1 until nBins).map(i => lit(i.toDouble / nBins)): _*)
    val edges = df.filter(refCond && v.isNotNull && !isnan(v))
      .groupBy(groupCols.map(col): _*)
      .agg(percentile(v, ps).as("__edges"))
    val bin = aggregate(
      col("__edges"), lit(0),
      (acc, e) => acc + when(v >= e, 1).otherwise(0))
    val binned = df
      // same NaN exclusion as quantileBinReport: NaN >= every edge
      // would silently pile NaNs into the top bin on both sides
      .filter(v.isNotNull && !isnan(v))
      .join(Broadcasting.maybeBroadcast(edges), groupCols)
      .select(
        groupCols.map(col) ++ Seq(
          bin.as("bin"), when(refCond, 1L).otherwise(0L).as("is_ref")): _*)
    val perBin = binned
      .groupBy(groupCols.map(col) :+ col("bin"): _*)
      .agg(
        sum(col("is_ref")).as("c_ref"),
        sum(lit(1L) - col("is_ref")).as("c_cur"))
    val totals = perBin
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("c_ref")).as("n_ref"), sum(col("c_cur")).as("n_cur"))
    // Full (group × bin) grid: a bin empty on one side still carries
    // its smoothed mass (p ≠ q whenever the totals differ), so every
    // bin must contribute its term — never just the occupied ones.
    val grid = totals.select(
      groupCols.map(col) ++ Seq(
        explode(sequence(lit(0), lit(nBins - 1))).as("bin"),
        col("n_ref"), col("n_cur")): _*)
    val full = grid
      .join(perBin, groupCols :+ "bin", "left")
      .select(
        groupCols.map(col) ++ Seq(
          col("n_ref"), col("n_cur"),
          coalesce(col("c_ref"), lit(0L)).as("c_ref"),
          coalesce(col("c_cur"), lit(0L)).as("c_cur")): _*)
    val p = (col("c_ref") + 1).cast("double") / (col("n_ref") + nBins).cast("double")
    val q = (col("c_cur") + 1).cast("double") / (col("n_cur") + nBins).cast("double")
    val termMicro = round((p - q) * log(p / q) * lit(1e6)).cast("long")
    full
      .groupBy(groupCols.map(col): _*)
      .agg(
        first(col("n_ref")).as("n_ref"),
        first(col("n_cur")).as("n_cur"),
        (sum(termMicro).cast("double") / lit(1e6)).as("psi"))
  }

  /** Feature-scaling parameter report — the fit artifact of a
    * standardizer: per measure column, (n, min, max, mean, std) so a
    * serving layer can replay z-score or min-max scaling exactly.
    * mean and the unbiased std derive from exact integer 1e-4-unit
    * moments (n, Σu, Σu² — DECIMAL(38,0) partials) through identical
    * double trees; sqrt is IEEE-correctly-rounded in both engines, so
    * even std is bit-portable. One aggregation per column over one
    * scan each, unioned vocabulary-sized reports.
    * Output: (col_name, n, min, max, mean, std).
    */
  def scalingReport(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "scalingReport: no columns requested")
    import org.apache.spark.sql.types.DecimalType
    cols.map { c =>
      val u = graft.operators.Regression.toUnits(col(c))
      val n = col("__n").cast("double")
      // the Stats.quantizable contract: NaN is excluded like null, a
      // finite value outside the DECIMAL(18,4) domain (±Inf included)
      // RAISES — toUnits would otherwise quantize such rows to NULL
      // silently, leaving them in __n while vanishing from the moment
      // sums (mean/std computed over an inflated denominator)
      Stats.quantizable(df, c, "scalingReport")
        .select(u.as("__u"))
        .agg(
          count(lit(1)).as("__n"),
          min(col("__u")).cast("long").as("__min"),
          max(col("__u")).cast("long").as("__max"),
          sum(col("__u")).cast("double").as("__s"),
          sum((col("__u") * col("__u")).cast(DecimalType(38, 0))).cast("double").as("__q"))
        .select(
          lit(c).as("col_name"),
          col("__n").as("n"),
          (col("__min").cast("double") / lit(1e4)).as("min"),
          (col("__max").cast("double") / lit(1e4)).as("max"),
          (col("__s") / n / lit(1e4)).as("mean"),
          // variance numerator clamped at 0: for a (near-)constant
          // column with large-magnitude units, n·Σu² and (Σu)² each
          // round independently past 2^53, and a residual of the
          // wrong sign would send sqrt to NaN instead of std 0
          when(col("__n") < 2, null).otherwise(
            sqrt(greatest(n * col("__q") - col("__s") * col("__s"), lit(0.0)) /
              (n * (n - lit(1.0)))) / lit(1e4)).as("std"))
    }.reduce(_ unionByName _)
  }

  /** Smoothed target (mean) encoding — the leakage-aware categorical
    * encoder: key k maps to (Σ_k y + m·ȳ)/(n_k + m), the per-key mean
    * shrunk toward the global mean with pseudo-count `m` (empirical-
    * Bayes smoothing; rare keys land near ȳ instead of memorizing
    * their few labels). Output: (key, n, enc) — vocabulary-sized, the
    * artifact a serving layer broadcasts.
    *
    * Exactness: per-key and global sums are exact integer 1e-4 units
    * (DECIMAL(38,0) through every partial), ȳ and the final encoding
    * are the only double divisions, in identical trees on both
    * engines. One aggregation; the global row is a broadcast cross of
    * the key table's own re-aggregation — the input is never
    * rescanned.
    */
  def targetEncode(
      df: DataFrame, keyCol: String, targetCol: String, m: Double = 20.0): DataFrame = {
    require(m > 0, s"targetEncode: pseudo-count m must be positive, got $m")
    import org.apache.spark.sql.types.DecimalType
    val u = graft.operators.Regression.toUnits(col(targetCol))
    // quantizable on the TARGET (NaN excluded like null, out-of-domain
    // raises): a NaN target previously passed isNotNull, counted in n
    // and __nt, yet contributed nothing to __s/__st — silently diluting
    // both the per-key encodings and the global mean toward 0
    val perKey = Stats.quantizable(df.filter(col(keyCol).isNotNull), targetCol, "targetEncode")
      .groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n"), sum(u).cast(DecimalType(38, 0)).as("__s"))
    val glob = perKey.agg(
      sum(col("n")).as("__nt"), sum(col("__s")).cast(DecimalType(38, 0)).as("__st"))
    val gmean = col("__st").cast("double") / col("__nt").cast("double")
    perKey.crossJoin(broadcast(glob))
      .select(
        col("key"), col("n"),
        ((col("__s").cast("double") + lit(m) * gmean) /
          (col("n").cast("double") + lit(m)) / lit(1e4)).as("enc"))
  }

  /** Rank-average normalization to [0, 1] — the distribution-free
    * feature transform (and the per-domain score aligner: normalized
    * ranks are comparable across sources whose raw scales are not).
    * Works on the DISTINCT-VALUE grain: per group each value gets its
    * doubled average rank `avg_rank2 = 2·below + ties + 1` (an exact
    * integer — ties share the midpoint) and
    * `norm = (avg_rank2 − 2) / (2·(n − 1))`, so min → 0, max → 1. A
    * one-value group reports the 0.5 midpoint. The output is the
    * value→norm map (broadcast-join it to transform rows); the rank
    * prefixes run over the distinct-value table, never the raw frame
    * — and banded per group for numeric values (see the body).
    * Output: (groupCols*, value, n_ties, avg_rank2, norm).
    */
  def rankNormalize(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      bands: Int = 64): DataFrame = {
    require(bands > 0, s"rankNormalize: bands must be positive, got $bands")
    val numeric = df.schema(valueCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val byVal = df
      // NaN is excluded like null (the module convention): it has no
      // rank — left in, it becomes the group's maximum (Spark orders
      // NaN above all doubles), inflating __ntot and stealing norm 1.0
      // from the true max, and it poisons the banded path's (hi−lo)
      // band width to NaN, collapsing every row into one band (the
      // single-task per-group sort the banding exists to avoid)
      .filter(col(valueCol).isNotNull &&
        (if (numeric) !isnan(col(valueCol).cast("double")) else lit(true)))
      .groupBy(groupCols.map(col) :+ col(valueCol).as("value"): _*)
      .agg(count(lit(1)).as("n_ties"))
    // A NUMERIC value is the continuous case: its distinct-value grain
    // is row-sized, so the below/total prefixes run banded per group
    // (Stats.bandedCum — every window (group, band)-partitioned; a
    // plain per-group window would sort a whole group's domain in one
    // task). A non-numeric value is a category vocabulary — bounded —
    // and keeps the direct per-group window (banding needs arithmetic
    // on the order key).
    val ranked =
      if (numeric) {
        byVal
          .withColumn("__v", col("value"))
          .transform(Stats.bandedCum(_, Seq("n_ties" -> "__cum"), bands,
            groupCols, carryTotals = Seq("n_ties" -> "__ntot")))
          .withColumn("__below", col("__cum") - col("n_ties"))
      } else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(groupCols.map(col): _*)
          .orderBy(col("value").asc)
          .rowsBetween(Long.MinValue, -1)
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy(groupCols.map(col): _*)
          .rowsBetween(Long.MinValue, Long.MaxValue)
        byVal
          .withColumn("__below", coalesce(sum(col("n_ties")).over(w), lit(0L)))
          .withColumn("__ntot", sum(col("n_ties")).over(wAll))
      }
    ranked
      .withColumn("avg_rank2", col("__below") * 2 + col("n_ties") + 1)
      .withColumn(
        "norm",
        when(col("__ntot") > 1,
          round(
            (col("avg_rank2") - 2).cast("double") /
              ((col("__ntot") - 1) * 2).cast("double"),
            6))
          .otherwise(lit(0.5)))
      .select(groupCols.map(col) ++
        Seq(col("value"), col("n_ties"), col("avg_rank2"), col("norm")): _*)
  }

  /** Mutual information between two categorical columns — the
    * feature-screening readout (how much does knowing x say about
    * y?): `MI = Σ_xy (n_xy/N) · ln(N·n_xy / (n_x·n_y))` over the
    * contingency table. Counts are exact integers; each cell's single
    * ln rides one double tree and is quantized to micro-nats before
    * the order-free integer sum (the x99 convention). Zero cells
    * contribute nothing (the sum runs over observed cells only).
    * Scale shape: one (x, y) aggregation, two margin aggregations of
    * the CELL table (vocab-sized), broadcast joins back — the raw
    * frame is never joined or sorted.
    * Output one row: (n, n_cells, mi_micro_nats, mi_nats).
    */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    // The cell table is the operator's only full-input pass; mx/my/nn
    // and the final reduction all derive from it (vocab-sized). Four
    // plan references dedupe at runtime via ReuseExchange, but every
    // INVOCATION still re-ran the input scan + aggregate — cache it,
    // so repeated calls on the same input read the persisted
    // vocab-sized table.
    val cells = OpCache.cached(
      df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
        .groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
        .agg(count(lit(1)).as("__nxy")))
    val mx = cells.groupBy("__x").agg(sum(col("__nxy")).as("__nx"))
    val my = cells.groupBy("__y").agg(sum(col("__nxy")).as("__ny"))
    // grand total as a broadcast 1-row cross (the targetEncode /
    // Itemsets.pairStats idiom), never an unpartitioned window: the
    // window form forces the ENTIRE cell table — millions of rows for
    // two high-cardinality columns — through one task to evaluate the
    // frame, a single-task bottleneck for an identical number
    val joined = cells
      .join(Broadcasting.maybeBroadcast(mx), Seq("__x"))
      .join(Broadcasting.maybeBroadcast(my), Seq("__y"))
      .crossJoin(broadcast(cells.agg(sum(col("__nxy")).as("__nn"))))
    val nd = col("__nn").cast("double")
    val ratio = (nd * col("__nxy").cast("double")) /
      (col("__nx").cast("double") * col("__ny").cast("double"))
    val termU = round(col("__nxy").cast("double") / nd * log(ratio) * 1e6).cast("long")
    joined
      .agg(
        max(col("__nn")).as("n"),
        count(lit(1)).as("n_cells"),
        sum(termU).as("mi_micro_nats"))
      .withColumn("mi_nats", round(col("mi_micro_nats").cast("double") / 1e6, 6))
  }
}
