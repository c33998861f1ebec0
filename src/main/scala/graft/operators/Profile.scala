package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Single-scan column profiling — the data-quality/lineage snapshot a
  * warehouse emits on every load (row counts, null counts,
  * cardinalities, bounds, value-length stats per column).
  *
  * All per-column statistics fold into ONE aggregate over ONE scan —
  * the table is never read per column. Distincts are exact, so
  * Catalyst plans the multi-distinct aggregate via Expand (row
  * multiplication ×|cols|, still a single scan).
  *
  * min/max are computed in the column's NATIVE type (ordering
  * semantics preserved) and only then rendered to string for the
  * uniform output schema; `avg_len` is the mean rendered length —
  * sum and count are exact integers, so the single division is
  * exactly rounded and bit-portable.
  */
object Profile {

  private def stats(c: String): Seq[Column] = Seq(
    count(col(c)).as(s"__nn_$c"),
    count_distinct(col(c)).as(s"__nd_$c"),
    min(col(c)).cast("string").as(s"__min_$c"),
    max(col(c)).cast("string").as(s"__max_$c"),
    avg(length(col(c).cast("string"))).as(s"__len_$c"))

  /** Exact profile of `cols`: one row per column,
    * `(col_name, n_rows, n_null, n_distinct, min_value, max_value,
    * avg_len)`. Single scan; exact distincts via Expand.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile: no columns requested")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(stats)
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$c")).as("n_null"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__min_$c").as("min_value"),
        col(s"__max_$c").as("max_value"),
        col(s"__len_$c").as("avg_len"))
    }
    wide.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  /** Column-level drift report between two snapshots (the data-
    * contract check a pipeline runs on every refresh): per column,
    * both sides' null-rate and distinct-rate in exactly-rounded
    * micro-units, min/max change flags, and a drift verdict when the
    * null-rate moved more than `nullRateMicroTol`. Everything is
    * integer arithmetic over the two exact profiles — bit-portable.
    * Output: (col_name, n_a, n_b, null_micro_a, null_micro_b,
    * distinct_micro_a, distinct_micro_b, minmax_changed, drift).
    */
  def drift(
      a: DataFrame,
      b: DataFrame,
      cols: Seq[String],
      nullRateMicroTol: Long = 10000L): DataFrame = {
    require(nullRateMicroTol >= 0, s"drift: tolerance must be ≥ 0, got $nullRateMicroTol")
    // EMPTY-SIDE CONTRACT: a side with n_rows = 0 has no null/distinct
    // rate (micro columns NULL — the division is guarded, so neither
    // the ANSI DIVIDE_BY_ZERO nor the ANSI-off silent NULL verdict can
    // fire); the drift verdict is then decided structurally — a table
    // that emptied or appeared IS the most-drifted state and must read
    // `true`, never NULL (the old NULL verdict vanished under a
    // filter(col("drift")) and the contract check passed). Both sides
    // empty → false (nothing changed). NOTE (exactness): the micro
    // rates are one double division + round — bit-portable (the oracle
    // replays the same IEEE ops) and exactly rounded while
    // n_null·1e6 < 2^53 (~9e9 rows); past that the rounded integer can
    // sit an ulp off the true ratio on BOTH engines identically.
    def side(df: DataFrame, tag: String) = {
      def micro(c: Column) =
        when(col("n_rows") === 0, null)
          .otherwise(round(c * lit(1000000L) / col("n_rows")).cast("long"))
      profile(df, cols).select(
        col("col_name"),
        col("n_rows").as(s"n_$tag"),
        micro(col("n_null")).as(s"null_micro_$tag"),
        micro(col("n_distinct")).as(s"distinct_micro_$tag"),
        col("min_value").as(s"min_$tag"),
        col("max_value").as(s"max_$tag"))
    }
    side(a, "a").join(side(b, "b"), Seq("col_name"))
      .select(
        col("col_name"), col("n_a"), col("n_b"),
        col("null_micro_a"), col("null_micro_b"),
        col("distinct_micro_a"), col("distinct_micro_b"),
        (!(col("min_a") <=> col("min_b")) || !(col("max_a") <=> col("max_b")))
          .as("minmax_changed"),
        when(col("n_a") === 0 && col("n_b") === 0, lit(false))
          .when(col("n_a") === 0 || col("n_b") === 0, lit(true))
          .otherwise(abs(col("null_micro_a") - col("null_micro_b")) > lit(nullRateMicroTol))
          .as("drift"))
  }

  /** Shannon entropy (nats) of each column's value distribution —
    * the information-content axis the count profile misses: near-zero
    * entropy marks a constant/degenerate column, ln(n_distinct) marks
    * a uniform key. Computed as H = ln n − (Σ c·ln c)/n from one
    * value-count aggregation per column, with each c·ln c quantized
    * to integer micro-nats before the unordered sum (the x121 ln-ulp
    * insurance; ln of an integer-valued double is IEEE-identical
    * across engines). NULLs are excluded. Output per column:
    * (col_name, n, n_distinct, entropy_nats).
    *
    * Scale shape: one map-side-combined (column, value) count per
    * requested column, re-aggregated to one row — vocabulary-sized
    * shuffles, unioned reports.
    */
  def categoricalEntropy(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "categoricalEntropy: no columns requested")
    cols.map { c =>
      df
        .filter(col(c).isNotNull)
        .groupBy(col(c).cast("string").as("__v"))
        .agg(count(lit(1)).as("__c"))
        .agg(
          sum(col("__c")).as("__n"),
          count(lit(1)).as("n_distinct"),
          // micro-nat terms accumulate in DECIMAL(38,0): a value with
          // count ≥ ~3.4e11 has c·ln c·1e6 past Long.MaxValue, and the
          // old cast("long") saturated per-term while the long sum
          // could wrap — garbage (possibly negative) entropy at the
          // 100 TB scale this operator documents. (Terms past 2^53
          // also lose ulp-exactness in the double round — inherent to
          // the quantization, but they can no longer wrap.)
          sum(round(col("__c").cast("double") * log(col("__c").cast("double")) * lit(1e6))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("__clnc"))
        .select(
          lit(c).as("col_name"),
          col("__n").as("n"),
          col("n_distinct"),
          (log(col("__n").cast("double")) -
            (col("__clnc").cast("double") / lit(1e6)) / col("__n").cast("double"))
            .as("entropy_nats"))
    }.reduce(_ unionByName _)
  }
}
