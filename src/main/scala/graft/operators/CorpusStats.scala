package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-level statistical-law audits — the two classic sanity
  * screens for a training corpus (a crawl that violates them is
  * usually boilerplate-flooded or truncated):
  *
  *  - Zipf (1949): token frequency ≈ C·rank^(−s), s ≈ 1 for natural
  *    language. We fit s by OLS on (ln rank, ln freq) over the top-N
  *    tokens.
  *  - Heaps (1978): vocabulary grows ≈ K·n^β with corpus size,
  *    β ∈ (0.4, 0.6) for natural text. We report the vocabulary size
  *    at corpus prefixes, computed WITHOUT rescanning per prefix.
  *
  * Portability: ln of integer-valued doubles (counts, ranks) is
  * IEEE-identical across engines; each ln is quantized to integer
  * micro-units (the x99 convention) so the OLS sums are exact
  * integer arithmetic, and the final slope is one double division of
  * two integer-valued doubles.
  *
  * Scale shape: one token-count aggregation (map-side combined);
  * the fit runs on the tiny top-N table; the Heaps prefixes come
  * from per-token min-doc aggregation — one more vocabulary-sized
  * shuffle, never a per-prefix rescan.
  */
object CorpusStats {

  /** Corpus token-count table `(tok, cnt)` — vocabulary-sized,
    * OpCache-shared across every consumer (Zipf fit, frequency-of-
    * frequencies, …): plan-equal inputs build it once per session.
    */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    OpCache.cached(
      docs
        .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt")))

  /** Frequency-of-frequencies table with Good–Turing discounts
    * (Good 1953): `(r, n_r, gt_smoothed)` where n_r = #types seen r
    * times and r* = (r+1)·n_{r+1}/n_r. Integer counts; one exactly-
    * rounded division.
    */
  def freqOfFreqs(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val nr = tokenCounts(docs, textCol)
      .groupBy(col("cnt").as("r")).agg(count(lit(1)).as("n_r"))
    nr.as("a")
      .join(nr.select((col("r") - 1).as("r"), col("n_r").as("n_r1")).as("b"),
        Seq("r"), "left")
      .select(
        col("r"), col("n_r"),
        round((col("r") + 1) * col("n_r1") / col("n_r"), 4).as("gt_smoothed"))
  }

  /** OLS Zipf slope over the top `topN` tokens: one row
    * (n_fit, zipf_slope). Rank ties are broken by token asc (total
    * order → deterministic ranks).
    */
  def zipfSlope(
      docs: DataFrame,
      topN: Int = 200,
      textCol: String = "text"): DataFrame = {
    require(topN > 1, s"zipfSlope: need ≥2 points, got $topN")
    val counts = tokenCounts(docs, textCol)
    // The final ranking needs (cnt desc, tok asc) — a global window.
    // Running it over the whole vocabulary would be one monster sort
    // task, so pre-prune to the N-th-largest COUNT first with the
    // mergeable bounded-top-k aggregator (the hash ids only break
    // aggregator-internal ties; the VALUE of the N-th count is
    // deterministic either way), leaving the window ~N rows.
    val thr = TopK.topKPerGroup(
        counts.withColumn("__id", xxhash64(col("tok"))), Seq.empty, "cnt", "__id", topN)
      .agg(min(col("cnt")).cast("long").as("__thr"))
    val top = counts
      .crossJoin(broadcast(thr))
      .filter(col("cnt") >= col("__thr"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("tok").asc)))
      .filter(col("rank") <= topN)
      .select(col("rank"), col("cnt"))
    // x = ln rank, y = ln freq, both micro-quantized integers
    val pts = top.select(
      round(log(col("rank").cast("double")) * lit(1e6)).cast("long").as("x"),
      round(log(col("cnt").cast("double")) * lit(1e6)).cast("long").as("y"))
    // Moment sums and the OLS combination in DECIMAL(38,0) (the
    // Regression/Resample convention), NOT long: per-term x·y is safe
    // in long (≤ ~1.3e15 at micro-nat magnitudes) but Σx·y crosses
    // Long.MaxValue near topN ~1e5 on a large corpus, and the
    // combination n·Σxy − Σx·Σy wraps for topN beyond a few hundred —
    // silently, with ANSI off, yielding a garbage slope while the
    // DuckDB oracle raises on the same BIGINT overflow. Exact integers
    // either way at non-overflowing sizes, so the final doubles are
    // bit-identical.
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    pts.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"))
      .select(
        col("n").as("n_fit"),
        ((col("n").cast(d38) * col("sxy") - col("sx").cast(d38) * col("sy").cast(d38))
          .cast("double") /
          (col("n").cast(d38) * col("sxx") - col("sx").cast(d38) * col("sx").cast(d38))
          .cast("double"))
          .as("zipf_slope"))
  }

  /** Unigram-distribution divergence between two corpus slices — the
    * vocabulary-level companion of the value-binned PSI (x121): how
    * far apart are two sources' token distributions? Add-1 smoothing
    * over the UNION vocabulary (so a token absent on one side still
    * contributes — that asymmetry is most of the signal), KL in both
    * directions plus the symmetric Jeffreys sum. Each p·ln(p/q) term
    * is quantized to integer micro-nats before the unordered sum (the
    * x99/x121 ln-ulp insurance). Output one row:
    * (n_tokens_a, n_tokens_b, vocab, kl_ab, kl_ba, jeffreys).
    *
    * Scale shape: two token-count aggregations (map-side combined) +
    * one vocabulary-sized full-outer join; the totals cross in as a
    * broadcast 1-row frame. Nothing corpus-sized past the first
    * shuffle.
    */
  def klDivergence(a: DataFrame, b: DataFrame, textCol: String = "text"): DataFrame = {
    def cnt(df: DataFrame, tag: String) = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as(s"__c$tag"))
    val merged = cnt(a, "a").join(cnt(b, "b"), Seq("tok"), "full_outer")
      .select(
        coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val tot = merged.agg(
      sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"), count(lit(1)).as("__v"))
    val p = (col("__ca") + 1).cast("double") / (col("__na") + col("__v")).cast("double")
    val q = (col("__cb") + 1).cast("double") / (col("__nb") + col("__v")).cast("double")
    val abMicro = round(p * log(p / q) * lit(1e6)).cast("long")
    val baMicro = round(q * log(q / p) * lit(1e6)).cast("long")
    merged.crossJoin(broadcast(tot))
      .agg(
        first(col("__na")).as("n_tokens_a"),
        first(col("__nb")).as("n_tokens_b"),
        first(col("__v")).as("vocab"),
        (sum(abMicro).cast("double") / lit(1e6)).as("kl_ab"),
        (sum(baMicro).cast("double") / lit(1e6)).as("kl_ba"),
        ((sum(abMicro) + sum(baMicro)).cast("double") / lit(1e6)).as("jeffreys"))
  }

  /** Heaps'-law vocabulary growth at document-count prefixes (in
    * `idCol` order): for each quartile boundary, the number of
    * distinct tokens whose FIRST occurrence falls at or before it.
    * One per-token min-id aggregation; output
    * (prefix_pct, boundary_id, vocab_size) — boundary_id the exact
    * (possibly .5-interpolated) quartile of the id column.
    */
  def heapsVocab(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val firstSeen = docs
      .select(col(idCol).as("__id"), explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(min(col("__id")).as("first_id"))
    // quartile boundary ids by exact percentile over the doc ids
    val bounds = docs.agg(
      expr(s"percentile($idCol, array(0.25, 0.5, 0.75, 1.0))").as("bs"))
    firstSeen
      .crossJoin(broadcast(bounds))
      .select(
        posexplode(col("bs")).as(Seq("__i", "__b")),
        col("first_id"))
      .groupBy(col("__i"), col("__b"))
      .agg(sum(when(col("first_id").cast("double") <= col("__b"), 1L).otherwise(0L))
        .as("vocab_size"))
      .select(
        ((col("__i") + 1) * 25).cast("int").as("prefix_pct"),
        // exact quartile of the id column — kept as the (possibly
        // .5-interpolated) double: a long cast would truncate here
        // but round in DuckDB
        round(col("__b"), 1).as("boundary_id"),
        col("vocab_size"))
  }
}
