package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Windowed token co-occurrence statistics — the collocation /
  * phrase-mining probe of a corpus (PMI-ranked bigram discovery,
  * association features for tokenizer curation).
  *
  * The naive formulation self-joins token positions per document on a
  * distance predicate — O(L²) pairs per document before filtering. At
  * 100 TB that quadratic blowup on long documents is the bottleneck,
  * so this operator materializes each position's ≤`window` LEFT
  * anchors instead (`explode` of (pos−window … pos−1)) and equi-joins
  * on (doc_id, pos): exactly window·L join candidates per document —
  * linear in corpus size — with plain hash-join co-location and
  * map-side-combinable counts above it.
  *
  * Association is reported as LIFT `P(a,b)/(P(a)P(b)) = pair_n·N /
  * (cnt_a·cnt_b)` computed as one exactly-rounded division of two
  * integer products — bit-portable across engines, unlike `ln` — and
  * as PMI (= ln lift) for callers; PMI is a monotone transform so any
  * ranking/thresholding on lift is a ranking on PMI.
  */
object Cooccur {

  /** (doc_id, pos, tok) token stream; 0-based positions. */
  def tokenPositions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "tok")))

  // The token stream feeds the pair join (twice) and the unigram /
  // total aggregates — materialize it once per corpus plan.
  private def cachedToks(docs: DataFrame): DataFrame =
    OpCache.cached(tokenPositions(docs))

  private def pairsFromToks(toks: DataFrame, window: Int, minPairCount: Long): DataFrame = {
    require(window >= 1, s"pairCounts: window must be ≥1, got $window")
    // Right occurrence at pos p anchors to each a-position p−d, d=1..window:
    // the join on (doc_id, pos) realizes the distance band linearly.
    val anchored = toks.select(
      col("doc_id"),
      explode(array((1 to window).map(d => col("pos") - d): _*)).as("pos"),
      col("tok").as("tok_r"))
    toks.join(anchored, Seq("doc_id", "pos"))
      .select(
        least(col("tok"), col("tok_r")).as("tok_a"),
        greatest(col("tok"), col("tok_r")).as("tok_b"))
      .groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minPairCount)
  }

  /** Unordered co-occurring token pairs within `window` positions,
    * canonicalized (tok_a ≤ tok_b), with `pair_n ≥ minPairCount`.
    * Output: (tok_a, tok_b, pair_n).
    */
  def pairCounts(docs: DataFrame, window: Int = 2, minPairCount: Long = 2L): DataFrame =
    pairsFromToks(cachedToks(docs), window, minPairCount)

  /** Pair counts enriched with unigram counts, corpus size, lift and
    * PMI. Output: (tok_a, tok_b, pair_n, cnt_a, cnt_b, lift, pmi).
    * The unigram join keys on a vocabulary-sized side (one row per
    * token); the 1-row total is broadcast.
    */
  def withLift(docs: DataFrame, window: Int = 2, minPairCount: Long = 2L): DataFrame = {
    val toks = cachedToks(docs)
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("total"))
    // integer products in DECIMAL, ONE double division: exactly
    // rounded, portable — and safe at the corpus scale the operator is
    // documented for, where pair_n·total (~1e8·1e11) and cnt_a·cnt_b
    // for two common tokens exceed int64 and the long multiply wrapped
    // to a negative lift / null pmi with ANSI off (DuckDB's BIGINT
    // multiply errors at the same point, so the oracle only ever
    // agreed below the overflow line)
    import org.apache.spark.sql.types.DecimalType
    val lift = (col("pair_n").cast(DecimalType(38, 0)) * col("total")).cast("double") /
      (col("cnt_a").cast(DecimalType(38, 0)) * col("cnt_b")).cast("double")
    pairsFromToks(toks, window, minPairCount)
      .join(uni.select(col("tok").as("tok_a"), col("cnt").as("cnt_a")), Seq("tok_a"))
      .join(uni.select(col("tok").as("tok_b"), col("cnt").as("cnt_b")), Seq("tok_b"))
      .crossJoin(broadcast(total))
      .select(
        col("tok_a"), col("tok_b"), col("pair_n"), col("cnt_a"), col("cnt_b"),
        lift.as("lift"), log(lift).as("pmi"))
  }
}
