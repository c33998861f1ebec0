package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** In-corpus n-gram language-model scoring — the CCNet-style quality
  * signal (Wenzek et al. 2020 score documents by LM perplexity; at
  * 100 TB the LM must be trainable IN the engine, not imported): an
  * add-½ smoothed bigram model is fit on the corpus itself in two
  * aggregations (bigram counts, history counts), and every document
  * is scored by its mean token negative log-likelihood. Low scores =
  * predictable, natural text; high scores = gibberish, shredded
  * markup, wrong-language fragments — the standard filter axis that
  * length/punctuation heuristics ([[TextAnalysis]]) cannot see.
  *
  * Probabilities are the exact integer ratio
  * `p(w₂|w₁) = (2·c(w₁w₂) + 1) / (2·h(w₁) + V)` (add-½ in halves, so
  * numerator and denominator stay integers: h = occurrences of w₁ as
  * a bigram history, V = vocabulary size). The only floats are the
  * final `ln` of integer-valued doubles — IEEE-identical inputs in
  * any engine, with the x17 rounding convention applied by callers
  * that need bit-stable output.
  *
  * Scale shape: one positional explode per document (multiset
  * bigrams — NOT the distinct shingles of the dedup unit), two
  * partial-aggregated groupBys for the model (vocabulary-sized, not
  * corpus-sized), one equi-join of document bigrams against the
  * bigram table, and a broadcast of the scalar V. Nothing all-pairs,
  * nothing driver-side.
  */
object NgramLm {

  /** Multiset bigram rows `(idCol, w1, w2)` — the pair carried as TWO
    * columns, never a separator-concatenated key: the tokenizer splits
    * on whitespace only, so a token may legally CONTAIN the old \u0001
    * separator, and a concat key made ("x\u0001y", "z") collide with
    * ("x", "y\u0001z") — merged bigram/history counts silently skewing
    * avg_nll. `toks` must be a MATERIALIZED array attribute (the
    * [[TextFunctions.wordShingles]] re-evaluation contract).
    */
  private def bigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(
        col(idCol),
        // guard < 2 tokens BEFORE sequence(): Spark's sequence(1, 0)
        // counts DOWN, which would probe element_at(toks, 0) — an
        // error under ANSI (the wordShingles pattern)
        explode(when(size(col("__toks")) < 2,
            array().cast("array<struct<w1:string,w2:string>>"))
          .otherwise(transform(
            sequence(lit(1), size(col("__toks")) - 1),
            i => struct(
              element_at(col("__toks"), i.cast("int")).as("w1"),
              element_at(col("__toks"), (i + 1).cast("int")).as("w2"))))).as("__bg"))
      .select(col(idCol), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))

  /** Per-document bigram-LM score: `(idCol, n_bigrams, avg_nll)` with
    * avg_nll = mean over the document's bigrams of
    * −ln p(w₂|w₁) under the corpus-trained add-½ model (natural-log
    * nats). Documents with fewer than 2 tokens are absent (they have
    * no bigrams to score). Deterministic given the corpus.
    *
    * `quantizeMicroNats`: with the default float mean, the per-doc
    * aggregation sums doubles in partition order — bit-stable only up
    * to the last ulp. The quantized form rounds each bigram's nll to
    * an integer micro-nat FIRST (one ln each of two integer-valued
    * doubles — IEEE-identical across engines), so the per-doc sum is
    * exact integer arithmetic under ANY aggregation order and a
    * DuckDB oracle replays the score bit-for-bit (the repo's
    * portable-twin convention). The ~0.5e-6-nat quantization error is
    * far below the signal.
    */
  def bigramNll(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      quantizeMicroNats: Boolean = false): DataFrame = {
    val bg = OpCache.cached(bigrams(docs, idCol, textCol))
    // model tables: corpus-wide bigram and history counts + |V|
    val cbg = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_bg"))
    val ch = bg.groupBy(col("w1")).agg(count(lit(1)).as("c_h"))
    val vocab = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    // integer-ratio probability: (2·c_bg + 1) / (2·c_h + V)
    val nll = log((lit(2L) * col("c_h") + col("v")).cast("double")) -
      log((lit(2L) * col("c_bg") + lit(1L)).cast("double"))
    val scored = bg.join(cbg, Seq("w1", "w2"))
      .join(ch, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
    if (quantizeMicroNats)
      scored.agg(
        count(lit(1)).as("n_bigrams"),
        (sum(round(nll * lit(1e6)).cast("long")).cast("double") /
          (count(lit(1)) * lit(1000000L)).cast("double")).as("avg_nll"))
    else
      scored.agg(count(lit(1)).as("n_bigrams"), avg(nll).as("avg_nll"))
  }
}
