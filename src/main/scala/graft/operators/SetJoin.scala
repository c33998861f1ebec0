package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** EXACT-threshold set-similarity self-join via lossless prefix +
  * positional filtering (the AllPairs/PPJoin family: Bayardo et al.,
  * WWW'07; Xiao et al., WWW'08) — the guaranteed-recall counterpart
  * of the MinHash/SimHash candidate generators in [[Dedup]]: every
  * document pair with token Jaccard ≥ t is returned, none missed, no
  * LSH probability involved.
  *
  * Threshold semantics: `t` is quantized to 1e-6 (tq = round(t·1e6));
  * the exact contract is J ≥ tq/1e6, and EVERY bound below — prefix
  * length, positional filter, final verification — is integer
  * arithmetic on the same tq, so pruning and verification can never
  * disagree by a rounding ulp (a float ⌈t·sz⌉ can land one above the
  * exact integer product and silently shorten the prefix).
  *
  * Scale shape: order each document's distinct tokens by ascending
  * global document frequency (rarest first, ties by token string — a
  * deterministic total order); a pair at Jaccard ≥ t MUST share at
  * least one token among each side's first `sz − α(sz) + 1` tokens
  * where α(sz) = ⌈tq·sz/1e6⌉ is the per-doc minimum overlap, so the
  * inverted index is built over PREFIXES only. Rare-first ordering
  * makes those prefix postings the SHORTEST lists in the corpus — the
  * candidate join explodes df²-style only on tokens that are rare by
  * construction, while stopword-class postings never enter the index.
  *
  * The positional filter then cuts candidates BEFORE verification:
  * for a pair's LAST matched prefix token w (0-based positions il in
  * a, jl in b — positions are monotone in the shared total order, so
  * max(pos) on each side names the same token), every common token
  * ≤ w is itself a prefix match (a smaller common token outside one
  * prefix would have to sit after w on that side — impossible), and
  * every common token > w sits strictly after il / jl. Hence
  * O ≤ k + min(sa−il−1, sb−jl−1) with k the prefix-match count; pairs
  * whose bound misses the pair-level overlap threshold
  * α(a,b) = ⌈tq·(sa+sb)/(1e6+tq)⌉ are dropped with zero recall loss.
  * Verification is one `array_intersect` per surviving pair (exact,
  * codegen).
  */
object SetJoin {

  /** All pairs (doc_a < doc_b) with distinct-token Jaccard ≥ tq/1e6,
    * tq = round(t·1e6). Output: (doc_a, doc_b, inter, size_a, size_b,
    * jaccard) — the float is one exactly-rounded division of integers.
    */
  def jaccardJoin(
      docs: DataFrame,
      t: Double,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(t > 0 && t <= 1, s"jaccardJoin: threshold must be in (0,1], got $t")
    val tq = math.round(t * 1e6)
    val toks = OpCache.cached(
      docs.select(col(idCol).as("id"), explode(TextFunctions.tokens(col(textCol))).as("tok"))
        .distinct())
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // tokens per doc in (df asc, tok asc) order — struct sort gives
    // exactly that field-lexicographic total order
    val ordered = OpCache.cached(
      toks.join(dfreq, Seq("tok"))
        .groupBy(col("id"))
        .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ts"))
        .select(
          col("id"),
          transform(col("ts"), s => s.getField("tok")).as("toks"),
          size(col("ts")).as("sz")))
    // per-doc minimum overlap α(sz) = ⌈tq·sz/1e6⌉; prefix keeps
    // sz − α + 1 tokens — all integer, shared with verification's tq
    val alphaDoc = graft.functions.CoreFunctions.ceilDiv(lit(tq) * col("sz").cast("long"), lit(1000000L))
    val prefixLen = (col("sz").cast("long") - alphaDoc + lit(1L)).cast("int")
    val prefix = ordered.select(
      col("id"), col("sz"),
      posexplode(slice(col("toks"), lit(1), prefixLen)).as(Seq("pos", "tok")))
    // one row per candidate pair, carrying the positional evidence:
    // k prefix matches, last-match positions (max — monotone order)
    val cands = prefix.as("a").join(prefix.as("b"), col("a.tok") === col("b.tok"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(
        count(lit(1)).as("k"),
        max(col("a.pos")).cast("long").as("il"),
        max(col("b.pos")).cast("long").as("jl"),
        first(col("a.sz")).cast("long").as("sa"),
        first(col("b.sz")).cast("long").as("sb"))
    // pair-level threshold: inter ≥ α(a,b) = ⌈tq·(sa+sb)/(1e6+tq)⌉
    // (⟺ the cross-multiplied verification below)
    val alphaPair = graft.functions.CoreFunctions.ceilDiv(lit(tq) * (col("sa") + col("sb")), lit(1000000L + tq))
    val positional = cands
      .filter(
        col("k") + least(col("sa") - col("il") - 1, col("sb") - col("jl") - 1) >= alphaPair)
      .select("id_a", "id_b")
    val ja = ordered.select(col("id").as("id_a"), col("toks").as("ta"), col("sz").as("s_a"))
    val jb = ordered.select(col("id").as("id_b"), col("toks").as("tb"), col("sz").as("s_b"))
    val inter = size(array_intersect(col("ta"), col("tb")))
    positional.join(ja, Seq("id_a")).join(jb, Seq("id_b"))
      .withColumn("inter", inter)
      // integer cross-multiply keeps the threshold exact: J ≥ tq/1e6 ⟺
      // inter·1e6 ≥ tq·(sa+sb−inter)
      .filter(
        col("inter").cast("long") * 1000000L >=
          lit(tq) * (col("s_a") + col("s_b") - col("inter")).cast("long"))
      .select(
        col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("inter"), col("s_a").as("size_a"), col("s_b").as("size_b"),
        (col("inter").cast("double") /
          (col("s_a") + col("s_b") - col("inter")).cast("double")).as("jaccard"))
  }
}
