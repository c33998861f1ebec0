package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction over a document corpus —
  * the tokenizer-training step of an LLM data pipeline (Sennrich et
  * al. 2016, "Neural Machine Translation of Rare Words with Subword
  * Units" — public).
  *
  * The classic trick makes this tractable at 100 TB: BPE statistics
  * only ever depend on the WORD DICTIONARY (distinct words weighted
  * by occurrence count), never on the raw token stream. One corpus
  * scan builds the dictionary (vocabulary-sized — bounded by language,
  * not data volume); every merge round is then an aggregation over
  * that small table. All K rounds stay fully lazy: the per-round
  * argmax pair is a 1-row frame cross-joined (broadcast) into the
  * next round's merge expression — no `collect`, no driver-side data.
  * `localCheckpoint` every few rounds truncates the otherwise
  * exponentially-nesting lineage (the [[PageRank]] idiom).
  *
  * Word symbols are carried as a single string with every symbol
  * WRAPPED in its own separator pair (SEP s1 SEP SEP s2 SEP ...):
  * merging pair (l, r) is then ONE
  * replace(sym, SEP+l+SEP+SEP+r+SEP -> SEP+lr+SEP) -- and because
  * replace substitutes non-overlapping occurrences left to right,
  * resuming AFTER each substitution, it implements exactly the greedy
  * leftmost BPE merge (aaa + merge(a,a) -> [aa, a]). The
  * per-symbol wrapping is load-bearing: with a single shared
  * separator, adjacent occurrences (abab under merge (a,b)) overlap
  * by one character and the scanner would miss every second one.
  * DuckDBs replace has the same contract, which is what makes the
  * whole K-round training loop replayable as unrolled SQL CTEs (the
  * x104 oracle).
  */
object Bpe {

  /** Symbol separator — never part of any word (the dictionary is
    * restricted to printable ASCII).
    */
  val Sep = "\u0001"

  /** Round state: the evolving dictionary plus the merge chosen in
    * each round so far (each a lazy 1-row frame).
    */
  final case class Trained(dict: DataFrame, merges: DataFrame)

  /** Word dictionary with initial character segmentation.
    * Output: (w, sym, wc) — sym is SEP c1 SEP SEP c2 SEP ..., wc the corpus
    * occurrence count. Restricted to printable-ASCII words of at most
    * `maxWordLen` chars so the `(.)`-per-char encoding and the binary
    * sort tie-break behave identically in every engine.
    */
  def wordDict(docs: DataFrame, textCol: String = "text", maxWordLen: Int = 32): DataFrame =
    docs
      .select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) <= maxWordLen && col("w").rlike("^[!-~]+$"))
      .groupBy("w")
      .agg(count(lit(1)).as("wc"))
      .select(
        col("w"),
        regexp_replace(col("w"), "(.)", Sep + "$1" + Sep).as("sym"),
        col("wc"))

  /** Adjacent symbol pairs of one dictionary state, weighted by word
    * count: (l, r, cnt). Words reduced to a single symbol contribute
    * nothing.
    */
  def pairCounts(dict: DataFrame): DataFrame = {
    val syms = filter(split(col("sym"), Sep), x => x =!= "")
    val pairs = when(size(col("s")) < 2, array().cast("array<struct<l:string,r:string>>"))
      .otherwise(transform(
        sequence(lit(1), size(col("s")) - 1),
        j => struct(
          element_at(col("s"), j.cast("int")).as("l"),
          element_at(col("s"), (j + 1).cast("int")).as("r"))))
    dict
      .select(syms.as("s"), col("wc"))
      .select(explode(pairs).as("p"), col("wc"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("wc")).as("cnt"))
  }

  /** Train the top-`k` BPE merges. Returns the merge table
    * (rank, left_sym, right_sym, pair_count) ordered by rank, and the
    * final dictionary segmentation (w, sym, wc).
    *
    * Each round: argmax pair by (cnt desc, l asc, r asc — the
    * deterministic tie-break), broadcast the 1-row winner, rewrite
    * every word with one `replace`. Lineage is truncated lazily every
    * `ckptEvery` rounds; the checkpointed state is vocabulary-sized.
    */
  def train(docs: DataFrame, k: Int, textCol: String = "text",
            maxWordLen: Int = 32, ckptEvery: Int = 4): Trained =
    trainFromDict(wordDict(docs, textCol, maxWordLen), k, ckptEvery)

  /** [[train]] from a pre-built (possibly cached/shared) dictionary in
    * [[wordDict]]'s (w, sym, wc) shape.
    */
  def trainFromDict(dict0: DataFrame, k: Int, ckptEvery: Int = 4): Trained = {
    require(k >= 1 && k <= 500, s"merge budget k=$k out of [1, 500]")
    var dict = dict0
    var merges = Vector.empty[DataFrame]
    for (i <- 1 to k) {
      val best = pairCounts(dict)
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1)
        .localCheckpoint(false) // 1 row; truncates the union branch lazily
      merges :+= best.select(
        lit(i).as("rank"), col("l").as("left_sym"),
        col("r").as("right_sym"), col("cnt").as("pair_count"))
      val sep = lit(Sep)
      // LEFT join on a constant-true condition, NOT a cross join: when
      // the merge space is exhausted before round k (every word already
      // a single symbol), `best` is EMPTY and a cross join would
      // annihilate the dictionary — train() silently returned an empty
      // segmentation for any corpus that fully merges under the budget.
      // The left join keeps every word and the when-guard makes an
      // exhausted round the identity rewrite; `best` is limit(1), so
      // the join can never duplicate, and the loop stays fully lazy
      // (no per-round count). Exhausted rounds contribute no merge row
      // — the merge table simply ends at the last real rank.
      dict = dict
        .join(broadcast(best.select(col("l").as("__l"), col("r").as("__r"))),
          lit(true), "left")
        .select(
          col("w"),
          when(col("__l").isNull, col("sym")).otherwise(replace(
            col("sym"),
            concat(sep, col("__l"), sep, sep, col("__r"), sep),
            concat(sep, col("__l"), col("__r"), sep))).as("sym"),
          col("wc"))
      if (i % ckptEvery == 0 && i < k) dict = dict.localCheckpoint(false)
    }
    Trained(dict, merges.reduce(_ union _))
  }

  /** Human-readable final segmentation: the `topN` heaviest words
    * (wc desc, w asc) with their merged symbol sequence.
    */
  def segmentation(trained: Trained, topN: Int = 25): DataFrame =
    trained.dict
      .select(
        col("w"), col("wc"),
        size(filter(split(col("sym"), Sep), x => x =!= "")).as("n_sym"),
        concat_ws(" ", filter(split(col("sym"), Sep), x => x =!= "")).as("sym_text"))
      .orderBy(col("wc").desc, col("w").asc)
      .limit(topN)
}
