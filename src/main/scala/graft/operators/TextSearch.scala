package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword search: BM25 top-k over the document corpus — the
  * retrieval face of a training-data pipeline (quality-by-query
  * probes, benchmark-contamination triage, corpus exploration).
  *
  * Shape, 100 TB first:
  *   - the query set broadcasts (it is small by contract);
  *   - the token stream is pruned to query terms by a broadcast
  *     semi-join BEFORE any aggregation — the tf table only ever
  *     holds (matched doc, term) rows;
  *   - document length and corpus stats come from a separate
  *     aggregate of the same pruned scan (no cached full token
  *     table — at scale the scan is the cheap part, state is not);
  *   - per-term partial scores sum in one groupBy; top-k per query
  *     is a window over the (small) scored candidate set.
  *
  * Scoring is standard BM25+ (Robertson/Sparck Jones idf in the
  * Lucene `ln(1 + (N-df+0.5)/(df+0.5))` form; k1/b saturation).
  * `ln` is not bit-portable across engines, so the query entry is
  * rows-only; the portable twin (x76) replays the same pipeline with
  * a rational idf and fixed-order arithmetic that DuckDB reproduces
  * bit-for-bit.
  */
object TextSearch {

  /** BM25 top-k. `docs`: (doc_id, text); `queries`: (query_id, term)
    * — one row per query term, duplicate terms counted once.
    * Output: (query_id, doc_id, score, rank), rank 1..topK per query,
    * ties broken by doc_id.
    */
  def bm25TopK(
      docs: DataFrame,
      queries: DataFrame,
      topK: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val qterms = queries.select(col("query_id"), col("term")).distinct()
    val base = docs.select(
      col("doc_id"),
      graft.functions.TextFunctions.tokens(col("text")).as("__toks"))
    // Per-doc length + corpus totals. The dl table feeds two subtrees
    // (corpus totals, the per-candidate join) — materialize it once:
    // at 16 bytes/doc it is the one piece of search state cheap
    // enough to keep, and it saves a full tokenize pass.
    val dlTab = OpCache.cached(
      base.select(col("doc_id"), size(col("__toks")).cast("long").as("dl")))
    val totals = dlTab.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("n_tokens"))
    // Prune the exploded stream to query terms before aggregating.
    val matched = base
      .select(col("doc_id"), explode(col("__toks")).as("term"))
      .join(Broadcasting.maybeBroadcast(qterms.select("term").distinct()), Seq("term"), "left_semi")
    // The tokenize+explode pass over the corpus dominates the query —
    // its (doc, query-term, tf) reduction is tiny (matched terms
    // only). Cache the reduction, not the stream: a repeat search
    // with the same corpus and term set (plan-equal) pays only the
    // scoring joins; a new term set or corpus builds its own entry.
    val tf = OpCache.cached(
      matched.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(Broadcasting.maybeBroadcast(df), Seq("term"))
      .join(dlTab, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .join(Broadcasting.maybeBroadcast(qterms), Seq("term"))
      .withColumn("avgdl", col("n_tokens").cast("double") / col("n_docs"))
      .withColumn(
        "idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn(
        "part",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("part")).as("score"))
    scored
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }
}
