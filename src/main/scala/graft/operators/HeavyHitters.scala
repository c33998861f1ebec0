package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Frequent-items (heavy hitters) over a key column — the
  * vocabulary / hot-token probe of a training-data pipeline (builder
  * prompt: token counting at 100 TB), shaped so the full key
  * cardinality is NEVER shuffled.
  *
  * Two passes over the key stream, both map-side bounded:
  *
  *   1. a mergeable Misra-Gries summary (Agarwal et al., "Mergeable
  *      Summaries", PODS 2012) runs as a typed [[Aggregator]] with a
  *      ≤2k-entry buffer per partition and a single 1-row merge — the
  *      candidate set, guaranteed to contain EVERY key with true count
  *      > N/(k+1) (each batch trim subtracts the (k+1)-th largest
  *      counter d from all, destroying ≥ (k+1)·d of counter mass, so
  *      Σ d ≤ N/(k+1) — no qualifying key can be decremented to zero);
  *   2. an exact count restricted to those ≤k candidates via a
  *      broadcast semi-join — map-side combine collapses the shuffle
  *      to ≤k rows per partition.
  *
  * The final `cnt·(k+1) > N` filter on EXACT counts removes the
  * sketch's false positives, so the result is bit-deterministic (the
  * true heavy hitters, independent of partitioning and stream order)
  * and DuckDB-replayable — an exact oracle over an approximate
  * pipeline. A plain `groupBy(key).count` is exact too but shuffles
  * one row per DISTINCT key; at 100 TB of n-grams that cardinality is
  * the bottleneck this operator exists to avoid.
  */
object HeavyHitters {

  /** Misra-Gries buffer: key → decremented count, ≤ 2k entries live.
    * Immutable map (HAMT) — per-row update is O(1) persistent, and the
    * buffer crosses the partial/final boundary through a plain
    * ExpressionEncoder without custom serialization.
    */
  private def trim(m: Map[String, Long], k: Int): Map[String, Long] =
    if (m.size <= k) m
    else {
      // d = (k+1)-th largest counter; subtract from all, drop ≤ 0.
      val d = m.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      m.collect { case (t, c) if c > d => t -> (c - d) }
    }

  private final class MisraGries(k: Int)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    override def zero: Map[String, Long] = Map.empty

    override def reduce(b: Map[String, Long], key: String): Map[String, Long] = {
      val m = b.updated(key, b.getOrElse(key, 0L) + 1L)
      // Batch the O(k) trim: amortized O(log k)/row instead of O(k)/miss.
      if (m.size >= 2 * k) trim(m, k) else m
    }

    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      trim(b.foldLeft(a) { case (acc, (t, c)) => acc.updated(t, acc.getOrElse(t, 0L) + c) }, k)

    override def finish(b: Map[String, Long]): Map[String, Long] = trim(b, k)

    // VALs, not defs: ScalaAggregator re-fetches bufferEncoder on
    // every Column construction, and a fresh ExpressionEncoder never
    // equals another (its serializer tree carries fresh ExprIds that
    // plan canonicalization does NOT normalize — encoders are
    // constructor args, not children). A def here made every
    // re-construction of the same aggregation compare sameResult=false
    // — so the OpCache'd sketch pass re-ran on every warm invocation
    // while looking cached.
    override val bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
    override val outputEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
  }

  // One MEMOIZED udaf per k: plan `sameResult` (hence OpCache warm
  // reuse) needs the whole ScalaAggregator expression stable across
  // constructions — the aggregator instance AND the input encoder
  // that functions.udaf derives at its call site. Memoizing only the
  // aggregator (the pre-r12 state) left a fresh input encoder per
  // call, which defeated equality exactly like the def encoders above.
  private val udafs = scala.collection.concurrent.TrieMap
    .empty[Int, org.apache.spark.sql.expressions.UserDefinedFunction]

  /** Column form: a ≤k-entry map of candidate heavy hitters with
    * their (under-)estimated counts, usable inside any `agg(...)`.
    * Estimates obey `true − N/(k+1) ≤ est ≤ true`.
    */
  def misraGries(key: Column, k: Int): Column =
    udafs.getOrElseUpdate(k, udaf(new MisraGries(k))).apply(key)

  /** Exact heavy hitters of `keys.col(keyCol)`: all keys with
    * `cnt·(k+1) > N` (frequency > N/(k+1)), with exact counts.
    * Output: (<keyCol>, cnt), ordered cnt DESC then key.
    */
  def frequentKeys(keys: DataFrame, keyCol: String, k: Int): DataFrame = {
    // Both passes read the key stream — materialize it once. NULL
    // keys are excluded like every sibling sketch: a null entering
    // the Misra-Gries Map buffer kills the job at buffer
    // serialization ("Cannot use null as map key"), and even short of
    // that it would inflate N (the threshold denominator) with rows
    // that can never be a reportable key.
    val ks = OpCache.cached(
      keys.filter(col(keyCol).isNotNull).select(col(keyCol).as("__hh_key")))
    // Pass 1: candidates + N in ONE 1-row aggregation. The summary
    // feeds two subtrees (candidate list, total) — cache the 1-row
    // result so the sketch pass runs once, not once per subtree.
    // Keyed by input, not cached by plan: the Misra-Gries udaf makes
    // this plan non-self-comparable (analysis installs fresh resolved
    // encoders every construction), so the entry is keyed on the
    // UNTYPED ks plan; a hit skips building the typed plan entirely.
    val summary = OpCache.byInput(Seq("hh.summary", k), ks)(
      ks.agg(
        misraGries(col("__hh_key"), k).as("cand"),
        count(lit(1)).as("total")))
    val candidates = summary.select(explode(map_keys(col("cand"))).as("__hh_key"))
    // Pass 2: exact counts of ≤k candidate keys; broadcast semi-join
    // prunes before the shuffle, map-side combine bounds it to ≤k
    // rows/partition. The integer cross-multiply keeps the threshold
    // exact (no division).
    ks.join(Broadcasting.maybeBroadcast(candidates), Seq("__hh_key"), "left_semi")
      .groupBy(col("__hh_key"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(summary.select(col("total"))))
      .filter(col("cnt") * (k + 1) > col("total"))
      .select(col("__hh_key").as(keyCol), col("cnt"))
      .orderBy(col("cnt").desc, col(keyCol))
  }

  // ------------------------------------------------------- mergeable state

  /** The sketch as MAINTAINED STATE: one row
    * `(cand: Map[key,cnt], total: Long)` — the mergeable-summaries
    * form that the streaming fold
    * ([[graft.streaming.EventStreams.foldSketchBatch]]) accumulates
    * per micro-batch. Candidate guarantees survive any batching:
    * per-merge trims subtract Σd ≤ N/(k+1) over the COMBINED stream,
    * so a key above threshold can never leave the state.
    */
  def sketchState(keys: DataFrame, keyCol: String, k: Int): DataFrame =
    // null keys excluded — see frequentKeys (a null in the Map buffer
    // kills the job at serialization; this is the streaming fold's
    // entry, so the crash would take the query down)
    keys.filter(col(keyCol).isNotNull).agg(
      misraGries(col(keyCol), k).as("cand"),
      count(lit(1)).as("total"))

  /** Declarative Misra-Gries merge of two 1-row states — the same
    * batch trim as the Aggregator (subtract the (k+1)-th largest,
    * drop ≤ 0), expressed over the ≤2k exploded entries.
    */
  def mergeSketchStates(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val entries = a.select(explode(col("cand")).as(Seq("key", "cnt")))
      .unionByName(b.select(explode(col("cand")).as(Seq("key", "cnt"))))
      .groupBy(col("key")).agg(sum(col("cnt")).as("cnt"))
    // ≤ 2k rows by construction — the single-partition window is the
    // point (state merging is tiny), not an oversight.
    val ranked = entries.withColumn(
      "__rk", row_number().over(Window.orderBy(col("cnt").desc, col("key"))))
    val d = ranked.agg(
      coalesce(max(when(col("__rk") === k + 1, col("cnt"))), lit(0L)).as("__d"))
    val totals = a.select(col("total")).unionByName(b.select(col("total")))
      .agg(sum(col("total")).as("total"))
    ranked
      .crossJoin(broadcast(d))
      .filter(col("cnt") > col("__d"))
      .select(col("key"), (col("cnt") - col("__d")).as("cnt"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("key"), col("cnt"))))).as("cand"))
      .crossJoin(broadcast(totals))
  }

  /** Exact heavy hitters from maintained sketch state: recount the
    * ≤k candidates over the corpus (broadcast semi-join, same tail as
    * [[frequentKeys]]) and threshold on the state's exact total. The
    * no-miss guarantee makes this EQUAL to a from-scratch
    * [[frequentKeys]] over the full stream, however it was batched.
    */
  def frequentFromSketch(
      state: DataFrame, keys: DataFrame, keyCol: String, k: Int): DataFrame = {
    val ks = keys.select(col(keyCol).as("__hh_key"))
    val candidates = state.select(explode(map_keys(col("cand"))).as("__hh_key"))
    ks.join(Broadcasting.maybeBroadcast(candidates), Seq("__hh_key"), "left_semi")
      .groupBy(col("__hh_key"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(state.select(col("total"))))
      .filter(col("cnt") * (k + 1) > col("total"))
      .select(col("__hh_key").as(keyCol), col("cnt"))
      .orderBy(col("cnt").desc, col(keyCol))
  }
}
