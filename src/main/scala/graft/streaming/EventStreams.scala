package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintained state over micro-batch streams (SURVEY W2): `maintain`
  * runs a stream's micro-batches through one of the idempotent folds
  * below — mergeable rollups, sketches and zone maps through
  * `foldStateBatch`, and the bucketed CDC snapshot through
  * `foldSnapshotBatch`, with `compactSnapshot` as its maintenance
  * step. Each fold is the incremental face of a batch operator and
  * its state equals that operator's from-scratch result over
  * everything folded in.
  */
object EventStreams {

  /** Maintained state, for every fold in this file: each micro-batch
    * of `stream` goes to `fold` with its batch id, e.g.
    * `maintain(s, Some(ckpt))(foldRollupBatch(_, _, table, keys, measures))`.
    *
    * EXACTLY-ONCE under replay: every fold stamps its state with the
    * highest batch id folded in (`__last_batch`, or the snapshot's
    * `<state>__wm` table) and skips any batch id ≤ that stamp. With a
    * `checkpointLocation`, a restarted query replays the in-flight
    * batch with its ORIGINAL id (the foreachBatch contract), the stamp
    * check drops it, and the batch is applied exactly once. Without
    * one, a restarted source replays from scratch with batch ids RESET
    * to 0, and the stamp would wrongly skip genuinely-new batches that
    * reuse low ids — only a single uninterrupted query may omit it.
    */
  def maintain(stream: DataFrame, checkpointLocation: Option[String] = None)(
      fold: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    // the typed function value selects the Scala foreachBatch overload
    val w = stream.writeStream.foreachBatch(fold)
    checkpointLocation.fold(w)(p => w.option("checkpointLocation", p)).start()
  }

  /** One idempotent fold step of the incremental rollup — the
    * streaming face of [[graft.operators.IncrementalAgg]] (x53): each
    * micro-batch is reduced to a decimal-exact re-aggregatable state
    * and merged into a persisted state table. Per batch the cost is one
    * partial-agg groupBy over the BATCH plus a merge against |keys|
    * state rows — the base data is never rescanned, so the maintained
    * rollup stays O(batch) while the table it summarizes grows without
    * bound. State-table overwrite is staged (see
    * `Tables.stagedOverwrite`: the state feeds its own merge plan). The
    * decimal merge is not naturally idempotent, so the batch is skipped
    * when a batch with this id (or later) was already folded in.
    */
  def foldRollupBatch(
      batch: DataFrame,
      batchId: Long,
      stateTable: String,
      keys: Seq[String],
      measures: Seq[String]): Unit =
    foldStateBatch(batch, batchId, stateTable)(
      b => graft.operators.IncrementalAgg.rollup(b, keys, measures),
      (s, d) => graft.operators.IncrementalAgg.merge(Seq(s, d), keys))

  /** The idempotent-fold skeleton shared by every maintained
    * mergeable state (rollups, histograms): heal a half-finished
    * staged overwrite ([[graft.sources.Tables.recoverStaged]]), skip
    * batch ids at or below the state's `__last_batch` watermark
    * (exactly-once under checkpointed replay), otherwise reduce the
    * batch to a delta state, merge, and stamp.
    */
  private def foldStateBatch(batch: DataFrame, batchId: Long, stateTable: String)(
      mkDelta: DataFrame => DataFrame,
      mergeStates: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = batch.sparkSession
    val mk = ctxKey(spark, stateTable)
    // A recovery firing means the previous publish died mid-swap: the
    // restored table may carry a NEWER __last_batch than this JVM's
    // memo (publish completed, crash before the memo advance) — drop
    // the memo so the watermark is re-read from the table. Without
    // this, a same-JVM retry of that batch reads the stale memo, skips
    // the applied guard, and re-merges the non-idempotent delta.
    if (graft.sources.Tables.recoverStaged(spark, stateTable)) wmMemo.remove(mk)
    val exists = spark.catalog.tableExists(stateTable)
    if (!exists) wmMemo.remove(mk)
    // watermark memo (single-writer contract, cleared on drop above)
    // saves the max(__last_batch) job per micro-batch; max over an
    // empty state is null → nothing folded yet
    val applied = exists && memoizedLastBatch(spark, stateTable, "__last_batch") >= batchId
    if (applied) return // replayed batch: already in the state
    val delta = mkDelta(batch)
    val merged =
      if (exists) mergeStates(spark.table(stateTable).drop("__last_batch"), delta)
      else delta
    // Memo advance is fused to the publish: a publish that THROWS may
    // still have landed (fail between its DROP and RENAME — recovery
    // completes it later), so the memo can no longer be trusted either
    // way — remove it and let the next call re-read the table. The
    // snapshot fold's folds are idempotent so it tolerates a stale
    // memo; this decimal merge is NOT, hence the strict pairing.
    try {
      graft.sources.Tables.stagedOverwrite(
        merged.withColumn("__last_batch", lit(batchId)), stateTable)
      wmMemo.put(mk, batchId)
    } catch {
      case t: Throwable => wmMemo.remove(mk); throw t
    }
  }

  /** One idempotent fold step of histogram-quantile maintenance — the
    * [[graft.operators.QuantileSketch]] sibling of [[foldRollupBatch]]:
    * per-key bucket counts folded through the same idempotent skeleton.
    * Read quantiles any time with
    * `QuantileSketch.quantiles(spark.table(stateTable).drop("__last_batch"), …)`.
    */
  def foldHistogramBatch(
      batch: DataFrame,
      batchId: Long,
      stateTable: String,
      keys: Seq[String],
      value: org.apache.spark.sql.Column,
      lo: Double,
      hi: Double,
      nb: Int = 128): Unit =
    foldStateBatch(batch, batchId, stateTable)(
      b => graft.operators.QuantileSketch.rollup(b, keys, value, lo, hi, nb),
      (s, d) => graft.operators.QuantileSketch.merge(Seq(s, d), keys))

  /** One idempotent fold step of heavy-hitter maintenance — the
    * [[graft.operators.HeavyHitters]] sibling of [[foldRollupBatch]]:
    * a 1-row Misra-Gries state `(cand, total)` folded through the same
    * idempotent skeleton. The no-miss guarantee is
    * batching-independent, so
    * `HeavyHitters.frequentFromSketch(state, corpus, key, k)` equals
    * a from-scratch pass at any point.
    */
  def foldSketchBatch(
      batch: DataFrame,
      batchId: Long,
      stateTable: String,
      keyCol: String,
      k: Int): Unit =
    foldStateBatch(batch, batchId, stateTable)(
      b => graft.operators.HeavyHitters.sketchState(b, keyCol, k),
      (s, d) => graft.operators.HeavyHitters.mergeSketchStates(s, d, k))

  /** One idempotent fold step of per-group leaderboard maintenance —
    * the [[graft.operators.TopK]] sibling of [[foldRollupBatch]]: the
    * state is the current `(groupCols*, rank, id, score)` top-k table.
    * Bounded top-k is a mergeable summary
    * (`topk(A ∪ B) = topk(topk(A) ∪ topk(B))` for fixed k), so the
    * maintained state equals a from-scratch pass over everything
    * folded in — the watermark guarantees the union sides stay
    * id-disjoint under replay.
    */
  def foldTopKBatch(
      batch: DataFrame,
      batchId: Long,
      stateTable: String,
      groupCols: Seq[String],
      scoreCol: String,
      idCol: String,
      k: Int): Unit =
    foldStateBatch(batch, batchId, stateTable)(
      b => graft.operators.TopK.topKPerGroup(b, groupCols, scoreCol, idCol, k),
      (s, d) => graft.operators.TopK.topKPerGroup(
        s.drop("rank").unionByName(d.drop("rank")), groupCols, scoreCol, idCol, k))

  /** One idempotent fold step of cardinality maintenance — the
    * [[graft.operators.Hll]] sibling of [[foldRollupBatch]]: per-group
    * HLL register arrays folded through the same idempotent skeleton.
    * The element-wise-max merge is idempotent on top of the watermark,
    * so the maintained registers EQUAL the from-scratch sketch of
    * everything folded in. Estimate any time with
    * `Hll.estimate(spark.table(state).col("registers"))`.
    */
  def foldDistinctBatch(
      batch: DataFrame,
      batchId: Long,
      stateTable: String,
      groupCols: Seq[String],
      keyCol: String,
      p: Int = 12): Unit =
    foldStateBatch(batch, batchId, stateTable)(
      b => graft.operators.Hll.distinctByGroup(b, groupCols, keyCol, p).drop("est"),
      (s, d) => graft.operators.Hll.mergeStates(Seq(s, d), groupCols))

  /** One idempotent fold step of EXACT-distinct maintenance — the
    * [[graft.operators.Bitmap]] sibling of [[foldRollupBatch]]: the
    * per-(group, 64-ID-word) mask table. Masks merge by bit-OR
    * (idempotent + commutative), so the maintained state equals the
    * from-scratch bitmap of everything folded in and the count it
    * yields is EXACT — the dense-ID alternative to
    * [[foldDistinctBatch]]'s HLL estimate. Read counts any time with
    * `Bitmap.countsFromWords(spark.table(state).drop("__last_batch"), …)`.
    */
  def foldBitmapBatch(
      batch: DataFrame,
      batchId: Long,
      stateTable: String,
      groupCols: Seq[String],
      idCol: String): Unit =
    foldStateBatch(batch, batchId, stateTable)(
      b => graft.operators.Bitmap.wordsByGroup(b, groupCols, idCol),
      (s, d) => graft.operators.Bitmap.mergeWordStates(Seq(s, d), groupCols))

  /** One idempotent fold step of zone-map maintenance — the
    * [[graft.operators.ZoneMap]] sibling of [[foldRollupBatch]]:
    * per-zone min/max/non-null footer stats (sum/min/max are all
    * associative + commutative, so the maintained state equals the
    * from-scratch stats of everything folded in). This is the
    * incremental footer-stats collection a lakehouse table service
    * runs on ingest; audit any time with
    * `ZoneMap.pruneAudit(spark.table(state).drop("__last_batch"), …)`.
    * `zoneExprSql` is a SQL expression over the batch columns.
    */
  def foldZoneMapBatch(
      batch: DataFrame,
      batchId: Long,
      stateTable: String,
      zoneExprSql: String,
      statCols: Seq[String]): Unit =
    foldStateBatch(batch, batchId, stateTable)(
      b => graft.operators.ZoneMap.stats(b, expr(zoneExprSql), statCols),
      (s, d) => graft.operators.ZoneMap.mergeStats(Seq(s, d), statCols))

  /** The maintained snapshot, internal columns stripped — read this,
    * not `spark.table(stateTable)` (which carries the `__bucket`
    * partition column).
    */
  def snapshot(spark: SparkSession, stateTable: String): DataFrame =
    spark.table(stateTable).drop("__bucket")

  /** Maintenance compaction for a fold state table — the warehouse GC
    * that must keep the `__bucket` partitioning the partition-pruned
    * fold depends on (a flat rewrite would erase it). Rewrites every
    * bucket into one file, preserving the partition layout and the snapshot content
    * bit-for-bit. Long-running CDC state accretes files across
    * thousands of micro-batches (emptied-then-refilled cycles, old
    * un-repartitioned writers); periodic compaction bounds per-bucket
    * file count at 1. Crash-safe by construction: it stages through
    * the fold's own `__staging` table, so a crash mid-publish is
    * indistinguishable from a crashed fold — the next fold's recovery
    * restores it. Single-writer like the fold itself: run it from the
    * maintenance slot of the same writer (e.g. between micro-batches),
    * never concurrently with a fold on the same table. Returns
    * (files_before, files_after).
    */
  def compactSnapshot(spark: SparkSession, stateTable: String): (Int, Int) = {
    val staging = stateTable + "__staging"
    val marker = stateTable + "__compacting"
    // this call WILL create a marker below — drop the marker-absent
    // memo now so a crash anywhere in this method leaves the next
    // fold probing (and healing), not trusting a stale negative cache
    healMemo.remove(ctxKey(spark, stateTable))
    // self-heal first, so a maintenance-only schedule recovers without
    // waiting for a fold: a previous compaction that died between its
    // DROP and RENAME left the complete table on staging (restore by
    // the same rename); one that died between its RENAME and MSCK left
    // the marker behind — repair before reading the table through its
    // stale partition metadata.
    if (!spark.catalog.tableExists(stateTable) && spark.catalog.tableExists(staging)) {
      spark.sql(s"ALTER TABLE $staging RENAME TO $stateTable")
      spark.sql(s"MSCK REPAIR TABLE $stateTable")
      spark.catalog.refreshTable(stateTable)
    }
    healCompaction(spark, stateTable)
    def bucketFileCount(): Int = {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(stateTable)
      val root = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(ident).location)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root).filter(d => d.isDirectory && d.getPath.getName.startsWith("__bucket="))
        .map(d => fs.listStatus(d.getPath).count(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet"))).sum
    }
    val before = bucketFileCount()
    val nBuckets = spark.sql(s"SHOW PARTITIONS $stateTable").count().toInt
    val props = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(stateTable))
      .properties.get("graft.nbuckets")
    spark.table(stateTable)
      .repartition(math.max(1, nBuckets), col("__bucket"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").partitionBy("__bucket").saveAsTable(staging)
    // recovery token BEFORE the swap: a crash anywhere between the
    // DROP below and the marker drop at the end is healed on the next
    // fold/compaction entry — the rename branch restores a missing
    // table from staging, and healCompaction re-points a renamed
    // table's partition metadata (the RENAME→MSCK window where staging
    // is gone, so nothing else would fire) + re-pins graft.nbuckets.
    // The marker carries the nbuckets pin the rename loses.
    import spark.implicits._
    graft.sources.Tables.overwriteTable(
      Seq(props.orNull).toDF("nbuckets").coalesce(1), marker)
    // compaction rewrites EVERY bucket, so the publish is a whole-table
    // swap by RENAME (data written once, not twice): drop-then-rename,
    // with the crash window (state missing, staging complete) healed by
    // the fold recovery's rename branch. DELIBERATELY not routed
    // through Tables.stagedOverwrite: that helper publishes by COPY
    // (data written twice) and notifies write listeners mid-fold —
    // this swap's crash windows are healed by the fold family's own
    // recovery (marker + rename branch), certified by the x196 lane.
    // Anyone editing either publish sequence: check the other.
    spark.sql(s"DROP TABLE $stateTable")
    spark.sql(s"ALTER TABLE $staging RENAME TO $stateTable")
    // the rename moves the data directory but the PARTITION metadata
    // still points at the staging paths — recover it from the moved
    // directory layout (metadata-only listing of nBuckets dirs)
    spark.sql(s"MSCK REPAIR TABLE $stateTable")
    spark.catalog.refreshTable(stateTable)
    props.foreach { n =>
      spark.sql(s"ALTER TABLE $stateTable SET TBLPROPERTIES ('graft.nbuckets' = '$n')")
      nbucketsMemo.put(ctxKey(spark, stateTable), n.toInt)
    }
    spark.sql(s"DROP TABLE IF EXISTS $marker")
    (before, bucketFileCount())
  }

  /** Heal a compaction swap that died after its RENAME but before its
    * MSCK/property restore (marker present, staging gone): the state
    * table EXISTS, so neither staged-recovery path fires, yet its
    * partition metadata still points at the moved-away staging paths —
    * a pruned read would hit missing files (or worse, silently scan
    * nothing). MSCK is metadata-only and idempotent, so the heal is
    * safe to run on ANY marker leftover, including crashes BEFORE the
    * swap where nothing is actually wrong. No-op without a marker.
    */
  private def healCompaction(spark: SparkSession, stateTable: String): Unit = {
    val mk = ctxKey(spark, stateTable)
    if (healMemo.containsKey(mk)) return // marker known absent — no catalog RPC
    val marker = stateTable + "__compacting"
    if (spark.catalog.tableExists(marker)) {
      if (spark.catalog.tableExists(stateTable)) {
        spark.sql(s"MSCK REPAIR TABLE $stateTable")
        spark.catalog.refreshTable(stateTable)
        // re-pin the bucket count the RENAME dropped (the staging table
        // was written fresh, without the property)
        spark.table(marker).collect().headOption
          .flatMap(r => Option(r.getString(0)))
          .foreach { n =>
            spark.sql(
              s"ALTER TABLE $stateTable SET TBLPROPERTIES ('graft.nbuckets' = '$n')")
            nbucketsMemo.put(mk, n.toInt)
          }
        spark.sql(s"DROP TABLE IF EXISTS $marker")
        healMemo.put(mk, java.lang.Boolean.TRUE) // healed ⇒ absent again
      }
      // state table missing: the swap died between its DROP and RENAME —
      // the staged-recovery rename branch restores the table first; the
      // marker stays (and the memo stays unset) so the NEXT entry
      // repairs and re-pins it.
    } else healMemo.put(mk, java.lang.Boolean.TRUE)
  }

  // the one bucket expression: bootstrap, staging, the touched-bucket
  // scan and the re-pin check must all hash with the SAME modulus
  private def bucketOf(keys: Seq[String], nBuckets: Int) =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)).cast("int")

  // Last watermark this JVM read or wrote, per (SparkContext, wm
  // table): saves one 1-row table-read JOB per micro-batch. Keyed by
  // context for the same reason as healMemo — the table is
  // catalog-wide, so the single logical writer may span session
  // clones (a stream restart's fresh clone): with per-session keys a
  // replay consulted on an OLDER clone after a newer clone advanced
  // the table would read its own stale watermark and re-merge a
  // non-idempotent delta; context keys make every clone read and
  // advance the same entry. Sound under the fold's single-writer
  // contract; cleared when the table is absent.
  private val wmMemo =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.SparkContext, String), java.lang.Long]()

  // The declared graft.nbuckets of a fold state table, per
  // (SparkContext, qualified table): the property is immutable for the
  // table's lifetime, yet the mismatch guard re-read it with a
  // getTableMetadata catalog RPC on EVERY micro-batch — the same
  // steady-state cost class the marker probe's negative cache removed
  // (the r9 watch item). Repopulated whenever the property is (re)
  // pinned (bootstrap, absent-property re-pin, compaction re-pin) and
  // overwritten by any re-bootstrap, so a drop-and-recreate through
  // the fold itself can never serve a stale value; a table REPLACED
  // outside the fold entirely is outside the single-writer contract,
  // exactly as for wmMemo. Cleared with the other memos by the
  // OpCache teardown hook.
  private val nbucketsMemo =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.SparkContext, String), java.lang.Integer]()

  // Negative cache for the compaction-marker probe: a marker exists
  // ONLY during a crashed compaction, yet healCompaction's
  // tableExists check was one catalog RPC per fold micro-batch (the
  // r9 watch item). An entry records "marker known absent" per
  // (SparkContext, state table) — NOT per session: the catalog is
  // shared across `newSession()` clones of one context, so marker
  // existence is a context-wide fact, and a per-session key would let
  // a fold on session A trust a stale "absent" memo after a
  // compaction on clone B crashed mid-swap (invalidation on B's key
  // only). Keying on the context makes every clone share one memo
  // entry and one invalidation, while a sequentially restarted
  // context (new catalog) starts clean. The steady-state fold then
  // skips the probe entirely. Sound under the fold's single-writer
  // contract — in-JVM marker creators invalidate (compactSnapshot at
  // entry, and the Tables write-listener below for any direct marker
  // write, the crash-simulation path); a marker left by a CRASHED
  // process is seen because a fresh JVM starts with an empty memo.
  // Cleared with the other fold memos by the OpCache teardown hook.
  private val healMemo =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.SparkContext, String), java.lang.Boolean]()

  // Memo keys must be CATALOG identities, not the raw strings callers
  // pass: two streams on session clones of one context can maintain
  // db1.state and db2.state while both passing the unqualified name
  // "state" under different current databases — a raw-string key would
  // collide them, so stream B's watermark check could read stream A's
  // memo and silently skip B's genuinely-new batches. Qualify with the
  // calling session's current database (the same resolution
  // spark.table applies to the name).
  /** Memoized highest-applied-batch read — the single shared home for
    * the fold families' exactly-once watermark arithmetic (previously
    * duplicated between the state fold and the snapshot fold, where a
    * fix to one could silently miss the other): consult the memo,
    * else run the 1-row max() over `table`'s `colName` with null (no
    * rows folded yet) mapping to Long.MinValue, and memoize. Callers
    * own existence probes and memo invalidation — this only answers
    * "what is the last applied batch id".
    */
  private def memoizedLastBatch(spark: SparkSession, table: String, colName: String): Long = {
    val mk = ctxKey(spark, table)
    Option(wmMemo.get(mk)).map(_.longValue).getOrElse {
      val v = spark.table(table).agg(max(col(colName))).head().get(0)
      val lv = if (v == null) Long.MinValue else v.asInstanceOf[Long]
      wmMemo.put(mk, lv)
      lv
    }
  }

  private def ctxKey(spark: SparkSession, stateTable: String) = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(stateTable)
    val db = id.database.getOrElse(spark.sessionState.catalog.getCurrentDatabase)
    (spark.sparkContext, s"$db.${id.table}")
  }

  graft.sources.Tables.registerWriteListener { (s, t) =>
    if (t.endsWith("__compacting"))
      healMemo.remove(ctxKey(s, t.stripSuffix("__compacting")))
    // the lone-touched probe's negative cache keys on the touched
    // table name itself — any write to one re-arms the probe
    if (t.endsWith("__touched")) healMemo.remove(ctxKey(s, t))
  }

  // The session/context memos key on live runtime objects: a
  // long-lived driver that churns sessions (notebooks, repeated
  // newSession()) would otherwise retain every root session and its
  // publish clone forever.
  // Registering with the operator-wide teardown bounds that: clearing
  // is always safe — the watermark re-reads from its table, the
  // publish clone is rebuilt on demand.
  graft.operators.OpCache.registerClearHook(() => {
    wmMemo.clear()
    healMemo.clear()
    nbucketsMemo.clear()
  })

  /** Test probe: live fold watermark-memo entry count. (The publish
    * session clone this probe also counted through r14 is gone — the
    * r15 FS-move publish needs no dynamic-overwrite session conf.)
    */
  private[graft] def memoSizes: Int = wmMemo.size

  /** Test probe: is the marker-absent negative cache populated? */
  private[graft] def healMemoSize: Int = healMemo.size

  /** One idempotent fold step of the streaming CDC apply — the
    * upsert/tombstone face of the maintained-state family: each
    * micro-batch is a change-log slice (payload + `opCol` I/U/D +
    * `ordCols`) folded into the snapshot table with
    * [[graft.operators.Cdc.applyLog]]. Within a batch the latest entry
    * per key wins by `ordCols`; across batches, application order is
    * arrival order (the CDC source's contract). Read the result with
    * [[snapshot]]. Not routed through the mergeable-state skeleton: a
    * CDC batch is not a mergeable delta (deletes don't commute with
    * inserts), so the step applies the raw log slice to the current
    * snapshot instead of merging two states.
    *
    * BUCKETED per-batch I/O (the 100 TB fix for the r6 full-rewrite
    * finding): the state table is hash-partitioned on
    * `__bucket = xxhash64(keys) % nBuckets`, the batch's touched
    * buckets are computed from the delta alone (≤ nBuckets ints — a
    * partition-metadata-scale collect), the CDC apply reads ONLY
    * those partitions (partition pruning at the parquet scan), and a
    * dynamic partition overwrite rewrites only them — per micro-batch
    * cost is O(|delta| + |touched buckets|), never O(|snapshot|).
    *
    * Exactly-once under foreachBatch replay, restated for the
    * per-bucket write: the staging table holds the COMPLETE new
    * content of every touched bucket, the bucket copy is idempotent
    * (same partitions, same content), the CDC apply itself is
    * idempotent (latest-wins re-application of the same log slice is
    * a fixpoint), and the watermark lives in a one-row `<state>__wm`
    * table written strictly AFTER the copy — so a crash in any window
    * (staging write / partition copy / watermark write / staging
    * drop) either replays a complete idempotent copy or re-folds an
    * idempotent batch. Replayed batch ids are dropped by the
    * watermark exactly as before.
    */
  def foldSnapshotBatch(
      batch: DataFrame,
      batchId: Long,
      stateTable: String,
      keys: Seq[String],
      opCol: String,
      ordCols: Seq[String],
      nBuckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val staging = stateTable + "__staging"
    val wm = stateTable + "__wm"
    val touchedTbl = stateTable + "__touched"
    // crash recovery first: an orphaned staging table means the
    // previous fold died mid-publish — replay its (idempotent) bucket
    // copy so the watermark check below sees a consistent table. The
    // touched-bucket list was persisted BEFORE staging, so emptied
    // buckets (touched but absent from staging — a full-bucket
    // delete) are replayed too.
    if (spark.catalog.tableExists(staging)) {
      if (spark.catalog.tableExists(stateTable)) {
        val touched =
          if (spark.catalog.tableExists(touchedTbl))
            spark.table(touchedTbl).collect().map(_.getInt(0))
          else Array.empty[Int]
        copyBuckets(spark, staging, stateTable, touched)
        // touched dropped BEFORE staging — here and in the per-batch
        // drops below. A crash between the two then orphans only a
        // LONE staging, whose replay with an empty touched list is the
        // safe overwrite-only direction; the reverse order could
        // orphan a STALE touched list that a later delete-free batch
        // (which skips the touched-write) pairs with ITS staging —
        // recovery would then read stale "touched" buckets as emptied
        // and DROP partitions the later batch never touched (silent
        // data loss).
        spark.sql(s"DROP TABLE IF EXISTS $touchedTbl")
        spark.sql(s"DROP TABLE IF EXISTS $staging")
      } else {
        // state missing + staging complete = a compactSnapshot swap
        // died between its DROP and RENAME — staging IS the whole
        // table; restore it by the same rename (the incremental fold
        // never reaches this shape: it stages only while the state
        // table exists)
        spark.sql(s"ALTER TABLE $staging RENAME TO $stateTable")
        spark.sql(s"MSCK REPAIR TABLE $stateTable") // re-point partition metadata
        spark.catalog.refreshTable(stateTable)
        spark.sql(s"DROP TABLE IF EXISTS $touchedTbl")
      }
    } else {
      // no staging: a touched table here is residue of a crash after
      // its publish was fully consumed (or before its staging was
      // written — rewritten on replay either way); it describes no
      // pending publish, so drop it before a later delete-free batch
      // can pair it with its own staging. Memoized like the
      // compaction-marker probe (same negative cache, same
      // write-listener invalidation, same fresh-JVM soundness): the
      // steady-state fold pays no extra catalog RPC.
      val tk = ctxKey(spark, touchedTbl)
      if (!healMemo.containsKey(tk)) {
        if (spark.catalog.tableExists(touchedTbl))
          spark.sql(s"DROP TABLE $touchedTbl")
        healMemo.put(tk, java.lang.Boolean.TRUE)
      }
    }
    // a compaction swap that died after its RENAME leaves the table
    // EXISTING with stale partition metadata and no staging — only its
    // marker betrays it; repair + re-pin before reading anything
    healCompaction(spark, stateTable)
    // Replay check. The wm-table read is skipped when this JVM already
    // knows the watermark (wmMemo, updated on every read and write):
    // the fold contract is single-writer per state table — the
    // foreachBatch sink — so in-session the memo cannot go stale while
    // the table exists; an external drop (test teardown, rebuild)
    // clears it via the tableExists probe below.
    val applied = {
      if (!spark.catalog.tableExists(wm)) { wmMemo.remove(ctxKey(spark, wm)); false }
      else if (!spark.catalog.tableExists(stateTable)) {
        // ORPHANED watermark: the state table was dropped externally
        // but its wm sibling survived (the fold family spans four
        // sibling tables — a partial cleanup is one forgotten DROP
        // away). Trusting it would discard the replayed batch as
        // "already applied" and bootstrap the snapshot from LATER
        // data — batch N lost with no error. Drop the stale wm and
        // refold; the symmetric direction (state alive, wm dropped)
        // was already defended.
        spark.sql(s"DROP TABLE $wm")
        wmMemo.remove(ctxKey(spark, wm))
        false
      } else memoizedLastBatch(spark, wm, "last_batch") >= batchId
    }
    if (applied) return // replayed batch: already in the snapshot
    val payload = batch.columns.filterNot(c => c == opCol || ordCols.contains(c))
    if (!spark.catalog.tableExists(stateTable)) {
      // bootstrap: first batch creates the bucket-partitioned table
      // whole (a crash before the watermark write re-folds this batch
      // through the incremental path below — idempotent)
      val empty = batch.select(payload.map(col): _*).limit(0)
      val next = graft.operators.Cdc.applyLog(empty, batch, keys, opCol, ordCols)
      next.withColumn("__bucket", bucketOf(keys, nBuckets))
        .repartition(nBuckets, col("__bucket")) // one file per bucket
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").partitionBy("__bucket").saveAsTable(stateTable)
      // pin the bucket count in the table metadata: a later fold with a
      // DIFFERENT nBuckets would compute touched buckets under the new
      // modulus, partition-prune against the old layout, MISS the
      // existing rows for its keys and silently duplicate them — the
      // guard below turns that operator error into a loud failure
      spark.sql(
        s"ALTER TABLE $stateTable SET TBLPROPERTIES ('graft.nbuckets' = '$nBuckets')")
      nbucketsMemo.put(ctxKey(spark, stateTable), nBuckets)
    } else {
      // bucket-count guard (see the bootstrap TBLPROPERTIES write): a
      // mismatched nBuckets silently corrupts the snapshot, so fail
      // loudly before touching anything. Memoized — the property is
      // immutable, so the steady-state fold pays no catalog RPC here.
      val nk = ctxKey(spark, stateTable)
      val declared = Option(nbucketsMemo.get(nk)).map(_.intValue).orElse {
        val fromMeta = spark.sessionState.catalog
          .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(stateTable))
          .properties.get("graft.nbuckets").map(_.toInt)
        fromMeta.foreach(n => nbucketsMemo.put(nk, n))
        fromMeta
      }
      declared match {
        case Some(n) =>
          require(n == nBuckets,
            s"foldSnapshotBatch: state table $stateTable was bucketed with nBuckets=$n, " +
              s"fold called with nBuckets=$nBuckets — rebucket via a fresh bootstrap instead")
        case None =>
          // a bootstrap that crashed between its saveAsTable and the
          // property pin leaves the table unpinned — previously the
          // guard was then PERMANENTLY disabled for that table (no
          // property, no check, for its whole remaining life). Re-pin
          // on first contact, after TWO checks: the cheap directory
          // disproof (a partition id at or above nBuckets proves a
          // different modulus) and — because that check is one-sided:
          // a crashed mod-32 bootstrap re-pinned at nBuckets=64 would
          // PASS it (max id ≤ 31 < 64) and then silently duplicate
          // every updated key — a one-time full re-hash of the stored
          // keys against their partition. The scan reads the whole
          // table once, on a crash-recovery path that fires at most
          // once per table lifetime; limit(1) stops at the first
          // mismatch.
          val maxBucket = spark.sql(s"SHOW PARTITIONS $stateTable").collect()
            .map(_.getString(0).stripPrefix("__bucket=").toInt)
            .maxOption.getOrElse(-1)
          require(maxBucket < nBuckets,
            s"foldSnapshotBatch: state table $stateTable has partition __bucket=$maxBucket " +
              s"but the fold was called with nBuckets=$nBuckets — the table was bucketed " +
              "with a different modulus; rebucket via a fresh bootstrap instead")
          val mismatched = spark.table(stateTable)
            .filter(bucketOf(keys, nBuckets) =!= col("__bucket"))
            .limit(1).count()
          require(mismatched == 0L,
            s"foldSnapshotBatch: state table $stateTable holds rows whose keys do not " +
              s"hash to their partition under nBuckets=$nBuckets — the (unpinned) table " +
              "was bucketed with a different modulus; rebucket via a fresh bootstrap instead")
          spark.sql(
            s"ALTER TABLE $stateTable SET TBLPROPERTIES ('graft.nbuckets' = '$nBuckets')")
          nbucketsMemo.put(nk, nBuckets)
      }
      // touched buckets + may-this-batch-empty-one in ONE delta scan:
      // ≤ nBuckets result rows — partition metadata, not data
      val perBucket = batch
        .select(bucketOf(keys, nBuckets).as("__bucket"),
          when(col(opCol) === "D", 1).otherwise(0).as("__d"))
        .groupBy("__bucket").agg(max(col("__d")).as("__d"))
        .collect()
      val touched = perBucket.map(_.getInt(0)).sorted
      val mayEmpty = perBucket.exists(_.getInt(1) == 1)
      if (touched.isEmpty) {
        // empty micro-batch (restart replay, availableNow tick):
        // nothing to fold — fall through to the watermark write only
      } else {
        // persist the touched list BEFORE staging: recovery needs it
        // to replay emptied buckets, and this ordering means an
        // orphaned staging table always finds a fresh touched table
        // next to it. Skipped entirely for delete-free batches: with
        // no 'D' in the delta no bucket can be emptied, so staging
        // alone replays the publish completely.
        if (mayEmpty) {
          import spark.implicits._
          graft.sources.Tables.overwriteTable(
            touched.toSeq.toDF("bucket").coalesce(1), touchedTbl)
        }
        val base = spark.table(stateTable)
          .filter(col("__bucket").isin(touched.map(Int.box): _*)) // partition-pruned scan
          .drop("__bucket")
        val next = graft.operators.Cdc.applyLog(base, batch, keys, opCol, ordCols)
        // repartition on the bucket before the partitioned write: each
        // bucket lands in exactly one task → ONE file per touched
        // bucket per publish (without it, every shuffle partition
        // writes a fragment into every bucket directory — files =
        // tasks × buckets, the small-file churn the compaction
        // maintenance would otherwise have to clean per batch)
        next.withColumn("__bucket", bucketOf(keys, nBuckets))
          .repartition(math.max(1, touched.length), col("__bucket"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").partitionBy("__bucket").saveAsTable(staging)
        copyBuckets(spark, staging, stateTable,
          if (mayEmpty) touched else Array.empty[Int])
      }
    }
    // watermark strictly last: only a fully-published batch advances
    // it. insertInto-overwrite after first creation: truncate+write in
    // place, no drop/create catalog churn per micro-batch
    val wmRow = spark.sql(s"SELECT CAST($batchId AS BIGINT) AS last_batch")
    if (spark.catalog.tableExists(wm))
      wmRow.write.mode(org.apache.spark.sql.SaveMode.Overwrite).insertInto(wm)
    else graft.sources.Tables.overwriteTable(wmRow, wm)
    wmMemo.put(ctxKey(spark, wm), batchId)
    // touched first — see the recovery block's ordering comment
    spark.sql(s"DROP TABLE IF EXISTS $touchedTbl")
    spark.sql(s"DROP TABLE IF EXISTS $staging")
  }

  /** Partition-scoped publish of `staging` into `target` by
    * FILE-SYSTEM MOVE (r15): every bucket directory present under
    * staging's root is renamed over the target's — the staged bytes
    * move ONCE and are never re-read or re-written. The
    * dynamic-partition-overwrite publish this replaces ran a full
    * Spark job that read every staged byte back and wrote it a second
    * time: 2× write I/O per micro-batch at warehouse scale, the same
    * write-twice class the table-level RENAME publishes
    * (stagedOverwrite, compactSnapshot) already eliminated — this is
    * the same idea one level down, per partition. Then
    * touched-but-absent buckets (a batch that deleted a bucket's
    * every key writes no staging partition for it) are dropped
    * explicitly — without that second step a full-bucket delete would
    * silently leave the old content in place.
    *
    * Crash-replay idempotency, window by window (the property the
    * crash tests pin, unchanged from the copy publish): each bucket
    * publishes as delete-target-dir + rename-staging-dir (directory
    * rename is atomic on local FS and HDFS — the same FS contract the
    * table-level RENAME publishes already rely on). A crash between
    * the two leaves the bucket only in staging — replay renames it
    * in. A crash after some buckets moved leaves them absent from
    * staging — replay skips them (already published, same content)
    * and publishes the rest. The emptied-bucket drop below is
    * DDL-idempotent as before. The watermark is still written
    * strictly after this returns, so any partial publish re-folds an
    * idempotent batch exactly as before.
    */
  private def copyBuckets(
      spark: SparkSession, staging: String, target: String, touched: Array[Int]): Unit = {
    val cat = spark.sessionState.catalog
    def rootOf(t: String) = new org.apache.hadoop.fs.Path(
      cat.getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(t)).location)
    val srcRoot = rootOf(staging)
    val dstRoot = rootOf(target)
    val fs = srcRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val srcDirs =
      if (fs.exists(srcRoot)) fs.listStatus(srcRoot)
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("__bucket="))
      else Array.empty[org.apache.hadoop.fs.FileStatus] // fully-moved replay
    val moved = srcDirs.map { d =>
      val dst = new org.apache.hadoop.fs.Path(dstRoot, d.getPath.getName)
      fs.delete(dst, true)
      require(fs.rename(d.getPath, dst), s"copyBuckets: rename ${d.getPath} -> $dst failed")
      d.getPath.getName.stripPrefix("__bucket=").toInt
    }
    // register buckets new to the target (metadata-only; existing
    // buckets keep their default-location entries, which is exactly
    // where the rename landed). IF NOT EXISTS makes the replay
    // idempotent.
    if (moved.nonEmpty)
      spark.sql(s"ALTER TABLE $target ADD IF NOT EXISTS " +
        moved.sorted.map(b => s"PARTITION (__bucket=$b)").mkString(" "))
    // the data landed outside any Spark write path — drop the cached
    // file index before anyone reads the target
    spark.catalog.refreshTable(target)
    // emptied buckets (touched, but the batch deleted their every
    // key, so staging has no partition for them) are dropped in ONE
    // multi-partition DDL statement. `touched` is empty for
    // delete-free batches — no SHOW PARTITIONS, no drop.
    if (touched.nonEmpty) {
      val present = spark.sql(s"SHOW PARTITIONS $staging")
        .collect().map(_.getString(0).stripPrefix("__bucket=").toInt).toSet
      val emptied = touched.filterNot(present)
      if (emptied.nonEmpty)
        spark.sql(s"ALTER TABLE $target DROP IF EXISTS " +
          emptied.map(b => s"PARTITION (__bucket=$b)").mkString(", "))
    }
  }
}
