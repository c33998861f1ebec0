package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

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
    * highest batch id folded in (`__last_batch`, or the batch id in
    * the snapshot's latest manifest) and skips any batch id ≤ that
    * stamp. With a `checkpointLocation`, a restarted query replays the
    * in-flight batch with its ORIGINAL id (the foreachBatch contract),
    * the stamp check drops it, and the batch is applied exactly once.
    * Without one, a restarted source replays from scratch with batch
    * ids RESET to 0, and the stamp would wrongly skip genuinely-new
    * batches that reuse low ids — only a single uninterrupted query may
    * omit it.
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
    val applied = exists && Option(wmMemo.get(mk)).map(_.longValue).getOrElse {
      val v = spark.table(stateTable).agg(max(col("__last_batch"))).head().get(0)
      val last = if (v == null) Long.MinValue else v.asInstanceOf[Long]
      wmMemo.put(mk, last)
      last
    } >= batchId
    if (applied) return // replayed batch: already in the state
    val delta = mkDelta(batch)
    // the first batch merges into an empty state of the merged type, so
    // the state's schema and the merge plan, and with them Spark's
    // generated code, are the same from the first fold on
    val merged = mergeStates(
      if (exists) spark.table(stateTable).drop("__last_batch")
      else spark.read.schema(mergeStates(delta, delta).schema).parquet(),
      delta)
    // Memo advance is fused to the publish: a publish that THROWS may
    // still have landed (fail between its DROP and RENAME — recovery
    // completes it later), so the memo can no longer be trusted either
    // way — remove it and let the next call re-read the table: the
    // decimal merge is not idempotent, hence the strict pairing.
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

  // The watermark last read or written per (SparkContext, qualified
  // state table), for the foldStateBatch family: saves one 1-row
  // table-read JOB per micro-batch. Keyed by context, not session: the
  // table is catalog-wide, so the single logical writer may span
  // session clones (a stream restart's fresh clone) — with per-session
  // keys a replay on an OLDER clone after a newer clone advanced the
  // table would read its own stale watermark and re-merge a
  // non-idempotent delta. Keyed by the catalog identity, not the raw
  // name: two streams maintaining db1.state and db2.state, both passed
  // as "state" under different current databases, must not share an
  // entry, or stream B's genuinely-new batches would be skipped behind
  // stream A's watermark. Sound under the fold's single-writer
  // contract; cleared when the table is absent.
  private val wmMemo =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.SparkContext, String), java.lang.Long]()

  private def ctxKey(spark: SparkSession, stateTable: String) = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(stateTable)
    val db = id.database.getOrElse(spark.sessionState.catalog.getCurrentDatabase)
    (spark.sparkContext, s"$db.${id.table}")
  }

  // The memo keys on live runtime objects: a long-lived driver that
  // churns contexts would otherwise retain every one of them. Clearing
  // is always safe — the watermark re-reads from its table.
  graft.operators.OpCache.registerClearHook(() => wmMemo.clear())

  /** Test probe: live fold watermark-memo entry count. */
  private[graft] def memoSizes: Int = wmMemo.size

  // ---- The CDC snapshot: one directory, one manifest per version ----
  //
  //   <managed location of the state name>/
  //     _manifest/<n>                  version n (see Manifest)
  //     v<n>/__bucket=<b>/*.parquet    the files version n wrote
  //
  // A version is published by writing `_manifest/<n>.tmp` and renaming
  // it to `_manifest/<n>` (rename is atomic on local FS and HDFS); the
  // highest-numbered manifest is the snapshot, and no catalog table is
  // involved. After the rename, every file and manifest the new version
  // does not reference is deleted. A crash before the rename leaves
  // the previous version in force with all its files; a crash after it
  // leaves only garbage that the next commit deletes.

  /** One committed version of a CDC snapshot: the last folded batch
    * id, the bucketing (`xxhash64(keys) % nBuckets`), the payload
    * schema, and the live parquet files of every non-empty bucket,
    * relative to the snapshot directory.
    */
  private final case class Manifest(
      version: Long,
      batch: Long,
      keys: Seq[String],
      nBuckets: Int,
      schema: StructType,
      files: Map[Int, Seq[String]]) {
    def render: String =
      (Seq(s"batch\t$batch", ("keys" +: keys).mkString("\t"), s"nbuckets\t$nBuckets",
        s"schema\t${schema.json}") ++
        files.toSeq.sortBy(_._1).flatMap { case (b, fs) => fs.map(f => s"$b\t$f") })
        .mkString("", "\n", "\n")
  }

  private def readManifest(fs: FileSystem, dir: Path, version: Long): Manifest = {
    val in = fs.open(new Path(dir, version.toString))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().map(_.split("\t", -1).toSeq).toList
      finally in.close()
    val (meta, files) = lines.splitAt(4)
    val field = meta.map(l => l.head -> l.tail).toMap
    Manifest(version, field("batch").head.toLong, field("keys"), field("nbuckets").head.toInt,
      DataType.fromJson(field("schema").head).asInstanceOf[StructType],
      files.groupMap(_.head.toInt)(_(1)))
  }

  /** The snapshot directory of `stateTable` and its latest version. */
  private def latest(spark: SparkSession, stateTable: String): (FileSystem, Path, Option[Manifest]) = {
    val root = graft.sources.Tables.managedPath(spark, stateTable)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(root, "_manifest")
    val versions =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).map(_.getPath.getName).filter(n => n.nonEmpty && n.forall(_.isDigit))
        .map(_.toLong).toSeq
    (fs, root, versions.maxOption.map(readManifest(fs, dir, _)))
  }

  private def current(spark: SparkSession, stateTable: String): (FileSystem, Path, Manifest) =
    latest(spark, stateTable) match {
      case (fs, root, Some(m)) => (fs, root, m)
      case _ => throw new IllegalArgumentException(
        s"CDC snapshot $stateTable has no committed version: nothing folded yet")
    }

  /** The rows of `buckets`, read from exactly the files `m` lists; with
    * none listed, an empty scan of the same plan shape.
    */
  private def scan(spark: SparkSession, root: Path, m: Manifest, buckets: Iterable[Int]): DataFrame = {
    val files = buckets.toSeq.sorted.flatMap(m.files.getOrElse(_, Nil)).map(new Path(root, _).toString)
    spark.read.schema(m.schema).parquet(files: _*)
  }

  /** Commit `next` (its files still the previous version's): `data`,
    * carrying a `__bucket` column, replaces the buckets in `rewritten`
    * — a rewritten bucket with no rows leaves the list — and every
    * other bucket keeps its files. Data first, then the manifest
    * rename, then the cleanup.
    */
  private def publish(fs: FileSystem, root: Path, next: Manifest, rewritten: Set[Int],
      data: DataFrame): Manifest = {
    val step = graft.sources.Tables.step _
    val vdir = new Path(root, s"v${next.version}")
    val written =
      if (rewritten.isEmpty) Map.empty[Int, Seq[String]]
      else {
        step("snapshot data write")
        data.write.mode(SaveMode.Overwrite).partitionBy("__bucket").parquet(vdir.toString)
        if (!fs.exists(vdir)) Map.empty[Int, Seq[String]]
        else fs.listStatus(vdir).filter(_.isDirectory).map(_.getPath).map { d =>
          d.getName.stripPrefix("__bucket=").toInt ->
            fs.listStatus(d).map(_.getPath.getName).filter(_.endsWith(".parquet"))
              .map(f => s"${vdir.getName}/${d.getName}/$f").toSeq
        }.toMap
      }
    val m = next.copy(files = next.files -- rewritten ++ written)
    val mdir = new Path(root, "_manifest")
    val tmp = new Path(mdir, s"${m.version}.tmp")
    step("manifest write")
    val out = fs.create(tmp, true)
    try out.write(m.render.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    step("manifest rename")
    require(fs.rename(tmp, new Path(mdir, m.version.toString)), s"snapshot commit: rename of $tmp failed")
    // cleanup: whole version directories nothing references, then
    // unreferenced bucket directories inside the referenced ones
    val live = m.files.values.flatten.map(_.split('/')).toSeq
    val liveBuckets = live.map(p => s"${p(0)}/${p(1)}").toSet
    def delete(p: Path): Unit = { step("cleanup delete"); fs.delete(p, true) }
    fs.listStatus(mdir).map(_.getPath).filter(_.getName != m.version.toString).foreach(delete)
    fs.listStatus(root).map(_.getPath).filter(_.getName != "_manifest").foreach { v =>
      if (!live.exists(_(0) == v.getName)) delete(v)
      else fs.listStatus(v).map(_.getPath)
        .filter(b => b.getName.startsWith("__bucket=") && !liveBuckets(s"${v.getName}/${b.getName}"))
        .foreach(delete)
    }
    m
  }

  // the one bucket expression: the fold, the compaction and the
  // fragmenting rewrite must all hash with the SAME modulus
  private def bucketOf(keys: Seq[String], nBuckets: Int) =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)).cast("int")

  /** The maintained snapshot: the rows of the files its latest
    * manifest lists, never a directory listing (which would also see
    * an uncommitted version's files, or a superseded one's before the
    * cleanup).
    */
  def snapshot(spark: SparkSession, stateTable: String): DataFrame = {
    val (_, root, m) = current(spark, stateTable)
    scan(spark, root, m, m.files.keys)
  }

  /** Bucket → live files of the snapshot's latest version. */
  private[graft] def bucketFiles(spark: SparkSession, stateTable: String): Map[Int, Seq[String]] =
    current(spark, stateTable)._3.files

  /** Maintenance compaction of a CDC snapshot: every bucket whose
    * manifest entry lists more than one file (a fragmenting writer, a
    * history of small rewrites) is rewritten into one file, in one new
    * version; the content is unchanged. Commits nothing when every
    * bucket already has one file. Crash-safe like the fold: it is one
    * more version through the same commit. Single-writer like the fold
    * itself: run it from the maintenance slot of the same writer (e.g.
    * between micro-batches), never concurrently with a fold on the
    * same snapshot. Returns (files_before, files_after).
    */
  def compactSnapshot(spark: SparkSession, stateTable: String): (Int, Int) =
    rewriteBuckets(spark, stateTable)(
      _.collect { case (b, files) if files.size > 1 => b },
      (df, n) => df.repartition(n, col("__bucket")))

  /** Rewrite the buckets `pick` selects from the bucket → files list,
    * laid out by `layout(rows with __bucket, bucket count)`, as one new
    * version; nothing is committed when `pick` selects none. Returns
    * the listed file counts before and after.
    */
  private[graft] def rewriteBuckets(spark: SparkSession, stateTable: String)(
      pick: Map[Int, Seq[String]] => Iterable[Int],
      layout: (DataFrame, Int) => DataFrame): (Int, Int) = {
    val (fs, root, m) = current(spark, stateTable)
    val buckets = pick(m.files).toSet
    val after =
      if (buckets.isEmpty) m
      else publish(fs, root, m.copy(version = m.version + 1), buckets,
        layout(scan(spark, root, m, buckets).withColumn("__bucket", bucketOf(m.keys, m.nBuckets)),
          buckets.size))
    (m.files.values.map(_.size).sum, after.files.values.map(_.size).sum)
  }

  /** One idempotent fold step of the streaming CDC apply — the
    * upsert/tombstone face of the maintained-state family: each
    * micro-batch is a change-log slice (payload + `opCol` I/U/D +
    * `ordCols`) folded into the snapshot with the semantics of
    * [[graft.operators.Cdc.applyLog]]. Within a batch the latest entry
    * per key wins by `ordCols`; across batches, application order is
    * arrival order (the CDC source's contract). Read the result with
    * [[snapshot]]. Not routed through the mergeable-state skeleton: a
    * CDC batch is not a mergeable delta (deletes don't commute with
    * inserts), so the step applies the raw log slice to the current
    * snapshot instead of merging two states.
    *
    * BUCKETED per-batch I/O: rows live in `xxhash64(keys) % nBuckets`
    * buckets, the batch's touched buckets are computed from the delta
    * alone (≤ nBuckets ints), the CDC apply reads ONLY the files the
    * latest manifest lists for those buckets — one latest-wins window
    * over those rows and the log, behind one shuffle on the bucket —
    * and only they are rewritten, one new file per touched bucket; a
    * bucket the batch empties leaves the list. Per micro-batch cost is
    * O(|delta| + |touched buckets|), never O(|snapshot|).
    *
    * Exactly-once under foreachBatch replay: the batch id is committed
    * in the same manifest as the files, so a batch id ≤ the latest
    * manifest's is already in the snapshot and is skipped, and a crash
    * anywhere before the manifest rename leaves the previous version
    * in force, to be re-folded. `nBuckets` (and `keys`) must match the
    * snapshot's: a different modulus would read the wrong buckets and
    * silently duplicate rows, so a mismatch fails loudly.
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
    val (fs, root, last) = latest(spark, stateTable)
    if (last.exists(_.batch >= batchId)) return // replayed batch: already in the snapshot
    last.foreach(m => require(m.nBuckets == nBuckets && m.keys == keys,
      s"foldSnapshotBatch: snapshot $stateTable was bucketed on (${m.keys.mkString(", ")}) " +
        s"with nBuckets=${m.nBuckets}, fold called with (${keys.mkString(", ")}) and " +
        s"nBuckets=$nBuckets — rebucket via a fresh bootstrap instead"))
    val bucket = bucketOf(keys, nBuckets)
    // touched buckets in one single-stage delta scan: each task
    // returns its distinct buckets, <= nBuckets ints apiece
    val touched = batch.select(bucket).as(Encoders.scalaInt)
      .mapPartitions(_.toSet.iterator)(Encoders.scalaInt).collect().toSet
    val payload = batch.columns.filterNot(c => c == opCol || ordCols.contains(c))
    // before the first commit the base is an empty version -1: the
    // plan, and with it Spark's generated code, is the same from the
    // first fold on
    val prev = last.getOrElse(
      Manifest(-1L, -1L, keys, nBuckets, batch.select(payload.map(col): _*).schema, Map.empty))
    // Cdc.applyLog over the log and the touched buckets' rows at once:
    // a base row ranks below every log row of its key. The bucket is a
    // function of the keys, so ONE shuffle on it serves both the
    // latest-wins window and the write (one file per bucket)
    val log = graft.operators.Cdc.checkedOps(batch, opCol).withColumn("__src", lit(1))
    val rows = log.unionByName(
      scan(spark, root, prev, touched).withColumn("__src", lit(0)), allowMissingColumns = true)
    val w = Window.partitionBy(col("__bucket") +: keys.map(col): _*)
      .orderBy(col("__src").desc +: ordCols.map(col(_).desc): _*)
    val next = rows.withColumn("__bucket", bucket).repartition(col("__bucket"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1 && !(col(opCol) <=> "D")) // a base row's op is null
      .select((payload :+ "__bucket").map(col): _*)
    publish(fs, root,
      prev.copy(version = prev.version + 1, batch = batchId, schema = next.drop("__bucket").schema),
      touched, next)
  }
}
