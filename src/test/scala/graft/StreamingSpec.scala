package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.sources.Tables
import graft.streaming.EventStreams

/** Structured Streaming: the stateless operators run unchanged on a
  * stream, and every maintained state folded through
  * `EventStreams.maintain` equals its from-scratch batch result,
  * exactly once under replay and after a crash at any publish step.
  */
class StreamingSpec extends SparkSpec {

  test("training-data ops run unchanged on a stream: quality gate + md5 sample parity") {
    import org.apache.spark.sql.functions._
    import sqlImplicits._
    implicit val sqlCtx = spark.sqlContext
    // The stateless training-data operators (quality filtering,
    // deterministic sampling) are plain column plans — readStream
    // swaps the source, the plan is identical, results must match
    // batch row-for-row.
    val docs = Seq(
      (1L, ("long enough document " * 8).trim, "en"),
      (2L, "too short", "en"),
      (3L, ("words all the way down " * 9).trim, "en"),
      (4L, ("plenty of reasonable text here " * 7).trim, "es"))
      .map { case (id, text, lang) => (id, text, lang, text.length.toLong) }
    val stream = MemoryStream[(Long, String, String, Long)]
    stream.addData(docs: _*)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.toDF("doc_id", "text", "lang", "n_chars")

    // qualityVerdict (pure column pipeline), not qualityFilter (whose
    // first-failure semi-join would be a stream-stream join).
    def pipeline(df: org.apache.spark.sql.DataFrame) =
      graft.operators.DataMix.md5Sample(
        graft.operators.TextAnalysis.qualityVerdict(shape(df), minTokens = 10)
          .filter(col("verdict") === "kept"),
        0.9, Seq(col("doc_id")))
        .select("doc_id")

    val q = pipeline(stream.toDF).writeStream.format("memory")
      .queryName("quality_stream_test").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("quality_stream_test").collect().map(_.getLong(0)).toSet
    val batched = pipeline(docs.toDF).collect().map(_.getLong(0)).toSet
    assert(streamed == batched)
    assert(batched.nonEmpty && !batched.contains(2L)) // the gate actually fired
  }

  test("streaming rollup maintenance equals the batch rollup after any batch split") {
    import sqlImplicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      ("a", 10.25), ("a", 0.5), ("b", 3.125), ("b", 100.0),
      ("a", 0.0625), ("c", 7.75), ("c", 2.25), ("b", 0.125))
    val stream = MemoryStream[(String, Double)]
    spark.sql("DROP TABLE IF EXISTS stream_rollup_state")
    val q = EventStreams.maintain(stream.toDF().toDF("k", "v"))(
      EventStreams.foldRollupBatch(_, _, "stream_rollup_state", Seq("k"), Seq("v")))
    // three uneven micro-batches
    stream.addData(rows.take(3): _*); q.processAllAvailable()
    stream.addData(rows.slice(3, 4): _*); q.processAllAvailable()
    stream.addData(rows.drop(4): _*); q.processAllAvailable()
    q.stop()

    import graft.operators.IncrementalAgg
    def fin(df: org.apache.spark.sql.DataFrame) =
      IncrementalAgg.finalizeState(df, Seq("k"), Seq("v"))
        .orderBy("k").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val streamed = fin(spark.table("stream_rollup_state"))
    val batch = fin(IncrementalAgg.rollup(rows.toDF("k", "v"), Seq("k"), Seq("v")))
    assert(streamed == batch)

    // Exactly-once under replay: re-folding an already-applied batch id
    // (the foreachBatch restart contract) must not change the state.
    EventStreams.foldRollupBatch(
      rows.take(3).toDF("k", "v"), batchId = 1L, "stream_rollup_state", Seq("k"), Seq("v"))
    assert(fin(spark.table("stream_rollup_state")) == batch, "replayed batch double-counted")
    // A NEW batch id still folds in.
    EventStreams.foldRollupBatch(
      Seq(("z", 5.0)).toDF("k", "v"), batchId = 99L, "stream_rollup_state", Seq("k"), Seq("v"))
    assert(fin(spark.table("stream_rollup_state")).exists(_._1 == "z"))

    // Crash between the staged write and the final copy: state table
    // gone, staging intact. The next fold must heal from staging and
    // then skip the replayed batch id.
    val healed = fin(spark.table("stream_rollup_state"))
    graft.sources.Tables.overwriteTable(
      spark.table("stream_rollup_state"), "stream_rollup_state__staging")
    spark.sql("DROP TABLE stream_rollup_state")
    EventStreams.foldRollupBatch(
      Seq(("z", 5.0)).toDF("k", "v"), batchId = 99L, "stream_rollup_state", Seq("k"), Seq("v"))
    assert(fin(spark.table("stream_rollup_state")) == healed, "staged recovery lost or double-counted state")
    spark.sql("DROP TABLE IF EXISTS stream_rollup_state")
  }

  test("checkpointed maintain restart replays the in-flight batch once and folds new files") {
    import sqlImplicits._
    import graft.operators.IncrementalAgg
    val src = java.nio.file.Files.createTempDirectory("graft-fold-src")
    val staged = java.nio.file.Files.createTempDirectory("graft-fold-staged")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fold-ckpt").toString
    val state = "stream_ckpt_rollup_state"
    spark.sql(s"DROP TABLE IF EXISTS $state")
    val rows = (1 to 60).map(i => (s"k${i % 4}", i * 0.25))
    val parts = rows.grouped(20).toSeq
    // write each slice aside, then move its one parquet file into the
    // source directory, so the stream never lists a half-written file
    def addFile(i: Int): Unit = {
      val out = staged.resolve(s"p$i")
      parts(i).toDF("k", "v").coalesce(1).write.parquet(out.toString)
      val file = java.nio.file.Files.list(out).iterator()
        .asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(file, src.resolve(s"p$i.parquet"))
    }
    def start() = EventStreams.maintain(
      spark.readStream.schema("k STRING, v DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(src.toString),
      Some(ckpt))(EventStreams.foldRollupBatch(_, _, state, Seq("k"), Seq("v")))

    addFile(0); addFile(1)
    val q1 = start() // batch 0 = p0, batch 1 = p1
    q1.processAllAvailable()
    q1.stop()
    // a crash after batch 1's fold but before its commit: without the
    // commit entry the restart re-runs batch 1 under its original id
    Seq("1", ".1.crc").foreach(f => new java.io.File(s"$ckpt/commits/$f").delete())
    addFile(2)
    val q2 = start() // batch 1 again (must be skipped), batch 2 = p2
    q2.processAllAvailable()
    q2.stop()
    assert(q2.recentProgress.map(_.batchId).min == 1L,
      "the restart must resume at the in-flight batch, not from batch 0")

    def fin(df: org.apache.spark.sql.DataFrame) =
      IncrementalAgg.finalizeState(df, Seq("k"), Seq("v"))
        .orderBy("k").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(fin(spark.table(state).drop("__last_batch")) ==
      fin(IncrementalAgg.rollup(rows.toDF("k", "v"), Seq("k"), Seq("v"))))
    assert(spark.table(state).agg(max(col("__last_batch"))).head().getLong(0) == 2L)
    spark.sql(s"DROP TABLE IF EXISTS $state")
  }

  test("streaming histogram maintenance answers the same quantiles as a single pass") {
    import sqlImplicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.QuantileSketch
    val vals = (1 to 400).map(i => ("a", (i * 37 % 1000) / 10.0))
    val stream = MemoryStream[(String, Double)]
    spark.sql("DROP TABLE IF EXISTS stream_hist_state")
    val q = EventStreams.maintain(stream.toDF().toDF("k", "v"))(
      EventStreams.foldHistogramBatch(_, _, "stream_hist_state", Seq("k"), col("v"), 0.0, 100.0, 50))
    stream.addData(vals.take(150): _*); q.processAllAvailable()
    stream.addData(vals.drop(150): _*); q.processAllAvailable()
    q.stop()
    def qs(state: org.apache.spark.sql.DataFrame) =
      QuantileSketch.quantiles(state, Seq("k"), Seq(0.5, 0.9), 0.0, 100.0, 50)
        .orderBy("q").collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    val streamed = qs(spark.table("stream_hist_state").drop("__last_batch"))
    val single = qs(QuantileSketch.rollup(vals.toDF("k", "v"), Seq("k"), col("v"), 0.0, 100.0, 50))
    assert(streamed == single)
    spark.sql("DROP TABLE IF EXISTS stream_hist_state")
  }

  test("streaming heavy-hitter maintenance recovers the exact from-scratch frequent keys") {
    import sqlImplicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.HeavyHitters
    val keys = (1 to 600).map(i => if (i % 3 == 0) "hot" else s"k${i % 97}")
    val stream = MemoryStream[String]
    spark.sql("DROP TABLE IF EXISTS stream_hh_state")
    val q = EventStreams.maintain(stream.toDF().toDF("tok"))(
      EventStreams.foldSketchBatch(_, _, "stream_hh_state", "tok", k = 6))
    stream.addData(keys.take(250): _*); q.processAllAvailable()
    stream.addData(keys.drop(250): _*); q.processAllAvailable()
    q.stop()
    val st = spark.table("stream_hh_state").drop("__last_batch")
    val streamed = HeavyHitters.frequentFromSketch(st, keys.toDF("tok"), "tok", 6)
      .as[(String, Long)].collect().toSeq
    val scratch = HeavyHitters.frequentKeys(keys.toDF("tok"), "tok", 6)
      .as[(String, Long)].collect().toSeq
    assert(streamed == scratch && streamed.head._1 == "hot")
    spark.sql("DROP TABLE IF EXISTS stream_hh_state")
  }

  test("streaming distinct-count maintenance equals the from-scratch sketch, exactly-once under replay") {
    import sqlImplicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Hll
    val rows = (1 to 800).map(i => (s"g${i % 3}", s"u${(i * 31) % 157}"))
    val stream = MemoryStream[(String, String)]
    spark.sql("DROP TABLE IF EXISTS stream_hll_state")
    val q = EventStreams.maintain(stream.toDF().toDF("g", "u"))(
      EventStreams.foldDistinctBatch(_, _, "stream_hll_state", Seq("g"), "u", p = 10))
    // three uneven micro-batches (incl. a single-row one)
    stream.addData(rows.take(300): _*); q.processAllAvailable()
    stream.addData(rows.slice(300, 301): _*); q.processAllAvailable()
    stream.addData(rows.drop(301): _*); q.processAllAvailable()
    q.stop()

    // Register-level equality, not just estimates: the element-wise
    // max merge must make batching invisible.
    def regs(df: org.apache.spark.sql.DataFrame) =
      df.select("g", "registers").orderBy("g")
        .collect().map(r => (r.getString(0), r.getSeq[Int](1).toSeq)).toSeq
    val streamed = regs(spark.table("stream_hll_state").drop("__last_batch"))
    val scratch = regs(Hll.distinctByGroup(rows.toDF("g", "u"), Seq("g"), "u", 10).drop("est"))
    assert(streamed == scratch)

    // Replayed batch id: the watermark must make the fold a no-op.
    EventStreams.foldDistinctBatch(
      rows.take(300).toDF("g", "u"), batchId = 0L, "stream_hll_state", Seq("g"), "u", 10)
    assert(regs(spark.table("stream_hll_state").drop("__last_batch")) == streamed,
      "replayed batch changed the registers")

    // The estimate stays inside the p=10 error band (~3.3% at 1.04/√m).
    val est = spark.table("stream_hll_state")
      .withColumn("est", Hll.estimate(col("registers")))
      .select("g", "est").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    exact.foreach { case (g, n) =>
      assert(math.abs(est(g) - n) <= math.max(3L, (n * 0.15).toLong), s"$g: est=${est(g)} exact=$n")
    }
    spark.sql("DROP TABLE IF EXISTS stream_hll_state")
  }

  test("streaming bitmap-distinct maintenance is EXACT and exactly-once under replay") {
    import sqlImplicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bitmap
    // dense ids incl. negatives and word-boundary values
    val rows = (1 to 900).map(i => (s"g${i % 2}", ((i * 7) % 500 - 120).toLong))
    val stream = MemoryStream[(String, Long)]
    spark.sql("DROP TABLE IF EXISTS stream_bm_state")
    val q = EventStreams.maintain(stream.toDF().toDF("g", "id"))(
      EventStreams.foldBitmapBatch(_, _, "stream_bm_state", Seq("g"), "id"))
    stream.addData(rows.take(400): _*); q.processAllAvailable()
    stream.addData(rows.slice(400, 401): _*); q.processAllAvailable()
    stream.addData(rows.drop(401): _*); q.processAllAvailable()
    q.stop()

    // Word-level equality with the from-scratch bitmap: OR-merging
    // must make batching invisible.
    def words(df: org.apache.spark.sql.DataFrame) =
      df.select("g", "__w", "__mask").orderBy("g", "__w")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val streamed = words(spark.table("stream_bm_state").drop("__last_batch"))
    val scratch = words(Bitmap.wordsByGroup(rows.toDF("g", "id"), Seq("g"), "id"))
    assert(streamed == scratch)

    // Replay: the batch-id watermark must no-op the fold.
    EventStreams.foldBitmapBatch(
      rows.take(400).toDF("g", "id"), batchId = 0L, "stream_bm_state", Seq("g"), "id")
    assert(words(spark.table("stream_bm_state").drop("__last_batch")) == streamed)

    // The maintained count is EXACT — not an estimate.
    val got = Bitmap.countsFromWords(
        spark.table("stream_bm_state").drop("__last_batch"), Seq("g"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    assert(got == exact)
    spark.sql("DROP TABLE IF EXISTS stream_bm_state")
  }

  test("streaming zone-map maintenance equals from-scratch stats, exactly-once under replay") {
    import sqlImplicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.ZoneMap
    val rows = (1 to 500).map(i =>
      (i.toLong, (i % 7).toLong, if (i % 11 == 0) None else Some(i * 1.5)))
    val stream = MemoryStream[(Long, Long, Option[Double])]
    spark.sql("DROP TABLE IF EXISTS stream_zm_state")
    val q = EventStreams.maintain(stream.toDF().toDF("id", "z", "v"))(
      EventStreams.foldZoneMapBatch(_, _, "stream_zm_state", "z", Seq("v")))
    stream.addData(rows.take(200): _*); q.processAllAvailable()
    stream.addData(rows.slice(200, 201): _*); q.processAllAvailable()
    stream.addData(rows.drop(201): _*); q.processAllAvailable()
    q.stop()

    def st(df: org.apache.spark.sql.DataFrame) =
      df.select("zone", "n_rows", "min_v", "max_v", "nn_v").orderBy("zone")
        .collect().map(_.toSeq).toSeq
    val streamed = st(spark.table("stream_zm_state").drop("__last_batch"))
    val scratch = st(ZoneMap.stats(
      rows.toDF("id", "z", "v"), org.apache.spark.sql.functions.col("z"), Seq("v")))
    assert(streamed == scratch)

    // Replay: the batch-id watermark must no-op the fold.
    EventStreams.foldZoneMapBatch(
      rows.take(200).toDF("id", "z", "v"), batchId = 0L, "stream_zm_state", "z", Seq("v"))
    assert(st(spark.table("stream_zm_state").drop("__last_batch")) == streamed)
    spark.sql("DROP TABLE IF EXISTS stream_zm_state")
  }

  test("maintained top-k state equals the from-scratch pass, exactly-once under replay") {
    import sqlImplicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (1L to 120L).map(i => (s"g${i % 4}", i, (i % 11).toDouble))
    val stream = MemoryStream[(String, Long, Double)]
    val q = EventStreams.maintain(stream.toDF().toDF("g", "id", "score"))(
      EventStreams.foldTopKBatch(_, _, "stream_topk_state", Seq("g"), "score", "id", k = 5))
    stream.addData(rows.take(50): _*); q.processAllAvailable()
    stream.addData(rows.slice(50, 51): _*); q.processAllAvailable()
    stream.addData(rows.drop(51): _*); q.processAllAvailable()
    q.stop()

    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("g", "rank", "id", "score").orderBy("g", "rank")
        .collect().map(_.toSeq).toSeq
    val streamed = snap(spark.table("stream_topk_state"))
    val batch = snap(graft.operators.TopK.topKPerGroup(
      rows.toDF("g", "id", "score"), Seq("g"), "score", "id", 5))
    assert(streamed == batch)

    // Replayed batch id: the watermark must make the fold a no-op
    // (a re-unioned id would otherwise occupy two leaderboard slots).
    EventStreams.foldTopKBatch(
      rows.take(50).toDF("g", "id", "score"), batchId = 1L,
      "stream_topk_state", Seq("g"), "score", "id", 5)
    assert(snap(spark.table("stream_topk_state")) == batch, "replayed batch re-folded")

    // A new batch id with a dominating score still folds in.
    EventStreams.foldTopKBatch(
      Seq(("g0", 999L, 1e6)).toDF("g", "id", "score"), batchId = 42L,
      "stream_topk_state", Seq("g"), "score", "id", 5)
    val after = snap(spark.table("stream_topk_state"))
    assert(after.exists(r => r(2) == 999L && r(1) == 1))
  }

  test("streaming CDC snapshot maintenance: upserts, tombstones, exactly-once under replay") {
    import sqlImplicits._
    implicit val sqlCtx = spark.sqlContext
    val state = "stream_cdc_state"
    Tables.dropManaged(spark, state)
    val stream = MemoryStream[(Long, String, String, Long)]
    val q = EventStreams.maintain(stream.toDF().toDF("k", "v", "op", "ord"))(
      EventStreams.foldSnapshotBatch(_, _, state, Seq("k"), "op", Seq("ord")))
    // batch 0: insert k1, k2; in-batch latest-wins on k1 (ord 2 beats 1)
    stream.addData((1L, "a0", "I", 1L), (1L, "a1", "U", 2L), (2L, "b", "I", 1L))
    q.processAllAvailable()
    // batch 1: delete k1, insert k3
    stream.addData((1L, "a1", "D", 1L), (3L, "c", "I", 1L))
    q.processAllAvailable()
    // batch 2: re-insert k1 after its tombstone — sequential batches
    stream.addData((1L, "a2", "I", 1L))
    q.processAllAvailable()
    q.stop()
    def snap() = EventStreams.snapshot(spark, state)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(snap() == Seq((1L, "a2"), (2L, "b"), (3L, "c")))

    // replayed batch id: a no-op
    EventStreams.foldSnapshotBatch(
      Seq((9L, "x", "I", 1L)).toDF("k", "v", "op", "ord"), 2L, state, Seq("k"), "op", Seq("ord"))
    assert(snap() == Seq((1L, "a2"), (2L, "b"), (3L, "c")), "replayed batch must not apply")
    // a new batch id folds in
    EventStreams.foldSnapshotBatch(
      Seq((2L, "b", "D", 1L)).toDF("k", "v", "op", "ord"), 7L, state, Seq("k"), "op", Seq("ord"))
    assert(snap() == Seq((1L, "a2"), (3L, "c")))
    assert(!spark.catalog.tableExists(state), "a CDC snapshot has no catalog table")
    Tables.dropManaged(spark, state)
  }

  test("CDC fold keeps Cdc.applyLog's NULL-key and op-check semantics") {
    import sqlImplicits._
    val state = "stream_cdc_nulls_state"
    Tables.dropManaged(spark, state)
    def log(rows: (Option[Long], String, String, Long)*) = rows.toDF("k", "v", "op", "ord")
    def fold(id: Long, rows: (Option[Long], String, String, Long)*): Unit =
      EventStreams.foldSnapshotBatch(log(rows: _*), id, state, Seq("k"), "op", Seq("ord"), nBuckets = 4)
    def snap() = EventStreams.snapshot(spark, state).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1))).toSet
    def reference(batches: Seq[(Option[Long], String, String, Long)]*) = {
      val empty = Seq.empty[(Option[Long], String)].toDF("k", "v")
      batches.foldLeft(empty)((base, b) => graft.operators.Cdc.applyLog(base, log(b: _*), Seq("k"), "op", Seq("ord")))
        .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1))).toSet
    }
    val b0 = Seq((Option.empty[Long], "n0", "I", 1L), (Some(1L), "a", "I", 1L))
    val b1 = Seq((Option.empty[Long], "n1", "U", 1L), (Some(2L), "b", "I", 1L))
    val b2 = Seq((Option.empty[Long], "n1", "D", 1L), (Some(1L), "a2", "U", 1L))
    fold(0L, b0: _*)
    fold(1L, b1: _*)
    assert(snap() == reference(b0, b1) && snap().count(_._1.isEmpty) == 1,
      "a NULL-key upsert replaces the NULL-key row, never duplicates it")
    fold(2L, b2: _*)
    assert(snap() == reference(b0, b1, b2) && !snap().exists(_._1.isEmpty),
      "a NULL-key tombstone deletes the NULL-key row")
    // a null op fails loudly even when a newer valid row supersedes it,
    // and the failed batch commits nothing
    val err = intercept[Exception](fold(3L, (Option(3L), "c", null, 1L), (Option(3L), "c2", "I", 2L)))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("must be I/U/D")), err.toString)
    assert(snap() == reference(b0, b1, b2))
    Tables.dropManaged(spark, state)
  }

  /** The parquet files under the snapshot directory, relative to it. */
  private def filesOnDisk(state: String): Set[String] = {
    val root = java.nio.file.Paths.get(Tables.managedPath(spark, state).toUri)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString).toSet
    finally walk.close()
  }

  private def bucketOf(k: Long, n: Int): Int =
    spark.sql(s"SELECT CAST(pmod(xxhash64(CAST($k AS BIGINT)), $n) AS INT)").head().getInt(0)

  test("bucketed CDC fold: delta touches only its buckets; crash windows replay per bucket") {
    import sqlImplicits._
    val state = "stream_cdcb_state"
    Tables.dropManaged(spark, state)
    def fold(rows: Seq[(Long, String, String, Long)], id: Long): Unit =
      EventStreams.foldSnapshotBatch(
        rows.toDF("k", "v", "op", "ord"), id, state, Seq("k"), "op", Seq("ord"), nBuckets = 8)
    def snap() = EventStreams.snapshot(spark, state)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // batch 0 bootstraps the snapshot over 100 keys: one file per bucket
    fold((1L to 100L).map(i => (i, s"v$i", "I", 1L)), 0L)
    assert(snap().size == 100)
    val before = EventStreams.bucketFiles(spark, state)
    assert(before.size == 8 && before.values.forall(_.size == 1))
    // a 2-key delta must rewrite ONLY the buckets those keys hash to:
    // every other bucket keeps its very files, unmodified on disk
    val root = new java.io.File(Tables.managedPath(spark, state).toUri)
    def stamp(f: String) = new java.io.File(root, f).lastModified()
    val stamps = before.values.flatten.map(f => f -> stamp(f)).toMap
    fold(Seq((5L, "v5x", "U", 2L), (42L, "v42", "D", 2L)), 1L)
    val after = EventStreams.bucketFiles(spark, state)
    val touched = Seq(5L, 42L).map(bucketOf(_, 8)).toSet
    before.keySet.filterNot(touched).foreach { b =>
      assert(after(b) == before(b) && after(b).forall(f => stamp(f) == stamps(f)),
        s"untouched bucket $b was rewritten")
    }
    touched.foreach(b => assert(after(b) != before(b), s"touched bucket $b was not rewritten"))
    assert(snap().size == 99)
    assert(snap().find(_._1 == 5L).get._2 == "v5x")
    // crash windows: a fold that dies before its data write, before its
    // manifest write or before the manifest rename leaves the previous
    // version in force — and the retry under the same id folds it
    val s1 = snap()
    (0 to 2).foreach { n =>
      intercept[Tables.InjectedCrash] {
        Tables.stepsLeft.withValue(n)(fold(Seq((7L, "v7crash", "U", 3L)), 2L))
      }
      assert(snap() == s1, s"a fold that crashed after $n steps must not show")
    }
    // a crash after the rename, before the cleanup: the batch is in,
    // only superseded files are left, and the replayed id is a no-op
    intercept[Tables.InjectedCrash] {
      Tables.stepsLeft.withValue(3)(fold(Seq((7L, "v7crash", "U", 3L)), 2L))
    }
    val s2 = snap()
    assert(s2.find(_._1 == 7L).get._2 == "v7crash")
    assert(filesOnDisk(state) != EventStreams.bucketFiles(spark, state).values.flatten.toSet,
      "the crash must leave superseded files behind")
    fold(Seq((9999L, "never", "I", 1L)), 2L)
    assert(snap() == s2, "the replayed id must not apply")
    // the next commit deletes everything its version does not list
    fold(Seq((7L, "v7", "U", 4L)), 3L)
    assert(filesOnDisk(state) == EventStreams.bucketFiles(spark, state).values.flatten.toSet)
    Tables.dropManaged(spark, state)
  }

  test("bucketed CDC fold: full-bucket delete drops the partition; crash window replays the drop; empty batch is watermark-only") {
    import sqlImplicits._
    val state = "stream_cdcdel_state"
    Tables.dropManaged(spark, state)
    def fold(rows: Seq[(Long, String, String, Long)], id: Long): Unit =
      EventStreams.foldSnapshotBatch(
        rows.toDF("k", "v", "op", "ord"), id, state, Seq("k"), "op", Seq("ord"), nBuckets = 4)
    def buckets() = EventStreams.bucketFiles(spark, state).keySet
    def snap() = EventStreams.snapshot(spark, state)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    fold((1L to 40L).map(i => (i, s"v$i", "I", 1L)), 0L)
    assert(buckets().size == 4, "40 xxhash64-spread keys must populate all 4 buckets")
    // delete EVERY key in key-1's bucket: the commit must drop the
    // emptied bucket from the list, not leave its old file in place
    val b1 = bucketOf(1L, 4)
    val victims = (1L to 40L).filter(bucketOf(_, 4) == b1)
    fold(victims.map(k => (k, "x", "D", 2L)), 1L)
    assert(!buckets().contains(b1), "the emptied bucket must leave the manifest")
    assert(snap().map(_._1).toSet == (1L to 40L).toSet -- victims)
    // crash window for the SAME shape: bucket re-filled, then emptied
    // again by a fold that dies after its data write (which wrote no
    // file for the bucket) but before its commit — the previous
    // version stays in force, and the retry drops the bucket
    fold(victims.map(k => (k, s"back$k", "I", 3L)), 2L)
    assert(buckets().contains(b1))
    intercept[Tables.InjectedCrash] {
      Tables.stepsLeft.withValue(1)(fold(victims.map(k => (k, "x", "D", 4L)), 3L))
    }
    assert(buckets().contains(b1) && snap().size == 40)
    fold(victims.map(k => (k, "x", "D", 4L)), 3L)
    assert(!buckets().contains(b1), "the retried fold must drop the emptied bucket")
    assert(snap().map(_._1).toSet == (1L to 40L).toSet -- victims)
    // empty micro-batch (restart replay / availableNow tick): advances
    // the batch id, touches no file
    val before = snap()
    val files = EventStreams.bucketFiles(spark, state)
    fold(Seq.empty, 5L)
    assert(snap() == before && EventStreams.bucketFiles(spark, state) == files)
    fold(Seq((9999L, "never", "I", 1L)), 5L)
    assert(snap() == before, "the empty batch must still advance the committed batch id")
    Tables.dropManaged(spark, state)
  }

  test("bucketed CDC fold: an nBuckets mismatch fails loudly instead of corrupting the snapshot") {
    import sqlImplicits._
    val state = "stream_cdcnb_state"
    Tables.dropManaged(spark, state)
    EventStreams.foldSnapshotBatch(
      (1L to 20L).map(i => (i, s"v$i", "I", 1L)).toDF("k", "v", "op", "ord"),
      0L, state, Seq("k"), "op", Seq("ord"), nBuckets = 4)
    // folding with a different modulus would read the wrong buckets,
    // miss the keys' existing rows and silently duplicate them
    val e = intercept[IllegalArgumentException] {
      EventStreams.foldSnapshotBatch(
        Seq((5L, "x", "U", 2L)).toDF("k", "v", "op", "ord"),
        1L, state, Seq("k"), "op", Seq("ord"), nBuckets = 8)
    }
    assert(e.getMessage.contains("nBuckets"))
    // the matching modulus still folds
    EventStreams.foldSnapshotBatch(
      Seq((5L, "x", "U", 2L)).toDF("k", "v", "op", "ord"),
      1L, state, Seq("k"), "op", Seq("ord"), nBuckets = 4)
    assert(EventStreams.snapshot(spark, state).filter(col("k") === 5L)
      .head().getString(1) == "x")
    Tables.dropManaged(spark, state)
  }

  test("fold memos are catalog-qualified: one unqualified state name in two databases cannot collide") {
    import sqlImplicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_cross_a")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_cross_b")
    Seq("a", "b").foreach { d =>
      Seq("cross_state", "cross_snap").foreach(t => Tables.dropManaged(spark, s"graft_cross_$d.$t"))
    }
    val sa = spark.newSession(); sa.catalog.setCurrentDatabase("graft_cross_a")
    val sb = spark.newSession(); sb.catalog.setCurrentDatabase("graft_cross_b")
    def batch(ss: org.apache.spark.sql.SparkSession, v: Double) = {
      import ss.implicits._
      Seq(("g", v)).toDF("g", "v")
    }
    // stream A runs far ahead on ITS state table
    EventStreams.foldRollupBatch(batch(sa, 1.0), 0L, "cross_state", Seq("g"), Seq("v"))
    EventStreams.foldRollupBatch(batch(sa, 2.0), 40L, "cross_state", Seq("g"), Seq("v"))
    // stream B maintains a DIFFERENT table under the same unqualified
    // name: with raw-string memo keys, A's watermark (40) would be
    // consulted for B's batch 2 and the genuinely-new batch silently
    // skipped — the non-idempotent rollup then permanently misses it
    EventStreams.foldRollupBatch(batch(sb, 10.0), 0L, "cross_state", Seq("g"), Seq("v"))
    EventStreams.foldRollupBatch(batch(sb, 20.0), 2L, "cross_state", Seq("g"), Seq("v"))
    def sumOf(t: String): Double =
      spark.table(t).agg(sum(col("sum_v"))).head().getDecimal(0).doubleValue
    assert(sumOf("graft_cross_a.cross_state") == 3.0)
    assert(sumOf("graft_cross_b.cross_state") == 30.0,
      "stream B's batch must fold into B's table — a raw-string memo key would have " +
        "read stream A's watermark and skipped it")
    // The CDC snapshot resolves the same name to its database's
    // directory: B's batch 2 must not be read against A's manifest
    // (committed at batch 40)
    def cdc(ss: org.apache.spark.sql.SparkSession, k: Long, v: String) = {
      import ss.implicits._
      Seq((k, v, "I", 1L)).toDF("k", "v", "op", "ord")
    }
    def fold(ss: org.apache.spark.sql.SparkSession, k: Long, v: String, id: Long): Unit =
      EventStreams.foldSnapshotBatch(cdc(ss, k, v), id, "cross_snap", Seq("k"), "op", Seq("ord"), 2)
    fold(sa, 1L, "a1", 0L); fold(sa, 2L, "a2", 40L)
    fold(sb, 1L, "b1", 0L); fold(sb, 3L, "b3", 2L)
    def rows(ss: org.apache.spark.sql.SparkSession) = EventStreams.snapshot(ss, "cross_snap")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(Tables.managedPath(sa, "cross_snap") != Tables.managedPath(sb, "cross_snap"))
    assert(rows(sa) == Seq((1L, "a1"), (2L, "a2")))
    assert(rows(sb) == Seq((1L, "b1"), (3L, "b3")),
      "stream B's batch must fold into B's directory, not be skipped behind A's manifest")
    Seq("a", "b").foreach { d =>
      Seq("cross_state", "cross_snap").foreach(t => Tables.dropManaged(spark, s"graft_cross_$d.$t"))
    }
  }

  test("compactSnapshot: per-bucket file count returns to 1, content and partition layout unchanged") {
    import sqlImplicits._
    val state = "stream_cdccomp_state"
    Tables.dropManaged(spark, state)
    EventStreams.foldSnapshotBatch(
      (1L to 60L).map(i => (i, s"v$i", "I", 1L)).toDF("k", "v", "op", "ord"),
      0L, state, Seq("k"), "op", Seq("ord"), nBuckets = 4)
    def content() = EventStreams.snapshot(spark, state)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = content()
    val layout = EventStreams.bucketFiles(spark, state).keySet
    // fragment: rewrite every bucket through a round-robin repartition,
    // so every task writes a file into every bucket (the layout an old
    // un-repartitioned writer or an append-heavy history leaves)
    EventStreams.rewriteBuckets(spark, state)(_.keys, (df, _) => df.repartition(6))
    assert(content() == expected)
    val nBuckets = EventStreams.bucketFiles(spark, state).size
    val (before, after) = EventStreams.compactSnapshot(spark, state)
    assert(before > nBuckets, s"fixture must be fragmented (got $before files over $nBuckets buckets)")
    assert(after == nBuckets, s"compaction must leave exactly one file per bucket (got $after)")
    assert(content() == expected, "compaction must preserve the snapshot bit-for-bit")
    val files = EventStreams.bucketFiles(spark, state)
    assert(files.keySet == layout && files.values.forall(_.size == 1))
    assert(filesOnDisk(state) == files.values.flatten.toSet,
      "the commit must delete the superseded fragments")
    // a compact snapshot commits nothing: same version, same files
    assert(EventStreams.compactSnapshot(spark, state) == ((nBuckets, nBuckets)))
    assert(EventStreams.bucketFiles(spark, state) == files)
    Tables.dropManaged(spark, state)
  }

  test("fold memos: recovery invalidates a stale watermark memo instead of double-merging") {
    import sqlImplicits._
    val state = "stream_memoinv_state"
    Tables.dropManaged(spark, state)
    def fin() = graft.operators.IncrementalAgg
      .finalizeState(spark.table(state).drop("__last_batch"), Seq("k"), Seq("v"))
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    EventStreams.foldRollupBatch(
      Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v"), 1L, state, Seq("k"), Seq("v"))
    // the JVM memo now holds 1. Simulate batch 2's publish dying
    // between its DROP and RENAME *after* the merge was staged: the
    // staging table holds the POST-batch-2 state stamped 2, the state
    // table is gone, and this JVM's memo still says 1.
    val merged = graft.operators.IncrementalAgg.merge(
      Seq(
        spark.table(state).drop("__last_batch"),
        graft.operators.IncrementalAgg.rollup(
          Seq(("a", 10.0)).toDF("k", "v"), Seq("k"), Seq("v"))),
      Seq("k")).withColumn("__last_batch", lit(2L))
    val expected2 = Seq(("a", 2L, 11.0), ("b", 1L, 2.0))
    graft.sources.Tables.overwriteTable(merged, state + "__staging")
    spark.sql(s"DROP TABLE $state")
    // the foreachBatch retry of batch 2: recovery restores the staged
    // table (already containing batch 2) — the stale memo must NOT let
    // the non-idempotent merge re-apply the delta
    EventStreams.foldRollupBatch(
      Seq(("a", 10.0)).toDF("k", "v"), 2L, state, Seq("k"), Seq("v"))
    assert(fin() == expected2,
      "a recovery-restored state newer than the memo must not be re-merged")
    // and a genuinely new batch still folds
    EventStreams.foldRollupBatch(
      Seq(("c", 5.0)).toDF("k", "v"), 3L, state, Seq("k"), Seq("v"))
    assert(fin() == (expected2 :+ (("c", 1L, 5.0))))
    Tables.dropManaged(spark, state)
  }

  test("fold memos are evicted by OpCache.clear and rebuild from their tables") {
    import sqlImplicits._
    val state = "stream_memoclear_state"
    Tables.dropManaged(spark, state)
    def fold(k: String, id: Long): Unit =
      EventStreams.foldRollupBatch(Seq((k, 1.0)).toDF("k", "v"), id, state, Seq("k"), Seq("v"))
    fold("a", 0L); fold("b", 1L)
    val wms = EventStreams.memoSizes
    assert(wms >= 1, s"folds must populate the watermark memo (got $wms)")
    graft.operators.OpCache.clear()
    assert(EventStreams.memoSizes == 0,
      "OpCache.clear must evict the context-keyed fold memo")
    // correctness after eviction: the watermark re-reads from its
    // table — a replayed id is still a no-op, a new id still folds
    fold("never", 1L)
    assert(spark.table(state).count() == 2L)
    fold("c", 2L)
    assert(spark.table(state).count() == 3L)
    Tables.dropManaged(spark, state)
  }

  test("watermark memo is context-wide: a replay arriving on a different session clone is recognized as applied") {
    import sqlImplicits._
    val state = "stream_wmxs_state"
    Tables.dropManaged(spark, state)
    graft.operators.OpCache.clear()
    // batches 0 and 1 applied on the ROOT session
    EventStreams.foldRollupBatch(Seq(("a", 1.0)).toDF("k", "v"), 0L, state, Seq("k"), Seq("v"))
    EventStreams.foldRollupBatch(Seq(("a", 2.0)).toDF("k", "v"), 1L, state, Seq("k"), Seq("v"))
    // the stream-restart shape: batch 1 REPLAYED on a fresh clone.
    // A per-session watermark memo would miss here; worse, a stale
    // OLDER memo on another live clone would re-merge the delta.
    // Context-wide keying makes every clone share one watermark.
    val clone = spark.newSession()
    EventStreams.foldRollupBatch(
      clone.sql("SELECT 'a' AS k, CAST(100.0 AS DOUBLE) AS v"), 1L, state, Seq("k"), Seq("v"))
    val total = spark.table(state).agg(sum(col("sum_v"))).head().getDecimal(0).doubleValue
    assert(total == 3.0, "a replayed batch id on a clone session must be a no-op, not a re-merge")
    Tables.dropManaged(spark, state)
  }

  /** Runs `sequence` once per crash point, ALICE-style (every crash
    * state, not a sample): run n lets n side-effecting publish steps
    * through and crashes before the next ([[Tables.stepsLeft]]);
    * `afterCrash` inspects the state the crash left on a new session;
    * then the sequence runs again to completion on another new session
    * with every memo cleared, and `check` compares the result with the
    * from-scratch state. Stops at the first run no step of which
    * crashes; returns the number of crash points.
    */
  private def everyCrash(reset: () => Unit, sequence: org.apache.spark.sql.SparkSession => Unit)(
      afterCrash: (org.apache.spark.sql.SparkSession, Int) => Unit,
      check: org.apache.spark.sql.SparkSession => Unit): Int = {
    def fresh() = { graft.operators.OpCache.clear(); spark.newSession() }
    var n = 0
    var crashed = true
    while (crashed) {
      reset()
      crashed =
        try { Tables.stepsLeft.withValue(n)(sequence(fresh())); false }
        catch { case _: Tables.InjectedCrash => true }
      if (crashed) {
        afterCrash(fresh(), n)
        sequence(fresh())
      }
      check(fresh())
      n += 1
    }
    reset()
    n - 1
  }

  test("CDC snapshot: a crash before any step of fold → fold → fragment → compact → fold recovers to the from-scratch log") {
    import sqlImplicits._
    val state = "stream_cdccrash_state"
    val keys = 1L to 24L
    // the replay of batch 1 after batch 2 would revert keys 1, 3, 7
    // and 12: only the batch-id skip keeps it out
    val batches = Seq(
      keys.map(k => (k, s"a$k", "I", 1L)),
      keys.filter(_ % 2 == 1).map(k => (k, s"b$k", "U", 2L)) ++
        keys.filter(_ % 6 == 0).map(k => (k, "", "D", 2L)),
      Seq((1L, "c1", "U", 3L), (7L, "c7", "U", 3L), (12L, "c12", "I", 3L), (3L, "", "D", 3L)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // the from-scratch snapshot after each batch: Cdc.applyLog over the
    // log up to it (the ord values grow with the batch)
    val committed = batches.indices.map { i =>
      rows(graft.operators.Cdc.applyLog(Seq.empty[(Long, String)].toDF("k", "v"),
        batches.take(i + 1).flatten.toDF("k", "v", "op", "ord"), Seq("k"), "op", Seq("ord")))
    }
    def sequence(s: org.apache.spark.sql.SparkSession): Unit = {
      import s.implicits._
      def fold(i: Int): Unit = EventStreams.foldSnapshotBatch(
        batches(i).toDF("k", "v", "op", "ord"), i.toLong, state, Seq("k"), "op", Seq("ord"), 4)
      fold(0); fold(1)
      EventStreams.rewriteBuckets(s, state)(_.keys, (df, _) => df.repartition(2))
      EventStreams.compactSnapshot(s, state)
      fold(2)
      fold(1) // the restart replay of batch 1: a no-op
    }
    val points = everyCrash(() => Tables.dropManaged(spark, state), sequence)(
      (s, n) => {
        // the crash left a committed version (none before the first
        // fold's manifest rename, its 3rd step) — never a mix
        val left = scala.util.Try(rows(EventStreams.snapshot(s, state)))
        assert(left.toOption.forall(committed.contains) && (left.isSuccess || n < 3),
          s"a crash after $n steps left $left")
      },
      s => {
        assert(rows(EventStreams.snapshot(s, state)) == committed.last)
        assert(filesOnDisk(state) == EventStreams.bucketFiles(s, state).values.flatten.toSet)
      })
    info(s"$points crash points")
    assert(points >= 20, s"only $points crash points enumerated")
  }

  test("rollup fold: a crash before any publish step of three batches and a replay recovers to the from-scratch rollup") {
    import sqlImplicits._
    import graft.operators.IncrementalAgg
    val state = "stream_rollcrash_state"
    val batches = Seq(
      Seq(("a", 1.0), ("b", 2.0)), Seq(("a", 10.0), ("c", 3.0)), Seq(("b", 100.0), ("d", 4.0)))
    def fin(df: org.apache.spark.sql.DataFrame) =
      IncrementalAgg.finalizeState(df, Seq("k"), Seq("v")).orderBy("k").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val scratch = fin(IncrementalAgg.rollup(batches.flatten.toDF("k", "v"), Seq("k"), Seq("v")))
    def sequence(s: org.apache.spark.sql.SparkSession): Unit = {
      import s.implicits._
      def fold(i: Int): Unit = EventStreams.foldRollupBatch(
        batches(i).toDF("k", "v"), i.toLong, state, Seq("k"), Seq("v"))
      fold(0); fold(1); fold(2)
      fold(1) // the restart replay of batch 1: a no-op
    }
    val points = everyCrash(() => Tables.dropManaged(spark, state), sequence)(
      // a second crash, at the recovery's first step: a recovery
      // rename (after a crash between DROP and RENAME) or the staging
      // write of the re-folded batch
      (s, _) => intercept[Tables.InjectedCrash](Tables.stepsLeft.withValue(0)(sequence(s))),
      s => assert(fin(s.table(state).drop("__last_batch")) == scratch))
    info(s"$points crash points")
    assert(points == 9, s"3 publishes of 3 steps each, got $points crash points")
  }
}
