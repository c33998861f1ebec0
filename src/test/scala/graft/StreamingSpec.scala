package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.streaming.EventStreams

/** Structured Streaming: the stateless operators run unchanged on a
  * stream, and every maintained state folded through
  * `EventStreams.maintain` equals its from-scratch batch result,
  * exactly once under replay and across crash windows.
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
    Seq("", "__staging", "__wm", "__touched").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
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
    Seq("", "__staging", "__wm", "__touched").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
  }

  test("bucketed CDC fold: delta touches only its buckets; crash windows replay per bucket") {
    import sqlImplicits._
    val state = "stream_cdcb_state"
    Seq("", "__staging", "__wm", "__touched").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
    def fold(rows: Seq[(Long, String, String, Long)], id: Long): Unit =
      EventStreams.foldSnapshotBatch(
        rows.toDF("k", "v", "op", "ord"), id, state, Seq("k"), "op", Seq("ord"), nBuckets = 8)
    def snap() = EventStreams.snapshot(spark, state)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // batch 0 bootstraps the bucket-partitioned table over 100 keys
    fold((1L to 100L).map(i => (i, s"v$i", "I", 1L)), 0L)
    assert(snap().size == 100)
    assert(spark.table(state).columns.contains("__bucket"), "state must be bucket-partitioned")
    // a 2-key delta must rewrite ONLY the buckets those keys hash to:
    // every parquet file in an untouched bucket survives byte-for-byte
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $state")
      .filter(col("col_name") === "Location").head().getString(1).stripPrefix("file:")
    def bucketFiles(): Map[String, Set[String]] = {
      val root = new java.io.File(loc)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("__bucket=")).map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName + ":" + f.lastModified()).toSet
      }.toMap
    }
    val before = bucketFiles()
    fold(Seq((5L, "v5x", "U", 2L), (42L, "v42", "D", 2L)), 1L)
    val after = bucketFiles()
    val touched = Seq(5L, 42L).map(k =>
      "__bucket=" + spark.sql(s"SELECT CAST(pmod(xxhash64(CAST($k AS BIGINT)), 8) AS INT)")
        .head().getInt(0)).toSet
    before.keySet.filterNot(touched).foreach { b =>
      assert(after(b) == before(b), s"untouched bucket $b was rewritten")
    }
    assert(snap().size == 99)
    assert(snap().find(_._1 == 5L).get._2 == "v5x")
    // crash window: staging published but watermark + drop never ran —
    // the next fold must replay the idempotent bucket copy, then the
    // replayed batch id must still be a no-op
    val stagingContent = Seq((7L, "v7crash", "U", 3L)).toDF("k", "v", "op", "ord")
    EventStreams.foldSnapshotBatch(stagingContent, 2L, state, Seq("k"), "op", Seq("ord"), 8)
    val s2 = snap()
    assert(s2.find(_._1 == 7L).get._2 == "v7crash")
    // simulate the partial state: rebuild staging as the crash left it
    // — the COMPLETE content of the touched bucket (the fold's
    // contract), not just the delta row
    val b7 = spark.sql("SELECT CAST(pmod(xxhash64(CAST(7 AS BIGINT)), 8) AS INT)").head().getInt(0)
    spark.table(state).filter(col("__bucket") === b7)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").partitionBy("__bucket").saveAsTable(state + "__staging")
    EventStreams.foldSnapshotBatch(
      Seq((9999L, "never", "I", 1L)).toDF("k", "v", "op", "ord"),
      2L, state, Seq("k"), "op", Seq("ord"), 8)
    assert(snap() == s2, "orphaned staging must replay idempotently; replayed id must not apply")
    assert(!spark.catalog.tableExists(state + "__staging"), "recovery must drop staging")
    Seq("", "__staging", "__wm", "__touched").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
  }

  test("bucketed CDC fold: full-bucket delete drops the partition; crash window replays the drop; empty batch is watermark-only") {
    import sqlImplicits._
    val state = "stream_cdcdel_state"
    Seq("", "__staging", "__wm", "__touched").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
    def fold(rows: Seq[(Long, String, String, Long)], id: Long): Unit =
      EventStreams.foldSnapshotBatch(
        rows.toDF("k", "v", "op", "ord"), id, state, Seq("k"), "op", Seq("ord"), nBuckets = 4)
    def parts() = spark.sql(s"SHOW PARTITIONS $state").collect().map(_.getString(0)).toSet
    def snap() = EventStreams.snapshot(spark, state)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    fold((1L to 40L).map(i => (i, s"v$i", "I", 1L)), 0L)
    assert(parts().size == 4, "40 xxhash64-spread keys must populate all 4 buckets")
    // delete EVERY key in key-1's bucket: the publish must drop the
    // now-empty partition, not silently leave its old rows in place
    val b1 = spark.sql("SELECT CAST(pmod(xxhash64(CAST(1 AS BIGINT)), 4) AS INT)").head().getInt(0)
    val victims = spark.table(state).filter(col("__bucket") === b1)
      .select("k").collect().map(_.getLong(0)).toSeq
    fold(victims.map(k => (k, "x", "D", 2L)), 1L)
    assert(!parts().contains(s"__bucket=$b1"), "emptied bucket's partition must be dropped")
    assert(snap().map(_._1).toSet == (1L to 40L).toSet -- victims)
    // crash window for the SAME shape: bucket re-filled, then a crash
    // after staging+touched were written (staging has NO partition for
    // the re-emptied bucket) but before the publish — recovery must
    // replay the drop from the persisted touched list
    fold(victims.map(k => (k, s"back$k", "I", 3L)), 2L)
    assert(parts().contains(s"__bucket=$b1"))
    Seq(b1).toDF("bucket").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(state + "__touched")
    spark.table(state).filter(lit(false))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").partitionBy("__bucket").saveAsTable(state + "__staging")
    // a replayed batch id: recovery replays the orphaned publish
    // (dropping the bucket), the fold itself is a watermark no-op
    fold(Seq((9999L, "never", "I", 1L)), 2L)
    assert(!parts().contains(s"__bucket=$b1"),
      "recovery must replay the emptied-bucket drop from the touched list")
    assert(snap().map(_._1).toSet == (1L to 40L).toSet -- victims)
    // empty micro-batch (restart replay / availableNow tick): advances
    // the watermark, touches nothing else — the old UNION ALL
    // construction threw a ParseException here and killed the query
    val before = snap()
    fold(Seq.empty, 5L)
    assert(snap() == before)
    assert(spark.table(state + "__wm").head().getLong(0) == 5L,
      "empty batch must still advance the watermark")
    assert(!spark.catalog.tableExists(state + "__staging"))
    assert(!spark.catalog.tableExists(state + "__touched"))
    Seq("", "__staging", "__wm", "__touched").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
  }

  test("bucketed CDC fold: an nBuckets mismatch fails loudly instead of corrupting the snapshot") {
    import sqlImplicits._
    val state = "stream_cdcnb_state"
    Seq("", "__staging", "__wm", "__touched").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
    EventStreams.foldSnapshotBatch(
      (1L to 20L).map(i => (i, s"v$i", "I", 1L)).toDF("k", "v", "op", "ord"),
      0L, state, Seq("k"), "op", Seq("ord"), nBuckets = 4)
    // folding with a different modulus would prune against the wrong
    // layout, miss the keys' existing rows and silently duplicate them
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
    Seq("", "__staging", "__wm", "__touched").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
  }

  test("bucketed CDC fold: a stale touched list is dropped at entry, before any staging can pair with it") {
    import sqlImplicits._
    val state = "stream_cdcstale_state"
    Seq("", "__staging", "__wm", "__touched").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
    def fold(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      EventStreams.foldSnapshotBatch(df, id, state, Seq("k"), "op", Seq("ord"), nBuckets = 4)
    fold((1L to 40L).map(i => (i, s"v$i", "I", 1L)).toDF("k", "v", "op", "ord"), 0L)
    // Residue of a crash that left ONLY the touched list behind (the
    // shape the old staging-first drop ordering could produce). If it
    // survived to sit next to a LATER delete-free batch's staging —
    // such a batch skips the touched-write — recovery would read these
    // buckets as "touched but absent from staging", i.e. emptied, and
    // DROP them: silent loss of untouched data. Planted through the
    // production writer so the probe's negative cache re-arms, exactly
    // as the fold's own touched-write does.
    graft.sources.Tables.overwriteTable(
      Seq(0, 1, 2, 3).toDF("bucket").coalesce(1), state + "__touched")
    // A delete-free batch whose STAGING WRITE fails (the payload
    // column raises on evaluation — first forced during the staging
    // write; the touched-bucket aggregation never reads it): the fold
    // dies before its end-of-batch drops, so only the ENTRY cleanup
    // can have removed the stale list.
    val poison = Seq((41L, "I", 1L)).toDF("k", "op", "ord")
      .withColumn("v", raise_error(lit("staging-write crash simulation")))
      .select("k", "v", "op", "ord")
    intercept[Exception] { fold(poison, 1L) }
    assert(!spark.catalog.tableExists(state + "__touched"),
      "a lone stale touched list must be dropped at fold entry, not at the end of " +
        "a batch that may never get there")
    assert(!spark.catalog.tableExists(state + "__staging"))
    // the stream then proceeds: a real delete-free batch folds cleanly
    // and every bootstrap bucket survives
    fold(Seq((41L, "v41", "I", 2L)).toDF("k", "v", "op", "ord"), 2L)
    assert(EventStreams.snapshot(spark, state).count() == 41L)
    Seq("", "__staging", "__wm", "__touched").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
  }

  test("bucketed CDC fold: an unpinned table is re-pinned on first contact; a wrong modulus still fails loudly") {
    import sqlImplicits._
    val state = "stream_cdcrepin_state"
    Seq("", "__staging", "__wm", "__touched").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
    def fold(df: org.apache.spark.sql.DataFrame, id: Long, n: Int): Unit =
      EventStreams.foldSnapshotBatch(df, id, state, Seq("k"), "op", Seq("ord"), nBuckets = n)
    def declared(): Option[String] = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(state))
      .properties.get("graft.nbuckets")
    fold((1L to 40L).map(i => (i, s"v$i", "I", 1L)).toDF("k", "v", "op", "ord"), 0L, 4)
    assert(declared().contains("4"))
    // simulate a bootstrap that crashed between its saveAsTable and
    // the property pin: data present, property missing. Previously the
    // guard was then disabled for the table's whole remaining life —
    // a redeploy with a different modulus would prune against the
    // wrong layout and silently duplicate rows.
    spark.sql(s"ALTER TABLE $state UNSET TBLPROPERTIES ('graft.nbuckets')")
    graft.operators.OpCache.clear() // memos too — a fresh process sees the bare table
    assert(declared().isEmpty)
    // wrong modulus against the unpinned table: the partition layout
    // itself betrays it (an existing __bucket id >= nBuckets)
    val e = intercept[IllegalArgumentException] {
      fold(Seq((5L, "x", "U", 2L)).toDF("k", "v", "op", "ord"), 1L, 2)
    }
    assert(e.getMessage.contains("different modulus"))
    // LARGER modulus against the unpinned mod-4 layout: every existing
    // partition id is < 8, so the directory disproof alone PASSED and
    // the fold would have pruned mod-8 against mod-4 data, silently
    // duplicating every updated key — the one-time key re-hash must
    // refuse (40 keys mod 8 cannot all equal their mod-4 bucket)
    val e8 = intercept[IllegalArgumentException] {
      fold(Seq((5L, "x", "U", 2L)).toDF("k", "v", "op", "ord"), 1L, 8)
    }
    assert(e8.getMessage.contains("different modulus"), e8.getMessage)
    // matching modulus: folds AND re-pins
    fold(Seq((5L, "x", "U", 2L)).toDF("k", "v", "op", "ord"), 1L, 4)
    assert(declared().contains("4"), "first contact with an unpinned table must re-pin it")
    assert(EventStreams.snapshot(spark, state).filter(col("k") === 5L).head().getString(1) == "x")
    Seq("", "__staging", "__wm", "__touched").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
  }

  test("bucketed CDC fold: an orphaned watermark (state dropped, wm kept) refolds the batch") {
    import sqlImplicits._
    val state = "stream_cdcorphanwm_state"
    Seq("", "__staging", "__wm", "__touched").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
    def fold(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      EventStreams.foldSnapshotBatch(df, id, state, Seq("k"), "op", Seq("ord"), nBuckets = 4)
    fold(Seq((1L, "a", "I", 1L), (2L, "b", "I", 1L)).toDF("k", "v", "op", "ord"), 0L)
    // partial cleanup: the state table is dropped but its __wm sibling
    // survives with last_batch = 0. Trusting it would discard the
    // replayed batch 0 as "already applied" and the next batch would
    // bootstrap the snapshot from LATER data — batch 0 lost silently.
    spark.sql(s"DROP TABLE $state")
    fold(Seq((1L, "a", "I", 1L), (2L, "b", "I", 1L)).toDF("k", "v", "op", "ord"), 0L)
    assert(EventStreams.snapshot(spark, state).count() == 2L,
      "the replayed batch must rebuild the snapshot, not vanish behind the stale wm")
    Seq("", "__staging", "__wm", "__touched").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
  }

  test("fold memos are catalog-qualified: one unqualified state name in two databases cannot collide") {
    import sqlImplicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_cross_a")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_cross_b")
    Seq("a", "b").foreach(d => Seq("", "__staging").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cross_$d.cross_state$x")))
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
    Seq("a", "b").foreach(d => Seq("", "__staging").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cross_$d.cross_state$x")))
  }

  test("compactSnapshot: per-bucket file count returns to 1, content and partition layout unchanged") {
    import sqlImplicits._
    val state = "stream_cdccomp_state"
    Seq("", "__staging", "__wm", "__touched", "__fragsrc")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
    EventStreams.foldSnapshotBatch(
      (1L to 60L).map(i => (i, s"v$i", "I", 1L)).toDF("k", "v", "op", "ord"),
      0L, state, Seq("k"), "op", Seq("ord"), nBuckets = 4)
    def content() = EventStreams.snapshot(spark, state)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = content()
    // fragment: rewrite the state through a round-robin repartition so
    // every task sprays files into every bucket directory (the layout
    // an old un-repartitioned writer or append-heavy history leaves)
    spark.table(state).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(state + "__fragsrc")
    spark.table(state + "__fragsrc").repartition(6)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").partitionBy("__bucket").saveAsTable(state)
    val nBuckets = spark.sql(s"SHOW PARTITIONS $state").count().toInt
    val (before, after) = EventStreams.compactSnapshot(spark, state)
    assert(before > nBuckets, s"fixture must be fragmented (got $before files over $nBuckets buckets)")
    assert(after == nBuckets, s"compaction must leave exactly one file per bucket (got $after)")
    assert(content() == expected, "compaction must preserve the snapshot bit-for-bit")
    assert(spark.sql(s"SHOW PARTITIONS $state").count().toInt == nBuckets)
    assert(!spark.catalog.tableExists(state + "__staging"))
    // crash window of the compaction swap: state dropped, staging holds
    // the COMPLETE compacted table — the next fold must restore it by
    // rename before folding its own batch
    spark.table(state).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").partitionBy("__bucket").saveAsTable(state + "__staging")
    spark.sql(s"DROP TABLE $state")
    EventStreams.foldSnapshotBatch(
      Seq((999L, "after", "I", 1L)).toDF("k", "v", "op", "ord"),
      1L, state, Seq("k"), "op", Seq("ord"), nBuckets = 4)
    assert(content() == (expected :+ (999L, "after")).sortBy(_._1),
      "compaction crash window must heal to the complete table, then fold")
    assert(!spark.catalog.tableExists(state + "__staging"))
    Seq("", "__staging", "__wm", "__touched", "__fragsrc")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
  }

  test("compaction swap crash between RENAME and MSCK heals at the next fold") {
    import sqlImplicits._
    val state = "stream_cdcmsck_state"
    Seq("", "__staging", "__wm", "__touched", "__compacting")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
    EventStreams.foldSnapshotBatch(
      (1L to 60L).map(i => (i, s"v$i", "I", 1L)).toDF("k", "v", "op", "ord"),
      0L, state, Seq("k"), "op", Seq("ord"), nBuckets = 4)
    def content() = EventStreams.snapshot(spark, state)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = content()
    // simulate compactSnapshot dying between its RENAME and its MSCK:
    // staging written, marker written, state dropped, staging renamed —
    // and NOTHING after (no repair, no refresh, no property re-pin).
    // The table EXISTS, staging is GONE: neither staged-recovery path
    // can fire — only the marker betrays the unfinished swap.
    spark.table(state).repartition(4, col("__bucket"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").partitionBy("__bucket").saveAsTable(state + "__staging")
    graft.sources.Tables.overwriteTable(
      Seq("4").toDF("nbuckets").coalesce(1), state + "__compacting")
    spark.sql(s"DROP TABLE $state")
    spark.sql(s"ALTER TABLE ${state}__staging RENAME TO $state")
    // the simulated crash is the real thing: partition metadata still
    // points at the moved-away staging paths
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(state)
    val staleLocs = spark.sessionState.catalog.listPartitions(ident)
      .flatMap(_.storage.locationUri).map(_.toString)
    assert(staleLocs.exists(_.contains("__staging")),
      s"fixture must reproduce the stale-metadata window (got $staleLocs)")
    // next fold heals: repairs metadata, re-pins nbuckets, folds its batch
    EventStreams.foldSnapshotBatch(
      Seq((999L, "after", "I", 2L)).toDF("k", "v", "op", "ord"),
      1L, state, Seq("k"), "op", Seq("ord"), nBuckets = 4)
    assert(content() == (expected :+ (999L, "after")).sortBy(_._1),
      "fold after the RENAME->MSCK crash window must heal and apply its delta")
    val healedLocs = spark.sessionState.catalog.listPartitions(ident)
      .flatMap(_.storage.locationUri).map(_.toString)
    assert(!healedLocs.exists(_.contains("__staging")),
      "heal must re-point partition metadata at the renamed table")
    assert(!spark.catalog.tableExists(state + "__compacting"), "heal must clear the marker")
    assert(spark.sessionState.catalog.getTableMetadata(ident)
      .properties.get("graft.nbuckets").contains("4"),
      "heal must re-pin the nbuckets property the RENAME lost")
    // ... which keeps the mismatch guard loud
    intercept[IllegalArgumentException] {
      EventStreams.foldSnapshotBatch(
        Seq((5L, "x", "U", 3L)).toDF("k", "v", "op", "ord"),
        2L, state, Seq("k"), "op", Seq("ord"), nBuckets = 8)
    }
    // the full compaction still runs clean on the healed table
    val (_, after) = EventStreams.compactSnapshot(spark, state)
    assert(after == 4 && content() == (expected :+ (999L, "after")).sortBy(_._1))
    // a maintenance-only schedule (no fold between compactions): crash
    // between DROP and RENAME, then call compactSnapshot DIRECTLY — it
    // must restore from staging, finish the marker heal, and compact
    val healed = content()
    spark.table(state).repartition(4, col("__bucket"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").partitionBy("__bucket").saveAsTable(state + "__staging")
    graft.sources.Tables.overwriteTable(
      Seq("4").toDF("nbuckets").coalesce(1), state + "__compacting")
    spark.sql(s"DROP TABLE $state")
    val (_, after2) = EventStreams.compactSnapshot(spark, state)
    assert(after2 == 4 && content() == healed,
      "compactSnapshot entry must restore a DROP->RENAME crash before compacting")
    assert(!spark.catalog.tableExists(state + "__compacting"))
    Seq("", "__staging", "__wm", "__touched", "__compacting")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
  }

  test("fold memos: recovery invalidates a stale watermark memo instead of double-merging") {
    import sqlImplicits._
    val state = "stream_memoinv_state"
    Seq("", "__staging").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
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
    Seq("", "__staging").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
  }

  test("fold memos are evicted by OpCache.clear and rebuild from their tables") {
    import sqlImplicits._
    val state = "stream_memoclear_state"
    Seq("", "__staging", "__wm", "__touched").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
    EventStreams.foldSnapshotBatch(
      Seq((1L, "v1", "I", 1L)).toDF("k", "v", "op", "ord"),
      0L, state, Seq("k"), "op", Seq("ord"), nBuckets = 2)
    EventStreams.foldSnapshotBatch(
      Seq((2L, "v2", "I", 2L)).toDF("k", "v", "op", "ord"),
      1L, state, Seq("k"), "op", Seq("ord"), nBuckets = 2)
    val wms = EventStreams.memoSizes
    assert(wms >= 1, s"folds must populate the watermark memo (got $wms)")
    graft.operators.OpCache.clear()
    assert(EventStreams.memoSizes == 0,
      "OpCache.clear must evict the session-keyed fold memos")
    // correctness after eviction: the watermark re-reads from its
    // table — a replayed id is still a no-op, a new id still folds
    EventStreams.foldSnapshotBatch(
      Seq((999L, "never", "I", 9L)).toDF("k", "v", "op", "ord"),
      1L, state, Seq("k"), "op", Seq("ord"), nBuckets = 2)
    assert(EventStreams.snapshot(spark, state).count() == 2L)
    EventStreams.foldSnapshotBatch(
      Seq((3L, "v3", "I", 3L)).toDF("k", "v", "op", "ord"),
      2L, state, Seq("k"), "op", Seq("ord"), nBuckets = 2)
    assert(EventStreams.snapshot(spark, state).count() == 3L)
    Seq("", "__staging", "__wm", "__touched").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
  }

  test("compaction-marker probe is negative-cached on the steady fold path and invalidated by marker writes") {
    import sqlImplicits._
    val state = "stream_healmemo_state"
    Seq("", "__staging", "__wm", "__touched", "__compacting")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
    graft.operators.OpCache.clear()
    assert(EventStreams.healMemoSize == 0)
    EventStreams.foldSnapshotBatch(
      Seq((1L, "v1", "I", 1L)).toDF("k", "v", "op", "ord"),
      0L, state, Seq("k"), "op", Seq("ord"), nBuckets = 2)
    // the first fold probed once and memoized "marker absent" — the
    // steady-state fold path now skips the per-batch catalog RPC
    assert(EventStreams.healMemoSize >= 1,
      "a clean fold must negative-cache the marker probe")
    EventStreams.foldSnapshotBatch(
      Seq((2L, "v2", "I", 2L)).toDF("k", "v", "op", "ord"),
      1L, state, Seq("k"), "op", Seq("ord"), nBuckets = 2)
    assert(EventStreams.snapshot(spark, state).count() == 2L)
    // an in-JVM marker write (the crash-simulation path writes markers
    // through the generic sink) must drop the negative cache, or the
    // next fold would trust it and skip the heal
    val before = EventStreams.healMemoSize
    graft.sources.Tables.overwriteTable(
      Seq("2").toDF("nbuckets").coalesce(1), state + "__compacting")
    assert(EventStreams.healMemoSize < before || before == 0,
      "a marker write must invalidate the marker-absent memo")
    // ... and the next fold probes again, heals (drops the marker),
    // and re-memoizes absent
    EventStreams.foldSnapshotBatch(
      Seq((3L, "v3", "I", 3L)).toDF("k", "v", "op", "ord"),
      2L, state, Seq("k"), "op", Seq("ord"), nBuckets = 2)
    assert(!spark.catalog.tableExists(state + "__compacting"),
      "the post-invalidation fold must probe and heal the marker")
    assert(EventStreams.snapshot(spark, state).count() == 3L)
    // the OpCache teardown clears this memo with its siblings
    graft.operators.OpCache.clear()
    assert(EventStreams.healMemoSize == 0, "OpCache.clear must evict the heal memo")
    Seq("", "__staging", "__wm", "__touched", "__compacting")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
  }

  test("watermark memo is context-wide: a replay arriving on a different session clone is recognized as applied") {
    import sqlImplicits._
    val state = "stream_wmxs_state"
    Seq("", "__staging", "__wm", "__touched", "__compacting")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
    graft.operators.OpCache.clear()
    // batches 0 and 1 applied on the ROOT session
    EventStreams.foldSnapshotBatch(
      Seq((1L, "v1", "I", 1L)).toDF("k", "v", "op", "ord"),
      0L, state, Seq("k"), "op", Seq("ord"), nBuckets = 2)
    EventStreams.foldSnapshotBatch(
      Seq((1L, "v2", "U", 2L)).toDF("k", "v", "op", "ord"),
      1L, state, Seq("k"), "op", Seq("ord"), nBuckets = 2)
    // the stream-restart shape: batch 1 REPLAYED on a fresh clone.
    // A per-session watermark memo would miss here; worse, a stale
    // OLDER memo on another live clone could re-apply the delta.
    // Context-wide keying makes every clone share one watermark.
    val clone = spark.newSession()
    EventStreams.foldSnapshotBatch(
      clone.sql("SELECT 1 AS k, 'v3-must-not-apply' AS v, 'U' AS op, 2 AS ord")
        .selectExpr("CAST(k AS LONG) k", "v", "op", "CAST(ord AS LONG) ord"),
      1L, state, Seq("k"), "op", Seq("ord"), nBuckets = 2)
    val row = EventStreams.snapshot(spark, state).filter(col("k") === 1L).head()
    assert(row.getString(1) == "v2",
      "a replayed batch id on a clone session must be a no-op, not a re-merge")
    Seq("", "__staging", "__wm", "__touched", "__compacting")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
  }

  test("marker-absent memo is context-wide: a marker appended from a newSession clone invalidates the root session's memo") {
    import sqlImplicits._
    val state = "stream_healxs_state"
    Seq("", "__staging", "__wm", "__touched", "__compacting")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
    graft.operators.OpCache.clear()
    // populate the memo with a clean fold on the ROOT session
    EventStreams.foldSnapshotBatch(
      Seq((1L, "v1", "I", 1L)).toDF("k", "v", "op", "ord"),
      0L, state, Seq("k"), "op", Seq("ord"), nBuckets = 2)
    assert(EventStreams.healMemoSize >= 1)
    val before = EventStreams.healMemoSize
    // write the marker from a DIFFERENT session object sharing the
    // same context/catalog: a per-session memo key would miss this
    // invalidation and the root session's next fold would skip the heal
    val clone = spark.newSession()
    graft.sources.Tables.overwriteTable(
      clone.sql("SELECT '2' AS nbuckets"), state + "__compacting")
    assert(clone ne spark)
    assert(EventStreams.healMemoSize < before,
      "a clone-session write of the marker must drop the root session's marker-absent memo")
    // the root session's next fold must probe again, heal the marker,
    // and apply the batch through repaired partition metadata
    EventStreams.foldSnapshotBatch(
      Seq((2L, "v2", "I", 2L)).toDF("k", "v", "op", "ord"),
      1L, state, Seq("k"), "op", Seq("ord"), nBuckets = 2)
    assert(!spark.catalog.tableExists(state + "__compacting"),
      "the post-invalidation fold on the root session must heal the clone-written marker")
    assert(EventStreams.snapshot(spark, state).count() == 2L)
    Seq("", "__staging", "__wm", "__touched", "__compacting")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $state$x"))
  }
}
