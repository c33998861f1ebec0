package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

/** Run-wide settings, parsed from the command line. */
final class Ctx(
    val workload: String,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val work: File,
    val repo: File,
    val corrupt: Boolean,
    val genOnly: Boolean) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  val inputs = new File(work, "inputs")

  /** Set while the measured window is open. */
  @volatile var measuring = false

  /** With `--corrupt`, every output observed in the measured window is
    * damaged before it is checked, so every operation must count as
    * failed.
    */
  private def damage = corrupt && measuring
  def tamper(rows: Array[Row]): Array[Row] =
    if (!damage) rows else if (rows.isEmpty) Array(Row("corrupt")) else rows.drop(1)
  def tamper(x: Long): Long = if (damage) x + 1 else x
  def tamper(x: Double): Double = if (damage) x * 1.5 + 1 else x
}

/** Latency samples and failure counts of the measured window. */
final class Stats {
  private val lat = ArrayBuffer.empty[(String, Double)]
  private var itemsDone = 0L
  private var lastEnd = 0L
  var attempted = 0
  var failed = 0

  def ok(seconds: Double, items: Long, group: String = ""): Unit = synchronized {
    lat += group -> seconds; itemsDone += items; attempted += 1; lastEnd = System.nanoTime()
  }
  def fail(): Unit = synchronized { attempted += 1; failed += 1 }
  def latencies(group: String = null): Seq[Double] =
    synchronized(lat.filter(g => group == null || g._1 == group).map(_._2).toList)
  def items: Long = synchronized(itemsDone)
  def end: Long = synchronized(lastEnd)
}

object Stat {
  /** Quantile with linear interpolation between closest ranks. */
  def q(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
}

/** One benchmark workload: seeded input generation (untimed), a set-up
  * that is timed together with the session start, and a closed measured
  * loop.
  */
abstract class Workload(val ctx: Ctx) {
  val stats = new Stats

  /** Writes the seeded inputs (untimed) and returns their directories. */
  def generate(spark: SparkSession): Seq[File]
  /** The workload's state plus its first (cold) executions, checked. */
  def setup(spark: SparkSession): Unit
  def measure(spark: SparkSession, deadline: Long): Unit
  /** Releases what the set-up left in a session before it stops. */
  def teardown(spark: SparkSession): Unit = graft.etl.CityBike.clearMemo()
  /** Per-layer metrics specific to this workload (traced runs only). */
  def layers(spark: SparkSession, c: Counters, ops: Int): Map[String, Double]

  protected def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Whether result checks run Spark jobs (then they are kept out of
    * the runtime counters; only single-client workloads may say so).
    */
  protected def checksRunSpark: Boolean = false

  /** Times `run` as one operation. A throw or a failed check counts the
    * operation as failed; its time is never a latency sample. The check
    * runs outside the timed region.
    */
  protected def operation[A](span: String, items: Long, group: String = "")(run: => A)(
      check: A => Option[String]): Option[A] = {
    val t0 = System.nanoTime()
    val res = try Right(Trace.span(span)(run)) catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    res match {
      case Right(v) =>
        def checked = try check(v) catch { case NonFatal(e) => Some(s"check threw $e") }
        val problem = if (checksRunSpark) Counters.excluded(checked) else checked
        problem match {
          case None => stats.ok(dt, items, group); Some(v)
          case Some(p) => stats.fail(); log(s"$span failed its check: $p"); None
        }
      case Left(e) =>
        stats.fail(); log(s"$span threw: $e"); None
    }
  }
}

object Main {

  val WorkloadNames = Seq("citybike_load", "warehouse_queries", "corpus_curation", "event_fold")

  def parse(argv: Array[String]): Ctx = {
    val m = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def flag(k: String) = argv.contains(s"--$k")
    val wl = m.getOrElse("workload", sys.error("--workload is required"))
    require(WorkloadNames.contains(wl), s"unknown workload $wl; expected one of ${WorkloadNames.mkString(", ")}")
    new Ctx(wl, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", new File(m("work")), new File(m("repo")),
      flag("corrupt"), flag("gen-only"))
  }

  def session(ctx: Ctx): SparkSession = {
    val dir = new File(ctx.work, "spark")
    val s = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName(s"perfbench-${ctx.workload}")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(dir, "local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(ctx: Ctx): Workload = ctx.workload match {
    case "citybike_load" => new CityBikeLoad(ctx)
    case "warehouse_queries" => new WarehouseQueries(ctx)
    case "corpus_curation" => new CorpusCuration(ctx)
    case "event_fold" => new EventFold(ctx)
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def main(argv: Array[String]): Unit = {
    val ctx = parse(argv)
    Trace.enabled = ctx.trace
    val wl = workload(ctx)

    val start = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    def phase(what: String): Unit = log(f"$what at ${since(start)}%.1f s")
    val spark = session(ctx)
    val sessionS = since(start)
    phase("session up")
    val inputDirs = wl.generate(spark)
    phase("inputs generated")
    if (ctx.genOnly) {
      wl.teardown(spark)
      spark.stop()
      println(s"""{"inputs_sha256": "${Inputs.digest(inputDirs)}"}""")
      return
    }
    // set-up time: the session start (JVM start excluded) plus the
    // workload's set-up with its cold first executions; the input
    // generation in between is not counted
    val setupStart = System.nanoTime()
    wl.setup(spark)
    val setupS = sessionS + since(setupStart)
    phase("set up")

    val counters = new Counters
    if (ctx.trace) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    Trace.clear()
    if (ctx.trace) Counters.start(spark.sparkContext, counters)
    val gc0 = gcSeconds
    val t0 = System.nanoTime()
    ctx.measuring = true
    wl.measure(spark, t0 + (ctx.seconds * 1e9).toLong)
    ctx.measuring = false
    Counters.stop()
    val s = wl.stats
    val window = math.max(1e-9, (math.max(s.end, t0) - t0) / 1e9)
    val lat = s.latencies()
    phase("measured")

    val metrics: Seq[(String, Double, String)] =
      if (!ctx.trace) {
        // what stays reachable once the workload released its state and
        // every cached table: engine-side memos and leaks
        wl.teardown(spark)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        // the context cleaner drops broadcasts and shuffles only after a
        // GC showed them unreachable: collect and let it run until two
        // rounds in a row free less than 0.5 MB (a slow host needs more)
        def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
        var heap = Double.MaxValue
        var stable = 0
        for (_ <- 0 until 12 if stable < 2) {
          System.gc()
          Thread.sleep(200)
          stable = if (heap - used < 0.5) stable + 1 else 0
          heap = used
        }
        Seq(
          ("op_s_p50", Stat.median(lat), "s"),
          ("items_per_s", s.items / window, "1/s"),
          ("setup_s", setupS, "s"),
          ("heap_retained_mb", heap, "MB"))
      } else {
        val ops = math.max(1, s.attempted)
        val specific = wl.layers(spark, counters, ops)
        val wallCores = window * ctx.cores
        val common = Map(
          "spark.jobs" -> counters.jobs.get.toDouble / ops,
          "spark.tasks" -> counters.tasks.get.toDouble / ops,
          "spark.task_wait_s" -> counters.taskWaitMs.get / 1e3 / ops,
          "spark.core_busy_frac" -> counters.taskRunMs.get / 1e3 / wallCores,
          "spark.task_cpu_s" -> counters.taskCpuNs.get / 1e9 / ops,
          "spark.gc_s" -> (gcSeconds - gc0) / ops,
          "spark.shuffle_write_bytes" -> counters.shuffleWrite.get.toDouble / ops,
          "spark.shuffle_read_bytes" -> counters.shuffleRead.get.toDouble / ops,
          "spark.spill_bytes" -> counters.spill.get.toDouble / ops,
          "sources.scan_bytes" -> counters.bytesRead.get.toDouble / ops,
          "sources.bytes_written" -> counters.bytesWritten.get.toDouble / ops)
        Trace.dump(System.err)
        Layers.all.map { case (name, unit) =>
          (name, specific.getOrElse(name, common.getOrElse(name, 0.0)), unit)
        }
      }
    wl.teardown(spark)
    spark.stop()
    phase("stopped")

    val body = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    log(f"attempted=${s.attempted} failed=${s.failed} window=$window%.2fs " +
      f"setup=$setupS%.2fs ops=${lat.map(x => f"$x%.2f").mkString("/")}")
    println(s"""{"correct": ${s.failed == 0 && s.attempted > 0}, "attempted": ${s.attempted}, """ +
      s""""failed": ${s.failed}, "metrics": {$body}}""")
    // the session is stopped and the scratch directory is removed by the
    // caller: skip the JVM's shutdown hooks
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(0)
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** The per-layer metrics every traced run reports (the `per_layer` list
  * of BENCHMARK.json). A layer the workload does not exercise reports 0.
  */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "sources.csv_parse_s" -> "s", "sources.write_s" -> "s", "sources.bytes_written" -> "bytes",
    "sources.files_written" -> "count", "sources.scan_bytes" -> "bytes",
    "etl.build_plan_s" -> "s", "etl.member_dim_s" -> "s", "etl.rideable_dim_s" -> "s",
    "etl.station_dim_s" -> "s", "etl.date_dim_s" -> "s", "etl.fact_s" -> "s",
    "etl.shuffle_bytes_per_row" -> "bytes",
    "plans.haversine_rows_per_s" -> "1/s", "functions.surrogate_key_rows_per_s" -> "1/s",
    "queries.plan_s_p50" -> "s", "queries.exec_s_p50" -> "s", "queries.wait_s_p50" -> "s",
    "queries.cb_s_p50" -> "s", "queries.core_s_p50" -> "s", "queries.query_s_p90" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_wait_s" -> "s",
    "spark.core_busy_frac" -> "frac", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "plans.tokens_rows_per_s" -> "1/s", "plans.dot_rows_per_s" -> "1/s",
    "operators.exact_s" -> "s", "operators.minhash_lsh_s" -> "s", "operators.simhash_s" -> "s",
    "operators.setjoin_s" -> "s", "operators.quality_s" -> "s", "operators.langid_s" -> "s",
    "operators.cosine_topk_s" -> "s", "operators.ivf_s" -> "s", "operators.pq_s" -> "s",
    "operators.ivfpq_s" -> "s", "operators.semdedup_s" -> "s",
    "operators.lsh_candidates" -> "count", "operators.lsh_precision" -> "frac",
    "operators.setjoin_pairs" -> "count", "operators.ann_recall" -> "frac",
    "opcache.persisted_tables" -> "count", "opcache.storage_mb" -> "MB",
    "streaming.rollup_fold_s" -> "s", "streaming.snapshot_fold_s" -> "s", "streaming.compact_s" -> "s",
    "streaming.sql_execs_per_batch" -> "count", "streaming.state_rows" -> "count",
    "streaming.state_files" -> "count")
}
