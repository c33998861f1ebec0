package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.CityBike
import graft.functions.CoreFunctions.{haversineKm, surrogateKey}
import graft.functions.TextFunctions.tokens
import graft.functions.VectorFunctions.{dot, toDoubleVec}
import graft.operators.{Dedup, SetJoin, Similarity, TextAnalysis}
import graft.sources.Tables
import graft.streaming.EventStreams

/** Helpers shared by the workloads. */
object Check {

  /** Order-insensitive digest of a result: row count plus the sum of
    * per-row hashes. Floating values enter with 7 significant digits,
    * so re-running a query whose sums associate differently still
    * matches, while a changed value does not.
    */
  def digest(rows: Array[Row]): (Int, Long) = {
    def norm(v: Any): String = v match {
      case null => "∅"
      case d: Double => if (d.isNaN) "NaN" else f"$d%.7g"
      case f: Float => f"${f.toDouble}%.7g"
      case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("{", ",", "}")
      case x => x.toString
    }
    var sum = 0L
    rows.foreach { r =>
      val s = r.toSeq.map(norm).mkString("\u0001")
      val h = (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 91).toLong & 0xFFFFFFFFL)
      sum += h
    }
    (rows.length, sum)
  }

  def expect(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  def all(checks: Option[String]*): Option[String] = checks.flatten.headOption

  /** Repeats `f` and returns rows per second over the median time. */
  def rate(rows: Long, reps: Int = 3)(f: => Any): Double = {
    val ts = (0 until reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    rows / Stat.median(ts)
  }

  def fixture(ctx: Ctx): File = {
    val f = new File(ctx.repo, "src/test/resources/citybike_rides.csv.gz")
    require(f.isFile, s"Citi Bike fixture not found at $f")
    f
  }

  def filesUnder(dir: File, suffix: String): Int =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.map(f =>
      if (f.isDirectory) filesUnder(f, suffix) else if (f.getName.endsWith(suffix)) 1 else 0).sum
    else 0
}

// ===================================================================
// citybike_load: the paper's ETL — CSV → 4 dimensions + 6-join fact →
// table sinks, on a fresh input every iteration.
// ===================================================================

/** Expected star-schema figures, recomputed from the CSV text itself. */
final case class LoadExpect(rows: Long, members: Long, rideables: Long, stations: Long,
    dates: Long, durationSum: Long, distanceSum: Double)

object LoadExpect {
  private def micros(s: String): Option[Long] =
    if (s.isEmpty) None
    else {
      val (main, frac) = s.indexOf('.') match {
        case -1 => (s, "")
        case i => (s.substring(0, i), s.substring(i + 1))
      }
      val t = java.time.LocalDateTime.parse(main.replace(' ', 'T'))
      val us = (frac + "000000").take(6).toLong
      Some(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + us)
    }
  private def num(s: String): Option[Double] = if (s.isEmpty) None else Some(s.toDouble)
  private def str(s: String): Option[String] = if (s.isEmpty) None else Some(s)

  def of(dir: File): LoadExpect = {
    val members, rideables = mutable.HashSet.empty[Option[String]]
    val stations = mutable.HashSet.empty[(Option[String], Option[Double], Option[Double])]
    val dates = mutable.HashSet.empty[Option[Long]]
    var rows = 0L; var dur = 0L; var dist = 0.0
    dir.listFiles().filter(_.getName.endsWith(".csv")).sortBy(_.getName).foreach { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().drop(1).filter(_.nonEmpty).foreach { line =>
        val c = line.split(";", -1)
        rows += 1
        rideables += str(c(1)); members += str(c(12))
        stations += ((str(c(4)), num(c(8)), num(c(9))))
        stations += ((str(c(6)), num(c(10)), num(c(11))))
        val (s, e) = (micros(c(2)), micros(c(3)))
        dates += s; dates += e
        for (a <- s; b <- e) dur += ((b - a).toDouble / 1e6).toInt
        for (la1 <- num(c(8)); lo1 <- num(c(9)); la2 <- num(c(10)); lo2 <- num(c(11)))
          dist += 2.0 * 6371.0 * math.asin(math.sqrt(
            math.pow(math.sin(math.toRadians(la2 - la1) / 2), 2) +
              math.cos(math.toRadians(la1)) * math.cos(math.toRadians(la2)) *
                math.pow(math.sin(math.toRadians(lo2 - lo1) / 2), 2)))
      } finally src.close()
    }
    LoadExpect(rows, members.size, rideables.size, stations.size, dates.size, dur, dist)
  }
}

final class CityBikeLoad(ctx: Ctx) extends Workload(ctx) {
  /** Inputs for the measured window; one more is parsed in the set-up. */
  val Pool: Int = math.max(1, (ctx.seconds / 4).ceil.toInt)
  private val dirs = (0 to Pool).map(i => new File(ctx.inputs, s"rides_$i"))
  private val expected = mutable.Map.empty[Int, LoadExpect]
  private var next = 0

  def generate(spark: SparkSession): Seq[File] = {
    val fx = Inputs.readFixture(Check.fixture(ctx))
    dirs.zipWithIndex.foreach { case (d, i) =>
      Inputs.writeRides(fx, d, ctx.seed, i, ctx.cores)
      expected(i) = LoadExpect.of(d)
    }
    dirs
  }

  override protected def checksRunSpark = true

  private val sinks = Seq("member_dimension", "rideable_dimension", "station_dimension",
    "date_dimension", "ride_fact")

  /** One load: release the previous warehouse, build the plan, parse,
    * and write the five tables through the engine's table sink.
    */
  private def load(spark: SparkSession, input: Int): Unit = {
    CityBike.clearMemo()
    val wh = Trace.span("etl.build_plan")(CityBike.build(spark, dirs(input).getPath))
    // forces the persisted raw scan the dimension builds share
    Trace.span("sources.csv_parse")(wh.rides.count())
    Trace.span("etl.member_dim")(Tables.overwriteTable(wh.memberDim, sinks(0)))
    Trace.span("etl.rideable_dim")(Tables.overwriteTable(wh.rideableDim, sinks(1)))
    Trace.span("etl.station_dim")(Tables.overwriteTable(wh.stationDim, sinks(2)))
    Trace.span("etl.date_dim")(Tables.overwriteTable(wh.dateDim, sinks(3)))
    Trace.span("etl.fact")(Tables.overwriteTable(wh.fact, sinks(4)))
  }

  /** Compares the written tables with the figures recomputed from the CSV. */
  private def verify(spark: SparkSession, input: Int): Option[String] = {
    val e = expected(input)
    def n(t: String) = ctx.tamper(spark.table(t).count())
    val f = spark.table("ride_fact").agg(count(lit(1)), sum("trip_duration"), sum("distance")).head()
    val distance = ctx.tamper(f.getDouble(2))
    Check.all(
      Check.expect("member_dimension rows", n(sinks(0)), e.members),
      Check.expect("rideable_dimension rows", n(sinks(1)), e.rideables),
      Check.expect("station_dimension rows", n(sinks(2)), e.stations),
      Check.expect("date_dimension rows", n(sinks(3)), e.dates),
      Check.expect("ride_fact rows", ctx.tamper(f.getLong(0)), e.rows),
      Check.expect("ride_fact trip_duration sum", f.getLong(1), e.durationSum),
      if (math.abs(distance - e.distanceSum) <= 1e-9 * math.abs(e.distanceSum) + 1e-6) None
      else Some(s"ride_fact distance sum: got $distance, expected ${e.distanceSum}"))
  }

  /** The plan and the parsed raw scan of the set-up input, checked.
    * The first full load runs in the measured window: the paper's ETL
    * is a batch job, and each refresh starts a fresh application that
    * pays the cold start of every step.
    */
  def setup(spark: SparkSession): Unit = {
    val rows = CityBike.build(spark, dirs(Pool).getPath).rides.count()
    require(rows == expected(Pool).rows, s"set-up input parses to $rows rows, expected ${expected(Pool).rows}")
  }

  def measure(spark: SparkSession, deadline: Long): Unit =
    while (System.nanoTime() < deadline) {
      val input = next % Pool
      next += 1
      Trace.withOp(spark.sparkContext, s"load$next") {
        operation("op.load", expected(input).rows)(load(spark, input))(_ => verify(spark, input))
      }
    }

  def layers(spark: SparkSession, c: Counters, ops: Int): Map[String, Double] = {
    val rows = stats.items.max(1L)
    val raw = CityBike.readRides(spark, dirs(0).getPath).cache()
    val n = raw.count()
    val hav = Check.rate(n)(raw.select(haversineKm(col("start_lat"), col("start_lng"),
      col("end_lat"), col("end_lng")).as("d")).agg(sum("d")).collect())
    val key = Check.rate(n)(raw.select(surrogateKey(col("ride_id")).as("k"))
      .agg(sum(hash(col("k")))).collect())
    raw.unpersist()
    def per(span: String) = Trace.total(span) / ops
    Map(
      "sources.csv_parse_s" -> per("sources.csv_parse"),
      "sources.write_s" -> c.writeNs.get / 1e9 / ops,
      "sources.files_written" -> Check.filesUnder(
        new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")), ".parquet").toDouble,
      "etl.build_plan_s" -> per("etl.build_plan"),
      "etl.member_dim_s" -> per("etl.member_dim"),
      "etl.rideable_dim_s" -> per("etl.rideable_dim"),
      "etl.station_dim_s" -> per("etl.station_dim"),
      "etl.date_dim_s" -> per("etl.date_dim"),
      "etl.fact_s" -> per("etl.fact"),
      "etl.shuffle_bytes_per_row" -> c.shuffleWrite.get.toDouble / rows,
      "plans.haversine_rows_per_s" -> hav,
      "functions.surrogate_key_rows_per_s" -> key)
  }
}

// ===================================================================
// warehouse_queries: two clients drawing from 12 declared queries that
// carry an oracle — cb01–cb08 over the star schema, 4 of q01–q40 over
// TPC-H-shaped tables.
// ===================================================================

final class WarehouseQueries(ctx: Ctx) extends Workload(ctx) {
  val Clients = 2
  private val rides = new File(ctx.inputs, "rides")
  private val tables = new File(ctx.inputs, "tables")
  private val refDir = new File(ctx.work, "ref")

  /** The eight star-schema queries and four TPC-H-shaped ones — the
    * aggregation, window, measure and grouping-set shapes a BI front end
    * issues beside the star joins. Each first execution is cold
    * (seconds), so the set is kept to what one reference pass can warm
    * within a run's time budget.
    */
  val Core = Seq("q02", "q12", "q18", "q26")
  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val oracles = graft.SparkEntry.oracleSql.keySet
    graft.SparkEntry.queries.toSeq
      .filter { case (n, _) => oracles(n) && (n.matches("cb0[1-8]_.*") || Core.contains(n.take(3))) }
      .sortBy(_._1)
  }
  private val refs = new java.util.concurrent.ConcurrentHashMap[String, (Int, Long)]()
  private val refRows = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  def generate(spark: SparkSession): Seq[File] = {
    val fx = Inputs.readFixture(Check.fixture(ctx))
    // a quarter of the fixture: the star schema stays small and the
    // queries over it planning-bound
    Inputs.writeRides(fx.copy(rows = fx.rows.take(fx.rows.length / 4)), rides, ctx.seed, 0, ctx.cores)
    Inputs.writeTables(spark, tables, ctx.seed)
    Seq(rides, tables)
  }

  /** The cb queries build the star schema from the engine's default
    * fixture path. Binding the generated input's warehouse under that
    * key lets them run unchanged over the seeded rides.
    */
  private def bindWarehouse(spark: SparkSession): CityBike.Warehouse = {
    val wh = CityBike.build(spark, rides.getPath)
    val field = CityBike.getClass.getDeclaredFields.find(_.getName.endsWith("memo"))
      .getOrElse(sys.error("CityBike warehouse memo not found"))
    field.setAccessible(true)
    val memo = field.get(CityBike)
      .asInstanceOf[java.util.WeakHashMap[SparkSession, mutable.Map[String, CityBike.Warehouse]]]
    memo.synchronized(memo.get(spark).put(CityBike.DefaultCsvPath, wh))
    wh
  }

  /** Binds the star-schema plan over the seeded rides, then runs every
    * query once, `cores` at a time; each result becomes the reference
    * later runs must match (and, after the window, the input of the
    * oracle comparison).
    */
  def setup(spark: SparkSession): Unit = {
    CityBike.clearMemo()
    bindWarehouse(spark)
    refDir.mkdirs()
    val csvs = rides.listFiles().filter(_.getName.endsWith(".csv")).map(_.getAbsolutePath).sorted
    val oracles = graft.SparkEntry.oracleSql
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.fromExecutor(pool)
    val jobs = queries.map { case (name, run) => scala.concurrent.Future {
      try {
        val df = run(spark, tables.getPath)
        val rows = df.collect()
        refs.put(name, Check.digest(rows))
        refRows.put(name, spark.createDataFrame(rows.toSeq.asJava, df.schema))
      } catch {
        case scala.util.control.NonFatal(e) => log(s"reference run of $name threw: $e")
      }
      // the oracle reads the rides as the table `rides`, loaded once
      val sql = oracles(name)
        .replace(s"read_csv('${CityBike.DefaultCsvPath}', delim=';', header=true)", "rides")
        .replace(s"'${CityBike.DefaultCsvPath}'", csvs.map(p => s"'$p'").mkString("[", ", ", "]"))
      s"${jsonString(name)}: ${jsonString(sql)}"
    }}
    val json = scala.concurrent.Await.result(scala.concurrent.Future.sequence(jobs), scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    val w = new java.io.PrintWriter(new File(refDir, "oracle.json"), "UTF-8")
    try w.print(json.mkString("{\n", ",\n", "\n}")) finally w.close()
  }

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** The clients take turns drawing from one seeded sequence of
    * permutations of the queries, until the window closed and at least
    * one whole permutation was run: every run samples every query.
    */
  def measure(spark: SparkSession, deadline: Long): Unit = {
    val r = Inputs.rng(ctx.seed, 4000L)
    var drawn = 0
    var order = IndexedSeq.empty[Int]
    def draw(): Option[Int] = synchronized {
      if (System.nanoTime() >= deadline && drawn >= queries.size) None
      else {
        if (drawn % queries.size == 0) {
          val idx = queries.indices.toArray
          for (k <- idx.length - 1 to 1 by -1) { val j = r.nextInt(k + 1); val t = idx(k); idx(k) = idx(j); idx(j) = t }
          order = idx.toIndexedSeq
        }
        drawn += 1
        Some(order((drawn - 1) % queries.size))
      }
    }
    val threads = (0 until Clients).map { client =>
      new Thread(() => {
        var i = 0
        var next = draw()
        while (next.isDefined) {
          val (name, run) = queries(next.get)
          i += 1
          counts.merge(name, 1, (a, b) => a + b)
          val group = if (name.startsWith("cb")) "cb" else "core"
          Trace.withOp(spark.sparkContext, s"c$client.$i.$name") {
            operation("op.query", 1, group) {
              val df = Trace.span("queries.build")(run(spark, tables.getPath))
              Trace.span("queries.plan")(df.queryExecution.executedPlan)
              Trace.span("queries.exec")(df.collect())
            } { rows =>
              Option(refs.get(name)) match {
                case None => Some(s"$name has no reference result")
                case Some(ref) => Check.expect(name, Check.digest(ctx.tamper(rows)), ref)
              }
            }
          }
          next = draw()
        }
      }, s"perfbench-client-$client")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    // the reference results, for the oracle comparison after the run
    Counters.excluded {
      import scala.concurrent.ExecutionContext.Implicits.global
      val writes = refRows.asScala.toSeq.map { case (name, df) => scala.concurrent.Future(
        df.coalesce(1).write.mode("overwrite").parquet(new File(refDir, name).getPath)) }
      writes.foreach(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    }
    refRows.clear()
    val w = new java.io.PrintWriter(new File(refDir, "counts.json"), "UTF-8")
    try w.print(counts.asScala.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"))
    finally w.close()
  }

  def layers(spark: SparkSession, c: Counters, ops: Int): Map[String, Double] = {
    val waits = c.jobWaitByOp.values.toSeq
    Map(
      "queries.plan_s_p50" -> Stat.median(Trace.durations("queries.plan")),
      "queries.exec_s_p50" -> Stat.median(Trace.durations("queries.exec")),
      "queries.wait_s_p50" -> Stat.median(waits),
      "queries.cb_s_p50" -> Stat.median(stats.latencies("cb")),
      "queries.core_s_p50" -> Stat.median(stats.latencies("core")),
      "queries.query_s_p90" -> Stat.q(stats.latencies(), 0.9))
  }
}

// ===================================================================
// corpus_curation: the LLM-data operator chain on a fresh shard per
// iteration — dedup (exact, MinHash-LSH, SimHash), Jaccard set-join,
// quality and language ID, exact and ANN top-k, semantic dedup.
// ===================================================================

final class CorpusCuration(ctx: Ctx) extends Workload(ctx) {
  val Docs = 500
  val Vecs = 500
  /** Shards for the measured window; one chain takes over ten seconds. */
  val Pool: Int = math.max(1, (ctx.seconds / 10).ceil.toInt)
  val K = 5
  val QueryMod = 20
  val JoinT = 0.6
  val SemCos = 0.95
  /** PQ subspaces: each trains its own codebook, a few Spark jobs apiece. */
  val PqSub = 4
  /** Recall@K floor for every ANN operator; far below what they reach. */
  val RecallFloor = 0.3

  private final class Expect(
      val shard: Inputs.Shard, val distinctTexts: Int, val dupPairs: Set[(Long, Long)],
      val joinPairs: Set[(Long, Long)], val shingles: Map[Long, Set[String]],
      val vecs: Map[Long, Array[Double]], val exactTop1: Map[Long, Double])

  private val dirs = (0 until Pool).map(i => new File(ctx.inputs, s"shard_$i"))
  private val expected = mutable.Map.empty[Int, Expect]
  private var next = 0
  private val lshCandidates, lshPrecision, joinPairs, recall, persisted, storageMb =
    mutable.ArrayBuffer.empty[Double]

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  private def expect(s: Inputs.Shard): Expect = {
    val docs = s.docs
    val byText = docs.groupBy(_.text)
    val dup = byText.values.flatMap(g => for (a <- g.toSeq; b <- g.toSeq if a.id < b.id) yield (a.id, b.id)).toSet
    // exact distinct-token Jaccard ≥ t over token-id bitsets
    val vocab = mutable.HashMap.empty[String, Int]
    val sets = docs.map { d =>
      val bs = new java.util.BitSet()
      d.text.split(' ').filter(_.nonEmpty).foreach(t => bs.set(vocab.getOrElseUpdate(t, vocab.size)))
      bs
    }
    val sizes = sets.map(_.cardinality())
    val tq = math.round(JoinT * 1e6)
    val join = mutable.HashSet.empty[(Long, Long)]
    for (i <- docs.indices; j <- i + 1 until docs.length) {
      val inter = { val x = sets(i).clone().asInstanceOf[java.util.BitSet]; x.and(sets(j)); x.cardinality() }
      val union = sizes(i) + sizes(j) - inter
      if (inter.toLong * 1000000L >= tq * union) {
        val (a, b) = (docs(i).id, docs(j).id)
        join += ((math.min(a, b), math.max(a, b)))
      }
    }
    val sh = docs.map { d =>
      val t = d.text.split(' ').filter(_.nonEmpty)
      d.id -> t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.toMap
    val vecs = s.vecs.map(v => v.id -> v.v.map(_.toDouble)).toMap
    val top1 = s.vecs.filter(_.id % QueryMod == 0).map { q =>
      q.id -> s.vecs.filter(_.id != q.id).map(o => cosine(vecs(q.id), vecs(o.id))).max
    }.toMap
    new Expect(s, byText.size, dup, join.toSet, sh, vecs, top1)
  }

  def generate(spark: SparkSession): Seq[File] = {
    dirs.zipWithIndex.foreach { case (d, i) =>
      val s = Inputs.shard(ctx.seed, i, Docs, Vecs)
      Inputs.writeShard(spark, s, d, ctx.cores)
      expected(i) = expect(s)
    }
    dirs
  }

  private final class Out(val exact: Array[Row], val lsh: Array[Row], val sim: Array[Row],
      val join: Array[Row], val quality: Array[Row], val lang: Array[Row], val cos: Array[Row],
      val ann: Seq[(String, Array[Row])], val sem: Array[Row])

  /** The text operators read only the documents and the vector
    * operators only the embeddings, so the chain runs the two branches
    * side by side, as a curation job would.
    */
  private def chain(spark: SparkSession, i: Int): Out = {
    val docs = spark.read.parquet(new File(dirs(i), "documents.parquet").getPath)
    val emb = spark.read.parquet(new File(dirs(i), "embeddings.parquet").getPath)
    val vectors = Trace.fork {
      (Trace.span("operators.cosine_topk")(Similarity.cosineTopK(emb, K, QueryMod).collect()),
        Seq(
          "ivf" -> Trace.span("operators.ivf")(Similarity.ivfTopK(emb, K, QueryMod).collect()),
          "pq" -> Trace.span("operators.pq")(Similarity.pqTopK(emb, K, QueryMod, m = PqSub).collect()),
          "ivfpq" -> Trace.span("operators.ivfpq")(
            Similarity.ivfPqTopK(emb, K, QueryMod, nProbes = 4, m = PqSub).collect())),
        Trace.span("operators.semdedup")(Similarity.semanticDupPairs(emb, SemCos).collect()))
    }
    val exact = Trace.span("operators.exact")(Dedup.exact(docs).collect())
    val lsh = Trace.span("operators.minhash_lsh")(Dedup.minhashLshPairs(docs).collect())
    val sim = Trace.span("operators.simhash")(Dedup.simhashPairs(docs).collect())
    val join = Trace.span("operators.setjoin")(SetJoin.jaccardJoin(docs, JoinT).collect())
    val quality = Trace.span("operators.quality")(TextAnalysis.qualityMetrics(docs).collect())
    val lang = Trace.span("operators.langid")(TextAnalysis.languageId(docs).collect())
    val (cos, ann, sem) = vectors()
    new Out(exact, lsh, sim, join, quality, lang, cos, ann, sem)
  }

  private def pairs(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet

  private def verify(i: Int, o: Out): Option[String] = {
    val e = expected(i)
    val n = e.shard.docs.length
    val exact = ctx.tamper(o.exact)
    val lsh = pairs(ctx.tamper(o.lsh))
    val sim = pairs(o.sim)
    val join = pairs(o.join)
    val lshTrue = lsh.count { case (a, b) =>
      val (x, y) = (e.shingles(a), e.shingles(b))
      x.nonEmpty && (x & y).size.toDouble / (x | y).size >= 0.5
    }
    lshCandidates += lsh.size
    lshPrecision += (if (lsh.isEmpty) 1.0 else lshTrue.toDouble / lsh.size)
    joinPairs += join.size
    def knn(rows: Array[Row]) = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val truth = knn(o.cos)
    val cosOk = o.cos.filter(_.getAs[Int]("rank") == 1).forall { r =>
      math.abs(r.getAs[Double]("cosine") - e.exactTop1(r.getAs[Long]("query_id"))) <= 1e-3
    }
    val annBad = o.ann.flatMap { case (name, rows) =>
      val rec = if (truth.isEmpty) 1.0 else (knn(rows) & truth).size.toDouble / truth.size
      recall += rec
      val wrongCos = rows.exists { r =>
        val (q, nb) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
        math.abs(r.getAs[Double]("cosine") - cosine(e.vecs(q), e.vecs(nb))) > 1e-3
      }
      if (wrongCos) Some(s"$name returned a neighbour with a wrong cosine")
      else if (rec < RecallFloor) Some(f"$name recall@$K $rec%.3f below $RecallFloor")
      else None
    }
    val semBad = o.sem.exists { r =>
      cosine(e.vecs(r.getAs[Long]("vec_a")), e.vecs(r.getAs[Long]("vec_b"))) < SemCos - 1e-3
    }
    Check.all(
      Check.expect("exact dedup groups", exact.length, e.distinctTexts),
      Check.expect("exact dedup copies", exact.map(_.getAs[Long]("n_copies")).sum, n.toLong),
      if (e.dupPairs.subsetOf(lsh)) None else Some("MinHash-LSH missed an exact duplicate pair"),
      if (e.dupPairs.subsetOf(sim)) None else Some("SimHash missed an exact duplicate pair"),
      Check.expect("set-join pairs", join, e.joinPairs),
      Check.expect("quality rows", o.quality.length, n),
      Check.expect("language-id rows", o.lang.length, n),
      if (cosOk && truth.nonEmpty) None else Some("exact cosine top-1 differs from brute force"),
      annBad.headOption,
      if (semBad) Some("semantic dedup returned a pair below its cosine threshold") else None)
  }

  /** The first scan of a shard's two tables, checked. The chain itself
    * runs only in the measured window: its first shard pays the cold
    * start of every operator (a chain takes seconds even when warm, and
    * a warm-up chain does not fit the run budget).
    */
  def setup(spark: SparkSession): Unit = {
    val e = expected(0)
    val docs = spark.read.parquet(new File(dirs(0), "documents.parquet").getPath).collect()
    val emb = spark.read.parquet(new File(dirs(0), "embeddings.parquet").getPath).collect()
    require(docs.length == e.shard.docs.length && emb.length == e.shard.vecs.length,
      s"shard 0 reads back ${docs.length} documents and ${emb.length} embeddings")
  }

  def measure(spark: SparkSession, deadline: Long): Unit =
    while (System.nanoTime() < deadline) {
      val i = next % Pool
      next += 1
      Trace.withOp(spark.sparkContext, s"shard$next") {
        operation("op.curate", expected(i).shard.docs.length.toLong)(chain(spark, i))(o => verify(i, o))
      }
      val sc = spark.sparkContext
      persisted += sc.getPersistentRDDs.size
      storageMb += sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
    }

  def layers(spark: SparkSession, c: Counters, ops: Int): Map[String, Double] = {
    val docs = spark.read.parquet(new File(dirs(0), "documents.parquet").getPath).cache()
    val emb = spark.read.parquet(new File(dirs(0), "embeddings.parquet").getPath)
      .select(toDoubleVec(col("embedding")).as("v")).cache()
    val (nd, ne) = (docs.count(), emb.count())
    val tok = Check.rate(nd)(docs.select(size(tokens(col("text"))).as("n")).agg(sum("n")).collect())
    val dt = Check.rate(ne)(emb.select(dot(col("v"), col("v")).as("d")).agg(sum("d")).collect())
    docs.unpersist(); emb.unpersist()
    def per(span: String) = Trace.total(span) / ops
    val names = Seq("exact", "minhash_lsh", "simhash", "setjoin", "quality", "langid",
      "cosine_topk", "ivf", "pq", "ivfpq", "semdedup")
    names.map(n => s"operators.${n}_s" -> per(s"operators.$n")).toMap ++ Map(
      "plans.tokens_rows_per_s" -> tok,
      "plans.dot_rows_per_s" -> dt,
      "operators.lsh_candidates" -> Stat.median(lshCandidates.toSeq),
      "operators.lsh_precision" -> Stat.median(lshPrecision.toSeq),
      "operators.setjoin_pairs" -> Stat.median(joinPairs.toSeq),
      "operators.ann_recall" -> (if (recall.isEmpty) 0.0 else recall.sum / recall.size),
      "opcache.persisted_tables" -> persisted.lastOption.getOrElse(0.0),
      "opcache.storage_mb" -> storageMb.lastOption.getOrElse(0.0))
  }
}

// ===================================================================
// event_fold: seeded event batches folded in turn into a maintained
// rollup and a bucketed CDC snapshot, with periodic compaction.
// ===================================================================

final class EventFold(ctx: Ctx) extends Workload(ctx) {
  val BatchSize = 8000
  /** Enough batches for the window at the fastest fold seen (~1 s). */
  val Batches = math.min(64, ctx.seconds.ceil.toInt + 3)
  val Users = 20000
  val Buckets = 16
  /** Compaction follows batches 1, 3, 5, ...: the first measured batch
    * always compacts.
    */
  val CompactEvery = 2
  val Rollup = "bench_rollup_state"
  val Snap = "bench_snapshot_state"

  private final class Expect(val rollup: Map[String, (Long, java.math.BigDecimal)], val snapshot: (Int, Long))
  private val batchRoot = new File(ctx.inputs, "events")
  private val dirs = (0 until Batches).map(b => new File(batchRoot, s"batch=$b"))
  private val expected = mutable.ArrayBuffer.empty[Expect]
  private var next = 1
  private var stateRows = 0

  override protected def checksRunSpark = true

  def generate(spark: SparkSession): Seq[File] = {
    val batches = Inputs.eventBatches(ctx.seed, Batches, BatchSize, Users)
    val roll = mutable.Map.empty[String, (Long, Long)]
    val snap = mutable.LinkedHashMap.empty[Long, Inputs.Event]
    Inputs.writeBatches(spark, batches, batchRoot, ctx.cores)
    batches.foreach { events =>
      events.foreach { e =>
        val (n, s) = roll.getOrElse(e.eventType, (0L, 0L))
        roll(e.eventType) = (n + 1, s + e.cents)
        if (e.op == "D") snap -= e.user else snap(e.user) = e
      }
      val rows = snap.values.map(e => Row(e.user, e.eventType, e.cents / 100.0)).toArray
      expected += new Expect(
        roll.map { case (k, (n, s)) => k -> (n, java.math.BigDecimal.valueOf(s, 2)) }.toMap,
        Check.digest(rows))
    }
    Seq(batchRoot)
  }

  private def fold(spark: SparkSession, b: Int): Array[Row] = {
    val batch = spark.read.parquet(dirs(b).getPath)
    Trace.span("streaming.rollup_fold")(EventStreams.foldRollupBatch(
      batch.select("event_type", "value"), b.toLong, Rollup, Seq("event_type"), Seq("value")))
    Trace.span("streaming.snapshot_fold")(EventStreams.foldSnapshotBatch(
      batch.select("user_id", "event_type", "value", "op", "ord"), b.toLong, Snap,
      Seq("user_id"), "op", Seq("ord"), Buckets))
    if (b % CompactEvery == 1) Trace.span("streaming.compact")(EventStreams.compactSnapshot(spark, Snap))
    Trace.span("streaming.snapshot_read")(
      EventStreams.snapshot(spark, Snap).select("user_id", "event_type", "value").collect())
  }

  private def verify(spark: SparkSession, b: Int, snap: Array[Row]): Option[String] = {
    val e = expected(b)
    val roll = spark.table(Rollup).collect().map(r =>
      r.getAs[String]("event_type") -> (ctx.tamper(r.getAs[Long]("n")),
        r.getAs[java.math.BigDecimal]("sum_value").setScale(2))).toMap
    // a state table left over from an earlier run would make the fold
    // skip these batch ids: the first folded batch must grow the state
    val grew = if (b == 1 && roll.values.map(_._1).sum != 2L * BatchSize)
      Some("batch 1 did not grow the state") else None
    Check.all(
      Check.expect(s"rollup after batch $b", roll, e.rollup),
      Check.expect(s"snapshot after batch $b", Check.digest(snap), e.snapshot),
      grew)
  }

  /** The state tables, bootstrapped by folding batch 0, checked: state
    * left over from an earlier run would make the fold skip the batch.
    */
  def setup(spark: SparkSession): Unit = {
    verify(spark, 0, fold(spark, 0)).foreach(p => sys.error(s"set-up fold is wrong: $p"))
    next = 1
  }

  def measure(spark: SparkSession, deadline: Long): Unit =
    while (System.nanoTime() < deadline && next < Batches) {
      val b = next
      next += 1
      Trace.withOp(spark.sparkContext, s"batch$b") {
        operation("op.fold", BatchSize.toLong)(fold(spark, b))(snap => verify(spark, b, snap))
          .foreach(s => stateRows = s.length)
      }
    }

  def layers(spark: SparkSession, c: Counters, ops: Int): Map[String, Double] = {
    val wh = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val compactions = Trace.durations("streaming.compact")
    Map(
      "sources.write_s" -> c.writeNs.get / 1e9 / ops,
      "sources.files_written" -> Check.filesUnder(wh, ".parquet").toDouble,
      "streaming.rollup_fold_s" -> Trace.total("streaming.rollup_fold") / ops,
      "streaming.snapshot_fold_s" -> Trace.total("streaming.snapshot_fold") / ops,
      "streaming.compact_s" -> (if (compactions.isEmpty) 0.0 else compactions.sum / compactions.size),
      "streaming.sql_execs_per_batch" -> c.sqlExecs.get.toDouble / ops,
      "streaming.state_rows" -> stateRows.toDouble,
      "streaming.state_files" -> Check.filesUnder(new File(wh, Snap), ".parquet").toDouble)
  }
}
