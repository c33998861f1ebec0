package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives byte-identical files;
  * every generator draws from its own `SplittableRandom`, so inputs do
  * not depend on the order they are generated in.
  */
object Inputs {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1L)

  /** SHA-256 over every non-hidden file under `dirs`, in path order.
    * Spark part files carry a per-write UUID in their names; it is
    * masked so only contents and partition numbers count. Of a parquet
    * file only the data before the footer counts: the writer lists a
    * column's encodings in hash-set order, which differs between JVMs.
    */
  def digest(dirs: Seq[File]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    dirs.foreach { d =>
      walk(d).foreach { f =>
        val rel = uuid.replaceAllIn(d.toPath.relativize(f.toPath).toString, "uuid")
        md.update(rel.getBytes(UTF_8))
        val bytes = Files.readAllBytes(f.toPath)
        val data =
          if (!f.getName.endsWith(".parquet") || bytes.length < 12) bytes.length
          else bytes.length - 8 - java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        md.update(bytes, 0, data)
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }

  // ---------------------------------------------------------------- rides

  final case class Rides(header: String, rows: Array[Array[String]])

  def readFixture(path: File): Rides = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.util.zip.GZIPInputStream(new java.io.FileInputStream(path)), UTF_8))
    try {
      val header = in.readLine()
      val rows = Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).map(_.split(";", -1)).toArray
      Rides(header, rows)
    } finally in.close()
  }

  private def shiftTs(s: String, days: Int): String =
    if (s.length < 10) s
    else java.time.LocalDate.parse(s.substring(0, 10)).plusDays(days.toLong).toString + s.substring(10)

  /** The fixture rows with a seeded `ride_id` suffix and a seeded day
    * shift, dealt round-robin into `nFiles` plain `;`-separated CSV
    * files with a header each. Returns the number of data rows written.
    */
  def writeRides(fx: Rides, dir: File, seed: Long, input: Int, nFiles: Int): Long = {
    dir.mkdirs()
    val r = rng(seed, 1000L + input)
    val shift = 1 + r.nextInt(3650)
    val suffix = f"-${r.nextInt(1 << 16)}%04x"
    val outs = (0 until nFiles).map { i =>
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.io.FileOutputStream(new File(dir, f"part-$i%05d.csv")), UTF_8), 1 << 16)
      w.write(fx.header); w.write('\n'); w
    }
    var n = 0L
    try fx.rows.foreach { f =>
      val g = f.clone()
      g(0) = f(0) + suffix
      g(2) = shiftTs(f(2), shift)
      g(3) = shiftTs(f(3), shift)
      val w = outs((n % nFiles).toInt)
      w.write(g.mkString(";")); w.write('\n')
      n += 1
    } finally outs.foreach(_.close())
    n
  }

  // ------------------------------------------------ warehouse test tables

  /** TPC-H-shaped tables plus an `events` stream table, with the column
    * names, types and value domains the engine's declared queries read:
    * 60,000 line items. Every value is a hash of the row id and the
    * seed, so partitioning cannot change the contents.
    */
  def writeTables(spark: SparkSession, dir: File, seed: Long): Unit = {
    def h(salt: Int) = xxhash64(col("id"), lit(seed), lit(salt))
    def u(salt: Int, mod: Long) = pmod(h(salt), lit(mod))
    def pick(salt: Int, xs: Seq[String]) = element_at(array(xs.map(lit): _*), (u(salt, xs.size.toLong) + 1).cast("int"))
    def money(salt: Int, lo: Double, hi: Double) =
      round(lit(lo) + u(salt, 1000000L).cast("double") / 1e6 * (hi - lo), 2)
    def day(salt: Int, from: String, days: Long) =
      date_add(to_date(lit(from)), u(salt, days).cast("int")).cast("timestamp")
    val nCust = 1500L; val nSupp = 100L; val nPart = 2000L; val nOrd = 15000L
    // the eight writes are small jobs: run them side by side
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = mutable.ArrayBuffer.empty[scala.concurrent.Future[Unit]]
    def write(name: String, df: org.apache.spark.sql.DataFrame, parts: Int): Unit =
      writes += scala.concurrent.Future(
        df.coalesce(parts).write.mode("overwrite").parquet(new File(dir, s"$name.parquet").getPath))

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name")), 1)
    write("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")), 1)
    write("customer", spark.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u(1, 25).cast("int").as("c_nationkey"), money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")), 2)
    write("supplier", spark.range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u(4, 25).cast("int").as("s_nationkey"), money(5, -999.99, 9999.99).as("s_acctbal")), 1)
    val adj = Seq("blue", "red", "hot", "small", "old", "new", "big", "green")
    val noun = Seq("bolt", "gear", "anvil", "ring", "widget", "rod", "nut", "spring")
    write("part", spark.range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(6, adj), pick(7, noun)).as("p_name"),
      concat(lit("Brand#"), u(8, 25) + 1).as("p_brand"),
      pick(9, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (u(10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000).cast("double") / 10, 1).as("p_retailprice")), 2)
    write("orders", spark.range(nOrd).select(col("id").as("o_orderkey"),
      u(11, nCust).as("o_custkey"), pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(13, 1000.0, 500000.0).as("o_totalprice"), day(14, "1995-01-01", 2404).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")), 2)
    write("lineitem", spark.range(nOrd * 4).select(
      (col("id") / 4).cast("long").as("l_orderkey"), u(16, nPart).as("l_partkey"),
      u(17, nSupp).as("l_suppkey"), (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (u(18, 50) + 1).cast("double").as("l_quantity"), money(19, 900.0, 105000.0).as("l_extendedprice"),
      (u(20, 11).cast("double") / 100).as("l_discount"), (u(21, 9).cast("double") / 100).as("l_tax"),
      pick(22, Seq("A", "N", "R")).as("l_returnflag"), pick(23, Seq("O", "F")).as("l_linestatus"),
      day(24, "1995-01-02", 2498).as("l_shipdate")), 4)
    write("events", spark.range(10000).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + u(25, 30L * 86400L * 1000000L)).as("ts"),
      u(26, 150).as("user_id"),
      pick(27, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      round(lit(0.01) + u(28, 49000).cast("double") / 100, 2).as("value"),
      format_string("{\"k\": %d}", u(29, 100)).as("props")), 2)
    writes.foreach(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
  }

  // ------------------------------------------------------ curation shards

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Vec(id: Long, v: Array[Float], label: Int)
  final case class Shard(docs: Array[Doc], vecs: Array[Vec])

  private val Langs = Array("en", "de", "fr", "es", "zh")

  /** One curation shard. Words are spelled in an alphabet rotated per
    * shard and ids are offset per shard, so no two shards share content
    * or ids (an operator cache never serves one shard's work to
    * another). About 5% of documents are exact copies and 10% are
    * light edits of an earlier document; embeddings are 10 clusters
    * with about 5% near-copies.
    */
  def shard(seed: Long, index: Int, nDocs: Int, nVecs: Int, dim: Int = 64): Shard = {
    val r = rng(seed, 2000L + index)
    val rot = 1 + r.nextInt(25)
    val offset = (index.toLong + 1) * 1000000L + r.nextInt(1000)
    val vocab = 3000
    def word(j: Int): String = {
      val sb = new StringBuilder
      var x = j + 27
      while (x > 0) { sb += ('a' + (x % 26 + rot) % 26).toChar; x /= 26 }
      sb.toString
    }
    val words = Array.tabulate(vocab)(word)
    // Zipf-like draw: squaring a uniform favours low ranks
    def draw(): String = { val u = r.nextDouble(); words((u * u * vocab).toInt) }
    val texts = new Array[String](nDocs)
    for (i <- 0 until nDocs) {
      val p = r.nextDouble()
      texts(i) =
        if (i > 10 && p < 0.05) texts(r.nextInt(i))
        else if (i > 10 && p < 0.15) {
          val toks = texts(r.nextInt(i)).split(' ')
          (0 until 1 + r.nextInt(2)).foreach(_ => toks(r.nextInt(toks.length)) = draw())
          toks.mkString(" ")
        } else Array.fill(20 + r.nextInt(60))(draw()).mkString(" ")
    }
    val docs = Array.tabulate(nDocs)(i =>
      Doc(offset + i, texts(i), Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}"))
    val centroids = Array.fill(10, dim)(r.nextDouble() * 2 - 1)
    val vecs = new Array[Vec](nVecs)
    for (i <- 0 until nVecs) {
      vecs(i) =
        if (i > 10 && r.nextDouble() < 0.05) {
          val src = vecs(r.nextInt(i))
          Vec(offset + i, src.v.map(x => (x + (r.nextDouble() - 0.5) * 0.002).toFloat), src.label)
        } else {
          val c = r.nextInt(10)
          Vec(offset + i, Array.tabulate(dim)(d => (centroids(c)(d) + (r.nextDouble() - 0.5) * 1.2).toFloat), c)
        }
    }
    Shard(docs, vecs)
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)), StructField("label", IntegerType)))

  def writeShard(spark: SparkSession, s: Shard, dir: File, parts: Int): Unit = {
    val sc = spark.sparkContext
    spark.createDataFrame(sc.parallelize(s.docs.toSeq.map(d =>
      Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), parts), docSchema)
      .write.mode("overwrite").parquet(new File(dir, "documents.parquet").getPath)
    spark.createDataFrame(sc.parallelize(s.vecs.toSeq.map(v =>
      Row(v.id, v.v.toSeq, v.label)), parts), vecSchema)
      .write.mode("overwrite").parquet(new File(dir, "embeddings.parquet").getPath)
  }

  // --------------------------------------------------------- CDC batches

  final case class Event(id: Long, tsMicros: Long, user: Long, eventType: String, cents: Long, op: String, ord: Long)

  val EventTypes = Array("click", "view", "purchase", "signup", "error")

  /** `nBatches` batches of `size` events. Each event is also a change
    * record on its `user_id`: I when the key is absent from the state
    * the earlier records built, otherwise U (75%) or D (25%).
    */
  def eventBatches(seed: Long, nBatches: Int, size: Int, users: Int): Array[Array[Event]] = {
    val r = rng(seed, 3000L)
    val live = mutable.HashSet.empty[Long]
    var id = r.nextInt(1000).toLong * 1000000L
    var ts = 1704067200000000L
    Array.tabulate(nBatches) { _ =>
      Array.tabulate(size) { i =>
        id += 1; ts += r.nextInt(2000000)
        val user = r.nextInt(users).toLong
        val op = if (!live(user)) "I" else if (r.nextDouble() < 0.75) "U" else "D"
        if (op == "D") live -= user else live += user
        Event(id, ts, user, EventTypes(r.nextInt(EventTypes.length)), 1 + r.nextInt(49000), op, i.toLong)
      }
    }
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("op", StringType), StructField("ord", LongType)))

  /** All batches in one write, partitioned by batch number: the batch
    * `b` is the directory `batch=b` under `dir`.
    */
  def writeBatches(spark: SparkSession, batches: Array[Array[Event]], dir: File, parts: Int): Unit = {
    val rows = batches.toSeq.zipWithIndex.flatMap { case (events, b) =>
      events.toSeq.map(e => Row(e.id, new java.sql.Timestamp(e.tsMicros / 1000), e.user, e.eventType,
        e.cents / 100.0, e.op, e.ord, b))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
      eventSchema.add(StructField("batch", IntegerType)))
      .write.mode("overwrite").partitionBy("batch").parquet(dir.getPath)
  }
}
