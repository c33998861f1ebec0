package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.CoreFunctions._

/** The reference ETL (star-schema build) re-expressed Spark-first.
  *
  * Mirrors `/root/reference/src/check_and_create_db_v4.py:139-298`
  * (the v4 dataflow: CSV scan → 4 dimensions → 6 left joins → derived
  * measures → fact), with the deliberate divergences documented in
  * SURVEY.md:
  *  - deterministic sha2 surrogate keys instead of uuid4 (F17), so the
  *    fact derives its foreign keys by projection instead of the six
  *    re-keying joins;
  *  - the station dimension dedups on the natural key BEFORE key
  *    assignment, fixing the reference's fanout bug (§2.3 note);
  *  - the date dimension re-derives its parts from the distinct
  *    timestamp set, making A2's keep-one-row dedup deterministic.
  *
  * Everything is lazy DataFrame composition: one Spark action per
  * sink, Catalyst prunes/pushes, and the fact's one shuffle is its
  * final distinct — no dimension, however large, is joined back.
  */
object CityBike {

  /** Default location of the Citi Bike sample recovered from the
    * reference dump (see tools/ and FIXTURES.md §1).
    */
  val DefaultCsvPath = "/root/repo/src/test/resources/citybike_rides.csv.gz"

  /** Raw ride CSV schema (check_and_create_db.py:96-113). Timestamps
    * land as strings and go through the lenient `to_timestamp` cast —
    * the data's fractional seconds are variable-width (F1 note).
    */
  val rideCsvSchema: StructType = StructType(Seq(
    StructField("ride_id", StringType),
    StructField("rideable_type", StringType),
    StructField("started_at", StringType),
    StructField("ended_at", StringType),
    StructField("start_station_name", StringType),
    StructField("start_station_id", StringType),
    StructField("end_station_name", StringType),
    StructField("end_station_id", StringType),
    StructField("start_lat", DoubleType),
    StructField("start_lng", DoubleType),
    StructField("end_lat", DoubleType),
    StructField("end_lng", DoubleType),
    StructField("member_casual", StringType)))

  /** S1: CSV scan — `;` delimiter, header, explicit schema
    * (create_db_from_csv.py:10; v4.py:140-141).
    */
  def readRides(spark: SparkSession, path: String = DefaultCsvPath): DataFrame =
    spark.read
      .option("header", "true")
      .option("sep", ";")
      .schema(rideCsvSchema)
      .csv(path)
      .withColumn("started_at", to_timestamp(col("started_at")))
      .withColumn("ended_at", to_timestamp(col("ended_at")))

  /** member_dimension(id, type) — v4.py:147-150. */
  def memberDimension(raw: DataFrame): DataFrame =
    raw.select(col("member_casual").as("type"))
      .distinct()
      .select(surrogateKey(col("type")).as("id"), col("type"))

  /** rideable_dimension(id, type) — v4.py:155-158. */
  def rideableDimension(raw: DataFrame): DataFrame =
    raw.select(col("rideable_type").as("type"))
      .distinct()
      .select(surrogateKey(col("type")).as("id"), col("type"))

  /** station_dimension(id, name, latitude, longitude) — v4.py:164-180,
    * with the dedup-before-keying bug fix: start and end projections
    * are unioned and made distinct on the natural key, then keyed once.
    */
  def stationDimension(raw: DataFrame): DataFrame =
    raw.select(
      col("start_station_name").as("name"),
      col("start_lat").as("latitude"),
      col("start_lng").as("longitude"))
      .unionByName(raw.select(
        col("end_station_name").as("name"),
        col("end_lat").as("latitude"),
        col("end_lng").as("longitude")))
      .distinct()
      .select(
        surrogateKey(col("name"), col("latitude"), col("longitude")).as("id"),
        col("name"), col("latitude"), col("longitude"))

  /** date_dimension(id, date, year..second) — v4.py:184-214. Distinct
    * timestamps first, parts re-derived from the key (deterministic
    * replacement for drop_duplicates(subset=['date'])).
    */
  def dateDimension(raw: DataFrame): DataFrame = {
    val ts = raw.select(col("started_at").as("date"))
      .unionByName(raw.select(col("ended_at").as("date")))
      .distinct()
    val parts = dateParts(col("date"))
    ts.select(
      surrogateKey(col("date").cast("string")).as("id") +:
        col("date") +:
        parts.map { case (n, c) => c.as(n) }: _*)
  }

  /** v2-era day-grain date dimension — check_and_create_db_v2.py:103-115:
    * `id VARCHAR(8)` = yyyyMMdd, one row per calendar day.
    */
  def dateDimensionDayGrain(raw: DataFrame): DataFrame = {
    val days = raw.select(to_date(col("started_at")).as("d"))
      .unionByName(raw.select(to_date(col("ended_at")).as("d")))
      .distinct()
    days.select(
      date_format(col("d"), "yyyyMMdd").as("id"),
      col("d").cast("timestamp").as("date"),
      year(col("d")).as("year"),
      month(col("d")).as("month"),
      quarter(col("d")).as("quarter"),
      weekofyear(col("d")).as("week"),
      dayofmonth(col("d")).as("day"))
  }

  /** A fact foreign key computed in-row from the natural-key columns
    * its dimension keys with `surrogateKey`. NULL when any part is
    * NULL: v4's left join (J1-J6) never matches a NULL part, so the
    * dimension's NULL-keyed row stays unreferenced.
    */
  private def foreignKey(parts: Column*): Column =
    when(parts.map(_.isNotNull).reduce(_ && _), surrogateKey(parts: _*))

  /** A float key part as the dimension's `distinct` leaves it: -0.0
    * groups with 0.0 and keys as "0.0" (every NaN already keys "NaN").
    */
  private def unsignedZero(c: Column): Column = when(c === 0.0, lit(0.0)).otherwise(c)

  /** ride_fact — v4.py:240-295: the raw frame re-keyed to the
    * dimensions, derived measures (F8/F13/F14 with the P8 null/inf
    * repair), 9-column projection, distinct.
    *
    * v4 re-keys through six left joins (J1-J6) because its uuid4 keys
    * exist only in the dimension rows. Here every key is a pure
    * function of the natural key (F17), so each foreign key is one
    * projected expression and the fact plan reads no dimension.
    * trip_duration is stored INT per the declared DDL (v4.py:94) but
    * speed is computed from the unrounded fractional seconds, exactly
    * as v4.py:276-279 does — including its `/60/60` double division.
    */
  def rideFact(raw: DataFrame): DataFrame = {
    def stationKey(side: String) = foreignKey(col(s"${side}_station_name"),
      unsignedZero(col(s"${side}_lat")), unsignedZero(col(s"${side}_lng")))
    val durationS = durationSeconds(col("started_at"), col("ended_at"))
    val distance = haversineKm(col("start_lat"), col("start_lng"), col("end_lat"), col("end_lng"))
    // v4.py:279 writes distance / ((duration/60)/60) — keep the exact form.
    val speed = repairMeasure(try_divide(distance, durationS / lit(60.0) / lit(60.0)))

    raw
      .select(
        foreignKey(col("member_casual")).as("member_type_id"),
        foreignKey(col("rideable_type")).as("rideable_type_id"),
        stationKey("start").as("start_station_id"),
        stationKey("end").as("end_station_id"),
        foreignKey(col("started_at").cast("string")).as("start_date_id"),
        foreignKey(col("ended_at").cast("string")).as("end_date_id"),
        durationS.cast("int").as("trip_duration"),
        distance.as("distance"), // null coords → null distance (pandas: NaN), speed repair still yields 0
        speed.as("speed"))
      .distinct()
  }

  /** The five star-schema tables, built lazily from one raw scan. */
  final case class Warehouse(
      rides: DataFrame,
      memberDim: DataFrame,
      rideableDim: DataFrame,
      stationDim: DataFrame,
      dateDim: DataFrame,
      fact: DataFrame)

  // WEAKLY keyed by session: a strong
  // (session, path) TrieMap pinned every stopped/replaced session —
  // SessionState, analyzer caches, six persisted lineages — for the
  // JVM's lifetime; a long-lived JVM cycling sessions leaked one
  // warehouse per cycle with nothing short of a global clearMemo()
  // (which also tears down the LIVE session's entries) to release it.
  // All access under this lock — which also closes TrieMap
  // .getOrElseUpdate's double-evaluation window, where a concurrent
  // first build left a loser Warehouse whose persists never unpersist.
  private val memo = new java.util.WeakHashMap[
    SparkSession, scala.collection.mutable.Map[String, Warehouse]]()

  /** Drop memoized warehouses (test teardown / config-change rebuilds —
    * e.g. the ANSI sweep must re-run the ETL under the new settings).
    */
  def clearMemo(): Unit = memo.synchronized {
    import scala.jdk.CollectionConverters._
    val whs = memo.values.asScala.flatMap(_.values).toSeq
    memo.clear()
    whs.foreach { wh =>
      // Dependents first: uncaching a frame re-plans every cached frame
      // built on it, so releasing `rides` first re-plans all five.
      Seq(wh.fact, wh.dateDim, wh.stationDim, wh.rideableDim, wh.memberDim, wh.rides)
        .foreach(graft.operators.OpCache.release(wh.rides.sparkSession, _))
    }
  }

  def build(spark: SparkSession, path: String = DefaultCsvPath): Warehouse = memo.synchronized {
    // Memoized per (session, path): the consumer queries each start
    // from the warehouse, and returning the SAME DataFrame objects
    // (not merely plan-equal ones, which the cache manager would dedup
    // on data but re-analyze and re-canonicalize per call) skips
    // rebuilding + re-analyzing the six table plans on every query.
    var perSession = memo.get(spark)
    if (perSession == null) {
      perSession = scala.collection.mutable.Map.empty
      memo.put(spark, perSession)
    }
    perSession.getOrElseUpdate(path, {
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // A .csv.gz scan is a single unsplittable partition: parse it
      // once, cache the parsed rows, and repartition so the five
      // consumers (four dim builds + fact) run parallel. (At warehouse
      // scale the equivalent move is a one-time CSV→parquet
      // conversion.)
      val raw = readRides(spark, path)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist(MEMORY_AND_DISK)
      val m = memberDimension(raw).persist(MEMORY_AND_DISK)
      val r = rideableDimension(raw).persist(MEMORY_AND_DISK)
      val s = stationDimension(raw).persist(MEMORY_AND_DISK)
      val d = dateDimension(raw).persist(MEMORY_AND_DISK)
      val f = rideFact(raw).persist(MEMORY_AND_DISK)
      Warehouse(raw, m, r, s, d, f)
    })
  }
}
