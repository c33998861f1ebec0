package graft.queries

import org.apache.spark.sql.functions._

import graft.etl.CityBike
import graft.functions.CoreFunctions._

/** Warehouse queries over the CityBike star schema — the consumer
  * rollups the reference delegated to Power BI (README:5), run against
  * the engine-built fact+dimensions (SURVEY §2.9 Q16 / §7.2 flagship).
  *
  * The DuckDB oracles recompute each result straight from the raw CSV
  * fixture — so a pass checks the whole pipeline: CSV parse, dimension
  * builds, surrogate keys (the fact's projected foreign keys must equal
  * the dimensions' keys for these joins to match), and the derived
  * measures.
  * (The fixture has no natural-key fact duplicates, verified, so the
  * final distinct is a no-op and raw-level recomputation is exact.)
  */
object CityBikeQueries {

  private val csv = CityBike.DefaultCsvPath

  private val rawCte =
    s"""WITH r AS (SELECT * FROM read_csv('$csv', delim=';', header=true)),
       |m AS (SELECT *,
       |  CAST(epoch_us(ended_at) - epoch_us(started_at) AS DOUBLE) / 1e6 AS dur_s,
       |  ${haversineSql("start_lat", "start_lng", "end_lat", "end_lng")} AS dist_km
       |FROM r)""".stripMargin

  /** Speed with the v4.py:279-280 repair, oracle-side. */
  private val speedSql =
    "CASE WHEN dist_km IS NULL OR dur_s = 0 THEN 0.0 ELSE dist_km / ((dur_s / 60.0) / 60.0) END"

  val all: Seq[GraftQuery] = Seq(

    // Flagship (SURVEY §7.2): avg duration/distance/speed per member
    // type per month — fact joined back through member + date dims.
    GraftQuery(
      "cb01_member_month_rollup",
      (s, _) => {
        val wh = CityBike.build(s)
        wh.fact
          .join(broadcast(wh.memberDim.select(col("id").as("member_type_id"), col("type"))), "member_type_id")
          .join(wh.dateDim.select(col("id").as("start_date_id"), col("year"), col("month")), "start_date_id")
          .groupBy("type", "year", "month")
          .agg(
            count(lit(1)).as("n_rides"),
            davg(col("trip_duration")).as("avg_duration_s"),
            davg(col("distance")).as("avg_distance_km"),
            davg(col("speed")).as("avg_speed_kmh"))
          .orderBy("type", "year", "month")
      },
      Some(s"""$rawCte
        |SELECT member_casual AS type,
        |  CAST(year(started_at) AS INT) AS year, CAST(month(started_at) AS INT) AS month,
        |  COUNT(*) AS n_rides,
        |  ${davgSql("CAST(trunc(dur_s) AS INT)")} AS avg_duration_s,
        |  ${davgSql("dist_km")} AS avg_distance_km,
        |  ${davgSql(speedSql)} AS avg_speed_kmh
        |FROM m GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)
    ),

    // Top-10 start stations by ride count (fact ⋈ station dim).
    GraftQuery(
      "cb02_station_popularity",
      (s, _) => {
        val wh = CityBike.build(s)
        wh.fact
          .join(
            broadcast(wh.stationDim.select(
              col("id").as("start_station_id"), col("name"), col("latitude"), col("longitude"))),
            "start_station_id")
          .groupBy("name", "latitude", "longitude")
          .agg(count(lit(1)).as("n_rides"))
          .orderBy(col("n_rides").desc, col("name").asc, col("latitude").asc, col("longitude").asc)
          .limit(10)
      },
      Some(s"""WITH r AS (SELECT * FROM read_csv('$csv', delim=';', header=true))
        |SELECT start_station_name AS name, start_lat AS latitude, start_lng AS longitude,
        |       COUNT(*) AS n_rides
        |FROM r
        |WHERE start_station_name IS NOT NULL AND start_lat IS NOT NULL AND start_lng IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n_rides DESC, name, latitude, longitude LIMIT 10""".stripMargin)
    ),

    // Rides per hour-of-day per member type (fact ⋈ date dim ⋈ member).
    GraftQuery(
      "cb03_hourly_profile",
      (s, _) => {
        val wh = CityBike.build(s)
        wh.fact
          .join(broadcast(wh.memberDim.select(col("id").as("member_type_id"), col("type"))), "member_type_id")
          .join(wh.dateDim.select(col("id").as("start_date_id"), col("hour")), "start_date_id")
          .groupBy("type", "hour")
          .agg(count(lit(1)).as("n_rides"))
          .orderBy("type", "hour")
      },
      Some(s"""WITH r AS (SELECT * FROM read_csv('$csv', delim=';', header=true))
        |SELECT member_casual AS type, CAST(hour(started_at) AS INT) AS hour, COUNT(*) AS n_rides
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),

    // Busiest origin→destination station flows (fact ⋈ both station
    // dims), with average trip distance.
    GraftQuery(
      "cb05_station_flows",
      (s, _) => {
        val wh = CityBike.build(s)
        val names = wh.stationDim.select(col("id"), col("name"))
        wh.fact
          .join(broadcast(names.select(col("id").as("start_station_id"), col("name").as("start_name"))), "start_station_id")
          .join(broadcast(names.select(col("id").as("end_station_id"), col("name").as("end_name"))), "end_station_id")
          .groupBy("start_name", "end_name")
          .agg(count(lit(1)).as("n_rides"), davg(col("distance")).as("avg_distance_km"))
          .orderBy(col("n_rides").desc, col("start_name").asc, col("end_name").asc)
          .limit(10)
      },
      Some(s"""$rawCte
        |SELECT start_station_name AS start_name, end_station_name AS end_name,
        |  COUNT(*) AS n_rides, ${davgSql("dist_km")} AS avg_distance_km
        |FROM m
        |WHERE start_station_name IS NOT NULL AND start_lat IS NOT NULL AND start_lng IS NOT NULL
        |  AND end_station_name IS NOT NULL AND end_lat IS NOT NULL AND end_lng IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY n_rides DESC, start_name, end_name LIMIT 10""".stripMargin)
    ),

    // Weekday × hour usage heatmap per member type (ISO weekday so
    // both engines agree: Spark weekday()+1 == DuckDB isodow()).
    GraftQuery(
      "cb06_weekday_heatmap",
      (s, _) => {
        val wh = CityBike.build(s)
        wh.fact
          .join(broadcast(wh.memberDim.select(col("id").as("member_type_id"), col("type"))), "member_type_id")
          .join(wh.dateDim.select(col("id").as("start_date_id"), col("date"), col("hour")), "start_date_id")
          .groupBy(
            col("type"),
            (weekday(col("date")) + 1).as("iso_dow"),
            col("hour"))
          .agg(count(lit(1)).as("n_rides"))
          .orderBy("type", "iso_dow", "hour")
      },
      Some(s"""WITH r AS (SELECT * FROM read_csv('$csv', delim=';', header=true))
        |SELECT member_casual AS type, CAST(isodow(started_at) AS INT) AS iso_dow,
        |  CAST(hour(started_at) AS INT) AS hour, COUNT(*) AS n_rides
        |FROM r GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)
    ),

    // Electric vs classic bikes: rides, distance and realized speed
    // per rideable type per member type (fact ⋈ rideable ⋈ member).
    GraftQuery(
      "cb07_rideable_speeds",
      (s, _) => {
        val wh = CityBike.build(s)
        wh.fact
          .join(broadcast(wh.rideableDim.select(col("id").as("rideable_type_id"), col("type").as("bike_type"))), "rideable_type_id")
          .join(broadcast(wh.memberDim.select(col("id").as("member_type_id"), col("type").as("member_type"))), "member_type_id")
          .groupBy("bike_type", "member_type")
          .agg(
            count(lit(1)).as("n_rides"),
            davg(col("distance")).as("avg_distance_km"),
            davg(col("speed")).as("avg_speed_kmh"),
            davg(col("trip_duration")).as("avg_duration_s"))
          .orderBy("bike_type", "member_type")
      },
      Some(s"""$rawCte
        |SELECT rideable_type AS bike_type, member_casual AS member_type,
        |  COUNT(*) AS n_rides,
        |  ${davgSql("dist_km")} AS avg_distance_km,
        |  ${davgSql(speedSql)} AS avg_speed_kmh,
        |  ${davgSql("CAST(trunc(dur_s) AS INT)")} AS avg_duration_s
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),

    // v2-era day-grain date dimension exercised end-to-end: rides
    // joined to the day-grain dim on the start DAY, rolled up per the
    // dim's (year, ISO week) attributes. The oracle recomputes from
    // the raw CSV — Spark weekofyear and DuckDB week are both
    // ISO-8601, so the (calendar-year, iso-week) grouping key matches
    // bit-for-bit, including the 2024-12-31 → week 1 boundary row.
    GraftQuery(
      "cb08_weekly_daygrain",
      (s, _) => {
        val wh = CityBike.build(s)
        val dayDim = CityBike.dateDimensionDayGrain(wh.rides)
          .select(col("date").as("day_ts"), col("year"), col("week"))
        wh.rides
          .join(dayDim, to_date(col("started_at")).cast("timestamp") === col("day_ts"))
          .groupBy("year", "week")
          .agg(
            count(lit(1)).as("n_rides"),
            davg(graft.functions.CoreFunctions
              .durationSeconds(col("started_at"), col("ended_at")).cast("int")).as("avg_duration_s"))
          .orderBy("year", "week")
      },
      Some(s"""$rawCte
        |SELECT CAST(year(started_at) AS INT) AS year,
        |  CAST(week(started_at) AS INT) AS week,
        |  COUNT(*) AS n_rides,
        |  ${davgSql("CAST(trunc(dur_s) AS INT)")} AS avg_duration_s
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),

    // Star-schema cardinality summary — the §5.2-item-4 golden check
    // as a query (member=2, rideable=2, station=172, date=101201,
    // fact=50611 on the shipped fixture).
    GraftQuery(
      "cb04_warehouse_summary",
      (s, _) => {
        val wh = CityBike.build(s)
        wh.memberDim.agg(count(lit(1)).as("n_member_dim"))
          .crossJoin(wh.rideableDim.agg(count(lit(1)).as("n_rideable_dim")))
          .crossJoin(wh.stationDim.agg(count(lit(1)).as("n_station_dim")))
          .crossJoin(wh.dateDim.agg(count(lit(1)).as("n_date_dim")))
          .crossJoin(wh.fact.agg(count(lit(1)).as("n_fact")))
      },
      Some(s"""WITH r AS (SELECT * FROM read_csv('$csv', delim=';', header=true))
        |SELECT
        |  (SELECT COUNT(DISTINCT member_casual) FROM r) AS n_member_dim,
        |  (SELECT COUNT(DISTINCT rideable_type) FROM r) AS n_rideable_dim,
        |  (SELECT COUNT(*) FROM (
        |     SELECT DISTINCT sname, slat, slng FROM (
        |       SELECT start_station_name AS sname, start_lat AS slat, start_lng AS slng FROM r
        |       UNION ALL SELECT end_station_name, end_lat, end_lng FROM r))) AS n_station_dim,
        |  (SELECT COUNT(*) FROM (
        |     SELECT DISTINCT ts FROM (
        |       SELECT started_at AS ts FROM r UNION ALL SELECT ended_at FROM r))) AS n_date_dim,
        |  (SELECT COUNT(*) FROM r) AS n_fact""".stripMargin)
    )
  )
}
