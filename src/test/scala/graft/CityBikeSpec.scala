package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.CityBike
import graft.functions.CoreFunctions._

/** Pipeline-fidelity goldens + referential integrity for the star
  * schema (SURVEY §5.2 items 4-5) on the 50,611-row dump fixture.
  */
class CityBikeSpec extends SparkSpec {

  private lazy val wh = CityBike.build(spark)

  /** v4's re-keying (v4.py:240-270, J1-J6): six left joins of the raw
    * rides against their own dimensions, then the same measures,
    * projection and distinct as `CityBike.rideFact`.
    */
  private def joinedFact(raw: DataFrame): DataFrame = {
    val member = CityBike.memberDimension(raw)
      .select(col("id").as("member_type_id"), col("type").as("m_type"))
    val rideable = CityBike.rideableDimension(raw)
      .select(col("id").as("rideable_type_id"), col("type").as("r_type"))
    val st = CityBike.stationDimension(raw)
    val startSt = st.select(col("id").as("start_station_id_k"), col("name").as("ss_name"),
      col("latitude").as("ss_lat"), col("longitude").as("ss_lng"))
    val endSt = st.select(col("id").as("end_station_id_k"), col("name").as("es_name"),
      col("latitude").as("es_lat"), col("longitude").as("es_lng"))
    val dt = CityBike.dateDimension(raw)
    val startDt = dt.select(col("id").as("start_date_id"), col("date").as("sd_date"))
    val endDt = dt.select(col("id").as("end_date_id"), col("date").as("ed_date"))
    val durationS = durationSeconds(col("started_at"), col("ended_at"))
    val distance = haversineKm(col("start_lat"), col("start_lng"), col("end_lat"), col("end_lng"))
    raw
      .join(member, raw("member_casual") === member("m_type"), "left")
      .join(rideable, raw("rideable_type") === rideable("r_type"), "left")
      .join(startSt, raw("start_station_name") === startSt("ss_name") &&
        raw("start_lat") === startSt("ss_lat") && raw("start_lng") === startSt("ss_lng"), "left")
      .join(endSt, raw("end_station_name") === endSt("es_name") &&
        raw("end_lat") === endSt("es_lat") && raw("end_lng") === endSt("es_lng"), "left")
      .join(startDt, raw("started_at") === startDt("sd_date"), "left")
      .join(endDt, raw("ended_at") === endDt("ed_date"), "left")
      .select(
        col("member_type_id"), col("rideable_type_id"),
        col("start_station_id_k").as("start_station_id"), col("end_station_id_k").as("end_station_id"),
        col("start_date_id"), col("end_date_id"),
        durationS.cast("int").as("trip_duration"),
        distance.as("distance"),
        repairMeasure(try_divide(distance, durationS / lit(60.0) / lit(60.0))).as("speed"))
      .distinct()
  }

  /** Rows of `a` missing from `b`, and of `b` missing from `a`. */
  private def bothWays(a: DataFrame, b: DataFrame): (Long, Long) =
    (a.exceptAll(b).count(), b.exceptAll(a).count())

  test("dimension and fact cardinalities match the dump profile") {
    assert(wh.memberDim.count() == 2)
    assert(wh.rideableDim.count() == 2)
    assert(wh.stationDim.count() == 172)
    assert(wh.dateDim.count() == 101201)
    assert(wh.fact.count() == 50611)
  }

  test("projected fact keys equal the six-left-join re-keying on the fixture") {
    assert(bothWays(CityBike.rideFact(wh.rides), joinedFact(wh.rides)) == ((0L, 0L)))
  }

  test("projected fact keys equal the six-left-join re-keying on edge rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-edgecsv")
    val f = dir.resolve("rides.csv")
    // NULL member and rideable; NULL station name with coordinates; NULL
    // latitude; -0.0 vs 0.0 latitude (else identical: one fact row); NaN
    // longitude; unparseable timestamp.
    java.nio.file.Files.writeString(f,
      """ride_id;rideable_type;started_at;ended_at;start_station_name;start_station_id;end_station_name;end_station_id;start_lat;start_lng;end_lat;end_lng;member_casual
        |E1;electric_bike;2025-01-01 10:00:00.5;2025-01-01 10:10:00.5;A;1;B;2;40.7;-74.0;40.8;-74.1;member
        |E2;;2025-01-01 11:00:00;2025-01-01 11:05:00;A;1;B;2;40.7;-74.0;40.8;-74.1;
        |E3;classic_bike;2025-01-01 12:00:00;2025-01-01 12:05:00;;;B;2;40.7;-74.0;40.8;-74.1;casual
        |E4;classic_bike;2025-01-01 13:00:00;2025-01-01 13:05:00;A;1;B;2;;-74.0;40.8;-74.1;casual
        |E5;classic_bike;2025-01-01 14:00:00;2025-01-01 14:05:00;Z;9;B;2;-0.0;-74.0;40.8;-74.1;member
        |E6;classic_bike;2025-01-01 14:00:00;2025-01-01 14:05:00;Z;9;B;2;0.0;-74.0;40.8;-74.1;member
        |E7;electric_bike;2025-01-01 15:00:00;2025-01-01 15:05:00;A;1;N;3;40.7;-74.0;40.9;NaN;member
        |E8;electric_bike;not-a-timestamp;2025-01-01 16:05:00;A;1;B;2;40.7;-74.0;40.8;-74.1;member
        |""".stripMargin)
    val raw = CityBike.readRides(spark, f.toString)
    val fact = CityBike.rideFact(raw)
    assert(bothWays(fact, joinedFact(raw)) == ((0L, 0L)))
    assert(fact.count() == 7) // E5 and E6 collapse
    // the edges really are edges: NULL keys where v4's join cannot match
    assert(fact.filter(col("member_type_id").isNull && col("rideable_type_id").isNull).count() == 1)
    assert(fact.filter(col("start_station_id").isNull).count() == 2) // E3, E4
    assert(fact.filter(col("start_date_id").isNull).count() == 1) // E8
    assert(fact.filter(col("end_station_id").isNull).count() == 0) // NaN matches NaN
  }

  test("referential integrity: every non-null fact FK resolves to its dimension") {
    def dangling(fk: String, dim: org.apache.spark.sql.DataFrame): Long =
      wh.fact.filter(col(fk).isNotNull)
        .join(dim.select(col("id").as(fk)), Seq(fk), "left_anti").count()
    assert(dangling("member_type_id", wh.memberDim) == 0)
    assert(dangling("rideable_type_id", wh.rideableDim) == 0)
    assert(dangling("start_station_id", wh.stationDim) == 0)
    assert(dangling("end_station_id", wh.stationDim) == 0)
    assert(dangling("start_date_id", wh.dateDim) == 0)
    assert(dangling("end_date_id", wh.dateDim) == 0)
  }

  test("null station keys only where the raw row had null station fields (132 rows)") {
    val nullFk = wh.fact.filter(col("start_station_id").isNull || col("end_station_id").isNull).count()
    val nullRaw = wh.rides.filter(
      col("start_station_name").isNull || col("start_lat").isNull || col("start_lng").isNull ||
        col("end_station_name").isNull || col("end_lat").isNull || col("end_lng").isNull).count()
    assert(nullFk == nullRaw)
    assert(nullRaw == 107) // 132 rows have *some* null; 107 have a null station join key
  }

  test("member/date FKs are never null; measures behave") {
    assert(wh.fact.filter(col("member_type_id").isNull || col("rideable_type_id").isNull ||
      col("start_date_id").isNull || col("end_date_id").isNull).count() == 0)
    assert(wh.fact.filter(col("speed").isNull || isnan(col("speed")) ||
      col("speed") === Double.PositiveInfinity).count() == 0)
    assert(wh.fact.filter(col("trip_duration") < 0).count() == 0)
  }

  test("warehouse tables conform to the typed schemas (Dataset[T] edges)") {
    import sqlImplicits._
    import graft.schema.Schemas._
    // .as[T] throws on any missing/incompatible column; counts force evaluation.
    assert(wh.memberDim.as[TypeDimension].count() == 2)
    assert(wh.stationDim.as[StationDimension].count() == 172)
    assert(wh.dateDim.as[DateDimension].filter(_.year.contains(2025)).count() > 0)
    val fast = wh.fact.as[RideFact].filter(f => f.speed > 15.0 && f.distance.exists(_ > 1.0))
    assert(fast.count() > 0)
    assert(wh.rides.as[Ride].head.ride_id.nonEmpty)
    assert(graft.schema.Schemas.rideFact.fieldNames.toSeq == wh.fact.schema.fieldNames.toSeq)
  }

  test("v2 day-grain date dimension builds correctly") {
    val dayDim = graft.etl.CityBike.dateDimensionDayGrain(wh.rides)
    // span 2024-12-31 → 2025-01-31 = 32 calendar days
    assert(dayDim.count() == 32)
    assert(dayDim.filter(org.apache.spark.sql.functions.col("id") === "20250116").count() == 1)
  }

  test("a known ride carries hand-checked measures through the pipeline") {
    // FIXTURES.md sample row: 880A0159BA5275FB, 2025-01-16 17:50:49.136 →
    // 17:57:00.71, Hilltop (40.7311689,-74.0575736) → Pershing Field
    // (40.742677141,-74.051788633), member, electric_bike.
    val ride = wh.rides.filter(col("ride_id") === "880A0159BA5275FB").head
    val joined = wh.fact
      .join(wh.dateDim.select(col("id").as("start_date_id"), col("date")), "start_date_id")
      .filter(col("date") === ride.getAs[java.sql.Timestamp]("started_at"))
      .filter(col("trip_duration") === 371)
      .head
    val dist = joined.getAs[Double]("distance")
    val speed = joined.getAs[Double]("speed")
    assert(math.abs(dist - 1.369339086269023) < 1e-9, s"distance $dist")  // haversine of the two stations
    assert(math.abs(speed - dist / (371.574 / 60 / 60)) < 1e-9, s"speed $speed")
  }

  test("malformed CSV rows land as nulls, not crashes (S1 permissive scan)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-badcsv")
    val f = dir.resolve("rides.csv")
    java.nio.file.Files.writeString(f,
      """ride_id;rideable_type;started_at;ended_at;start_station_name;start_station_id;end_station_name;end_station_id;start_lat;start_lng;end_lat;end_lng;member_casual
        |GOOD1;electric_bike;2025-01-01 10:00:00.5;2025-01-01 10:10:00.5;A;1;B;2;40.7;-74.0;40.8;-74.1;member
        |BAD1;classic_bike;not-a-timestamp;2025-01-01 11:00:00;A;1;B;2;oops;-74.0;40.8;-74.1;casual
        |""".stripMargin)
    val rides = graft.etl.CityBike.readRides(spark, f.toString)
    assert(rides.count() == 2) // both rows survive the scan
    val bad = rides.filter(col("ride_id") === "BAD1").head
    assert(bad.isNullAt(bad.fieldIndex("started_at"))) // unparseable ts → null
    assert(bad.isNullAt(bad.fieldIndex("start_lat")))  // non-numeric double → null
    assert(bad.getAs[String]("member_casual") == "casual") // valid fields keep their values
    // and the downstream measure derivation tolerates the nulls
    val good = rides.filter(col("ride_id") === "GOOD1").head
    assert(good.getAs[java.sql.Timestamp]("started_at") != null)
    // the TYPED edges survive malformed rows too: a non-nullable Int in
    // the case classes made .as[T] NPE on exactly these inputs (null
    // date parts from the unparseable ts, null trip_duration)
    import sqlImplicits._
    import graft.schema.Schemas._
    val dd = graft.etl.CityBike.dateDimension(rides).as[DateDimension].collect()
    assert(dd.exists(_.year.isEmpty), "the null-date dim row deserializes")
    val fact = graft.etl.CityBike.rideFact(rides).as[RideFact].collect()
    assert(fact.exists(_.trip_duration.isEmpty), "BAD1's fact row deserializes")
  }
}
