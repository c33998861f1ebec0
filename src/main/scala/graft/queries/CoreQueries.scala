package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CoreFunctions._

/** A named engine query plus (optionally) its DuckDB oracle SQL.
  *
  * Determinism contract (SURVEY.md §2.9): every query ORDERs BY a unique
  * key prefix, rounds floating outputs, aliases every computed column
  * identically in the Spark plan and the oracle SQL, and aligns output
  * types (DuckDB BIGINT date-parts / lengths are cast to INT to match
  * Spark, Spark decimal sums are cast back to double, etc.).
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** The declared core query surface — SURVEY.md §2.9 Q1..Q15 re-expressed
  * over the driver fixture tables (TESTDATA.md). Each query names the
  * operator-inventory rows it exercises.
  */
object CoreQueries {

  /** Fixture-table loader. The driver's `events.parquet` carries a
    * TIMESTAMP(NANOS) column, which Spark only reads as a nanos Long
    * (`spark.sql.legacy.parquet.nanosAsLong=true`, set in the Verify,
    * Explain and benchmark sessions); convert it back to a microsecond
    * timestamp here — lossless, the generated data is µs-precision.
    */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) {
      case (acc, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType =>
        // integer div: double division would lose ns precision at 2^60
        acc.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case (acc, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        // µs-precision files read as TIMESTAMP_NTZ; normalize to the
        // session-tz TIMESTAMP the nanos path produces. Session tz is
        // pinned UTC, so the instant is unchanged — and the explicit
        // cast keeps `unix_micros(ts)` resolvable under ANSI mode,
        // which forbids the NTZ→LTZ implicit coercion.
        acc.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case (acc, _) => acc
    }
  }

  val all: Seq[GraftQuery] = Seq(

    // Q1 — S1/P1/P7/L3: scan + pushed filter + projection + sort.
    GraftQuery(
      "q01_filter_project",
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    ),

    // Q2 — A3: TPC-H-Q1-style grouped aggregate (exact decimal sums).
    GraftQuery(
      "q02_group_agg",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
            davg(col("l_quantity")).as("avg_qty"),
            davg(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
        |${dsumSql("l_quantity")} AS sum_qty,
        |${dsumSql("l_extendedprice")} AS sum_base_price,
        |${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
        |${davgSql("l_quantity")} AS avg_qty,
        |${davgSql("l_discount")} AS avg_disc,
        |COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    ),

    // Q3 — J1-class: broadcast equi-join chain customer⋈nation⋈region.
    GraftQuery(
      "q03_join_bcast",
      (s, d) => {
        val c = t(s, d, "customer")
        val n = t(s, d, "nation")
        val r = t(s, d, "region")
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_customers"), davg(col("c_acctbal")).as("avg_acctbal"))
          .orderBy("r_name")
      },
      Some(s"""SELECT r_name, COUNT(*) AS n_customers, ${davgSql("c_acctbal")} AS avg_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
    ),

    // Q4 — J5-class: left join with null-handling on unmatched rows.
    // Aggregate-before-join: shrinks the join input instead of joining
    // 10x rows then aggregating (matters at 100 TB).
    GraftQuery(
      "q04_join_left",
      (s, d) => {
        val c = t(s, d, "customer")
        val agg = t(s, d, "orders")
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("spend"))
        c.join(agg, c("c_custkey") === agg("o_custkey"), "left")
          .select(
            col("c_custkey"),
            col("c_name"),
            coalesce(col("cnt"), lit(0L)).as("n_orders"),
            coalesce(col("spend"), lit(0.0)).as("total_spend"))
          .orderBy("c_custkey")
      },
      Some(s"""SELECT c_custkey, c_name,
        |COALESCE(cnt, 0) AS n_orders, COALESCE(spend, 0.0) AS total_spend
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, COUNT(*) AS cnt, ${dsumSql("o_totalprice")} AS spend
        |  FROM orders GROUP BY o_custkey) o ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin)
    ),

    // Q5a — left-semi join (EXISTS).
    GraftQuery(
      "q05_join_semi",
      (s, d) => {
        val c = t(s, d, "customer")
        val big = t(s, d, "orders").filter(col("o_totalprice") > 400000.0).select("o_custkey")
        c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin)
    ),

    // Q5b — left-anti join (NOT EXISTS): customers with no orders.
    GraftQuery(
      "q06_join_anti",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders").select("o_custkey")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)
    ),

    // Q6a — A1: distinct on projected columns.
    GraftQuery(
      "q07_distinct",
      (s, d) =>
        t(s, d, "customer")
          .select("c_nationkey", "c_mktsegment")
          .distinct()
          .orderBy("c_nationkey", "c_mktsegment"),
      Some("""SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin)
    ),

    // Q6b — A2 made deterministic: first row per key via row_number
    // (dropDuplicates keeps an arbitrary row; this pins it).
    GraftQuery(
      "q08_dedup_first_per_key",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                               ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin)
    ),

    // Q7a — U1+A1: UNION (distinct).
    GraftQuery(
      "q09_union",
      (s, d) =>
        t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
          .union(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
          .distinct()
          .orderBy("nationkey"),
      Some("""SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin)
    ),

    // Q7b — U2: INTERSECT.
    GraftQuery(
      "q10_intersect",
      (s, d) =>
        t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
          .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
          .orderBy("nationkey"),
      Some("""SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin)
    ),

    // Q7c — U2: EXCEPT.
    GraftQuery(
      "q11_except",
      (s, d) =>
        t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
          .except(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
          .orderBy("nationkey"),
      Some("""SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin)
    ),

    // Q8 — W1: top-3 orders per customer (ranking window + tiebreak).
    GraftQuery(
      "q12_window_topk",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, d, "orders")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
          .orderBy("o_custkey", "rk")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin)
    ),

    // Q9 — L3: global top-k (TakeOrderedAndProject, no full sort shuffle).
    GraftQuery(
      "q13_orderby_limit",
      (s, d) =>
        t(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(10),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)
    ),

    // Q10 — F2–F7: full 8-part date-part rollup (the reference date
    // dimension derivation, v4.py:201-208) over events.ts.
    GraftQuery(
      "q14_dateparts",
      (s, d) => {
        val parts = dateParts(col("ts"))
        t(s, d, "events")
          .groupBy(parts.map { case (n, c) => c.as(n) }: _*)
          .agg(count(lit(1)).as("n"))
          .orderBy(parts.map(_._1).map(col): _*)
      },
      Some("""SELECT CAST(year(ts) AS INT) AS year, CAST(month(ts) AS INT) AS month,
        |CAST(quarter(ts) AS INT) AS quarter, CAST(weekofyear(ts) AS INT) AS week,
        |CAST(day(ts) AS INT) AS day, CAST(hour(ts) AS INT) AS hour,
        |CAST(minute(ts) AS INT) AS minute, CAST(second(ts) AS INT) AS second,
        |COUNT(*) AS n
        |FROM events GROUP BY 1,2,3,4,5,6,7,8
        |ORDER BY 1,2,3,4,5,6,7,8""".stripMargin)
    ),

    // Q11 — F19: string functions (split/upper/like/substring) over part.
    GraftQuery(
      "q15_string_funcs",
      (s, d) =>
        t(s, d, "part")
          .groupBy(upper(element_at(split(col("p_name"), " "), 2)).as("noun"))
          .agg(
            count(lit(1)).as("n_parts"),
            sum(when(col("p_type").like("%ECO%"), 1L).otherwise(0L)).as("n_economy"),
            countDistinct(substring(col("p_brand"), 7, 4).cast("int")).as("n_brands"),
            davg(col("p_retailprice")).as("avg_price"),
            min(length(col("p_name"))).as("min_name_len"))
          .orderBy("noun"),
      Some(s"""SELECT upper(split_part(p_name, ' ', 2)) AS noun,
        |COUNT(*) AS n_parts,
        |CAST(SUM(CASE WHEN p_type LIKE '%ECO%' THEN 1 ELSE 0 END) AS BIGINT) AS n_economy,
        |COUNT(DISTINCT CAST(substring(p_brand, 7, 4) AS INT)) AS n_brands,
        |${davgSql("p_retailprice")} AS avg_price,
        |CAST(MIN(length(p_name)) AS INT) AS min_name_len
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // Q12 — F20: JSON extraction over events.props.
    GraftQuery(
      "q16_json",
      (s, d) => {
        val k = get_json_object(col("props"), "$.k").cast("int")
        t(s, d, "events")
          .groupBy("event_type")
          .agg(sum(k).as("sum_k"), davg(k.cast("double")).as("avg_k"), count(lit(1)).as("n"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type,
        |CAST(SUM(CAST(json_extract_string(props, '$$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |${davgSql("CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) AS DOUBLE)")} AS avg_k,
        |COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // Q13 — W2-batch: tumbling 1-hour event-time window (batch mode).
    GraftQuery(
      "q17_time_window",
      (s, d) =>
        t(s, d, "events")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
          .select(col("window.start").as("window_start"), col("n_events"), col("sum_value"))
          .orderBy("window_start"),
      Some(s"""SELECT date_trunc('hour', ts) AS window_start,
        |COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // Q14 — F8–F14: haversine distance + duration + speed with the
    // v4.py:279-280 null/inf repair, on synthetic integer-derived
    // coordinates (exact in both engines).
    GraftQuery(
      "q18_haversine_measures",
      (s, d) => {
        val k = col("c_custkey")
        val base = t(s, d, "customer").select(
          k,
          ((k % 179) - 89).cast("double").as("lat1"),
          ((k % 359) - 179).cast("double").as("lng1"),
          (((k * 3) % 179) - 89).cast("double").as("lat2"),
          (((k * 5) % 359) - 179).cast("double").as("lng2"),
          ((k % 97) * 60).cast("double").as("duration_s"))
        val dist = haversineKm(col("lat1"), col("lng1"), col("lat2"), col("lng2"))
        base
          .select(
            col("c_custkey"),
            col("duration_s"),
            round(dist, 4).as("distance_km"),
            round(speedKmh(dist, col("duration_s")), 4).as("speed_kmh"))
          .orderBy("c_custkey")
      },
      Some(s"""WITH base AS (
        |  SELECT c_custkey,
        |    CAST((c_custkey % 179) - 89 AS DOUBLE) AS lat1,
        |    CAST((c_custkey % 359) - 179 AS DOUBLE) AS lng1,
        |    CAST(((c_custkey * 3) % 179) - 89 AS DOUBLE) AS lat2,
        |    CAST(((c_custkey * 5) % 359) - 179 AS DOUBLE) AS lng2,
        |    CAST((c_custkey % 97) * 60 AS DOUBLE) AS duration_s
        |  FROM customer)
        |SELECT c_custkey, duration_s,
        |  ROUND(${haversineSql("lat1", "lng1", "lat2", "lng2")}, 4) AS distance_km,
        |  CASE WHEN duration_s = 0 THEN 0.0
        |       ELSE ROUND(${haversineSql("lat1", "lng1", "lat2", "lng2")} / (duration_s / 3600.0), 4)
        |  END AS speed_kmh
        |FROM base ORDER BY c_custkey""".stripMargin)
    ),

    // Q15 — A4: ROLLUP with grouping-id disambiguation; grouped nulls
    // are coalesced to a sentinel so null-ordering differences between
    // engines cannot bite.
    GraftQuery(
      "q19_rollup",
      (s, d) =>
        t(s, d, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping_id().cast("int").as("gid"),
            count(lit(1)).as("n"),
            dsum(col("l_quantity")).as("sum_qty"))
          .select(
            coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
            col("gid"), col("n"), col("sum_qty"))
          .orderBy("returnflag", "linestatus"),
      Some(s"""SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
        |COALESCE(l_linestatus, '(all)') AS linestatus,
        |CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin)
    ),

    // A4 — CUBE: all four grouping levels with grouping-id.
    GraftQuery(
      "q20_cube",
      (s, d) =>
        t(s, d, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping_id().cast("int").as("gid"),
            count(lit(1)).as("n"),
            dsum(col("l_extendedprice")).as("sum_price"))
          .select(
            coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
            col("gid"), col("n"), col("sum_price"))
          .orderBy("returnflag", "linestatus", "gid"),
      Some(s"""SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
        |COALESCE(l_linestatus, '(all)') AS linestatus,
        |CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |COUNT(*) AS n, ${dsumSql("l_extendedprice")} AS sum_price
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus, gid""".stripMargin)
    ),

    // A4 — exact distinct counts per group.
    GraftQuery(
      "q21_count_distinct",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        |COUNT(DISTINCT l_partkey) AS n_parts,
        |COUNT(DISTINCT l_suppkey) AS n_supps,
        |COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    // W1 — analytic window frames: running decimal-exact sum + lag.
    GraftQuery(
      "q22_window_running",
      (s, d) => {
        val order = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        val frame = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "orders")
          .select(
            col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            row_number().over(order).as("seq"),
            sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
              .over(frame).cast("double").as("running_spend"),
            lag(col("o_totalprice"), 1).over(order).as("prev_price"))
          .orderBy("o_custkey", "seq")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
        |CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS seq,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |     OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        |LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
        |FROM orders ORDER BY o_custkey, seq""".stripMargin)
    ),

    // W1 composition — gap-based sessionization (30-min inactivity)
    // via lag → boundary flag → running sum → grouped session stats.
    GraftQuery(
      "q23_sessions",
      (s, d) =>
        graft.operators.Sessions.sessions(t(s, d, "events"), gapMinutes = 30)
          .select("user_id", "session_id", "n_events", "session_start", "duration_s")
          .orderBy("user_id", "session_id"),
      // WHERE mirrors the engine's null-position exclusions (r14): a
      // null ts/user has no place in the ordered per-user stream
      Some("""WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |s AS (
        |  SELECT *, CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS session_start,
        |       CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS DOUBLE) / 1e6 AS duration_s
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin)
    ),

    // As-of join (backward): each purchase gets the latest prior click
    // of the same user — graft.operators.AsOfJoin vs DuckDB ASOF JOIN.
    GraftQuery(
      "q24_asof_join",
      (s, d) => {
        val events = t(s, d, "events")
        val dedupW = Window.partitionBy("user_id", "ts").orderBy(col("event_id").desc)
        val clicks = events.filter(col("event_type") === "click")
          .withColumn("rn", row_number().over(dedupW)).filter(col("rn") === 1)
          .select(col("user_id"), col("ts"), col("value"))
        val purchases = events.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"))
        graft.operators.AsOfJoin
          .joinAsOf(purchases, clicks, "user_id", "ts", "ts", Seq("value"))
          .select(
            col("event_id"), col("user_id"), col("ts"),
            col("value_asof"), col("ts_asof"),
            ((unix_micros(col("ts")) - unix_micros(col("ts_asof"))).cast("double") / 1e6).as("gap_s"))
          .orderBy("event_id")
      },
      Some("""WITH c AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'click') WHERE rn = 1),
        |p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, c.value AS value_asof, c.ts AS ts_asof,
        |       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS DOUBLE) / 1e6 AS gap_s
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY event_id""".stripMargin)
    ),

    // SQL entry path + Catalyst subquery decorrelation: orders priced
    // above 1.5× their customer's average (correlated scalar subquery).
    GraftQuery(
      "q25_sql_decorrelated",
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
                 WHERE o_totalprice > (SELECT 1.5 * AVG(i.o_totalprice)
                                       FROM orders i WHERE i.o_custkey = o.o_custkey)
                 ORDER BY o_orderkey""")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE o_totalprice > (SELECT 1.5 * AVG(i.o_totalprice)
        |                      FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
    ),

    // Geo-radius filter: customers with synthetic coordinates within
    // 1500 km of a point. Exercises the fused haversine Expression and
    // the HaversineBoundingBox optimizer rule (the rule adds implied
    // lat/lng range predicates; results are identical with or without
    // it — which this oracle certifies).
    GraftQuery(
      "q27_geo_radius",
      (s, d) => {
        val k = col("c_custkey")
        val base = t(s, d, "customer").select(
          k,
          ((k % 179) - 89).cast("double").as("lat"),
          ((k % 359) - 179).cast("double").as("lng"))
        val dist = haversineKm(lit(40.0), lit(-74.0), col("lat"), col("lng"))
        base
          .filter(dist < 1500.0)
          .select(col("c_custkey"), col("lat"), col("lng"), round(dist, 4).as("dist_km"))
          .orderBy("c_custkey")
      },
      Some(s"""WITH base AS (
        |  SELECT c_custkey,
        |    CAST((c_custkey % 179) - 89 AS DOUBLE) AS lat,
        |    CAST((c_custkey % 359) - 179 AS DOUBLE) AS lng
        |  FROM customer)
        |SELECT c_custkey, lat, lng,
        |  ROUND(${haversineSql("40.0", "-74.0", "lat", "lng")}, 4) AS dist_km
        |FROM base
        |WHERE ${haversineSql("40.0", "-74.0", "lat", "lng")} < 1500.0
        |ORDER BY c_custkey""".stripMargin)
    ),

    // GROUPING SETS (A4) — the same SQL text runs on both engines.
    GraftQuery(
      "q26_grouping_sets",
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("lineitem")
        s.sql(CoreQueries.groupingSetsSql)
      },
      Some(CoreQueries.groupingSetsSql)
    ),

    // Range (point-in-interval) join: purchases landing inside a
    // ≥5-event session of the same user. The engine bucketizes the
    // intervals into an equi-join; DuckDB states the BETWEEN directly.
    GraftQuery(
      "q28_range_join",
      (s, d) => {
        val events = t(s, d, "events")
        val sess = graft.operators.Sessions.sessions(events, gapMinutes = 30)
          .filter(col("n_events") >= 5)
        val purchases = events.filter(col("event_type") === "purchase")
          .select("user_id", "event_id", "ts")
        graft.operators.RangeJoin
          .pointInInterval(purchases, sess, "user_id", "ts", "session_start", "session_end")
          .select("event_id", "user_id", "ts", "session_id", "n_events")
          .orderBy("event_id", "session_id")
      },
      // WHERE mirrors the engine's null-position exclusions (r14)
      Some("""WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |s AS (
        |  SELECT *, CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
        |  FROM g),
        |sess AS (
        |  SELECT user_id, session_id, COUNT(*) AS n_events,
        |         MIN(ts) AS session_start, MAX(ts) AS session_end
        |  FROM s GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, sess.session_id, sess.n_events
        |FROM p JOIN sess ON p.user_id = sess.user_id
        |               AND p.ts BETWEEN sess.session_start AND sess.session_end
        |ORDER BY event_id, session_id""".stripMargin)
    ),

    // Exact interpolated percentiles per group (Spark percentile ==
    // DuckDB quantile_cont, both linear interpolation).
    GraftQuery(
      "q29_percentiles",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(expr("percentile(l_quantity, 0.25)"), 4).as("q25"),
            round(expr("percentile(l_quantity, 0.5)"), 4).as("q50"),
            round(expr("percentile(l_quantity, 0.75)"), 4).as("q75"),
            round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        |ROUND(quantile_cont(l_quantity, 0.25), 4) AS q25,
        |ROUND(quantile_cont(l_quantity, 0.5), 4) AS q50,
        |ROUND(quantile_cont(l_quantity, 0.75), 4) AS q75,
        |ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        |COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    // min_by / max_by (arg-extremum aggregates).
    GraftQuery(
      "q30_minby_maxby",
      (s, d) =>
        t(s, d, "orders")
          .groupBy("o_custkey")
          .agg(
            max_by(col("o_orderkey"), col("o_totalprice")).as("best_order"),
            min_by(col("o_orderkey"), col("o_totalprice")).as("worst_order"),
            dsum(col("o_totalprice")).as("total_spend"))
          .orderBy("o_custkey"),
      Some(s"""SELECT o_custkey,
        |arg_max(o_orderkey, o_totalprice) AS best_order,
        |arg_min(o_orderkey, o_totalprice) AS worst_order,
        |${dsumSql("o_totalprice")} AS total_spend
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
    ),

    // Pivot: linestatus values become columns (oracle states the
    // equivalent conditional aggregation — engine-portable).
    GraftQuery(
      "q31_pivot",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(dsum(col("l_quantity")))
          .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
        |${dsumSql("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS F,
        |${dsumSql("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    // Array & string aggregation, made deterministic by sorting the
    // collected set before serializing. The set itself is emitted in
    // serialized (csv) + cardinality form, not as a raw array column:
    // the driver's comparator sorts rows with pandas, which cannot
    // hash/sort ndarray cells.
    GraftQuery(
      "q32_array_agg",
      (s, d) =>
        t(s, d, "orders")
          .groupBy("o_orderpriority")
          .agg(
            array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("status_csv"),
            size(collect_set(col("o_orderstatus"))).as("n_statuses"),
            count(lit(1)).as("n"))
          .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
        |list_aggregate(list_sort(list(DISTINCT o_orderstatus)), 'string_agg', ',') AS status_csv,
        |CAST(len(list(DISTINCT o_orderstatus)) AS INT) AS n_statuses,
        |COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    ),

    // Date arithmetic: day difference, interval add, month truncation,
    // month-end — the calendar functions a date dimension consumer uses.
    GraftQuery(
      "q33_date_arith",
      (s, d) =>
        t(s, d, "orders")
          .select(
            col("o_orderkey"),
            datediff(col("o_orderdate"), lit("1995-01-01").cast("timestamp")).as("days_since_epoch_start"),
            date_add(col("o_orderdate"), 30).cast("timestamp").as("due_date"),
            date_trunc("month", col("o_orderdate")).as("order_month"),
            last_day(col("o_orderdate")).cast("timestamp").as("month_end"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
        |CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since_epoch_start,
        |o_orderdate + INTERVAL 30 DAY AS due_date,
        |date_trunc('month', o_orderdate) AS order_month,
        |CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),

    // Null semantics: null-producing keys, null-grouping, null-safe
    // equality (<=> / IS NOT DISTINCT FROM), and explicit NULLS FIRST
    // ordering (engines default differently — Spark ASC is nulls
    // first, DuckDB nulls last).
    GraftQuery(
      "q34_null_semantics",
      (s, d) => {
        val c = t(s, d, "customer")
          .select(col("c_custkey"), nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
        val segCount = c.groupBy("seg").agg(count(lit(1)).as("n"))
        // null-safe self-join of the null-grouped summary: the null
        // group must match itself under <=> (and never under ===)
        segCount.as("a")
          .join(segCount.as("b"), col("a.seg") <=> col("b.seg"))
          .select(col("a.seg").as("seg"), col("a.n").as("n"),
            (col("a.seg") === col("b.seg")).as("plain_eq"))
          .orderBy(asc_nulls_first("seg"))
      },
      Some("""WITH sc AS (
        |  SELECT NULLIF(c_mktsegment, 'BUILDING') AS seg, COUNT(*) AS n
        |  FROM customer GROUP BY 1)
        |SELECT a.seg AS seg, a.n AS n, a.seg = b.seg AS plain_eq
        |FROM sc a JOIN sc b ON a.seg IS NOT DISTINCT FROM b.seg
        |ORDER BY seg NULLS FIRST""".stripMargin)
    ),

    // W2 — sliding event-time windows (1 h size, 30 min slide): every
    // event falls in exactly two windows; the oracle materializes both
    // covering slots per event explicitly.
    GraftQuery(
      "q35_sliding_window",
      (s, d) =>
        t(s, d, "events")
          .groupBy(window(col("ts"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
          .select(col("window.start").as("window_start"), col("n_events"), col("sum_value"))
          .orderBy("window_start"),
      Some(s"""WITH slots AS (
        |  SELECT unnest([epoch_us(ts) // 1800000000,
        |                 epoch_us(ts) // 1800000000 - 1]) AS slot, value
        |  FROM events)
        |SELECT make_timestamp(slot * 1800000000) AS window_start,
        |  COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
        |FROM slots GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // Column profiling stats per group: min/max/mean and sample
    // stddev derived from decimal-exact moments, so both engines
    // compute sqrt((Σx² − (Σx)²/n)/(n−1)) from bit-identical inputs.
    GraftQuery(
      "q36_profile_stats",
      (s, d) => {
        val s1 = dsum(col("l_extendedprice"))
        val s2 = sum((col("l_extendedprice") * col("l_extendedprice"))
          .cast(org.apache.spark.sql.types.DecimalType(30, 4))).cast("double")
        val n = count(lit(1))
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            min(col("l_extendedprice")).as("min_price"),
            max(col("l_extendedprice")).as("max_price"),
            round(s1 / n, 4).as("mean_price"),
            round(sqrt((s2 - s1 * s1 / n) / (n - lit(1))), 4).as("std_price"),
            n.as("n"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag,
        |MIN(l_extendedprice) AS min_price,
        |MAX(l_extendedprice) AS max_price,
        |ROUND(${dsumSql("l_extendedprice")} / COUNT(*), 4) AS mean_price,
        |ROUND(SQRT((CAST(SUM(CAST((l_extendedprice * l_extendedprice) AS DECIMAL(30,4))) AS DOUBLE)
        |            - ${dsumSql("l_extendedprice")} * ${dsumSql("l_extendedprice")} / COUNT(*))
        |           / (COUNT(*) - 1)), 4) AS std_price,
        |COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    // Fixed-width histogram of order totals (10 × 50k buckets, top
    // bucket open) — integer bucket arithmetic, exact in both engines.
    GraftQuery(
      "q37_histogram",
      (s, d) =>
        t(s, d, "orders")
          .groupBy(least(floor(col("o_totalprice") / 50000.0), lit(9.0)).cast("int").as("bucket"))
          .agg(
            count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("bucket_total"))
          .orderBy("bucket"),
      Some(s"""SELECT CAST(LEAST(FLOOR(o_totalprice / 50000.0), 9.0) AS INT) AS bucket,
        |COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS bucket_total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // Pearson correlation from decimal-exact moments (engine-native
    // corr() accumulates floats in partition order and cannot match an
    // oracle bit-for-bit; the moment form can).
    GraftQuery(
      "q38_correlation",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val sx = sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double")
        val sy = sum(col("l_extendedprice").cast(DecimalType(18, 4))).cast("double")
        val sxx = sum((col("l_quantity") * col("l_quantity")).cast(DecimalType(30, 4))).cast("double")
        val syy = sum((col("l_extendedprice") * col("l_extendedprice")).cast(DecimalType(30, 4))).cast("double")
        val sxy = sum((col("l_quantity") * col("l_extendedprice")).cast(DecimalType(30, 4))).cast("double")
        val n = count(lit(1)).cast("double")
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round((n * sxy - sx * sy) /
              sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4).as("corr_qty_price"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
        |ROUND((CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST((l_quantity * l_extendedprice) AS DECIMAL(30,4))) AS DOUBLE)
        |        - CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE))
        |      / SQRT((CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST((l_quantity * l_quantity) AS DECIMAL(30,4))) AS DOUBLE)
        |              - CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE))
        |             * (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST((l_extendedprice * l_extendedprice) AS DECIMAL(30,4))) AS DOUBLE)
        |                - CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE))), 4) AS corr_qty_price,
        |COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    // Boolean and bitwise aggregates (every-row predicates and bit
    // accumulation — the remaining aggregate family q02-q38 didn't
    // touch; both engines share names and integer-width semantics).
    GraftQuery(
      "q39_bool_bit_aggs",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            bool_and(col("l_quantity") > 0).as("all_positive_qty"),
            bool_or(col("l_discount") > 0.05).as("any_big_discount"),
            bit_and(col("l_linenumber")).as("line_bits_and"),
            bit_or(col("l_linenumber")).as("line_bits_or"),
            bit_xor(col("l_partkey")).as("part_bits_xor"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        |bool_and(l_quantity > 0) AS all_positive_qty,
        |bool_or(l_discount > 0.05) AS any_big_discount,
        |bit_and(l_linenumber) AS line_bits_and,
        |bit_or(l_linenumber) AS line_bits_or,
        |bit_xor(l_partkey) AS part_bits_xor
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    // RANGE window frame over a calendar interval — value-based frames
    // (trailing 30-day spend per customer) are a different execution
    // family from the ROWS frames of q22: the frame boundary is found
    // by value comparison, not row offset. Engine-portable SQL text,
    // decimal-exact running sum.
    GraftQuery(
      "q40_range_frame",
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders")
        s.sql(rangeFrameSql)
      },
      Some(rangeFrameSql)
    )
  )

  /** Engine-portable SQL: identical text for spark.sql and DuckDB. */
  lazy val rangeFrameSql: String =
    """SELECT o_orderkey, o_custkey,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
      |  PARTITION BY o_custkey ORDER BY o_orderdate
      |  RANGE BETWEEN INTERVAL '30' DAY PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Engine-portable SQL: identical text for spark.sql and DuckDB.
    * (Single-arg GROUPING() only — Spark has no multi-arg form.)
    * lazy: referenced from `all`, which is initialized first.
    */
  lazy val groupingSetsSql: String =
    """SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
      |COALESCE(l_linestatus, '(all)') AS linestatus,
      |CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
      |CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
      |COUNT(*) AS n,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY returnflag, linestatus, g_rf""".stripMargin
}
