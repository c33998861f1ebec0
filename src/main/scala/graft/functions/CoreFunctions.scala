package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Core reusable Column combinators for the engine.
  *
  * Everything here is pure `Column` composition over Spark built-ins —
  * codegen-transparent, no UDFs (SURVEY.md §2.6/§4.3). Reference
  * semantics being reproduced:
  *  - haversine: /root/reference/src/check_and_create_db_v4.py:300-313
  *  - duration (fractional-second timestamp diff): v4.py:276
  *  - speed + null/NaN/±inf repair: v4.py:279-280
  *  - surrogate keys: v4.py:148 (uuid4 → deterministic sha2, SURVEY F17)
  *  - date parts: v4.py:201-208
  */
object CoreFunctions {

  // ONE copy of the constant the bit-identical-oracle contract depends
  // on: aliasing the kernel's value means an edit there (e.g. to the
  // WGS84 mean radius) can never desynchronize this from the fused
  // Expression and the bounding-box rule.
  val EarthRadiusKm: Double = graft.plans.HaversineDistance.EarthRadiusKm

  /** Great-circle distance in km (haversine), mirroring
    * check_and_create_db_v4.py:300-313 — backed by the fused codegen
    * [[graft.plans.HaversineDistance]] Expression (bit-identical
    * arithmetic to the composed built-in form, so the DuckDB oracle
    * formula still agrees to ~1 ulp; also the anchor node for the
    * bounding-box optimizer rule).
    */
  def haversineKm(lat1: Column, lng1: Column, lat2: Column, lng2: Column): Column = {
    import org.apache.spark.sql.graftops.ColumnBridge.{column, expression}
    column(graft.plans.HaversineDistance(
      expression(lat1.cast("double")), expression(lng1.cast("double")),
      expression(lat2.cast("double")), expression(lng2.cast("double"))))
  }

  /** Timestamp difference in fractional seconds (SURVEY F8).
    * Computed as an exact integer microsecond difference with a single
    * final division — keeps sub-second precision (`unix_timestamp`
    * truncates) and is bit-identical to any engine that does the same
    * (`(epoch_us(end) - epoch_us(start)) / 1e6`), unlike the
    * `cast(double) - cast(double)` form whose two divisions can land
    * an ulp below a whole second and then truncate wrong.
    */
  def durationSeconds(start: Column, end: Column): Column =
    (unix_micros(end) - unix_micros(start)).cast("double") / lit(1e6)

  /** pandas `.fillna(0).replace([inf,-inf], 0)` repair (v4.py:280):
    * null, NaN, and ±Infinity all collapse to 0.0 (SURVEY P8/F14-F16).
    */
  def repairMeasure(c: Column): Column =
    when(c.isNull || isnan(c) || abs(c) === lit(Double.PositiveInfinity), lit(0.0))
      .otherwise(c)

  /** Speed in km/h = distance / (seconds/3600), with the v4.py:279-280
    * zero-duration (→ inf) and null repairs applied. `try_divide`
    * yields null on /0 under both ANSI and legacy modes; the repair
    * then maps it to 0.0 exactly like pandas' inf→0 replace.
    */
  def speedKmh(distanceKm: Column, durationSec: Column): Column =
    repairMeasure(try_divide(distanceKm, durationSec / lit(3600.0)))

  /** Deterministic surrogate key over a natural key (SURVEY F17):
    * stable across runs, 1 key per distinct natural key — unlike the
    * reference's uuid4. U+0001 (SOH) separator avoids ambiguous
    * concat; NULL components are encoded as a U+0002 sentinel because
    * concat_ws silently DROPS nulls, which would collide (NULL, "x"),
    * ("x", NULL), and ("x") into one key (same hardening as
    * DataMix.md5Hash).
    */
  def surrogateKey(naturalKey: Column*): Column =
    sha2(concat_ws("\u0001",
      naturalKey.map(c => coalesce(c.cast("string"), lit("\u0002"))): _*), 256)

  /** The 8 date parts of the reference date dimension (v4.py:201-208),
    * as (name, column) pairs so callers control ordering.
    */
  def dateParts(ts: Column): Seq[(String, Column)] = Seq(
    "year"    -> year(ts),
    "month"   -> month(ts),
    "quarter" -> quarter(ts),
    "week"    -> weekofyear(ts),
    "day"     -> dayofmonth(ts),
    "hour"    -> hour(ts),
    "minute"  -> minute(ts),
    "second"  -> second(ts)
  )

  // ---- Oracle-exact aggregation helpers -------------------------------
  // Double sums are order-dependent; Spark's partial aggregation order
  // differs from DuckDB's sequential scan, so `round(sum(x),4)` can
  // straddle a rounding boundary. Summing DECIMAL(18,4) instead is
  // exact and engine-independent; the final cast back to double of a
  // 4-dp decimal < 2^53/10^4 is bit-deterministic in both engines.

  /** Linear bucketization of `c` from [lo, hi) onto 0..n-1, clamped at
    * both ends (out-of-range values land in the edge buckets; NULL →
    * bucket 0). Shared by the layout (ZOrder) and sketch
    * (QuantileSketch) operators so the clamp/NULL semantics and their
    * engine-portable oracle replays can never drift apart. The bucket
    * expression is `floor((c - lo) / (hi - lo) * n)` — division before
    * multiplication, the exact order the oracles replicate.
    */
  def bucketize(c: Column, lo: Double, hi: Double, n: Long): Column = {
    require(n > 0, s"bucket count $n must be positive")
    require(hi > lo, s"degenerate range [$lo, $hi]")
    val raw = floor((c.cast("double") - lit(lo)) / lit(hi - lo) * lit(n.toDouble)).cast("long")
    coalesce(least(greatest(raw, lit(0L)), lit(n - 1)), lit(0L))
  }

  /** Leading (most significant) decimal digit of a non-negative long
    * column, 0 for 0, null for null — an integer compare/divide
    * cascade (13 thresholds cover every DECIMAL(18,4) integer part,
    * i.e. up to 14 digits) instead of rendering the number to a
    * string and reading its first character: the string form pays a
    * BigDecimal→plain-string→UTF8String round trip per row inside the
    * scan's hottest loop (x131 measured ~2× the whole query). Each
    * guarded quotient lies in [1, 10), where the double division is
    * exact: the true quotient sits at least 1/10^13 below the next
    * integer while a double near 10 resolves ~9e-16, so truncation
    * can never round up a digit. Negative inputs are the caller's
    * contract to exclude (x131 filters on value > 0 first).
    *
    * DOMAIN CONTRACT (not enforced — this sits in the scan's hottest
    * loop and every declared caller is bounded by construction):
    * inputs must be < 10^14, i.e. at most 14 decimal digits — the
    * integer part of any DECIMAL(18,4). A wider long silently yields
    * the multi-digit quotient n/10^13 (e.g. 52 for 5.2e14), not its
    * leading digit; a caller feeding unbounded longs must clamp or
    * pre-filter its domain first.
    */
  def leadingDigit(n: Column): Column =
    (13 to 1 by -1).map(k => math.pow(10, k).toLong)
      .foldLeft(Option.empty[Column]) { (acc, p) =>
        val branch = (n / lit(p)).cast("long")
        Some(acc.fold(when(n >= lit(p), branch))(_.when(n >= lit(p), branch)))
      }.get.otherwise(n)

  /** Exact integer FLOOR division for long columns at any magnitude:
    * strip the (always non-negative) pmod remainder so the numerator
    * is an exact multiple, then divide in DECIMAL. The `/`-based form
    * of this idiom (previously copied privately into Eval,
    * GridCluster and SetJoin) executed the final division in doubles,
    * which loses exactness past 2^53 even on exact multiples. The
    * remainder is stripped in DECIMAL too: `num - pmod` in LongType
    * wraps at the extremes the doc promises to handle (Long.MinValue
    * with den=3 has pmod 1, and MinValue−1 wrapped to MaxValue — the
    * sign of the whole quotient silently flipped with ANSI off).
    */
  def floorDiv(num: Column, den: Column): Column = {
    val n = num.cast(DecimalType(38, 0))
    ((n - pmod(n, den.cast(DecimalType(38, 0)))) / den).cast("long")
  }

  /** Exact integer CEIL division (positive divisors). The
    * `num + den − 1` shift happens in DECIMAL for the same wrap
    * reason as [[floorDiv]]: at num near Long.MaxValue the Long
    * addition wrapped negative before the exact division ever ran.
    */
  def ceilDiv(num: Column, den: Column): Column =
    floorDiv(
      num.cast(DecimalType(38, 0)) + den.cast(DecimalType(38, 0)) - lit(1),
      den)

  /** Exact decimal sum of a double column, returned as double. NaN is
    * excluded like NULL; a finite value outside the DECIMAL(18,4)
    * domain RAISES (the Stats.quantizable convention) — it previously
    * overflowed to a silent NULL that sum() skipped, so one corrupt
    * 1e15 reading made the "exact" sum quietly pretend the row never
    * existed.
    */
  def dsum(c: Column): Column = {
    val v = c.cast("double")
    val dec = c.cast(DecimalType(18, 4))
    sum(when(v.isNotNull && !isnan(v),
      coalesce(
        assert_true(dec.isNotNull,
          concat(lit("dsum: value outside the DECIMAL(18,4) quantization domain: "),
            v.cast("string"))).cast(DecimalType(18, 4)),
        dec))).cast("double")
  }

  /** Order-independent average of a double column, rounded to 4 dp.
    * The denominator counts only values that entered the sum — a NaN
    * row previously stayed in count(c) while dropping out of the
    * numerator, biasing the mean low with no signal.
    */
  def davg(c: Column): Column = {
    val v = c.cast("double")
    round(dsum(c) / count(when(v.isNotNull && !isnan(v), lit(1))), 4)
  }

  /** SQL fragment for the DuckDB oracle equivalent of [[dsum]]. */
  def dsumSql(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(18,4))) AS DOUBLE)"

  /** SQL fragment for the DuckDB oracle equivalent of [[davg]]. */
  def davgSql(expr: String): String =
    s"ROUND(${dsumSql(expr)} / COUNT($expr), 4)"

  /** SQL fragment mirroring [[haversineKm]] term-for-term — the radius
    * interpolates from the ONE kernel constant, so an edit there
    * reaches the oracle SQL in the same commit (a hardcoded 6371.0
    * here would silently compare Spark-at-new-radius against
    * DuckDB-at-old).
    */
  def haversineSql(lat1: String, lng1: String, lat2: String, lng2: String): String =
    s"2.0 * $EarthRadiusKm * ASIN(SQRT(" +
      s"POW(SIN(RADIANS(($lat2) - ($lat1)) / 2), 2) + " +
      s"COS(RADIANS($lat1)) * COS(RADIANS($lat2)) * " +
      s"POW(SIN(RADIANS(($lng2) - ($lng1)) / 2), 2)))"
}
