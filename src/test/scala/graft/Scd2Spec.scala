package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Scd2

/** SCD2 merge on planted data: every merge case (change, no-op,
  * new key, update-absent key, closed-history passthrough) plus the
  * null-attr semantics the `<=>` comparison defines.
  */
class Scd2Spec extends SparkSpec {

  import java.sql.Date

  private val d0 = Date.valueOf("2023-01-01")
  private val d1 = Date.valueOf("2023-06-01")
  private val d2 = Date.valueOf("2024-01-01")

  //  key 1: closed history row + open row whose segment will change
  //  key 2: open row restaged unchanged (no-op)
  //  key 3: open row, absent from the update batch
  //  key 4: open row with NULL attr; staged non-null (null→value = change)
  //  key 5: open row with NULL attr; staged NULL (null→null = no-op)
  //  key 9: brand-new key, only in the update batch
  private lazy val current: DataFrame = {
    import sqlImplicits._
    Seq(
      (1L, "OLD", Some(d0), Some(d1), false),
      (1L, "MID", Some(d1), None, true),
      (2L, "KEEP", Some(d0), None, true),
      (3L, "LONE", Some(d0), None, true),
      (4L, null.asInstanceOf[String], Some(d0), None, true),
      (5L, null.asInstanceOf[String], Some(d0), None, true))
      .toDF("k", "seg", "valid_from", "valid_to", "is_current")
  }

  private lazy val updates: DataFrame = {
    import sqlImplicits._
    Seq(
      (1L, "NEW"),
      (2L, "KEEP"),
      (4L, "FILLED"),
      (5L, null.asInstanceOf[String]),
      (9L, "FRESH"))
      .toDF("k", "seg")
  }

  private lazy val merged =
    Scd2.merge(current, updates, Seq("k"), Seq("seg"), lit(d2))
      .orderBy("k", "valid_from")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDate(2), Option(r.getDate(3)), r.getBoolean(4)))

  test("changed key closes the open row and opens a new version") {
    val k1 = merged.filter(_._1 == 1L)
    assert(k1.toSeq == Seq(
      (1L, "OLD", d0, Some(d1), false), // closed history untouched
      (1L, "MID", d1, Some(d2), false), // open row closed at effective
      (1L, "NEW", d2, None, true))) // new open version
  }

  test("no-op restage and update-absent keys pass through unversioned") {
    assert(merged.filter(_._1 == 2L).toSeq == Seq((2L, "KEEP", d0, None, true)))
    assert(merged.filter(_._1 == 3L).toSeq == Seq((3L, "LONE", d0, None, true)))
  }

  test("null to value is a change; null to null is not") {
    assert(merged.filter(_._1 == 4L).toSeq == Seq(
      (4L, null, d0, Some(d2), false),
      (4L, "FILLED", d2, None, true)))
    assert(merged.filter(_._1 == 5L).toSeq == Seq((5L, null, d0, None, true)))
  }

  test("brand-new key inserts a single open row") {
    assert(merged.filter(_._1 == 9L).toSeq == Seq((9L, "FRESH", d2, None, true)))
  }

  test("duplicate staged keys raise instead of opening duplicate current versions") {
    import sqlImplicits._
    // Two staged rows for key 1 would each match the open row through
    // the full-outer join and open two concurrent versions — silent
    // dimension corruption. The contract is enforced at execution.
    val dup = Seq((1L, "NEW"), (1L, "NEWER")).toDF("k", "seg")
    val e = intercept[Exception] {
      Scd2.merge(current, dup, Seq("k"), Seq("seg"), lit(d2)).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("|")
    assert(messages.contains("one staged row per key"), messages.take(300))
  }

  test("asOf slices the dimension at a point in time") {
    val dim = Scd2.merge(current, updates, Seq("k"), Seq("seg"), lit(d2))
    // The point-in-time slice every SCD2 consumer runs: rows whose
    // validity interval covers the instant.
    def asOf(at: Date) = dim.filter(
      col("valid_from") <= lit(at) && (col("valid_to").isNull || lit(at) < col("valid_to")))
    // Before the merge's effective date: key 1 resolves to MID.
    val before = asOf(Date.valueOf("2023-09-01")).filter(col("k") === 1L).collect()
    assert(before.length == 1 && before.head.getString(1) == "MID")
    // After: key 1 resolves to NEW; key 9 exists.
    val after = asOf(Date.valueOf("2024-02-01"))
    assert(after.filter(col("k") === 1L).head().getString(1) == "NEW")
    assert(after.filter(col("k") === 9L).count() == 1)
    // A key absent at the slice date (9 before its insert) is absent.
    assert(asOf(Date.valueOf("2023-09-01")).filter(col("k") === 9L).count() == 0)
  }

  test("pitJoin picks the version valid at each fact's own time, never fans out") {
    import sqlImplicits._
    val dim = Seq(
      (1L, "old", java.sql.Date.valueOf("2020-01-01"), java.sql.Date.valueOf("2021-01-01"), false),
      (1L, "new", java.sql.Date.valueOf("2021-01-01"), null.asInstanceOf[java.sql.Date], true),
      (2L, "only", java.sql.Date.valueOf("2020-06-01"), null.asInstanceOf[java.sql.Date], true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val facts = Seq(
      (10L, 1L, java.sql.Timestamp.valueOf("2020-06-15 12:00:00")), // -> old
      (11L, 1L, java.sql.Timestamp.valueOf("2021-01-01 00:00:00")), // boundary -> new
      (12L, 1L, java.sql.Timestamp.valueOf("2022-03-01 00:00:00")), // -> new (open)
      (13L, 2L, java.sql.Timestamp.valueOf("2020-01-15 00:00:00")), // predates -> null
      (14L, 3L, java.sql.Timestamp.valueOf("2021-01-01 00:00:00"))) // unknown key -> null
      .toDF("fid", "fk", "ts")
    val got = graft.operators.Scd2
      .pitJoin(facts, dim, "fk", "k", "ts", Seq("attr"))
      .orderBy("fid").collect()
    assert(got.length == 5) // one row per fact: the interval invariant held
    assert(got.map(r => Option(r.getAs[String]("attr")).orNull).toSeq ==
      Seq("old", "new", "new", null, null))
  }

  test("a NULL is_current row routes to history instead of vanishing") {
    import sqlImplicits._
    // NULL matched neither filter(is_current) nor filter(!is_current):
    // the row disappeared from the merged dimension entirely, silent
    // loss compounding every batch
    val cur = Seq(
      (1L, "A", Some(d0), None, Some(true)),
      (7L, "GHOST", Some(d0), Some(d1), Option.empty[Boolean]))
      .toDF("k", "seg", "valid_from", "valid_to", "is_current")
    val out = Scd2.merge(cur, Seq((1L, "A")).toDF("k", "seg"), Seq("k"), Seq("seg"), lit(d2))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq.sortBy(_._1).contains((7L, "GHOST")),
      s"NULL-is_current rows must survive the merge as history, got ${out.toSeq}")
  }

  test("an out-of-order effective date raises instead of writing overlapping intervals") {
    import sqlImplicits._
    val cur = Seq((1L, "MID", Some(d1), Option.empty[Date], Some(true)))
      .toDF("k", "seg", "valid_from", "valid_to", "is_current")
    // effective BEFORE the open row's valid_from would close it as an
    // inverted interval overlapping closed history — pitJoin
    // would then match two versions and double-count facts
    val e = intercept[Exception] {
      Scd2.merge(cur, Seq((1L, "LATE")).toDF("k", "seg"),
        Seq("k"), Seq("seg"), lit(d0)).collect()
    }
    assert(e.getMessage.contains("out-of-order") || e.getMessage.contains("predates"),
      s"got: ${e.getMessage}")
    // same-date re-close (effective == valid_from) still allowed
    val sameDay = Scd2.merge(cur, Seq((1L, "SAME")).toDF("k", "seg"),
      Seq("k"), Seq("seg"), lit(d1)).collect()
    assert(sameDay.length == 2)
  }

  test("duplicate OPEN rows in the dimension raise instead of amplifying corruption") {
    import sqlImplicits._
    // the staged side already raised on duplicates; a corrupted
    // dimension with two open rows for one key fanned out through the
    // full-outer join and opened one identical new version PER
    // duplicate — silently
    val cur = Seq(
      (1L, "X", Some(d0), Option.empty[Date], Some(true)),
      (1L, "Y", Some(d1), Option.empty[Date], Some(true)))
      .toDF("k", "seg", "valid_from", "valid_to", "is_current")
    val e = intercept[Exception] {
      Scd2.merge(cur, Seq((1L, "Z")).toDF("k", "seg"),
        Seq("k"), Seq("seg"), lit(d2)).collect()
    }
    assert(e.getMessage.contains("duplicate OPEN"), s"got: ${e.getMessage}")
  }

  test("pitJoin supports the natural same-name key and guards fact-side collisions") {
    import sqlImplicits._
    val dim = Seq((1L, "v1", java.sql.Date.valueOf("2020-01-01"),
      null.asInstanceOf[java.sql.Date], true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    // factKey == dimKey — the common star-schema shape — previously
    // threw AMBIGUOUS_REFERENCE from col("k") === col("k")
    val facts = Seq((10L, 1L, java.sql.Timestamp.valueOf("2021-01-01 00:00:00")))
      .toDF("fid", "k", "ts")
    val got = Scd2.pitJoin(facts, dim, "k", "k", "ts", Seq("attr")).collect()
    assert(got.length == 1 && got.head.getAs[String]("attr") == "v1")
    // a fact column colliding with a dim attribute would silently
    // duplicate in the output — guarded loudly now
    val collide = facts.withColumn("attr", lit("mine"))
    val e = intercept[IllegalArgumentException] {
      Scd2.pitJoin(collide, dim, "k", "k", "ts", Seq("attr"))
    }
    assert(e.getMessage.contains("rename them"))
  }
}
