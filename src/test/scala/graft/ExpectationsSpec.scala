package graft

import org.apache.spark.sql.functions._

import graft.operators.Expectations._

/** Data-quality expectations on planted data: exact violation counts
  * for every expectation kind, NULL semantics, and the one-pass
  * plan shape for row-local checks.
  */
class ExpectationsSpec extends SparkSpec {

  private lazy val facts = {
    import sqlImplicits._
    Seq(
      // (id, fk, qty, status)
      (1L, Some(10L), Some(5.0), "OK"),
      (2L, Some(10L), Some(500.0), "OK"), // qty out of range
      (2L, Some(20L), Some(7.0), "meh"), // dup id, bad status
      (3L, Some(99L), None, "OK"), // dangling fk, null qty
      (4L, None, Some(1.0), "OK")) // null fk passes ref integrity
      .toDF("id", "fk", "qty", "status")
  }

  private lazy val dim = {
    import sqlImplicits._
    Seq(10L, 20L).toDF("pk")
  }

  test("every expectation kind counts its planted violations exactly") {
    val report = check(facts, Seq(
      NotNull("qty_nn", Seq("qty")),
      InRange("qty_rng", "qty", 0.0, 100.0),
      OneOf("status_dom", "status", Seq("OK", "KO")),
      Matches("status_re", "status", "^[A-Z]+$"),
      Unique("id_pk", Seq("id")),
      RefIntegrity("fk_ok", Seq("fk"), dim, Seq("pk"))))
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(report("qty_nn") == ((1L, false))) // one null qty
    assert(report("qty_rng") == ((1L, false))) // 500 out of range; NULL passes
    assert(report("status_dom") == ((1L, false))) // "meh"
    assert(report("status_re") == ((1L, false))) // "meh" lowercase
    assert(report("id_pk") == ((1L, false))) // id 2 twice → one extra row
    assert(report("fk_ok") == ((1L, false))) // fk 99 dangling; NULL fk passes
  }

  test("a clean table passes everything") {
    val report = check(facts.filter(col("id") === 1L), Seq(
      NotNull("nn", Seq("qty", "status")),
      InRange("rng", "qty", 0.0, 100.0),
      Unique("pk", Seq("id")),
      RefIntegrity("fk", Seq("fk"), dim, Seq("pk"))))
      .collect()
    assert(report.length == 4 && report.forall(_.getBoolean(3)))
    assert(report.forall(_.getLong(2) == 0L))
  }

  test("row-local expectations share ONE aggregate scan") {
    val plan = check(facts, Seq(
      NotNull("a", Seq("qty")),
      InRange("b", "qty", 0.0, 100.0),
      OneOf("c", "status", Seq("OK")),
      Matches("d", "status", "^[A-Z]+$")))
      .queryExecution.optimizedPlan
    // 4 row-local expectations → 4 union branches reading ONE shared
    // aggregate; the scan must not be re-run per expectation. The
    // optimized plan references the source at most once per union
    // branch — assert the aggregate count, the cheap invariant: every
    // branch is a projection of the same single-row aggregate.
    val aggs = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    // one logical aggregate per branch pre-CSE is acceptable; what must
    // NOT appear is a per-expectation FILTER+count shape (grep Filter)
    val filters = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }
    assert(filters.isEmpty, s"row-local checks should fold into aggregates, found ${filters.size} filters")
    assert(aggs.nonEmpty)
  }

  test("fkAudit counts orphans and null FKs per edge") {
    import sqlImplicits._
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(
      (10L, Some(1L)), (11L, Some(2L)), (12L, Some(99L)), // 99 is an orphan
      (13L, None), (14L, Some(3L)), (15L, Some(98L)))     // 98 too
      .toDF("id", "fk")
    val got = graft.operators.Expectations.fkAudit(
        Seq(("child->parent", child, "fk", parent, "pk")))
      .head()
    assert(got.getString(0) == "child->parent")
    assert(got.getLong(1) == 6L)  // rows
    assert(got.getLong(2) == 1L)  // null fk
    assert(got.getLong(3) == 2L)  // orphans
  }

  test("fdAudit separates a holding dependency from a violated one, with exact g3") {
    import sqlImplicits._
    val df = Seq(
      ("a1", "x", "c1", "p"), ("a1", "x", "c1", "p"), ("a1", "x", "c1", "q"),
      ("a2", "y", "c2", "p"))
      .toDF("a", "b", "c", "d")
    val got = graft.operators.Expectations.fdAudit(df, Seq("a" -> "b", "c" -> "d"))
      .orderBy("lhs").collect()
    val ab = got(0)
    assert(ab.getString(0) == "a" && ab.getLong(2) == 2L)
    assert(ab.getLong(3) == 0L && ab.getLong(4) == 0L && ab.getLong(6) == 0L)
    val cd = got(1)
    assert(cd.getLong(2) == 2L) // keys c1, c2
    assert(cd.getLong(3) == 1L) // c1 violates
    assert(cd.getLong(4) == 3L) // its 3 rows
    assert(cd.getLong(5) == 2L) // two rhs values under c1
    assert(cd.getLong(6) == 1L) // delete the lone q row
  }

  test("empty inputs report zero counts, never NULL (gates must not go UNKNOWN)") {
    import sqlImplicits._
    val empty = Seq.empty[(Long, Option[Long])].toDF("id", "fk")
    val parent = Seq(1L).toDF("pk")
    val fk = graft.operators.Expectations.fkAudit(
        Seq(("e", empty, "fk", parent, "pk"))).head()
    assert(fk.getLong(1) == 0L && fk.getLong(2) == 0L && fk.getLong(3) == 0L,
      s"NULL counts would turn a filter gate UNKNOWN: $fk")
    // fdAudit over an all-null rhs: perKey is empty, every count 0
    val nulls = Seq(("k1", Option.empty[String]), ("k2", None)).toDF("a", "b")
    val fd = graft.operators.Expectations.fdAudit(nulls, Seq("a" -> "b")).head()
    assert((2 to 6).forall(!fd.isNullAt(_)), s"no NULL columns: $fd")
    assert(fd.getLong(2) == 0L && fd.getLong(3) == 0L && fd.getLong(6) == 0L)
  }

  test("malformed expectations are named loudly") {
    import sqlImplicits._
    val df = Seq((1L, "x")).toDF("id", "s")
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.Expectations.check(df,
        Seq(graft.operators.Expectations.NotNull("nn", Seq.empty)))
    }
    assert(e1.getMessage.contains("nn"))
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Expectations.check(df,
        Seq(graft.operators.Expectations.Unique("uq", Seq.empty)))
    }
    assert(e2.getMessage.contains("uq"))
  }
}
