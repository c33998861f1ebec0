package graft

import org.apache.spark.sql.functions._

import graft.operators.Profile

class ProfileSpec extends SparkSpec {

  private def sample = {
    import sqlImplicits._
    Seq(
      (1L, "alpha", java.lang.Long.valueOf(10L)),
      (2L, "beta", java.lang.Long.valueOf(7L)),
      (3L, null.asInstanceOf[String], null.asInstanceOf[java.lang.Long]),
      (4L, "alpha", java.lang.Long.valueOf(10L)))
      .toDF("id", "name", "score")
  }

  test("exact profile reports counts, nulls, distincts, bounds, lengths") {
    val p = Profile.profile(sample, Seq("id", "name", "score"))
      .collect().map(r => r.getString(0) -> r).toMap
    val id = p("id")
    assert(id.getLong(1) == 4 && id.getLong(2) == 0 && id.getLong(3) == 4)
    assert(id.getString(4) == "1" && id.getString(5) == "4" && id.getDouble(6) == 1.0)
    val name = p("name")
    assert(name.getLong(2) == 1 && name.getLong(3) == 2)
    assert(name.getString(4) == "alpha" && name.getString(5) == "beta")
    assert(math.abs(name.getDouble(6) - (5 + 4 + 5) / 3.0) < 1e-12)
    val score = p("score")
    assert(score.getLong(2) == 1 && score.getLong(3) == 2)
    assert(score.getString(4) == "7" && score.getString(5) == "10")
  }

  test("profile is a single scan of the input") {
    val plan = Profile.profile(sample, Seq("id", "name", "score"))
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("LocalTableScan"))
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
  }

  test("result is independent of partitioning") {
    val a = Profile.profile(sample.coalesce(1), Seq("id", "name", "score"))
      .collect().map(_.toSeq).toSet
    val b = Profile.profile(sample.repartition(7), Seq("id", "name", "score"))
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("drift flags a null-rate shift beyond tolerance and min/max changes") {
    import sqlImplicits._
    val a = (1 to 100).map(i => (i.toLong, Some(s"v$i"))).toDF("id", "v")
    // b: 20% nulls and a new max value
    val b = (1 to 100).map(i =>
      (i.toLong, if (i % 5 == 0) None else Some(s"w$i"))).toDF("id", "v")
    val rows = graft.operators.Profile.drift(a, b, Seq("id", "v"))
      .collect().map(r => r.getString(0) -> r).toMap
    val v = rows("v")
    assert(v.getAs[Long]("null_micro_a") == 0L)
    assert(v.getAs[Long]("null_micro_b") == 200000L)
    assert(v.getAs[Boolean]("minmax_changed"))
    assert(v.getAs[Boolean]("drift"))
    val id = rows("id")
    assert(!id.getAs[Boolean]("drift") && !id.getAs[Boolean]("minmax_changed"))
    assert(id.getAs[Long]("distinct_micro_a") == 1000000L)
  }

  test("drift: an emptied (or appeared) table reads drift=true, never NULL") {
    import sqlImplicits._
    val a = (1 to 10).map(i => (i.toLong, Some(s"v$i"))).toDF("id", "v")
    val empty = a.filter(col("id") < 0)
    // the old n_rows=0 division made the micro rates NULL and the
    // verdict NULL — filter(col("drift")) dropped the most-drifted
    // state possible; under ANSI it raised DIVIDE_BY_ZERO instead
    val gone = graft.operators.Profile.drift(a, empty, Seq("v")).collect().head
    assert(gone.getAs[Boolean]("drift"), gone.toString)
    assert(gone.isNullAt(gone.fieldIndex("null_micro_b")), "no rate for an empty side")
    val appeared = graft.operators.Profile.drift(empty, a, Seq("v")).collect().head
    assert(appeared.getAs[Boolean]("drift"))
    val bothEmpty = graft.operators.Profile.drift(empty, empty, Seq("v")).collect().head
    assert(!bothEmpty.getAs[Boolean]("drift"), "nothing changed between two empties")
  }

  test("categoricalEntropy: uniform pair gives ln 2, constant column gives 0") {
    import sqlImplicits._
    val df = Seq(("a", "z"), ("a", "z"), ("b", "z"), ("b", "z")).toDF("u", "k")
    val got = graft.operators.Profile.categoricalEntropy(df, Seq("u", "k"))
      .orderBy("col_name").collect()
    val k = got(0)
    // micro-nat quantization leaves ~1e-7 residue on the c·ln c term
    assert(k.getString(0) == "k" && k.getLong(2) == 1L && math.abs(k.getDouble(3)) < 1e-5)
    val u = got(1)
    assert(u.getLong(1) == 4L && u.getLong(2) == 2L)
    assert(math.abs(u.getDouble(3) - math.log(2.0)) < 1e-5)
  }
}
