package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.Intervals

class IntervalsSpec extends SparkSpec {

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  private def sample = {
    import sqlImplicits._
    Seq(
      // k1: [0,10] [5,12] overlap; [12,20] touches; [25,30] disjoint;
      //     [26,27] nested in the last span
      ("k1", ts(0), ts(10)), ("k1", ts(5), ts(12)), ("k1", ts(12), ts(20)),
      ("k1", ts(25), ts(30)), ("k1", ts(26), ts(27)),
      // k2: single point interval + an invalid (end < start) to drop
      ("k2", ts(3), ts(3)), ("k2", ts(9), ts(4)),
      // k3: null bound to drop
      ("k3", null.asInstanceOf[Timestamp], ts(1)))
      .toDF("k", "s", "e")
  }

  test("coalesce merges overlapping, touching and nested intervals") {
    val out = Intervals.coalesce(sample, Seq("k"), "s", "e")
      .orderBy("k", "span_start")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("k1", ts(0), ts(20), 3L),
      ("k1", ts(25), ts(30), 2L),
      ("k2", ts(3), ts(3), 1L)))
  }

  test("touch=false keeps abutting intervals separate") {
    val out = Intervals.coalesce(sample, Seq("k"), "s", "e", touch = false)
      .filter(col("k") === "k1").orderBy("span_start")
      .collect().map(r => (r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (ts(0), ts(12), 2L), (ts(12), ts(20), 1L), (ts(25), ts(30), 2L)))
  }

  test("coveredSeconds counts overlaps once") {
    // Covered time per key is the summed length of coalesce's spans:
    // overlapping intervals collapse into one span before summing.
    val out = Intervals.coalesce(sample, Seq("k"), "s", "e")
      .groupBy("k")
      .agg(
        ((sum(unix_micros(col("span_end")) - unix_micros(col("span_start"))))
          .cast("double") / 1e6).as("covered_s"),
        count(lit(1)).as("n_spans"),
        sum(col("n_merged")).as("n_intervals"))
      .orderBy("k")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    // k1: [0,20] + [25,30] = 25 min = 1500 s over 2 spans / 5 intervals
    assert(out.toSeq == Seq(("k1", 1500.0, 2L, 5L), ("k2", 0.0, 1L, 1L)))
  }

  test("result is independent of partitioning") {
    val a = Intervals.coalesce(sample.coalesce(1), Seq("k"), "s", "e")
      .collect().map(_.toSeq).toSet
    val b = Intervals.coalesce(sample.repartition(13), Seq("k"), "s", "e")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("one shuffle total: windows and final rollup share the key partitioning") {
    val plan = Intervals.coalesce(sample, Seq("k"), "s", "e")
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$plan")
  }
}
