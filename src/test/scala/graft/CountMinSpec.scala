package graft

import org.apache.spark.sql.functions._

import graft.operators.CountMin

class CountMinSpec extends SparkSpec {

  // zipfy fixture: one hot key, a mid tier, a long unique tail
  private def sample = {
    import sqlImplicits._
    val keys = (1 to 500).map { i =>
      if (i % 2 == 0) "hot" else if (i % 5 == 1) s"mid${i % 7}" else s"tail$i"
    }
    keys.toDF("k")
  }

  private def exactCounts = {
    import sqlImplicits._
    sample.groupBy("k").agg(count(lit(1)).as("exact"))
  }

  test("estimates are one-sided: est >= exact for every key") {
    val sk = CountMin.sketch(sample, "k")
    val est = CountMin.estimate(sk, sample, "k")
    val bad = est.join(exactCounts, Seq("k"))
      .filter(col("est") < col("exact"))
    assert(bad.count() == 0, bad.collect().mkString(", "))
    // the hot key is exact on this deterministic fixture (no cell of
    // its 4 rows collides with another key at w=512)
    val hot = est.filter(col("k") === "hot").head().getLong(1)
    assert(hot == 250L, s"hot est $hot")
  }

  test("unseen keys estimate 0 unless every cell collides (none do here)") {
    import sqlImplicits._
    val sk = CountMin.sketch(sample, "k")
    val est = CountMin.estimate(
      sk, Seq("nope1", "nope2", "nope3").toDF("k"), "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.values.forall(_ == 0L), est.toString)
  }

  test("result is independent of partitioning; sketch is bounded by d*w") {
    val a = CountMin.sketch(sample.coalesce(1), "k", d = 3, w = 64)
      .collect().map(_.toSeq).toSet
    val b = CountMin.sketch(sample.repartition(11), "k", d = 3, w = 64)
      .collect().map(_.toSeq).toSet
    assert(a == b)
    assert(a.size <= 3 * 64)
  }
}
