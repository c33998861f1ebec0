package graft

import org.apache.spark.sql.functions._

import graft.operators.Hll

class HllSpec extends SparkSpec {

  test("estimates land within 3 standard errors across cardinalities") {
    import sqlImplicits._
    for (n <- Seq(100, 1000, 20000)) {
      val df = (1 to n).map(i => s"key-$i").toDF("k")
      val est = df.agg(Hll.sketchAgg(col("k"), 12).as("r"))
        .select(Hll.estimate(col("r"))).head().getLong(0)
      val rsd = 1.04 / math.sqrt(1 << 12)
      assert(
        math.abs(est - n).toDouble / n <= 3 * rsd,
        s"n=$n est=$est (err ${math.abs(est - n).toDouble / n})")
    }
  }

  test("sketch(A ∪ B) equals merge(sketch(A), sketch(B)) register-for-register") {
    import sqlImplicits._
    val a = (1 to 4000).map(i => ("g", s"a-$i")).toDF("g", "k")
    val b = (1 to 4000).map(i => ("g", s"b-${i % 2500}")).toDF("g", "k")
    def regs(df: org.apache.spark.sql.DataFrame) =
      Hll.distinctByGroup(df, Seq("g"), "k").select("g", "registers")
    val whole = regs(a.unionByName(b)).collect().head.getSeq[Int](1)
    val merged = Hll.mergeStates(Seq(regs(a), regs(b)), Seq("g"))
      .collect().head.getSeq[Int](1)
    assert(merged == whole)
  }

  test("registers are independent of partitioning; duplicates don't move them") {
    import sqlImplicits._
    val rows = (1 to 5000).map(i => s"k-${i % 1200}")
    val one = rows.toDF("k").coalesce(1)
      .agg(Hll.sketchAgg(col("k")).as("r")).head().getSeq[Int](0)
    val many = (rows ++ rows.take(2000)).toDF("k").repartition(17)
      .agg(Hll.sketchAgg(col("k")).as("r")).head().getSeq[Int](0)
    assert(one == many)
  }

  test("per-group estimates track exact group cardinalities") {
    import sqlImplicits._
    val df = (1 to 9000).map(i => (s"g${i % 3}", s"k-${i % (1000 * (i % 3 + 1))}"))
      .toDF("g", "k")
    val exact = df.groupBy("g").agg(countDistinct(col("k")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = Hll.distinctByGroup(df, Seq("g"), "k")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("est")).toMap
    val rsd = 1.04 / math.sqrt(1 << 12)
    exact.foreach { case (g, n) =>
      assert(math.abs(est(g) - n).toDouble / n <= 3 * rsd, s"$g: exact=$n est=${est(g)}")
    }
  }

  test("slidingDistinct tracks the exact trailing-window cardinality across a date gap") {
    import sqlImplicits._
    // 10 days of activity with a 3-day gap after day 4; each day d has
    // users d*37 .. d*37+999 (heavy overlap between nearby days)
    val days = (0 to 4) ++ (8 to 12)
    val rows = for { d <- days; u <- 0 until 1000 }
      yield (new java.sql.Timestamp(1704067200000L + d * 86400000L + u), (d * 37 + u).toLong)
    val df = rows.toDF("ts", "user_id")
    val est = Hll.slidingDistinct(df, "ts", "user_id", windowDays = 3)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(est.size == days.size)
    // exact trailing-3-day distinct per day (RANGE semantics: the gap
    // days contribute nothing, and day 8's window must NOT see day 4)
    val byDay = days.map(d => d -> (0 until 1000).map(u => d * 37 + u).toSet).toMap
    val rsd = 1.04 / math.sqrt(1 << 12)
    days.foreach { d =>
      val exact = days.filter(d2 => d2 <= d && d2 > d - 3)
        .flatMap(byDay).toSet.size
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString
      assert(math.abs(est(day) - exact).toDouble / exact <= 3 * rsd,
        s"day $d: exact=$exact est=${est(day)}")
    }
  }

  test("mergeStates raises on mixed-p states instead of zero-padding") {
    import sqlImplicits._
    // a p=2 state folded into p=3 groups: zip_with null-pads the short
    // array and greatest() skips the null, so the tail registers were
    // silently zeroed — now the fold raises
    val a = Seq(("g", Seq(1, 2, 3, 4, 5, 6, 7, 8))).toDF("g", "registers")
    val b = Seq(("g", Seq(9, 9, 9, 9))).toDF("g", "registers")
    val e = intercept[Exception] {
      Hll.mergeStates(Seq(a, b), Seq("g")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("different p")), e.getMessage.take(300))
    // same p still folds register-wise across states
    val c = Seq(("g", Seq(0, 7, 1, 0))).toDF("g", "registers")
    val ok = Hll.mergeStates(Seq(b, c), Seq("g")).head().getSeq[Int](1)
    assert(ok == Seq(9, 9, 9, 9))
  }
}
