package graft

import org.apache.spark.sql.functions._

import graft.operators.RobustStats

class RobustStatsSpec extends SparkSpec {

  private def sample = {
    import sqlImplicits._
    // g1: 1..100 plus two wild points; g2: constant
    val g1 = (1 to 100).map(i => ("g1", i.toDouble)) ++ Seq(("g1", 1e6), ("g1", -1e6))
    val g2 = (1 to 20).map(_ => ("g2", 7.0))
    (g1 ++ g2).toDF("g", "v")
  }

  test("fences are robust: wild points don't move the quartiles") {
    val f = RobustStats.iqrFences(sample, Seq("g"), "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val g1 = f("g1")
    // quartiles of 1..100 (+2 wild): q1≈25.x, q3≈75.x — nowhere near 1e6
    assert(g1.getDouble(1) > 20 && g1.getDouble(1) < 30)
    assert(g1.getDouble(2) > 70 && g1.getDouble(2) < 80)
    val g2 = f("g2")
    assert(g2.getDouble(1) == 7.0 && g2.getDouble(2) == 7.0 && g2.getDouble(3) == 0.0)
  }

  test("iqrSummary counts exactly the fence-crossers") {
    val s = RobustStats.iqrSummary(sample, Seq("g"), "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(s("g1").getLong(2) == 2L) // the two planted wild points
    assert(s("g2").getLong(2) == 0L)
    assert(s("g1").getLong(1) == 102L)
  }

  test("mad matches the hand-computed values") {
    val m = RobustStats.mad(sample, Seq("g"), "v")
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // 102 values: median of 1..100+two wilds = 50.5. Deviations
    // sorted: (k−0.5) twice for k=1..50, then the two wilds — the
    // 51st/52nd order statistics are both 25.5 → MAD 25.5.
    assert(m("g1")._1 == 50.5 && m("g1")._2 == 25.5)
    assert(m("g2") == ((7.0, 0.0)))
  }

  test("classification is independent of partitioning") {
    // iqrSummary's n_outliers is the per-group count of rows classified
    // against the fences; it and the fences must not move with layout.
    val a = RobustStats.iqrSummary(sample.coalesce(1), Seq("g"), "v")
      .collect().map(_.toSeq).toSet
    val b = RobustStats.iqrSummary(sample.repartition(11), Seq("g"), "v")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("winsorize clips at the exact band, guards nulls, and the summary counts both tails") {
    import sqlImplicits._
    val vals: Seq[java.lang.Double] =
      (1 to 99).map(i => java.lang.Double.valueOf(i.toDouble)) :+ (null: java.lang.Double)
    val df = vals.zipWithIndex.map { case (v, i) => ("g", i, v) }.toDF("k", "id", "v")
    val wins = graft.operators.RobustStats.winsorize(df, Seq("k"), "v", 0.10, 0.90)
      .collect().map(r => (r.get(2), r.get(5), r.get(6)))
    // exact p10/p90 of 1..99: pos = p*(n-1) over sorted values
    val lo = 1.0 + 0.10 * 98.0
    val hi = 1.0 + 0.90 * 98.0
    assert(wins.collect { case (v: java.lang.Double, w, _) if v.doubleValue < lo => w }
      .forall(_ == lo))
    assert(wins.collect { case (v: java.lang.Double, w, _) if v.doubleValue > hi => w }
      .forall(_ == hi))
    assert(wins.exists { case (v, w, c) => v == null && w == null && c == null })
    val sm = graft.operators.RobustStats.winsorizeSummary(df, Seq("k"), "v", 0.10, 0.90)
      .collect().head
    assert(sm.getLong(1) == 99L && sm.getLong(2) == 10L && sm.getLong(3) == 10L, sm.toString)
    assert(sm.getDouble(4) == lo && sm.getDouble(5) == hi, sm.toString)
    assert(sm.getDouble(6) == 50.0, sm.toString) // mean of 1..99
  }

  test("weightedQuantile: lower weighted median respects weights, ties and null guards") {
    import sqlImplicits._
    val df = Seq(
      // group a: value 1 carries weight 9, value 100 weight 1 →
      // median = 1 (cum 9/10 ≥ 5); an unweighted median would be 50.5
      ("a", 1.0, 9.0), ("a", 100.0, 1.0),
      // group b: equal weights over 1..4 → lower median = 2 (cum 2/4 ≥ 2)
      ("b", 1.0, 1.0), ("b", 2.0, 1.0), ("b", 3.0, 1.0), ("b", 4.0, 1.0),
      // group c: fractional weights + a null value + a negative weight
      // (both must be ignored)
      ("c", 5.0, 0.25), ("c", 6.0, 0.75), ("c", 7.0, -3.0),
      ("c", Double.NaN, 1.0))
      .map { case (g, v, w) => (g, if (v.isNaN) None else Some(v), w) }
      .toDF("g", "v", "w")
    val got = graft.operators.RobustStats.weightedQuantile(df, Seq("g"), "v", "w")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got("a") == ((10.0, 1.0)))
    assert(got("b") == ((4.0, 2.0)))
    // c: weights 0.25 @5, 0.75 @6 → total 1.0; cum(5)=0.25 < 0.5 → 6
    assert(got("c") == ((1.0, 6.0)))
  }

  test("imputeMedian fills nulls with the group median; all-null groups stay null") {
    import sqlImplicits._
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(3.0)), ("a", Some(100.0)), ("a", None),
      ("b", None), ("b", None))
      .toDF("g", "v")
    val got = graft.operators.RobustStats.imputeMedian(df, Seq("g"), "v")
      .collect().map(r => (r.getString(0), Option(r.getAs[java.lang.Double]("v_filled")),
        r.getAs[Boolean]("was_imputed")))
    // group a median = 3.0 (robust: the 100 outlier doesn't drag it)
    assert(got.count { case (g, v, imp) => g == "a" && imp && v.contains(3.0: java.lang.Double) } == 1)
    assert(got.count { case (g, _, imp) => g == "a" && !imp } == 3)
    assert(got.filter(_._1 == "b").forall { case (_, v, imp) => v.isEmpty && !imp })
  }

  test("weightedQuantile q=1 returns the max observed value; partitioning-independent") {
    import sqlImplicits._
    val df = (1 to 500).map(i => ("g", i.toDouble, (i % 7 + 1).toDouble))
      .toDF("g", "v", "w")
    val m1 = graft.operators.RobustStats.weightedQuantile(df.coalesce(1), Seq("g"), "v", "w", 1.0)
      .head().getDouble(2)
    val m2 = graft.operators.RobustStats.weightedQuantile(df.repartition(9), Seq("g"), "v", "w", 1.0)
      .head().getDouble(2)
    assert(m1 == 500.0 && m2 == 500.0)
  }

  test("banded plan joins its small sides without a big-side sort (no SortMergeJoin)") {
    import sqlImplicits._
    // The r9 regression class: the banded offset table's optimizer
    // estimate is an unreduced aggregate, so without the bounds-proxy
    // broadcast decision the planner sort-merge-joined it — shuffling
    // AND sorting the row-sized banded frame on the join key,
    // re-buying a chunk of the global sort banding exists to avoid.
    // Pin the plan shape: broadcast (or at worst shuffled-hash), never
    // a sort-merge join, anywhere in the banded lineage.
    val df = (1 to 2000).map(i => (s"g${i % 3}", i * 1.0, (i % 7 + 1).toDouble))
      .toDF("g", "v", "w")
    val plan = graft.operators.RobustStats.weightedQuantile(df, Seq("g"), "v", "w")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      "banded weightedQuantile must not sort-merge-join its bounds/offset tables")
    assert(plan.contains("BroadcastHashJoin"),
      "small-group banded plan should broadcast its bounds/offset tables")
    // past the broadcast threshold (here: disabled outright — the
    // huge-group-count regime) the fallback must be a shuffled HASH
    // join, still never a big-side sort, with identical results
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val q = graft.operators.RobustStats.weightedQuantile(df, Seq("g"), "v", "w")
      val fb = q.queryExecution.executedPlan.toString
      assert(!fb.contains("SortMergeJoin"),
        "past-threshold banded plan must fall back to shuffled hash, not sort-merge")
      assert(fb.contains("ShuffledHashJoin"))
      val got = q.orderBy("g").collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
      spark.conf.set(key, saved)
      val ref = graft.operators.RobustStats.weightedQuantile(df, Seq("g"), "v", "w")
        .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
      assert(got == ref, "join strategy must not change the quantiles")
    } finally spark.conf.set(key, saved)
  }

  test("weightedQuantile banded reach matches an independent reference across q, seeds and band-boundary ties") {
    import sqlImplicits._
    // Differential certificate for the r11 reach rewrite: the target
    // band is picked by the FIRST inclusive band-cumulative to reach
    // q·W, and the in-band cumsum is seeded with that band's exclusive
    // offset — an off-by-one at either step lands one value early or
    // late. The reference replays the operator's own contract (lower
    // weighted quantile on micro-quantized integer weights) in plain
    // Scala. Duplicate values (ties that must cumulate together),
    // skewed weights, and a uniform-weight block (reach lands exactly
    // ON cumulative boundaries) are all in the mix; bands=4 forces
    // many band-edge hits.
    val rnd = new scala.util.Random(42)
    val rows = (1 to 400).map { i =>
      val g = s"g${i % 3}"
      // values from a small domain → plenty of exact ties
      val v = (rnd.nextInt(40) + 1).toDouble
      val w = if (i % 3 == 2) 1.0 else (rnd.nextInt(9) + 1) * 0.25
      (g, v, w)
    }
    val df = rows.toDF("g", "v", "w")
    def ref(q: Double): Map[String, (Double, Double)] =
      rows.groupBy(_._1).map { case (g, rs) =>
        val byV = rs.groupBy(_._2).map { case (v, vs) =>
          v -> vs.map(r =>
            (BigDecimal(r._3).setScale(4, BigDecimal.RoundingMode.HALF_UP) * 10000).toLong).sum
        }.toSeq.sortBy(_._1)
        val tot = byV.map(_._2).sum
        val qm = math.round(q * 1e6)
        var cum = 0L
        val hit = byV.find { case (_, w) => cum += w; cum * 1000000L >= qm * tot }.get._1
        g -> (tot.toDouble / 1e4, hit)
      }
    for (q <- Seq(0.1, 0.25, 0.5, 0.75, 0.9, 1.0)) {
      val got = graft.operators.RobustStats.weightedQuantile(df, Seq("g"), "v", "w", q)
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val expect = ref(q)
      assert(got == expect, s"q=$q: banded reach diverged from the reference\n got=$got\n exp=$expect")
      // small band count → band edges everywhere; must still agree
      val coarse = graft.operators.RobustStats.weightedQuantile(df, Seq("g"), "v", "w", q, bands = 4)
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(coarse == expect, s"q=$q bands=4: band-edge handling diverged")
    }
    // global (no group columns) exercises the crossJoin-broadcast path
    val global = graft.operators.RobustStats.weightedQuantile(df, Seq.empty, "v", "w", 0.5)
      .head()
    val gRef = {
      val byV = rows.groupBy(_._2).map { case (v, vs) =>
        v -> vs.map(r =>
          (BigDecimal(r._3).setScale(4, BigDecimal.RoundingMode.HALF_UP) * 10000).toLong).sum
      }.toSeq.sortBy(_._1)
      val tot = byV.map(_._2).sum
      var cum = 0L
      val hit = byV.find { case (_, w) => cum += w; cum * 2 >= tot }.get._1
      (tot.toDouble / 1e4, hit)
    }
    assert((global.getDouble(0), global.getDouble(1)) == gRef,
      "global (ungrouped) reach path diverged from the reference")
  }

  test("null-group rows survive the two-pass join-backs (row-preserving operators preserve rows)") {
    import sqlImplicits._
    // the plain usingColumns join-back never matched NULL = NULL, so
    // every null-group row silently vanished from operators documented
    // as row-preserving — while the aggregate side even carried a
    // null-group fence/median row for them
    val df = Seq(
      (Some("a"), Some(1.0)), (Some("a"), Some(2.0)), (Some("a"), Some(100.0)),
      (Option.empty[String], Some(10.0)), (Option.empty[String], Option.empty[Double]))
      .toDF("g", "v")
    val imputed = graft.operators.RobustStats.imputeMedian(df, Seq("g"), "v")
    assert(imputed.count() == 5L, "imputeMedian must preserve every row, null group included")
    val nullFilled = imputed.filter(col("g").isNull && col("v").isNull).head()
    assert(nullFilled.getAs[Double]("v_filled") == 10.0 && nullFilled.getAs[Boolean]("was_imputed"),
      "the null group's null value must fill with the NULL GROUP's median")
    val wins = graft.operators.RobustStats.winsorize(df, Seq("g"), "v")
    assert(wins.count() == 5L)
  }

  test("NaN carries no order statistic: fences, medians and bounds are NaN-proof") {
    import sqlImplicits._
    // NaN sorts ABOVE every real double, so un-guarded percentiles
    // drag q3/median/w_hi to NaN off a single bad value
    val df = ((1 to 100).map(i => ("a", i.toDouble)) ++
      Seq(("a", Double.NaN), ("a", Double.NaN))).toDF("g", "v")
    val f = RobustStats.iqrFences(df, Seq("g"), "v").head()
    assert(!f.getDouble(2).isNaN && f.getDouble(2) > 70 && f.getDouble(2) < 80,
      "q3 must come from the 100 real values, not the NaNs")
    val m = RobustStats.mad(df, Seq("g"), "v").head()
    assert(m.getDouble(1) == 50.5 && m.getDouble(2) == 25.0)
    // winsorize: NaN input passes through un-clipped with a null
    // verdict — the old least/greatest chain silently rewrote it to
    // the UPPER bound (NaN > hi evaluates true under NaN-is-largest)
    val w = RobustStats.winsorize(df, Seq("g"), "v", 0.10, 0.90)
    val nanRows = w.filter(isnan(col("v"))).collect()
    assert(nanRows.length == 2 &&
      nanRows.forall(r => r.getAs[Double]("v_wins").isNaN && r.isNullAt(r.fieldIndex("clipped"))),
      "NaN must stay NaN in v_wins with a null clip verdict")
    assert(!w.filter(!isnan(col("v"))).select(max(col("v_wins"))).head().getDouble(0).isNaN)
    // imputeMedian: the fill value must be the NaN-free median
    val imp = RobustStats.imputeMedian(
      (df.collect().map(r => (r.getString(0), Option(r.getDouble(1)))) :+
        (("a", Option.empty[Double]))).toSeq.toDF("g", "v"), Seq("g"), "v")
    val filled = imp.filter(col("v").isNull).head()
    assert(filled.getAs[Double]("v_filled") == 50.5)
  }

  test("weightedQuantile excludes NaN values (they would collapse the banding and win q=1)") {
    import sqlImplicits._
    val df = (Seq(("a", Double.NaN, 5.0)) ++ (1 to 10).map(i => ("a", i.toDouble, 1.0)))
      .toDF("g", "v", "w")
    val got = graft.operators.RobustStats.weightedQuantile(df, Seq("g"), "v", "w", 1.0)
      .head()
    // q=1 reaches the max REAL value; NaN neither wins nor adds weight
    assert(got.getAs[Double]("wq_value") == 10.0)
    assert(got.getAs[Double]("total_weight") == 10.0)
  }
}
