package graft

import org.apache.spark.sql.functions._

import graft.operators.Itemsets

class ItemsetsSpec extends SparkSpec {

  private def df(rows: Seq[(Long, String)]) = {
    import sqlImplicits._
    rows.toDF("basket", "item")
  }

  test("hand-checked support / confidence / lift") {
    // baskets: {a,b}, {a,b}, {a}, {b} → N=4, n_a=3, n_b=3, pair_n=2.
    val in = df(Seq(
      (1L, "a"), (1L, "b"),
      (2L, "a"), (2L, "b"), (2L, "b"), // dup item collapses
      (3L, "a"), (4L, "b")))
    val got = Itemsets.pairStats(in, "basket", "item", minSupport = 2L)
      .collect().map(r => (
        r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getDouble(6), r.getDouble(7), r.getDouble(8), r.getDouble(9)))
    assert(got.toSeq == Seq(
      ("a", "b", 2L, 3L, 3L, 4L, 2.0 / 4.0, 2.0 / 3.0, 2.0 / 3.0, 8.0 / 9.0)), got.toSeq.toString)
  }

  test("matches a brute-force reference on random baskets") {
    val rnd = new scala.util.Random(13)
    val rows = for {
      b <- 1L to 60L
      _ <- 1 to (1 + rnd.nextInt(6))
    } yield (b, ("item" + rnd.nextInt(8)))
    val got = Itemsets.pairCounts(df(rows), "basket", "item", minSupport = 1L)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val exp = rows.groupBy(_._1).values
      .flatMap(g => g.map(_._2).distinct.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == exp, s"got=$got exp=$exp")
  }

  test("minSupport filters and pair canonicalization holds (item_a < item_b)") {
    val rows = Seq((1L, "z"), (1L, "a"), (2L, "z"), (2L, "a"), (3L, "z"), (3L, "q"))
    val got = Itemsets.pairCounts(df(rows), "basket", "item", minSupport = 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", "z", 2L)), got.toString)
  }

  test("oversized basket fails loudly via the fused guard") {
    val rows = (1 to 10).map(i => (1L, s"i$i"))
    val e = intercept[Exception] {
      Itemsets.pairCounts(df(rows), "basket", "item", maxBasketSize = 5).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("exceeds 5 distinct items")), e.toString)
  }

  test("partitioning invariance") {
    val rnd = new scala.util.Random(5)
    val rows = (1 to 200).map(_ => (rnd.nextInt(40).toLong, "i" + rnd.nextInt(10)))
    val base = Itemsets.pairStats(df(rows), "basket", "item")
      .orderBy("item_a", "item_b").collect().toSeq
    val reparted = Itemsets.pairStats(df(rows).repartition(7), "basket", "item")
      .orderBy("item_a", "item_b").collect().toSeq
    assert(base == reparted)
  }

  test("item neighbors: hand-checked cosine and symmetric top-k") {
    val in = df(Seq(
      (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "a"), (4L, "b")))
    val got = graft.operators.Itemsets.itemNeighbors(in, "basket", "item", k = 2)
      .orderBy("item", "rk").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toSeq
    val c = 2.0 / math.sqrt(9.0)
    assert(got == Seq(("a", "b", 2L, c, 1), ("b", "a", 2L, c, 1)), got.toString)
  }
}
