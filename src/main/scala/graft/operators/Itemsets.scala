package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket frequent-pair mining — the 2-itemset tier of Apriori
  * (Agrawal & Srikant 1994, public) with support / confidence / lift,
  * the classic association-rule surface of a retail warehouse.
  *
  * Scale shape: one shuffle builds the per-basket DISTINCT sorted item
  * array, pairs are generated inside each basket row (never a
  * corpus-wide self-join), so candidate volume is Σ L²/2 over basket
  * sizes — and L is bounded LOUDLY by `maxBasketSize` with the
  * [[Resample]]-style in-plan `assert_true` (a degenerate basket —
  * one key holding 100k items at 100 TB — fails with a named error
  * instead of detonating a task). Item supports are vocabulary-sized
  * and broadcast back; the basket total is a broadcast 1-row frame.
  * Lift = pair_n·N / (n_a·n_b) follows [[Cooccur]]'s bit-portable
  * idiom: integer products, ONE exactly-rounded double division.
  */
object Itemsets {

  /** Per-basket distinct items as a sorted array, loudly bounded. */
  def baskets(
      df: DataFrame, basketCol: String, itemCol: String, maxBasketSize: Int): DataFrame = {
    require(maxBasketSize >= 2, s"baskets: maxBasketSize must be ≥2, got $maxBasketSize")
    val items = df
      // a NULL basket key would collapse every unkeyed row into ONE
      // synthetic basket, pairing unrelated items (or tripping the
      // size guard on otherwise-clean data)
      .filter(col(itemCol).isNotNull && col(basketCol).isNotNull)
      .groupBy(col(basketCol).as("basket"))
      .agg(sort_array(collect_set(col(itemCol))).as("items"))
    // Fused guard (the Resample idiom): assert_true yields NULL when
    // the bound holds — so the slice length falls through to the full
    // size and the slice is the identity — and raises otherwise.
    // Fusing it into the slice length keeps the optimizer from
    // pruning the check.
    val guardedLen = coalesce(
      assert_true(
        size(col("items")) <= lit(maxBasketSize),
        concat(
          lit(s"Itemsets: basket exceeds $maxBasketSize distinct items ("),
          size(col("items")),
          lit(") — raise maxBasketSize or pre-filter degenerate baskets"))
      ).cast("int"),
      size(col("items")))
    items.select(col("basket"), slice(col("items"), lit(1), guardedLen).as("items"))
  }

  /** Unordered within-basket item pairs (item_a < item_b in array
    * order) with basket-level pair support ≥ `minSupport`.
    * Output: (item_a, item_b, pair_n).
    */
  def pairCounts(
      df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2L, maxBasketSize: Int = 256): DataFrame =
    pairsFromBaskets(baskets(df, basketCol, itemCol, maxBasketSize), minSupport)

  // The Σ L² explode + pair aggregation dominates every consumer, and
  // pairCounts/pairStats/itemNeighbors all want the SAME table for a
  // given input — cache it so the basket-pair shuffle runs once per
  // session, not once per query.
  private def pairsFromBaskets(b: DataFrame, minSupport: Long): DataFrame =
    OpCache.cached(
      b
        .select(col("items"), posexplode(col("items")).as(Seq("pa", "item_a")))
        .select(col("item_a"), col("pa"), posexplode(col("items")).as(Seq("pb", "item_b")))
        .filter(col("pa") < col("pb"))
        .groupBy("item_a", "item_b")
        .agg(count(lit(1)).as("pair_n"))
        .filter(col("pair_n") >= minSupport))

  /** Association-rule statistics per qualifying pair.
    * Output: (item_a, item_b, pair_n, n_a, n_b, n_baskets, support,
    * conf_a_b, conf_b_a, lift) — supports/confidences/lift each ONE
    * exactly-rounded division of exact integers.
    */
  def pairStats(
      df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2L, maxBasketSize: Int = 256): DataFrame = {
    val b = OpCache.cached(baskets(df, basketCol, itemCol, maxBasketSize))
    val itemN = b
      .select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n"))
    val total = b.agg(count(lit(1)).as("n_baskets"))
    val pairs = pairsFromBaskets(b, minSupport)
    // Cache the FINISHED stats frame, not just the raw pair table:
    // the rule-mining readout (pairStats consumers) and the CF
    // neighbor ranking (itemNeighbors) both join supports back onto
    // the pair set — sharing the joined result runs those joins once
    // per input (the triangles.pernode lifecycle).
    OpCache.cached(
      pairs
        .join(
          Broadcasting.maybeBroadcast(
            itemN.select(col("item").as("item_a"), col("n").as("n_a"))), Seq("item_a"))
        .join(
          Broadcasting.maybeBroadcast(
            itemN.select(col("item").as("item_b"), col("n").as("n_b"))), Seq("item_b"))
        .crossJoin(broadcast(total))
        .select(
          col("item_a"), col("item_b"), col("pair_n"), col("n_a"), col("n_b"),
          col("n_baskets"),
          (col("pair_n").cast("double") / col("n_baskets").cast("double")).as("support"),
          (col("pair_n").cast("double") / col("n_a").cast("double")).as("conf_a_b"),
          (col("pair_n").cast("double") / col("n_b").cast("double")).as("conf_b_a"),
          ((col("pair_n") * col("n_baskets")).cast("double") /
            (col("n_a") * col("n_b")).cast("double")).as("lift")))
  }

  /** Item-item collaborative-filtering neighbors: per item, the top-k
    * co-purchased items by binary cosine `pair_n / √(n_a·n_b)` (IEEE
    * sqrt is correctly rounded — bit-portable), tie-broken by
    * neighbor id. Built on [[pairStats]]'s basket shape: pair volume
    * is Σ L²/2, never corpus²; ranking is one window over the
    * (sparse) pair set. Output: (item, neighbor, pair_n, cosine, rk).
    */
  def itemNeighbors(
      df: DataFrame, basketCol: String, itemCol: String, k: Int = 5,
      minSupport: Long = 2L, maxBasketSize: Int = 256): DataFrame = {
    require(k >= 1, s"itemNeighbors: k must be ≥1, got $k")
    val pairs = pairStats(df, basketCol, itemCol, minSupport, maxBasketSize)
      .select(
        col("item_a"), col("item_b"), col("pair_n"),
        (col("pair_n").cast("double") /
          sqrt((col("n_a") * col("n_b")).cast("double"))).as("cosine"))
    val sym = pairs.select(
      col("item_a").as("item"), col("item_b").as("neighbor"),
      col("pair_n"), col("cosine"))
      .unionByName(pairs.select(
        col("item_b").as("item"), col("item_a").as("neighbor"),
        col("pair_n"), col("cosine")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("item")
      .orderBy(col("cosine").desc, col("neighbor").asc)
    sym.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }
}
