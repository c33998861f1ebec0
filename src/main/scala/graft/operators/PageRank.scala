package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an edge table — the graph-centrality
  * probe of a warehouse (entity importance over a supplier↔customer /
  * citation / link graph).
  *
  * Each iteration is one hash join (ranks ⋈ out-degrees ⋈ edges on
  * src) plus one aggregation (sum of contributions by dst) — the
  * standard Pregel-on-DataFrames shape: shuffle volume is O(|E|) per
  * round, rank state is O(|V|), and `localCheckpoint` truncates the
  * growing lineage every round (the [[Dedup.resolveClusters]]
  * pattern).
  *
  * Arithmetic is SCALED-INTEGER by specification: ranks are longs in
  * units of 1e-9 (`Scale`), every division is a floor division, and
  * the damping factor is a rational `d100`/100. Long sums are exact
  * and associative, so the result is bit-identical under any
  * partitioning AND in any engine that replays the same integer
  * spec — no float appears anywhere. (The ~1e-9·|V| mass lost to
  * floor rounding per round is the price of exactness; rankings are
  * unaffected at any realistic |V|.)
  *
  * Dangling nodes: callers supply the edge set; [[undirected]]
  * doubles each edge so every node has out-degree ≥ 1 and no rank
  * mass exits the graph. With directed input, mass at sinks leaks by
  * design (deterministic, documented).
  */
object PageRank {

  /** Rank unit: 1 rank point = 1e-9. */
  val Scale: Long = 1000000000L

  /** Each undirected pair as two directed edges (dedup'd). */
  def undirected(edges: DataFrame, src: String = "src", dst: String = "dst"): DataFrame = {
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
  }

  /** `iters` rounds of PageRank with damping `d100`/100 (default
    * 85/100) over directed `edges(src, dst)`. Output:
    * `(id, rank_scaled, rank)` — `rank_scaled` is the exact integer
    * state (units of 1e-9), `rank` its double rendering for human
    * consumption; one row per node on either side of an edge.
    */
  def ranks(edges: DataFrame, iters: Int = 5, d100: Int = 85): DataFrame = {
    require(iters >= 1, s"ranks: iters must be ≥1, got $iters")
    require(d100 >= 0 && d100 <= 100, s"ranks: d100 must be in [0,100], got $d100")
    val e = OpCache.cached(
      edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .distinct())
    // nodes/outdeg re-enter the plan EVERY round — cache them, or
    // each iteration replays their distinct/groupBy shuffles.
    val nodes = OpCache.cached(
      e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct())
    val outdeg = OpCache.cached(
      e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")))
    // |V| and the teleport term are tiny scalars: evaluate once on
    // the driver so each round's literals are plan constants. (The
    // oracle recomputes them in SQL from the same edge set.)
    val n = nodes.count()
    require(n > 0, "ranks: empty graph")
    val teleport = (Scale * (100 - d100) / 100) / n // all-integer floor chain
    // past ~1.5e8 nodes the integer teleport floors to 0 and every
    // rank decays to 0 within a few damped rounds — a silent
    // all-zero output; raise the Scale constant for larger graphs
    require(teleport > 0 && Scale / n > 0,
      s"PageRank.ranks: $n nodes floors the integer teleport/initial rank to 0 " +
        "at the current Scale - raise Scale (micro-rank units) for graphs this large")
    var r = nodes.select(col("id"), lit(Scale / n).as("rank_scaled"))
    for (i <- 1 to iters) {
      val contrib = r
        .join(outdeg, r("id") === outdeg("src"))
        .join(e, Seq("src"))
        .select(col("dst").as("id"), expr("rank_scaled div outdeg").as("c"))
        .groupBy("id")
        .agg(sum(col("c")).as("mass")) // long sum: exact, associative
      r = nodes
        .join(contrib, Seq("id"), "left")
        .select(
          col("id"),
          (lit(teleport) + expr(s"coalesce(mass, 0L) * $d100 div 100"))
            .as("rank_scaled"))
      // The loop stays LAZY — Catalyst plans all rounds as one job
      // over the cached edge/node tables (an eager per-round
      // checkpoint would serialize `iters` jobs of pure overhead).
      // Truncate lineage only when plans get deep enough to hurt.
      if (i % 7 == 0 && i < iters) r = r.localCheckpoint()
    }
    r.withColumn("rank", col("rank_scaled").cast("double") / lit(Scale.toDouble))
  }
}
