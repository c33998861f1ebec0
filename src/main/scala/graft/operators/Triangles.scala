package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting — the graph-cohesion probe of a
  * warehouse (clustering coefficients, community density, "closed
  * trade loop" detection over relationship tables).
  *
  * Scale shape: the naive wedge join pairs the out-neighbors of every
  * node — quadratic in the degree of hubs, which is exactly what a
  * power-law graph punishes. This operator first ORIENTS each
  * undirected edge from the (degree, id)-smaller endpoint to the
  * larger (the classic compact-forward ordering): every wedge is then
  * generated at its lowest-degree corner, out-degrees are bounded by
  * O(√|E|), and the wedge volume drops to O(|E|^1.5) worst-case —
  * partitioning-independent exact counts, two hash joins and an
  * aggregation, no cartesian anywhere.
  *
  * Each triangle is counted exactly once (the orientation is acyclic
  * and total), so an id-ordered naive SQL formulation replays the
  * same per-node counts — the oracle contract.
  */
object Triangles {

  /** Canonical undirected edge set: (a < b), self-loops and nulls
    * dropped, deduplicated.
    */
  def canonical(edges: DataFrame, src: String = "src", dst: String = "dst"): DataFrame =
    edges
      .filter(col(src).isNotNull && col(dst).isNotNull && col(src) =!= col(dst))
      .select(least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .distinct()

  /** Per-node triangle participation counts over undirected
    * `edges(src, dst)`: (v, n_triangles), nodes in ≥1 triangle only.
    */
  /** Canonical undirected degree table — the SINGLE definition both
    * the orientation order and the coefficient denominator ride (a
    * divergence between the two silently breaks the wedge pairing).
    */
  private def degrees(und: DataFrame): DataFrame =
    und.unionByName(und.select(col("b").as("a"), col("a").as("b")))
      .groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))

  def perNode(edges: DataFrame): DataFrame = {
    val und = OpCache.cached(canonical(edges))
    val deg = degrees(und)
    // Orient low → high in the (deg, id) total order; carry the
    // endpoint degrees so wedge pairing can reuse the same order
    // without re-joining degrees.
    val lowFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = OpCache.cached(
      und
        .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
        .select(
          when(lowFirst, col("a")).otherwise(col("b")).as("u"),
          when(lowFirst, col("b")).otherwise(col("a")).as("w"),
          when(lowFirst, col("db")).otherwise(col("da")).as("dw")))
    // Wedges at the low corner u: ordered out-neighbor pairs (v, w),
    // v before w in (deg, id) — the closing edge, if present, is
    // oriented exactly v → w.
    val o1 = oriented.select(col("u"), col("w").as("v"), col("dw").as("dv"))
    val o2 = oriented.select(col("u"), col("w"), col("dw"))
    val wedges = o1.join(o2, Seq("u"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
    val tris = wedges
      .join(oriented.select(col("u").as("v"), col("w")), Seq("v", "w"), "left_semi")
      .select(col("u"), col("v"), col("w"))
    // The wedge join is the operator's cost center (O(|E|^1.5) worst
    // case) and its result is node-count-sized — cache the FINISHED
    // per-node counts, not just the edge prep, so every consumer of
    // the same graph (per-node readout, global total, clustering
    // coefficients) pays the wedge join once per input.
    OpCache.cached(
      tris
        .select(explode(array(col("u"), col("v"), col("w"))).as("v"))
        .groupBy("v")
        .agg(count(lit(1)).as("n_triangles")))
  }

  /** Global triangle count (one row). */
  def total(edges: DataFrame): DataFrame =
    // coalesce: sum() over the empty perNode frame of a triangle-free
    // graph is NULL — a caller reading getLong(0) NPE'd where the SQL
    // COUNT formulation returns 0
    perNode(edges).agg(
      coalesce((sum(col("n_triangles")) / 3).cast("long"), lit(0L)).as("n_triangles"))

  /** Per-node local clustering coefficient `2·tri / (deg·(deg−1))`
    * for every node of degree ≥ 2 — how close each node's
    * neighborhood is to a clique. Degrees come from the same
    * canonical (deduplicated, undirected) edge set the triangle count
    * uses; nodes in no triangle report coefficient 0. The ratio is
    * exact integers until one rounded division.
    * Output: (v, deg, n_triangles, coeff).
    */
  def clusteringCoeff(edges: DataFrame): DataFrame = {
    val und = OpCache.cached(canonical(edges))
    val deg = degrees(und)
    deg
      .filter(col("deg") >= 2)
      .join(perNode(edges), Seq("v"), "left")
      .select(
        col("v"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn(
        "coeff",
        // deg·(deg−1) in DECIMAL: a ~3e9-degree hub wraps the long
        // product silently (the Stats/Skew wrap class); the triangle
        // doubling is safe (n_triangles < deg²/2 only matters once deg
        // itself is guarded)
        round(
          (col("n_triangles") * 2).cast("double") /
            (col("deg").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
              (col("deg") - 1)).cast("double"),
          6))
  }
}
