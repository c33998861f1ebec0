package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.VectorFunctions._
import graft.functions.VectorMean

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column (similarity-search extensions).
  *
  * Scale design (100 TB / 1000-executor target):
  *  - the query set is an EXTERNAL DataFrame (the `queryMod` overloads
  *    are test conveniences that slice the corpus); it is broadcast
  *    only while its optimizer-estimated size fits the session
  *    broadcast threshold — above that the candidate joins degrade
  *    gracefully to shuffled equi-joins instead of blowing the
  *    broadcast limit;
  *  - norms are computed once per row before any join (never inside);
  *  - the LSH variant buckets both sides on sign-LSH signature bands
  *    so each corpus row is compared only to queries sharing a band —
  *    the bucket join is an equi-join on (band_id, band_key) carrying
  *    IDS ONLY; vectors are re-attached after the candidate pairs are
  *    deduplicated, so no shuffle ever carries array payloads per
  *    candidate pair.
  */
object Similarity {

  /** Corpus with per-row double vector + norm precomputed, cached:
    * every operator here reads it at least twice (corpus + query side),
    * and the norm fold is an interpreted higher-order function — pay
    * it once per row, not once per reference.
    */
  private def prepared(embeddings: DataFrame): DataFrame =
    OpCache.cached(
      // Normalize to (vec_id, embedding) FIRST: every operator family
      // preps the same corpus, and the cached prep is only shared when
      // every caller's plan is EQUAL — a caller-side projection
      // difference (raw table vs pre-selected columns) would silently
      // rebuild it per operator.
      embeddings.select(col("vec_id"), col("embedding")).select(
        col("vec_id"),
        toDoubleVec(col("embedding")).as("vec"))
        .withColumn("norm", l2norm(col("vec")))
        // zero-norm (all-zero or empty) vectors have no direction:
        // their cosine is 0/0 = NaN, which Spark orders ABOVE every
        // real double — one such corpus row would outrank the true
        // rank-1 neighbor of EVERY query, and NaN >= threshold is
        // TRUE, so near-dup pairs would report them as duplicates.
        // They are excluded from the similarity universe here, on
        // both corpus and query side (every operator preps through
        // this).
        .filter(col("norm") > 0))

  /** An external query set is not guaranteed small — a forced
    * broadcast hint would grow with it linearly; past the threshold,
    * the unhinted plan falls back to a shuffled hash / sort-merge join
    * on the bucket keys.
    */
  private def maybeBroadcast(df: DataFrame): DataFrame = Broadcasting.maybeBroadcast(df)

  /** Brute-force exact cosine top-k: every query row against the full
    * corpus (the recall baseline the ANN variants are measured
    * against). Self-pairs excluded by id.
    * Output: (query_id, neighbor_id, cosine, rank) — rank 1..k.
    */
  def cosineTopK(embeddings: DataFrame, k: Int = 3, queryMod: Int = 100): DataFrame =
    cosineTopK(embeddings, embeddings.filter(col("vec_id") % queryMod === 0), k)

  /** External-query-set form: `queries` has the corpus shape
    * (vec_id, embedding). Brute force is inherently all-pairs — the
    * query side should be small; above the broadcast threshold the
    * planner falls back to a nested-loop join.
    */
  def cosineTopK(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val corpus = prepared(embeddings)
    val qprep = prepared(queries)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("norm").as("qnorm"))

    val scored = corpus
      .join(maybeBroadcast(qprep), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id").as("neighbor_id"),
        cosineWithNorms(dot(col("vec"), col("qvec")), col("norm"), col("qnorm")).as("cosine"))

    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /** Sign-LSH bucketed ANN top-k: both sides get an nPlanes-bit
    * hyperplane signature split into `bands`; candidates are rows
    * sharing ≥1 band with a query. Exact cosine is then computed only
    * on candidates. Recall < 1 by construction; precision is exact.
    * Output: (query_id, neighbor_id, cosine, rank).
    */
  def annSignLshTopK(
      embeddings: DataFrame,
      k: Int = 3,
      queryMod: Int = 100,
      nPlanes: Int = 16,
      bands: Int = 4,
      dim: Int = 64): DataFrame =
    annSignLshTopK(embeddings, embeddings.filter(col("vec_id") % queryMod === 0),
      k, nPlanes, bands, dim)

  /** External-query-set form. The banded candidate join carries ids
    * only; vectors are re-attached AFTER the (query_id, neighbor_id)
    * pairs are deduplicated, so neither the bucket join nor the dedup
    * shuffle moves array payloads.
    */
  def annSignLshTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      nPlanes: Int,
      bands: Int,
      dim: Int): DataFrame = {
    val base = OpCache.cached(
      prepared(embeddings)
        .withColumn("sig", signLshSignature(col("vec"), nPlanes, dim)))
    val qbase = OpCache.cached(
      prepared(queries)
        .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("norm").as("qnorm"))
        .withColumn("qsig", signLshSignature(col("qvec"), nPlanes, dim)))

    val corpusB = base.select(
      col("vec_id"),
      posexplode(array(signatureBands(col("sig"), nPlanes, bands): _*)).as(Seq("band_id", "band_key")))
    val queriesB = qbase.select(
      col("query_id"),
      posexplode(array(signatureBands(col("qsig"), nPlanes, bands): _*)).as(Seq("band_id", "band_key")))

    val candidates = corpusB
      .join(maybeBroadcast(queriesB), Seq("band_id", "band_key"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id") // collided in >1 band; two-long rows

    // candidates-to-top-k is the shared exactRerank dataflow (vector
    // re-attach by id, exact cosine, rank, round) — one home, so a
    // tie-break or rounding change cannot diverge between the LSH and
    // PQ/IVF paths
    exactRerank(candidates.withColumnRenamed("neighbor_id", "vec_id"),
      base, prepared(queries), k)
  }

  /** IVF (inverted-file) ANN top-k: the corpus is partitioned into
    * cells around centroids; queries probe only the `nProbes` nearest
    * cells. Centroids here are per-`centroidCol` mean vectors (one
    * k-means assignment step with provided coarse labels — swap in
    * k-means rounds to productionize). Scale shape: the centroid table
    * is tiny and broadcast twice (assignment + probe); the candidate
    * join is an equi-join on cell id, so each corpus row is compared
    * only to queries probing its cell.
    * Output: (query_id, neighbor_id, cosine, rank).
    */
  def ivfTopK(
      embeddings: DataFrame,
      k: Int = 3,
      queryMod: Int = 100,
      nProbes: Int = 2,
      centroidCol: String = "label"): DataFrame =
    ivfTopK(embeddings, embeddings.filter(col("vec_id") % queryMod === 0),
      k, nProbes, centroidCol)

  /** External-query-set form of [[ivfTopK]]. */
  def ivfTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbes: Int,
      centroidCol: String): DataFrame = {
    val base = prepared(embeddings)

    // Per-cell mean vector: one aggregation with map-side partial sums,
    // keyed by input (a udaf-bearing plan never matches its rebuild).
    val centroids = OpCache.byInput(Seq("sim.ivf.centroids", centroidCol), embeddings)(
      embeddings
        .groupBy(col(centroidCol).as("cell"))
        .agg(VectorMean.vectorMean(toDoubleVec(col("embedding"))).as("cvec"))
        .withColumn("cnorm", l2norm(col("cvec"))))

    ivfSearch(prepared(queries), base, centroids, k, nProbes)
  }

  /** IVF ANN with centroids learned by Lloyd's k-means instead of
    * provided coarse labels — the productionized variant. The cells
    * are trained in driver memory on the corpus' training sample
    * ([[trainingSample]], one Spark job shared with PQ), so no Lloyd
    * round runs a Spark job; the tiny centroid table is then broadcast
    * to assign and probe the corpus per partition. Deterministic:
    * hash-order seeding, and every round reads the same sample in the
    * same order whatever the corpus' partitioning.
    */
  def ivfTopKKmeans(
      embeddings: DataFrame,
      k: Int = 3,
      queryMod: Int = 100,
      nProbes: Int = 2,
      cells: Int = 8,
      maxIter: Int = 3): DataFrame =
    ivfTopKKmeans(embeddings, embeddings.filter(col("vec_id") % queryMod === 0),
      k, nProbes, cells, maxIter)

  /** External-query-set form of [[ivfTopKKmeans]]. */
  def ivfTopKKmeans(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbes: Int,
      cells: Int,
      maxIter: Int): DataFrame = {
    val base = prepared(embeddings)
    ivfSearch(prepared(queries), base, kmeansCentroids(base, cells, maxIter), k, nProbes)
  }

  /** Most rows the k-means and PQ trainers learn from: a constant, which
    * tests lower for a scope (`withValue`) to train past the bound.
    */
  private[graft] val sampleRows = new scala.util.DynamicVariable[Int](65536)

  /** Corpus rows in (xxhash64(vec_id), vec_id) order, each with its
    * vector, norm and k-means|| draw in [0, 1).
    */
  private final case class Sample(
      ids: Array[Long], vecs: Array[Array[Double]], norms: Array[Double], draws: Array[Double])

  /** The first [[sampleRows]] rows of a prepared corpus in hash order,
    * collected in one job (orderBy+limit is TakeOrderedAndProject:
    * per-partition top-n plus a merge, never a global sort) and shared
    * by every trainer of the corpus. Below the bound it is the whole
    * corpus; above it, the hash order makes it a deterministic sample.
    */
  private def trainingSample(base: DataFrame): Sample =
    OpCache.byInput(Seq("sim.sample", sampleRows.value), base) {
      val rows = base
        // xxhash64 → uniform in [0,1): shift to non-negative 63-bit
        .select(col("vec_id"), col("vec"), col("norm"), (shiftrightunsigned(xxhash64(col("vec_id"),
          lit("kmpp")), 1).cast("double") / lit(Long.MaxValue.toDouble)).as("draw"))
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(sampleRows.value)
        .collect()
      Sample(rows.map(_.getLong(0)), rows.map(_.getSeq[Double](1).toArray),
        rows.map(_.getDouble(2)), rows.map(_.getDouble(3)))
    }

  /** A trained table as a local frame: its rows travel in the plan. */
  private def localTable(base: DataFrame, ddl: String, rows: Seq[Row]): DataFrame =
    base.sparkSession.createDataFrame(rows.asJava, StructType.fromDDL(ddl))

  /** The index in `0 until n` whose score ranks first — the largest for
    * `sign` 1, the smallest for -1 — in Spark's double order (NaN above
    * every number, -0.0 equal to 0.0); ties go to the smaller index.
    */
  private def best(n: Int, sign: Int)(score: Int => Double): Int = {
    var (b, bs) = (0, score(0))
    for (j <- 1 until n) {
      val x = score(j)
      if (x != bs && sign * java.lang.Double.compare(x, bs) > 0) { b = j; bs = x }
    }
    b
  }

  /** One Lloyd round: every point joins its `nearest` centroid, and each
    * centroid moves to the mean of its points. A centroid that wins no
    * point keeps its place: duplicated seeds, where every tie falls to
    * the smaller index, starve the others, and dropping them would
    * leave fewer cells than requested or a PQ codebook with holes (its
    * lookup table is indexed positionally).
    */
  private def lloydRound(points: Array[Array[Double]], cents: Array[Array[Double]])(
      nearest: Int => Int): Array[Array[Double]] = {
    val sums = cents.map(c => new Array[Double](c.length))
    val counts = new Array[Long](cents.length)
    if (cents.nonEmpty) points.indices.foreach { i =>
      val (v, c) = (points(i), nearest(i))
      require(v.length == sums(c).length, s"ragged input — dim ${v.length} against ${sums(c).length}")
      v.indices.foreach(d => sums(c)(d) += v(d))
      counts(c) += 1
    }
    cents.indices.map(c => if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))).toArray
  }

  /** Lloyd's k-means over a prepared corpus' training sample, in driver
    * memory, memoized by input (training is eager: a plan-matched entry
    * would arrive after the work is redone). Output: (cell, cvec,
    * cnorm) — the IVF centroid table shape, k rows.
    *
    * Seeding is k-means||-style (Bahmani et al., VLDB'12), adapted to
    * one deterministic pass: a hash-min anchor, one distance-weighted
    * oversampling pass (each point kept with probability ∝ its squared
    * distance from the anchor, budget l = 4k draws via xxhash64 —
    * spread seeds land far apart instead of wherever the hash order
    * clumped), then a weight-based reduction — every point votes for
    * its nearest candidate (argmax cosine, ties → smaller vec_id) and
    * the k most-voted candidates become the seeds (the paper reduces by
    * weighted k-means++; top-k-by-weight is SQL-replayable by the
    * portable twin, and drops only low-mass candidates Lloyd would
    * starve anyway). Quality-blind hash-order seeding repeatedly
    * planted multiple seeds inside one true cluster. Rounds assign by
    * argmax cosine, ties → smaller cell.
    */
  private def kmeansCentroids(base: DataFrame, k: Int, maxIter: Int): DataFrame =
    OpCache.byInput(Seq("sim.kmeans", k, maxIter, sampleRows.value), base) {
      val s = trainingSample(base)
      val n = s.ids.length
      def cos(i: Int, c: Array[Double], cnorm: Double) = dot(s.vecs(i), c) / (s.norms(i) * cnorm)
      // Candidates in vec_id order: the anchor (sample row 0, the
      // hash-min vector) plus every row whose draw is below l·d²/Σd².
      val cands = if (n == 0) Array.empty[Int] else {
        val (a, an) = (s.vecs(0), s.norms(0))
        val d2 = Array.tabulate(n)(i => s.norms(i) * s.norms(i) + an * an - 2.0 * dot(s.vecs(i), a))
        val tot = d2.sum
        (0 +: (1 until n).filter(i => s.draws(i) * tot < (4 * k).toDouble * d2(i))).sortBy(s.ids(_)).toArray
      }
      // A candidate that wins no vote stays rankable as backfill: fewer
      // than k seeds would leave fewer cells than requested.
      val votes = new Array[Long](cands.length)
      (0 until n).foreach(i => votes(best(cands.length, 1)(j => cos(i, s.vecs(cands(j)), s.norms(cands(j))))) += 1)
      val seeds = cands.indices.sortBy(j => (-votes(j), s.ids(cands(j)))).take(k).map(j => s.vecs(cands(j))).toArray
      val cents = (0 until maxIter).foldLeft(seeds) { (cs, _) =>
        val norms = cs.map(c => math.sqrt(dot(c, c)))
        lloydRound(s.vecs, cs)(i => best(cs.length, 1)(j => cos(i, cs(j), norms(j))))
      }
      localTable(base, "cell INT, cvec ARRAY<DOUBLE>, cnorm DOUBLE",
        cents.indices.map(j => Row(j, cents(j), math.sqrt(dot(cents(j), cents(j))))))
    }

  /** Shared IVF probe: assign corpus rows to their cell, queries to
    * their `nProbes` nearest cells, equi-join on cell, exact cosine +
    * top-k on the candidates. The pair dedup (a query probing two
    * cells can meet the same corpus row twice only if assignments
    * collide — kept for safety) runs on (ids, cosine scalar), never on
    * vector payloads.
    */
  private def ivfSearch(
      qprep: DataFrame,
      base: DataFrame,
      centroids: DataFrame,
      k: Int,
      nProbes: Int): DataFrame = {
    // The corpus-side cell assignment is the N·cells hot scan, and the
    // centroid inputs are cached/checkpointed plans — so a repeat
    // invocation is plan-equal and should read the stored assignment,
    // not re-score the corpus.
    val corpus = OpCache.cached(
      assignCells(base, centroids, 1)
        .select(col("cell"), col("vec_id"), col("vec"), col("norm")))
    val queries = assignCells(qprep, centroids, nProbes)
      .select(col("cell"), col("vec_id").as("query_id"), col("vec").as("qvec"), col("norm").as("qnorm"))

    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    corpus
      .join(maybeBroadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        cosineWithNorms(dot(col("vec"), col("qvec")), col("norm"), col("qnorm")).as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /** Nearest-`probes` centroid cells for each prepared row — the IVF
    * cell assignment shared by the probe search and the IVF-PQ encode.
    * The centroid table is tiny (k rows) and force-broadcast; output
    * keeps the input columns plus `cell`.
    *
    * The 1-probe case (every corpus row, the N·cells hot path) is an
    * ARGMAX, computed as `max(struct(csim, -cell, payload))` with
    * map-side partial aggregation — the shuffle carries one combined
    * row per vec_id instead of `cells` scored rows into a per-key
    * window sort. Struct comparison is lexicographic, so the winner
    * is exactly the window's (csim DESC, cell ASC) head: ties on csim
    * fall to the LARGER -cell = smaller cell, and (csim, cell) is
    * unique within a group, so the payload field never decides.
    */
  private def assignCells(df: DataFrame, centroids: DataFrame, probes: Int): DataFrame = {
    val scored = df.crossJoin(broadcast(centroids))
      .select(
        df("*"), col("cell"),
        cosineWithNorms(dot(col("vec"), col("cvec")), col("norm"), col("cnorm")).as("csim"))
    if (probes == 1) {
      val payload = df.columns.filterNot(_ == "vec_id").map(col)
      scored
        .groupBy(col("vec_id"))
        .agg(max(struct(
          (col("csim") +: (-col("cell")).as("__nc") +: payload :+ col("cell")): _*)).as("m"))
        .select(col("vec_id") +: df.columns.filterNot(_ == "vec_id").map(c => col(s"m.$c")) :+ col("m.cell").as("cell"): _*)
    } else {
      val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell").asc)
      scored
        .withColumn("crank", row_number().over(w))
        .filter(col("crank") <= probes)
        .drop("csim", "crank")
    }
  }

  /** Embedding near-duplicate pairs: vectors whose cosine exceeds a
    * threshold, found via the same sign-LSH banding (no all-pairs).
    * The banded self-join and the pair dedup carry ids only — vectors
    * are re-attached per deduplicated pair, so shuffle volume is two
    * longs per candidate, not ~1 KB of array payload.
    * Output: (vec_a, vec_b, cosine) with vec_a < vec_b.
    */
  def embeddingNearDupPairs(
      embeddings: DataFrame,
      minCosine: Double = 0.95,
      nPlanes: Int = 16,
      bands: Int = 4,
      dim: Int = 64): DataFrame = {
    val base = OpCache.cached(
      prepared(embeddings)
        .withColumn("sig", signLshSignature(col("vec"), nPlanes, dim)))
    val bandedIds = base.select(
      col("vec_id"),
      posexplode(array(signatureBands(col("sig"), nPlanes, bands): _*)).as(Seq("band_id", "band_key")))

    val a = bandedIds.select(col("band_id"), col("band_key"), col("vec_id").as("vec_a"))
    val b = bandedIds.select(col("band_id"), col("band_key"), col("vec_id").as("vec_b"))

    val pairs = a.join(b, Seq("band_id", "band_key"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .dropDuplicates("vec_a", "vec_b")

    pairs
      .join(base.select(col("vec_id").as("vec_a"), col("vec").as("va"), col("norm").as("na")), Seq("vec_a"))
      .join(base.select(col("vec_id").as("vec_b"), col("vec").as("vb"), col("norm").as("nb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"), round(cosineWithNorms(dot(col("va"), col("vb")), col("na"), col("nb")), 4).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  // --------------------------------------------------------- semantic dedup

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al.,
    * "SemDeDup", arXiv:2303.09540): k-means the embedding space, then
    * compare pairs ONLY within a cell. The paper's scale contract:
    * `cells` grows with the corpus (k ∝ N / cell budget), so the
    * per-cell comparison is bounded by cell size, never N² — and the
    * candidate generation shuffles (cell, id) only; vectors are
    * re-attached per surviving pair.
    * Output: (vec_a, vec_b, cosine), vec_a < vec_b, cosine ≥ minCosine.
    */
  def semanticDupPairs(
      embeddings: DataFrame,
      minCosine: Double = 0.95,
      cells: Int = 8,
      maxIter: Int = 3): DataFrame = {
    val assigned = semanticAssigned(embeddings, cells, maxIter)
    val ids = assigned.select(col("cell"), col("vec_id"))
    ids
      .join(ids.select(col("cell"), col("vec_id").as("vec_b")), Seq("cell"))
      .filter(col("vec_id") < col("vec_b"))
      .select(col("vec_id").as("vec_a"), col("vec_b"))
      .join(
        assigned.select(col("vec_id").as("vec_a"), col("vec").as("va"), col("norm").as("na")),
        Seq("vec_a"))
      .join(
        assigned.select(col("vec_id").as("vec_b"), col("vec").as("vb"), col("norm").as("nb")),
        Seq("vec_b"))
      .select(
        col("vec_a"), col("vec_b"),
        round(cosineWithNorms(dot(col("va"), col("vb")), col("na"), col("nb")), 4).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** 1-probe cell assignment for SemDeDup, cached. */
  private def semanticAssigned(embeddings: DataFrame, cells: Int, maxIter: Int): DataFrame = {
    val base = prepared(embeddings)
    OpCache.cached(assignCells(base, kmeansCentroids(base, cells, maxIter), probes = 1))
  }

  // ------------------------------------------------------ product quantization

  /** Product-quantization ANN — the memory-compressed scale path: each
    * vector is encoded as `m` small codes (one k-means codebook per
    * subspace), queries score the WHOLE corpus through per-query
    * lookup tables (asymmetric distance computation: `m` table adds
    * per vector instead of `dim` multiplies), and only the top
    * `rerank` candidates per query are re-ranked with their true
    * vectors. At 100 TB the encoded corpus is `m` bytes/vector
    * (codes ≤ 256) instead of `4·dim` — the difference between an
    * in-memory scan and a disk-bound one.
    *
    * Scale shape: the codebooks are trained in driver memory on the
    * corpus' training sample ([[trainingSample]], at most
    * [[sampleRows]] rows, collected once and shared with k-means), so
    * no Lloyd round runs a Spark job; encoding stays a distributed
    * plan over the broadcast books; ADC scoring is corpus-codes ⨝
    * broadcast lookup table → partial-agg sum (map-side combine on
    * (query, vec)); the exact re-rank re-attaches true vectors for
    * ids only. Compose with IVF cells for query-side pruning when
    * even the O(N·m) table scan is too much (IVF-PQ).
    * Output: (query_id, neighbor_id, cosine, rank) — cosine EXACT
    * from the re-rank, so recall is directly measurable against
    * [[cosineTopK]].
    *
    * EAGER at construction (not at first action): building this plan
    * runs Spark jobs — the training-sample collect (once per corpus,
    * memoized) and the query count behind the lut-broadcast guard.
    * Callers composing plans lazily should construct this one where
    * executing cluster work is acceptable.
    */
  def pqTopK(
      embeddings: DataFrame,
      k: Int = 3,
      queryMod: Int = 100,
      m: Int = 8,
      codes: Int = 32,
      rerank: Int = 64,
      maxIter: Int = 3,
      dim: Int = 64): DataFrame =
    pqTopK(embeddings, embeddings.filter(col("vec_id") % queryMod === 0),
      k, m, codes, rerank, maxIter, dim)

  /** External-query-set form of [[pqTopK]]. */
  def pqTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      m: Int,
      codes: Int,
      rerank: Int,
      maxIter: Int,
      dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(codes <= 256, s"codes $codes exceeds one byte — the PQ memory contract")
    val sub = dim / m
    val base = prepared(embeddings)
    val c = effectiveCodes(base, codes) // clamp BEFORE training — see effectiveCodes
    val codebooks = pqCodebooks(base, m, c, maxIter, sub)
    // training is memoized but the N·m·codes encode pass was rebuilt
    // per invocation — cache it
    val packed = OpCache.cached(encodePacked(base, codebooks, m, sub))
    val qprep = prepared(queries)
    val lut = queryLuts(qprep, codebooks, m, sub)

    // The lut is FORCE-broadcast: one m·codes-double row per query
    // (~2 KB at the defaults), and its post-aggregate size estimate is
    // unbounded — left to maybeBroadcast the planner degrades this
    // non-equi join to a true CartesianProduct, which has no redeeming
    // fallback. The contract (a broadcastable query set) is ENFORCED,
    // not assumed: the guard fails loudly on a query set whose lut
    // would blow the driver, instead of OOMing it. Past that scale,
    // prune corpus-side first ([[ivfPqTopK]]) instead of scanning.
    val lutBytes = qprep.count() * (m.toLong * c * 8 + 16)
    require(lutBytes < (512L << 20),
      s"PQ query set needs a ~${lutBytes >> 20} MB lookup-table broadcast — " +
        "beyond the ADC scan's contract; prune with IVF cells (ivfPqTopK) instead")
    val approxW = Window.partitionBy("query_id").orderBy(col("approx_cos").desc, col("vec_id").asc)
    val shortlist = packed
      .join(broadcast(lut), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), (adcScore(m, c) / col("norm")).as("approx_cos"))
      .withColumn("arank", row_number().over(approxW))
      .filter(col("arank") <= rerank)
      .select("query_id", "vec_id")

    exactRerank(shortlist, base, qprep, k)
  }

  /** IVF-PQ: the composed scale path — IVF cells prune the CORPUS side
    * of the ADC scan so each query scores only the rows in its
    * `nProbes` probed cells, while PQ keeps the per-row cost at m
    * table adds and m bytes of shuffle payload. [[pqTopK]]'s ADC is
    * exhaustive O(N·Q); here it is O((N/cells)·nProbes·Q) and — the
    * structural win — the pair join becomes an EQUI-join on `cell`
    * instead of a broadcast nested loop, so past the broadcast
    * threshold it degrades to a shuffled hash join, never a cartesian,
    * and no 512 MB lut-broadcast contract is needed.
    *
    * Coarse cells are Lloyd-learned ([[ivfTopKKmeans]]'s machinery,
    * memoized); codebooks are trained globally on the raw vectors
    * (per-cell residual codebooks are the classic refinement — they
    * sharpen ADC precision, which the exact re-rank here already
    * restores at shortlist size `rerank`). Recall loss vs plain PQ is
    * exactly the IVF probe miss (a true neighbor living in an
    * unprobed cell); raise `nProbes` to trade scan volume back for
    * recall.
    * Output: (query_id, neighbor_id, cosine, rank) — cosine EXACT.
    *
    * EAGER at construction, like [[pqTopK]]: the training-sample
    * collect that cells AND codebooks learn from runs one Spark job
    * (once per corpus, memoized) while the plan is being built.
    */
  def ivfPqTopK(
      embeddings: DataFrame,
      k: Int = 3,
      queryMod: Int = 100,
      nProbes: Int = 2,
      cells: Int = 8,
      m: Int = 8,
      codes: Int = 32,
      rerank: Int = 64,
      maxIter: Int = 3,
      dim: Int = 64): DataFrame =
    ivfPqTopK(embeddings, embeddings.filter(col("vec_id") % queryMod === 0),
      k, nProbes, cells, m, codes, rerank, maxIter, dim)

  /** External-query-set form of [[ivfPqTopK]]. */
  def ivfPqTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbes: Int,
      cells: Int,
      m: Int,
      codes: Int,
      rerank: Int,
      maxIter: Int,
      dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(codes <= 256, s"codes $codes exceeds one byte — the PQ memory contract")
    val sub = dim / m
    val base = prepared(embeddings)
    val centroids = kmeansCentroids(base, cells, maxIter)
    val c = effectiveCodes(base, codes) // clamp BEFORE training — see effectiveCodes
    val codebooks = pqCodebooks(base, m, c, maxIter, sub)

    // Encoded corpus carries its cell: (cell, vec_id, vcodes, norm).
    // The cell join is id-to-id (both sides N rows, m+1 narrow cols).
    // Both inputs cached: the encode pass shares pqTopK's entry (same
    // geometry → plan-equal).
    val packed = OpCache.cached(encodePacked(base, codebooks, m, sub))
      .join(
        OpCache.cached(assignCells(base, centroids, 1).select(col("vec_id"), col("cell"))),
        Seq("vec_id"))

    val qprep = prepared(queries)
    // One (query_id, cell, lut) row per probed cell — nProbes rows per
    // query, each a ~2 KB lut array; broadcast while small, shuffled
    // equi-join on cell beyond the threshold.
    val lutCells = queryLuts(qprep, codebooks, m, sub)
      .join(
        assignCells(qprep, centroids, nProbes).select(col("vec_id").as("query_id"), col("cell")),
        Seq("query_id"))

    // ADC only within probed cells: equi-join on cell. A corpus row
    // lives in exactly one cell and probe cells are distinct per
    // query, so (query_id, vec_id) pairs are already unique — no
    // dedup shuffle.
    val approxW = Window.partitionBy("query_id").orderBy(col("approx_cos").desc, col("vec_id").asc)
    val shortlist = packed
      .join(maybeBroadcast(lutCells), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), (adcScore(m, c) / col("norm")).as("approx_cos"))
      .withColumn("arank", row_number().over(approxW))
      .filter(col("arank") <= rerank)
      .select("query_id", "vec_id")

    exactRerank(shortlist, base, qprep, k)
  }

  /** (vec_id, sub_j, svec): a prepared corpus split into m subspace
    * rows of width `sub`.
    */
  private def subRowsOf(df: DataFrame, m: Int, sub: Int): DataFrame =
    df.select(
      col("vec_id"),
      posexplode(array((0 until m).map(j =>
        slice(col("vec"), j * sub + 1, sub)): _*)).as(Seq("sub_j", "svec")))

  /** The codebook can only be as dense as its training sample:
    * seeding takes min(rows, codes) codes per subspace, while the LUT
    * packing and adcScore's positional indexing stride by the REQUESTED
    * codes — on a corpus smaller than `codes`, every lookup past
    * subspace 0 then reads another subspace's block or past the array
    * end (silently garbage shortlists with ANSI off,
    * INVALID_ARRAY_INDEX under ANSI). Clamp once per entry point, on
    * the memoized sample's size: below the bound it is the corpus row
    * count, and the constant bound is 65,536 ≥ 256 ≥ `codes`.
    */
  private def effectiveCodes(base: DataFrame, codes: Int): Int =
    math.min(codes, math.max(1, trainingSample(base).ids.length))

  /** Encode the corpus (nearest code per (vec_id, sub_j) by L2) and
    * pack each vector's m codes into one array — the compressed corpus
    * representation (m small ints/vector vs 4·dim bytes). The true
    * norm joins HERE, onto the N-row packed table (not the m×N
    * exploded rows): the ADC score must be normalized by it —
    * approximating the DOT alone would shortlist by magnitude, not
    * direction, and bury true cosine neighbors under large-norm
    * vectors. Output: (vec_id, vcodes, norm).
    */
  private def encodePacked(
      base: DataFrame, codebooks: DataFrame, m: Int, sub: Int): DataFrame = {
    // Nearest code per (vec_id, sub_j) is an ARGMIN over the N·m·codes
    // scored rows — min(struct(d2, code)) partial-aggregates map-side
    // (the shuffle carries one row per subspace slot, not `codes`
    // scored rows into a window sort); lexicographic struct order ==
    // the (d2 ASC, code ASC) window head exactly.
    val encoded = subRowsOf(base, m, sub)
      .join(broadcast(codebooks), Seq("sub_j"))
      .groupBy(col("vec_id"), col("sub_j"))
      .agg(min(struct(
        (col("cn2") - lit(2.0) * dot(col("svec"), col("cvec"))).as("d2"), // |s|² constant per group
        col("code"))).as("m"))
      .select(col("vec_id"), col("sub_j"), col("m.code").as("code"))
    encoded
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("sub_j"), col("code")))).as("sc"))
      .select(col("vec_id"), transform(col("sc"), e => e.getField("code")).as("vcodes"))
      .join(base.select(col("vec_id"), col("norm")), Seq("vec_id"))
  }

  /** Per-query lookup table dot(q_j, c_{j,code}) packed into ONE array
    * indexed sub_j·codes + code (array_sort on (sub_j, code) structs
    * gives exactly that order). Output: (query_id, lut).
    */
  private def queryLuts(
      qprep: DataFrame, codebooks: DataFrame, m: Int, sub: Int): DataFrame =
    subRowsOf(qprep, m, sub)
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(codebooks), Seq("sub_j"))
      .select(col("query_id"), col("sub_j"), col("code"), dot(col("svec"), col("cvec")).as("qdot"))
      .groupBy("query_id")
      .agg(array_sort(collect_list(struct(col("sub_j"), col("code"), col("qdot")))).as("lc"))
      .select(col("query_id"), transform(col("lc"), e => e.getField("qdot")).as("lut"))

  /** ADC as a codegen'd per-pair EXPRESSION (m element_at adds), not a
    * join-materialized explosion: the pair join moves m codes per row
    * instead of the vector, and each score is m table adds instead of
    * dim multiplies.
    */
  private def adcScore(m: Int, codes: Int): org.apache.spark.sql.Column =
    (0 until m).map(j =>
      element_at(col("lut"), lit(j * codes + 1) + element_at(col("vcodes"), j + 1)))
      .reduce(_ + _)

  /** Exact re-rank of an (query_id, vec_id) shortlist: true vectors
    * re-attached by id, exact cosine, top-k.
    */
  private def exactRerank(
      shortlist: DataFrame, base: DataFrame, qprep: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    shortlist
      .join(base.select(col("vec_id"), col("vec"), col("norm")), Seq("vec_id"))
      .join(
        maybeBroadcast(qprep.select(
          col("vec_id").as("query_id"), col("vec").as("qvec"), col("norm").as("qnorm"))),
        Seq("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        cosineWithNorms(dot(col("vec"), col("qvec")), col("norm"), col("qnorm")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /** Per-subspace k-means codebooks over a prepared corpus' training
    * sample, in driver memory, memoized by input like
    * [[kmeansCentroids]] and shared by [[pqTopK]] and [[ivfPqTopK]].
    * Seeds: the first `codes` sample rows (hash order) per subspace;
    * rounds assign each subvector to its nearest code by L2, ties →
    * smaller code. Output: (sub_j, code, cvec, cn2 = |c|²).
    */
  private def pqCodebooks(base: DataFrame, m: Int, codes: Int, maxIter: Int, sub: Int): DataFrame =
    OpCache.byInput(Seq("sim.pq.books", m, codes, maxIter, sub, sampleRows.value), base) {
      val vecs = trainingSample(base).vecs
      localTable(base, "sub_j INT, code INT, cvec ARRAY<DOUBLE>, cn2 DOUBLE", (0 until m).flatMap { j =>
        val xs = vecs.map(_.slice(j * sub, j * sub + sub))
        val books = (0 until maxIter).foldLeft(xs.take(codes)) { (bs, _) =>
          val cn2 = bs.map(c => dot(c, c))
          // |x|² is constant per subvector: the nearest code minimizes |c|² − 2·x·c
          lloydRound(xs, bs)(i => best(bs.length, -1)(c => cn2(c) - 2.0 * dot(xs(i), bs(c))))
        }
        books.indices.map(c => Row(j, c, books(c), dot(books(c), books(c))))
      })
    }

  // ------------------------------------------------------------ persisted index

  /** Train an IVF-PQ index ONCE and persist its artifacts as
    * warehouse tables — the 100 TB deployment shape: the expensive
    * part (k-means cells, PQ codebooks, corpus encoding) runs in one
    * build job, and every later session probes the stored index
    * without retraining. Artifacts under `prefix`:
    *
    *   {prefix}_cells   (cell, cvec, cnorm)          — coarse quantizer
    *   {prefix}_books   (sub_j, code, cvec, cn2)     — PQ codebooks
    *   {prefix}_corpus  (vec_id, vcodes, norm, cell) — m bytes/vector
    *   {prefix}_meta    (cells, m, codes, sub, dim)  — search parameters
    *
    * The index stores CODES, not vectors (~m bytes vs 4·dim per row);
    * the source embedding table remains the system of record and is
    * re-read only for the exact re-rank of `rerank`-sized shortlists.
    * Writes are staged overwrites ([[graft.sources.Tables]]), so a
    * rebuild is atomic per artifact.
    */
  def buildIvfPqIndex(
      embeddings: DataFrame,
      prefix: String,
      cells: Int = 8,
      m: Int = 8,
      codes: Int = 32,
      maxIter: Int = 3,
      dim: Int = 64): Unit = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(codes <= 256, s"codes $codes exceeds one byte — the PQ memory contract")
    val sub = dim / m
    val spark = embeddings.sparkSession
    // The build is deterministic in (input, geometry) and its writes
    // are staged overwrites, so a same-session re-run reproduces
    // byte-identical tables — all it buys is a second round of drops
    // and table writes (r14: the whole warm invocation cost of x100).
    // Memoize per (input plan, prefix, geometry); a hit is only served
    // while every artifact table still exists, so an external DROP (or
    // OpCache.clear(), the test-pinned path) forces a real rebuild.
    OpCache.byInput(Seq("sim.ivfpq.index", prefix, cells, m, codes, maxIter, dim, sampleRows.value),
      embeddings,
      Seq("cells", "books", "corpus", "meta").forall(t => spark.catalog.tableExists(s"${prefix}_$t"))) {
      val base = prepared(embeddings)
      val centroids = kmeansCentroids(base, cells, maxIter)
      val c = effectiveCodes(base, codes) // clamp BEFORE training — see effectiveCodes
      val codebooks = pqCodebooks(base, m, c, maxIter, sub)
      // the search paths' plans: a build in the same session as a
      // search (the lifecycle probe's shape) encodes once
      val packed = OpCache.cached(encodePacked(base, codebooks, m, sub))
        .join(
          OpCache.cached(assignCells(base, centroids, 1).select(col("vec_id"), col("cell"))),
          Seq("vec_id"))
      // An ephemeral catalog forgets tables while their warehouse dirs
      // survive — reset location + catalog entry so a rebuild in a fresh
      // session cannot die on LOCATION_ALREADY_EXISTS.
      Seq("cells", "books", "corpus", "meta")
        .foreach(s => graft.sources.Tables.dropManaged(spark, s"${prefix}_$s"))
      graft.sources.Tables.overwriteTable(centroids, s"${prefix}_cells")
      graft.sources.Tables.overwriteTable(codebooks, s"${prefix}_books")
      graft.sources.Tables.overwriteTable(packed, s"${prefix}_corpus")
      import spark.implicits._
      // meta records the EFFECTIVE codes (the trained density), so a
      // later searchIvfPqIndex strides the stored books consistently
      graft.sources.Tables.overwriteTable(
        Seq((cells, m, c, sub, dim)).toDF("cells", "m", "codes", "sub", "dim"),
        s"${prefix}_meta")
    }
  }

  /** Probe a persisted IVF-PQ index: same search dataflow as
    * [[ivfPqTopK]] — per-query luts against the stored codebooks, ADC
    * equi-joined on the stored cell assignments, exact re-rank against
    * the SOURCE embedding table — but with zero training work: cells,
    * books and encodings are parquet scans. Search parameters (m,
    * codes, sub) come from `{prefix}_meta`, so a caller cannot probe
    * with mismatched geometry.
    * Output: (query_id, neighbor_id, cosine, rank) — cosine EXACT.
    */
  def searchIvfPqIndex(
      embeddings: DataFrame,
      queries: DataFrame,
      prefix: String,
      k: Int = 3,
      nProbes: Int = 2,
      rerank: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    val meta = spark.table(s"${prefix}_meta").head()
    val m = meta.getAs[Int]("m")
    val codes = meta.getAs[Int]("codes")
    val sub = meta.getAs[Int]("sub")
    val centroids = spark.table(s"${prefix}_cells")
    val codebooks = spark.table(s"${prefix}_books")
    val packed = spark.table(s"${prefix}_corpus")
    val qprep = prepared(queries)
    val lutCells = queryLuts(qprep, codebooks, m, sub)
      .join(
        assignCells(qprep, centroids, nProbes).select(col("vec_id").as("query_id"), col("cell")),
        Seq("query_id"))
    val approxW = Window.partitionBy("query_id").orderBy(col("approx_cos").desc, col("vec_id").asc)
    val shortlist = packed
      .join(maybeBroadcast(lutCells), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), (adcScore(m, codes) / col("norm")).as("approx_cos"))
      .withColumn("arank", row_number().over(approxW))
      .filter(col("arank") <= rerank)
      .select("query_id", "vec_id")
    exactRerank(shortlist, prepared(embeddings), qprep, k)
  }
}
