package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Document deduplication operators for large-scale training-data
  * pipelines: exact, MinHash+LSH, SimHash, and blocked n-gram Jaccard.
  *
  * Scale design notes (100 TB target):
  *  - exact dedup is a single hash-aggregate on a 32-byte digest — the
  *    shuffle carries digests + ids, never document bodies;
  *  - MinHash/LSH shuffles only (band_id, band_hash, doc_id) tuples;
  *    candidate verification joins fixed-width signatures, not text;
  *  - SimHash pairs use the pigeonhole band trick (hamming ≤ 3 ⇒ some
  *    16-bit quarter matches) so no all-pairs comparison ever happens;
  *  - n-gram Jaccard blocks on (lang, length-band) before any pairwise
  *    work, turning O(n²) into O(Σ block²) with bounded block sizes.
  */
object Dedup {

  /** Exact dedup: group on a content digest, keep the lowest doc_id.
    * Output: one row per distinct content with its duplicate count.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      // null text is ABSENT content, not shared content: md5(null) is
      // null, so without this filter every null-text document lands in
      // one "duplicate" group and all but one would be deleted by a
      // pipeline applying the report
      .filter(col(textCol).isNotNull)
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies", "content_hash")

  /** Per-document MinHash signatures over word `shingleN`-gram shingles.
    * Output: (doc_id, n_shingles, sig array<long>[numHashes]).
    *
    * Formulated as explode → hash → groupBy-min rather than array
    * higher-order functions: the shingle pipeline (interpreted HOFs)
    * runs exactly once per document, each shingle is hashed by the
    * codegen'd xxhash64, and the k mins aggregate with map-side
    * partial combine — the shuffle carries one row per doc. At 100 TB
    * this is the shape that scales; the HOF form re-evaluates the
    * tokenizer k× per row via projection collapse.
    */
  def minhashSignatures(
      docs: DataFrame,
      numHashes: Int = 16,
      shingleN: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val exploded = docs
      // token array materialized once per row — element_at inside the
      // shingle lambda must index an attribute, not re-run the tokenizer
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(wordShingles(col("__toks"), shingleN)).as("shingle"))
    sigsFromShingles(exploded, numHashes, idCol)
  }

  /** Signature assembly shared by the word- and char-shingle variants:
    * k per-seed mins with map-side partial combine, one row per doc.
    */
  private def sigsFromShingles(exploded: DataFrame, numHashes: Int, idCol: String): DataFrame = {
    val mins = (0 until numHashes).map(i => min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))
    exploded
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"), mins: _*)
      .select(
        col(idCol),
        col("n_shingles"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash+LSH near-duplicate candidates: band the signature, bucket
    * on (band index, band hash), join within buckets, then estimate
    * Jaccard from full-signature agreement. Only pairs sharing ≥1 band
    * are ever compared.
    * Output: (doc_a, doc_b, est_jaccard) with doc_a < doc_b.
    */
  def minhashLshPairs(
      docs: DataFrame,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleN: Int = 3,
      minEstJaccard: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    lshPairsFromSigs(
      // Materialize signatures once: both sides of the bucket self-join
      // read the cached 24-byte-per-doc table instead of recomputing
      // the tokenize→shingle→hash pipeline per side.
      OpCache.cached(minhashSignatures(docs, numHashes, shingleN, idCol, textCol)),
      numHashes, bands, minEstJaccard, idCol)

  /** Character n-gram MinHash signatures — the dedup unit for
    * UNSEGMENTED scripts (zh/ja/th), where whitespace tokens don't
    * exist and a word-shingle pipeline sees one giant token (< the
    * shingle width → no shingles at all → the doc silently skips
    * dedup). Same explode → hash → groupBy-min shape as the word
    * variant; `substr` inside the lambda indexes the text attribute
    * directly, so there is no per-position re-evaluation hazard.
    */
  def charMinhashSignatures(
      docs: DataFrame,
      numHashes: Int = 16,
      charN: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val exploded = docs.select(col(idCol), explode(charShingles(col(textCol), charN)).as("shingle"))
    sigsFromShingles(exploded, numHashes, idCol)
  }

  /** MinHash+LSH near-dup pairs over character shingles — covers the
    * documents word-level LSH is blind to. Same banding/bucketing as
    * [[minhashLshPairs]].
    */
  def charMinhashLshPairs(
      docs: DataFrame,
      numHashes: Int = 16,
      bands: Int = 4,
      charN: Int = 8,
      minEstJaccard: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    lshPairsFromSigs(
      OpCache.cached(charMinhashSignatures(docs, numHashes, charN, idCol, textCol)),
      numHashes, bands, minEstJaccard, idCol)

  /** Band a (id, sig) signature table: one row per (id, band) with the
    * band's bucket hash. Shared by the self-join and cross-corpus LSH.
    */
  private def bandedSigs(
      sigs: DataFrame, numHashes: Int, bands: Int, idCol: String): DataFrame = {
    // bands > numHashes gives rowsPerBand = 0: every band hash is the
    // hash of an EMPTY slice, all documents share one bucket, and the
    // bucket self-join silently degenerates to the all-pairs cross
    // join this module exists to avoid. A non-dividing bands silently
    // drops the trailing signature hashes from banding (recall loss).
    // Both are caller errors — fail loudly.
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bandedSigs: bands=$bands must divide numHashes=$numHashes " +
        "(rows per band = numHashes / bands, every hash banded)")
    val rowsPerBand = numHashes / bands
    sigs.select(
      col(idCol),
      col("sig"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))
      }: _*)).as(Seq("band_id", "band_hash")))
  }

  /** Shared LSH candidate join over any (id, sig) signature table. */
  private def lshPairsFromSigs(
      sigs: DataFrame,
      numHashes: Int,
      bands: Int,
      minEstJaccard: Double,
      idCol: String): DataFrame = {
    val banded = bandedSigs(sigs, numHashes, bands, idCol)
    val a = banded.select(
      col("band_id"), col("band_hash"),
      col(idCol).as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(
      col("band_id"), col("band_hash"),
      col(idCol).as("doc_b"), col("sig").as("sig_b"))

    a.join(b, Seq("band_id", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), minhashEstimate(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .distinct() // a pair may collide in several bands
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Cross-corpus MinHash+LSH near-duplicate candidates — train-vs-eval
    * decontamination by NEAR-duplicate, where the exact-shingle overlap
    * scan ([[bloomSemiJoin]]-based contamination) misses lightly edited
    * or paraphrased benchmark leaks. Bands both corpora's signatures
    * and bucket-joins LEFT against RIGHT only (no within-side pairs).
    *
    * 100 TB shape: the right side (eval/benchmark set) is the small
    * one — its banded signature table broadcasts while it fits
    * (shuffled equi-join beyond), and train rows not sharing a bucket
    * with any eval row never leave their scan. No all-pairs anywhere.
    * Output: (left_id, right_id, est_jaccard).
    */
  def minhashLshPairsAcross(
      left: DataFrame,
      right: DataFrame,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleN: Int = 3,
      minEstJaccard: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val l = bandedSigs(
      OpCache.cached(minhashSignatures(left, numHashes, shingleN, idCol, textCol)),
      numHashes, bands, idCol)
      .select(col("band_id"), col("band_hash"), col(idCol).as("left_id"), col("sig").as("sig_l"))
    val r = bandedSigs(
      OpCache.cached(minhashSignatures(right, numHashes, shingleN, idCol, textCol)),
      numHashes, bands, idCol)
      .select(col("band_id"), col("band_hash"), col(idCol).as("right_id"), col("sig").as("sig_r"))
    l.join(Broadcasting.maybeBroadcast(r), Seq("band_id", "band_hash"))
      .select(
        col("left_id"), col("right_id"),
        minhashEstimate(col("sig_l"), col("sig_r")).as("est_jaccard"))
      .distinct() // a pair may collide in several bands
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Per-document 64-bit SimHash. Output: (doc_id, simhash).
    * Tokenizes via the native `graft_tokens` (registered by
    * GraftExtensions — required in the session) so the token stream is
    * byte-identical to every other text operator's.
    */
  def simhashes(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // simhash64 takes a SQL fragment (dynamic shifts are only
    // expressible as a lambda expression), so the column name must be
    // backtick-quoted — every sibling operator resolves textCol via
    // col(), where names with dots or spaces already work
    val quoted = s"`${textCol.replace("`", "``")}`"
    docs.select(
      col(idCol),
      simhash64(s"graft_tokens($quoted)").as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming (≤ 3
    * guaranteed complete by the 4×16-bit pigeonhole bands; higher
    * thresholds are best-effort recall, never false positives).
    * Output: (doc_a, doc_b, hamming).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // delegate to the generic 64-bit banding below — the two bodies
    // were verbatim copies modulo output names, so a banding fix had
    // to be applied twice
    val sh = OpCache.cached(simhashes(docs, idCol, textCol))
    hammingPairs64(sh, idCol, "simhash", maxHamming)
      .withColumnRenamed("id_a", "doc_a")
      .withColumnRenamed("id_b", "doc_b")
  }

  /** Generic 64-bit-signature hamming pairs — the [[simhashPairs]]
    * banding factored over ANY (id, sig) table (text SimHash, image
    * dHash, audio fingerprints): 4×16-bit pigeonhole bands guarantee
    * completeness for hamming ≤ 3 (a pair differing in ≤ 3 bits
    * cannot differ in all four bands); higher thresholds are
    * best-effort recall, never false positives. The banded self-join
    * carries (id, sig) only. Output: (id_a, id_b, hamming).
    */
  def hammingPairs64(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int = 3): DataFrame = {
    val banded = sigs.select(
      col(idCol),
      col(sigCol).as("__sig"),
      posexplode(array((0 until 4).map { q =>
        shiftright(col(sigCol), q * 16).bitwiseAND(lit(0xFFFFL))
      }: _*)).as(Seq("band_id", "band_key")))
    val a = banded.select(col("band_id"), col("band_key"), col(idCol).as("id_a"), col("__sig").as("sh_a"))
    val b = banded.select(col("band_id"), col("band_key"), col(idCol).as("id_b"), col("__sig").as("sh_b"))
    a.join(b, Seq("band_id", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("sh_a"), col("sh_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Transitive closure over near-duplicate pairs: connected-component
    * labels via iterative min-label propagation (the Pregel-style
    * formulation — each round every node takes the minimum label among
    * itself and its neighbors). Converges in O(component diameter)
    * rounds; near-dup clusters are shallow, so the driver loop runs a
    * handful of iterations of pure shuffle joins — the standard
    * scalable shape for dedup clustering (GraphX connected components
    * without the GraphX dependency).
    * Input: (doc_a, doc_b) pairs. Output: (doc_id, cluster_id) for
    * every doc that appears in a pair; cluster_id = min doc_id of the
    * component.
    */
  def resolveClusters(pairs: DataFrame, maxIter: Int = 15): DataFrame = {
    // Keyed by input: the label loop is EAGER — localCheckpoint +
    // count per round — so repeated calls on the same pairs (warm
    // passes, downstream reports) would redo every iteration; the
    // entry holds the final label table over the checkpoints instead.
    OpCache.byInput(Seq("dedup.resolve", maxIter), pairs)(resolveClustersUncached(pairs, maxIter))
  }

  private def resolveClustersUncached(pairs: DataFrame, maxIter: Int): DataFrame = {
    // Alternating large-star / small-star (Kiveris et al., "Connected
    // Components in MapReduce and Beyond"): each round rewires edges
    // toward the neighborhood minimum, halving component height — the
    // round count is O(log n) in the WORST case, where the previous
    // min-label propagation was O(component diameter) and legitimately
    // blew its bound on chained boilerplate (a 50-deep near-dup chain
    // is pathological but possible at 100 TB). Edges keep the (u > v)
    // orientation as an invariant; every step is a groupBy/join on
    // node ids — two longs per row, no payloads.
    // localCheckpoint like `edges`: the table is used exactly once per
    // resolution (the root-labeling anti-join), so it lives and dies
    // with the memoized result that references it.
    val nodes = pairs.select(col("doc_a").as("id"))
      .unionByName(pairs.select(col("doc_b").as("id")))
      .distinct()
      .localCheckpoint(true)

    // localCheckpoint (not persist): each round must TRUNCATE lineage,
    // or the logical plan doubles per iteration and analysis cost goes
    // exponential (the classic iterative-algorithm trap).
    var edges = pairs
      .select(
        greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // Large-star: over SYMMETRIC neighborhoods, attach every
      // strictly-larger neighbor to the neighborhood minimum
      // (including the center). Keeps u > v by construction: the
      // emitted (v, m) has v > u ≥ m.
      val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val lmins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val afterLarge = sym.join(lmins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // Small-star: over the ORIENTED neighborhoods (all of u's
      // parents are < u), attach u and all its smaller neighbors to
      // their minimum — after this, each u has exactly one parent.
      val smins = afterLarge.groupBy("u").agg(min(col("v")).as("m"))
      val updated = smins.select(col("u"), col("m").as("v"))
        .unionByName(
          afterLarge.join(smins, Seq("u"))
            .filter(col("v") =!= col("m"))
            .select(col("v").as("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(true)
      // Fixpoint test, EXACT and structural: the result is final iff
      // it is a forest of stars — no parent is itself a child (no
      // 2-chain) AND every child has exactly one parent (a node can
      // still collect two parents from two small-star groups while
      // staying chain-free; that state is NOT converged — its roots
      // merge in later rounds). Both violation kinds union into ONE
      // probe (one job per round, not two — the loop is eager, so
      // per-round jobs are the cold cost of every resolution); no
      // checksum heuristics that could terminate early on collision.
      converged = updated
        .join(updated.select(col("u").as("v")), Seq("v"), "left_semi")
        .select(lit(1).as("__viol"))
        .unionByName(
          updated.groupBy("u").agg(count(lit(1)).as("c"))
            .filter(col("c") > 1).select(lit(1).as("__viol")))
        .isEmpty
      edges = updated
      iter += 1
    }
    // A silently-truncated resolution returns parents that are NOT the
    // component minimum — wrong clusters with no signal (and a
    // divergence from the exact transitive-closure oracle). The bound
    // is now logarithmic (15 rounds covers any physical graph), so a
    // hit means the input is degenerate or maxIter was lowered.
    if (!converged) throw new IllegalStateException(
      s"resolveClusters did not converge in $maxIter star rounds — " +
        "raise maxIter")
    // Stars to labels: children point at their root; roots (ids with
    // no parent edge) label themselves.
    edges.select(col("u").as("id"), col("v").as("cluster_id"))
      .unionByName(
        nodes.join(edges.select(col("u").as("id")), Seq("id"), "left_anti")
          .select(col("id"), col("id").as("cluster_id")))
  }

  /** End-to-end dedup: find near-dup pairs (MinHash+LSH), resolve
    * clusters, and keep one canonical doc (min doc_id) per cluster —
    * docs in no cluster survive untouched.
    * Output: the duplicate-removal report, one row per cluster with
    * size > 1: (keep_id, cluster_size, removed_ids sorted).
    */
  def dedupReport(docs: DataFrame, minEstJaccard: Double = 0.5): DataFrame = {
    val pairs = minhashLshPairs(docs, minEstJaccard = minEstJaccard)
    resolveClusters(pairs)
      .groupBy(col("cluster_id").as("keep_id"))
      .agg(
        (count(lit(1))).as("cluster_size"),
        array_sort(collect_list(when(col("id") =!= col("cluster_id"), col("id")))).as("removed_ids"))
      .filter(col("cluster_size") > 1)
  }

  /** Canonical-selection dedup report: resolve near-dup clusters and
    * keep the HIGHEST-SCORING member per cluster (ties → lowest id) —
    * the production policy when "longest/cleanest member" beats
    * "lowest id" ([[dedupReport]]'s rule). `scores` is any per-doc
    * quality signal (token count, quality score, recency…).
    * Scale shape: clusters from the O(log n) star rounds, one equi-
    * join to attach scores, one window per cluster — no all-pairs.
    * Output per cluster with size > 1: (keep_id, cluster_size,
    * removed_ids sorted asc).
    */
  def dedupReportBest(pairs: DataFrame, scores: DataFrame): DataFrame = {
    // LEFT join: a cluster member missing from the scores table (a
    // quality signal computed on a slightly different snapshot) must
    // stay IN the report — an inner join silently dropped it, shrinking
    // cluster_size (a 2-cluster with one unscored member vanished
    // entirely) and leaving the unscored doc neither kept nor listed
    // as removed. Policy: unscored members order LAST (nulls-last
    // desc), so they are never chosen canonical while a scored
    // alternative exists.
    val labeled = resolveClusters(pairs)
      .join(scores.select(col("doc_id").as("id"), col("score")), Seq("id"), "left")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("score").desc_nulls_last, col("id").asc)
    labeled
      .withColumn("__r", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("cluster_size"),
        min(when(col("__r") === 1, col("id"))).as("keep_id"),
        array_sort(collect_list(when(col("__r") =!= 1, col("id")))).as("removed_ids"))
      .filter(col("cluster_size") > 1)
      .select("keep_id", "cluster_size", "removed_ids")
  }

  /** Bloom-prefiltered semi-join: keep `big` rows whose `key` appears
    * in `small`, with the big side pruned by a broadcast Bloom filter
    * BEFORE any shuffle. The 100 TB decontamination shape: the filter
    * is sized on the SMALL side's cardinality (test set, blocklist),
    * ships to every executor as a few MB of bits, and eliminates the
    * overwhelmingly-non-matching big side at scan speed — only the
    * survivors (true matches + fpp false positives) reach the exact
    * semi-join that guarantees correctness. Result is bit-identical to
    * the plain semi-join; the bloom is pure pruning. The membership
    * probe is the codegen'd [[graft.plans.BloomMightContain]] (see
    * [[bloomMightContain]] for the type dispatch).
    */
  def bloomSemiJoin(
      big: DataFrame,
      small: DataFrame,
      key: String,
      expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    // Keyed by the small side: the sketch is deterministic in it, and
    // the cache unpersists the broadcast when the entry goes (not
    // destroy — a cached plan that still references one re-broadcasts
    // on demand).
    val bc = OpCache.byInput(Seq("dedup.bloom", key, expectedItems, fpp), small)(
      big.sparkSession.sparkContext.broadcast(small.stat.bloomFilter(key, expectedItems, fpp)))
    // No .distinct() on the small side: left_semi output is unaffected
    // by right-side duplicates, and the dedup would cost a shuffle.
    big.filter(bloomMightContain(big, small, key, bc))
      .join(small.select(col(key)), Seq(key), "left_semi")
  }

  /** Broadcast-bloom membership probe dispatched on the key column's
    * actual type, mirroring how `DataFrameStatFunctions.bloomFilter`
    * inserts: strings hash their UTF-8 bytes, integral types probe as
    * longs. The dispatch is load-bearing for the "bit-identical to the
    * plain semi-join" contract — a blanket string-cast probe against a
    * long-populated sketch tests false for every row and silently
    * turns pruning into false negatives. Mismatched or unsupported key
    * types are rejected up front. The probe itself is the codegen'd
    * [[graft.plans.BloomMightContain]] — it stays inside whole-stage
    * codegen on what is by design a full-scan-rate filter (no UDF
    * boxing, no UTF8String→String conversion).
    */
  private[graft] def bloomMightContain(
      probed: DataFrame,
      inserted: DataFrame,
      key: String,
      bc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    val probeType = probed.schema(key).dataType
    val insertType = inserted.schema(key).dataType
    require(probeType == insertType,
      s"bloom key '$key' type mismatch: probe side $probeType vs sketch side $insertType")
    val keyExpr = probeType match {
      case StringType => col(key)
      case ByteType | ShortType | IntegerType | LongType => col(key).cast("long")
      case other =>
        throw new IllegalArgumentException(
          s"bloom key '$key' has unsupported type $other (string or integral required)")
    }
    org.apache.spark.sql.graftops.ColumnBridge.column(
      graft.plans.BloomMightContain(
        org.apache.spark.sql.graftops.ColumnBridge.expression(keyExpr), bc))
  }

  /** Per-document duplicated-n-gram fraction (the RefinedWeb-style
    * substring-contamination signal): of a document's distinct word
    * `n`-grams, how many also appear in at least one other document.
    * Output: (doc_id, n_grams, n_dup_grams, dup_bp) — dup_bp is the
    * fraction in floor basis points (bit-portable, no round-half).
    * Docs with fewer than `n` tokens have no grams and are absent.
    *
    * Shape: explode distinct shingles → md5 digest (the shuffle
    * carries 32-byte digests, not text) → document frequency as a
    * window over the digest (ONE shuffle, no self-join, no pipeline
    * recompute) → per-doc rollup. Σ rows = Σ distinct grams; both
    * shuffles are hash-partitioned on high-cardinality keys.
    */
  def ngramDupStats(
      docs: DataFrame,
      shingleN: Int = 5,
      maxGramDf: Option[Long] = None): DataFrame = {
    // Materialize the token array in its own projection: inside the
    // shingle lambda each element_at would otherwise re-run the
    // tokenizer per gram position (n re-tokenizations per shingle —
    // measured 4.3 s → 0.9 s at sf0.1 for n = 5).
    val grams = docs
      .select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), explode(wordShingles(col("__toks"), shingleN)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("gh")
    val universe = maxGramDf match {
      case None => grams
      case Some(cap) =>
        // 100 TB skew guard (mirrors ngramJaccardPairs.maxShingleDf):
        // grams over the cap leave the universe entirely, numerator
        // AND denominator — boilerplate stops being duplication
        // evidence. Shape: the CAPPED-OUT gram list is normally tiny
        // (a cap only bites the handful of boilerplate digests), so it
        // aggregates with map-side partial combine, broadcasts (size-
        // guarded: an aggressive cap on templated data can make it
        // large, in which case the anti-join degrades to a shuffled
        // join instead of OOMing the driver), and prunes before the
        // window — whose partitions are then bounded by the cap, so
        // the straggler partition cannot exist. (The inverted
        // formulation — joining against the KEPT-gram df table — is a
        // big-big join on ≈ distinct-gram cardinality; measured 4–6×
        // slower at probe ×20.) The exploded gram table is
        // materialized once: the hot-list build and the probe side
        // both read the cache instead of re-running the dominant
        // tokenize→shingle→md5 pipeline.
        val cached = OpCache.cached(grams)
        val hot = cached.groupBy("gh")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > cap)
          .select("gh")
        hotCapAntiJoin(cached, hot, Seq("gh"))
    }
    universe
      .withColumn("df", count(lit(1)).over(w))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1).otherwise(0)).as("n_dup_grams"))
      .select(
        col("doc_id"), col("n_grams"), col("n_dup_grams"),
        floor(lit(10000.0) * col("n_dup_grams").cast("double") / col("n_grams"))
          .cast("long").as("dup_bp"))
  }

  /** df-cap skew guard shared by the gram operators: anti-join `rows`
    * against the over-cap hot-key list, broadcasting the list when its
    * MEASURED size fits the session threshold. The optimizer estimate
    * is useless for this decision — a Filter over an Aggregate
    * inherits its child's size-only estimate (the full gram table), so
    * `Broadcasting.fitsBroadcast` read multi-TB for a few-KB list and
    * the documented broadcast fast path never fired in production;
    * every capped call silently paid a shuffled anti-join. The hot
    * list is eagerly pinned (localCheckpoint) so the measuring count
    * and the join read ONE materialization of the (OpCache-parented,
    * normally tiny) aggregation; past the threshold the join degrades
    * to shuffled exactly as before.
    */
  private def hotCapAntiJoin(rows: DataFrame, hot: DataFrame, keys: Seq[String]): DataFrame = {
    val mat = hot.localCheckpoint(true)
    // MEASURED bytes, not schema defaults: StringType's defaultSize is
    // a fixed 20 bytes, so a hot list of long string keys (the
    // full-gram 'gh' variant) could pass a defaultSize check while
    // materially exceeding the driver's broadcast budget. One agg job
    // over the checkpointed list prices variable-width columns at
    // their actual byte length; fixed-width columns keep their encoded
    // size; +48 B/row covers the hashed-relation row overhead
    // (UnsafeRow header + null bitset + the LongToUnsafeRowMap /
    // BytesToBytesMap entry — typically 32-64 B/row, so the old
    // +16 B/row left the broadcast decision optimistic near the
    // threshold; the r13 ADVICE finding).
    import org.apache.spark.sql.types.{StringType, BinaryType}
    val widths = mat.schema.fields.map { f =>
      f.dataType match {
        case StringType | BinaryType =>
          coalesce(octet_length(col(f.name)).cast("long"), lit(0L))
        case dt => lit(dt.defaultSize.toLong)
      }
    }
    val measured = mat.agg(
      count(lit(1)).as("n"),
      coalesce(sum(widths.reduce(_ + _)), lit(0L)).as("bytes")).head()
    val bytes = measured.getLong(1) + measured.getLong(0) * 48L
    val thr = Broadcasting.threshold(mat)
    rows.join(if (thr > 0 && bytes <= thr) broadcast(mat) else mat, keys, "left_anti")
  }

  /** Shared inverted gram index for the pairwise n-gram measures:
    * (doc_id, lang, n_chars, h) with one row per distinct shingle,
    * OpCache-materialized (Jaccard and containment reuse the same
    * cached table), optionally df-capped (see the `maxShingleDf`
    * contract on [[ngramJaccardPairs]]).
    */
  private def gramIndex(docs: DataFrame, shingleN: Int, maxShingleDf: Option[Long]): DataFrame = {
    // One interpreted shingle-pipeline pass per doc, materialized.
    val exAll = OpCache.cached(
      docs
        .select(col("doc_id"), col("lang"), col("n_chars"), tokens(col("text")).as("__toks"))
        .select(
          col("doc_id"), col("lang"), col("n_chars"),
          explode(wordShingles(col("__toks"), shingleN)).as("shingle"))
        .select(col("doc_id"), col("lang"), col("n_chars"), xxhash64(col("shingle")).as("h")))

    maxShingleDf match {
      case Some(cap) =>
        // Anti-join against the CAPPED-OUT shingle list: it is
        // normally tiny (a cap only bites boilerplate), so it
        // partial-aggregates and broadcasts (size-guarded — see
        // Broadcasting.maybeBroadcast) — the inverted join against the
        // kept-shingle table would be a big-big join on
        // ≈ distinct-shingle cardinality.
        val hot = exAll.groupBy(col("lang"), col("h"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > cap)
          .select("lang", "h")
        OpCache.cached(hotCapAntiJoin(exAll, hot, Seq("lang", "h")))
      case None => exAll
    }
  }

  /** Blocked word-shingle Jaccard near-dup pairs. Blocking: same lang,
    * |n_chars difference| ≤ `lenBand`. Output: (doc_a, doc_b, jaccard)
    * with jaccard ≥ minJaccard.
    *
    * Inverted-index formulation (no per-pair array_intersect): explode
    * distinct shingles, hash them to longs (codegen'd; collision odds
    * ~n²/2⁶⁴), self-join on (lang, shingle hash) so only pairs that
    * actually share a shingle are ever produced, count the matches per
    * pair, then join per-doc shingle counts back to finish the Jaccard
    * |A∩B| / (|A|+|B|-|A∩B|). Every step is a codegen'd hash join or
    * partial-aggregated groupBy — the shape that scales: shuffle volume
    * is Σ_shingle df² rows, not |block|² array comparisons.
    *
    * `maxShingleDf`: the 100 TB skew bound. The self-join's shuffle
    * volume is Σ_shingle df², so one boilerplate shingle appearing in
    * 10⁶ docs alone yields 10¹² candidate rows. With a cap, shingles
    * whose document frequency exceeds it are dropped BEFORE the
    * self-join and the Jaccard is computed over the surviving (rare)
    * shingle universe on both the intersection and the sizes —
    * boilerplate stops being evidence of similarity at all, which is
    * the standard df-capped near-dup measure. Near-duplicates share
    * many rare shingles, so recall loss is bounded; disabled (None) by
    * default for exact parity with the uncapped oracle.
    *
    * EAGER at construction when capped: the df-cap path pins the hot
    * list (localCheckpoint) and measures its broadcast size with a
    * real agg job while the plan is being built ([[hotCapAntiJoin]]) —
    * same contract as the capped containment/dup-gram/substring
    * operators sharing that guard. Uncapped calls stay fully lazy.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      shingleN: Int = 3,
      lenBand: Long = 50,
      minJaccard: Double = 0.5,
      maxShingleDf: Option[Long] = None): DataFrame = {
    val ex = gramIndex(docs, shingleN, maxShingleDf)
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sg"))

    val a = ex.select(col("lang"), col("h"), col("doc_id").as("doc_a"), col("n_chars").as("len_a"))
    val b = ex.select(col("lang"), col("h"), col("doc_id").as("doc_b"), col("n_chars").as("len_b"))

    val matches = a.join(b, Seq("lang", "h"))
      .filter(col("doc_a") < col("doc_b") && abs(col("len_a") - col("len_b")) <= lenBand)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))

    matches
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sg").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sg").as("n_b")), Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Exact shared-substring runs between document pairs — the
    * generate-and-count core of suffix-array-style exact substring
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): two documents sharing `minRun`
    * CONSECUTIVE token k-grams share a verbatim span of
    * `minRun + k - 1` tokens, which n-gram-SET measures (Jaccard,
    * containment) cannot see — a 50-token verbatim quote inside two
    * otherwise-unrelated documents moves set overlap barely, but is
    * exactly what substring dedup must catch.
    *
    * Positional k-grams are equi-joined on the gram text, collinear
    * matches grouped per (pair, diagonal = pos_a − pos_b), and each
    * diagonal split into consecutive islands; the longest island is
    * the longest shared run. Within one (pair, diagonal), `pa`
    * determines `pb`, so island rows are already distinct — no
    * dedup pass needed.
    *
    * Scale shape: an inverted-index equi-join like
    * [[ngramJaccardPairs]] — pairs meet only on shared grams, never
    * all-pairs. `maxGramDf` caps stop-gram fan-out (a capped gram
    * never seeds a match; recall is lost only for runs built ENTIRELY
    * of corpus-frequent grams — at 100 TB the cap is mandatory, as one
    * boilerplate gram in 10⁶ docs is otherwise a 10¹² join). The
    * island windows partition by (doc_a, doc_b, diag) — bounded by
    * per-pair match counts, never corpus-wide.
    * Output: (doc_a, doc_b, max_run, match_tokens).
    */
  def substringRunPairs(
      docs: DataFrame,
      k: Int = 5,
      minRun: Long = 3,
      maxGramDf: Option[Long] = None,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k $k must be positive")
    // Positional grams: transform over a materialized token attribute
    // (element_at inside the lambda would re-tokenize per gram
    // position — the x02 lesson), NO array_distinct: a gram repeated
    // at several positions participates in several diagonals.
    val grams = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(
        col("doc_id"),
        posexplode(
          when(size(col("__toks")) < k, array().cast("array<string>"))
            .otherwise(transform(
              sequence(lit(1), size(col("__toks")) - lit(k - 1)),
              i => concat_ws(" ", (0 until k).map(j =>
                element_at(col("__toks"), (i + lit(j)).cast("int"))): _*))))
          .as(Seq("pos", "g")))
      // hash the gram BEFORE anything shuffles: the candidate
      // self-join and the hot-list groupBy otherwise ship the k-token
      // gram TEXT on both sides — many times the volume of the long
      // key, against the module's shuffle-carries-digests design.
      // Collision odds ~n²/2⁶⁴, the same class ngramJaccardPairs
      // accepts for the identical reason.
      .select(col("doc_id"), col("pos"), xxhash64(col("g")).as("h"))
    // Materialize the PRE-cap gram table: the dominant tokenize→gram
    // pipeline runs once, shared by the capped and uncapped calls
    // (plan-equal site) and by the hot-list build + both join sides.
    val cached = OpCache.cached(grams)
    val ex = maxGramDf match {
      case Some(cap) =>
        // Hot-list anti-join (the ngramDupStats shape): the over-cap
        // gram list is normally tiny, aggregates with map-side
        // combine, and broadcasts size-guarded. The cap counts gram
        // OCCURRENCES (the family convention — ngramDupStats.
        // maxGramDf), not distinct docs: same stop-gram insurance,
        // one combined groupBy instead of a distinct + groupBy double
        // shuffle over the full positional-gram table. The inverted
        // formulation — semi-joining against the KEPT-gram df table —
        // is a big-big join on ≈ distinct-gram cardinality, measured
        // 4–6× slower at probe ×20.
        val hot = cached.groupBy("h").agg(count(lit(1)).as("gdf"))
          .filter(col("gdf") > cap)
          .select("h")
        hotCapAntiJoin(cached, hot, Seq("h"))
      case None => cached
    }
    val j = ex.select(col("h"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(ex.select(col("h"), col("doc_id").as("doc_b"), col("pos").as("pb")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), (col("pa") - col("pb")).as("diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    j.withColumn("__grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("__grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy("doc_a", "doc_b")
      .agg(max(col("run")).as("max_run"))
      .filter(col("max_run") >= minRun)
      .withColumn("match_tokens", col("max_run") + lit(k - 1).cast("long"))
  }

  /** Exact edit-distance verification of candidate pairs — the second
    * stage of the canonical near-dup pipeline: LSH GENERATES a linear
    * number of candidates, an exact O(len²) measure VERIFIES each one,
    * and the quadratic cost is only ever paid per candidate, never per
    * corpus pair. Joins each (doc_a, doc_b) to its texts (two hash
    * joins on id) and keeps pairs whose normalized edit similarity
    * `1 − lev/max(len_a, len_b)` reaches `minSimilarity`. Codegen'd
    * `levenshtein`; candidate tables from any generator
    * ([[minhashLshPairs]], [[charMinhashLshPairs]], [[simhashPairs]]).
    *
    * CONTRACT: candidates whose ids are absent from `docs`, or whose
    * text is null, are not verifiable and are EXCLUDED — in the output
    * that is indistinguishable from "verified and rejected". When a
    * removal pipeline needs that distinction (a null-text near-dup it
    * would otherwise keep), audit candidate-to-docs referential
    * integrity upstream (the FK-audit operator) before verifying.
    */
  def editVerifiedPairs(
      candidates: DataFrame,
      docs: DataFrame,
      minSimilarity: Double = 0.8): DataFrame = {
    val t = docs.select(col("doc_id"), col("text"))
    val joined = candidates.select("doc_a", "doc_b")
      .join(t.select(col("doc_id").as("doc_a"), col("text").as("__ta")), Seq("doc_a"))
      .join(t.select(col("doc_id").as("doc_b"), col("text").as("__tb")), Seq("doc_b"))
    // Length pre-filter: lev >= |len_a − len_b| always, so a pair whose
    // length gap alone exceeds the similarity budget cannot pass — it
    // is rejected at scan speed BEFORE the O(len²) computation. A no-op
    // at minSimilarity = 0 (report-everything mode).
    val la = length(col("__ta")).cast("double")
    val lb = length(col("__tb")).cast("double")
    if (minSimilarity > 0.0) {
      // BANDED verification (r14): any accepted pair has
      // lev ≤ (1−minSim)·maxLen, so the O(len²) full matrix is wasted
      // work past that bound — the built-in's threshold form
      // (`levenshtein(l, r, k)`, k a per-row column) early-exits at
      // O(k·len) and returns −1 above the bound. The band is ceil+1
      // (strictly ABOVE the real bound, covering double rounding at
      // the boundary), and the EXACT double filter below is unchanged
      // — so acceptance is decided by the same arithmetic as before,
      // the band only skips work for pairs that cannot pass. For
      // accepted rows the threshold form returns the exact distance,
      // so the emitted `lev` is identical too.
      val band = (ceil(lit(1.0 - minSimilarity) * greatest(la, lb)) + lit(1)).cast("int")
      joined
        .filter(abs(la - lb) <= lit(1.0 - minSimilarity) * greatest(la, lb))
        .select(
          col("doc_a"), col("doc_b"),
          greatest(length(col("__ta")), length(col("__tb"))).as("__maxlen"),
          call_function("levenshtein", col("__ta"), col("__tb"), band).as("lev"))
        .filter(col("lev") >= 0) // −1 = banded out; null text = null, also dropped
        .select(
          col("doc_a"), col("doc_b"), col("lev"),
          // Two empty texts: max length 0 would divide by zero (null
          // sim in legacy mode, error under ANSI) and silently drop a
          // PERFECT duplicate — they are identical, similarity 1.
          when(col("__maxlen") === 0, lit(1.0))
            .otherwise(lit(1.0) - col("lev").cast("double") / col("__maxlen").cast("double"))
            .as("edit_sim"))
        .filter(col("edit_sim") >= minSimilarity)
    } else
      // report-everything mode: no usable band (k ≈ len is not
      // cheaper), full distance per pair — computed ONCE behind a
      // named column (r14): the old form referenced the O(len²)
      // kernel from `lev`, from inside `edit_sim`, AND from the
      // `edit_sim >= minSimilarity` filter the optimizer pushed below
      // the projection — three evaluations per pair. At
      // minSimilarity ≤ 0 that filter only ever drops null-sim rows
      // (edit_sim ∈ [0,1] otherwise), i.e. exactly the null-text
      // pairs the CONTRACT above excludes — so it is replaced by the
      // explicit null-text filter, applied BEFORE the kernel runs.
      joined
        .filter(col("__ta").isNotNull && col("__tb").isNotNull)
        .select(
          col("doc_a"), col("doc_b"),
          levenshtein(col("__ta"), col("__tb")).as("lev"),
          greatest(length(col("__ta")), length(col("__tb"))).as("__maxlen"))
        .select(
          col("doc_a"), col("doc_b"), col("lev"),
          when(col("__maxlen") === 0, lit(1.0))
            .otherwise(lit(1.0) - col("lev").cast("double") / col("__maxlen").cast("double"))
            .as("edit_sim"))
  }

  /** Overlap-coefficient (containment) pairs: |A∩B| / min(|A|,|B|) —
    * the asymmetric near-dup measure that finds a SHORT document
    * embedded in a LONGER one (quotations, boilerplate inclusion,
    * copy-paste-and-extend), which symmetric Jaccard misses because
    * the size disparity drowns the intersection. Same inverted-index
    * formulation and df-cap escape hatch as [[ngramJaccardPairs]] —
    * the two share the OpCache'd gram index — but deliberately NO
    * length band: size disparity is the signal here, not noise.
    */
  def ngramContainmentPairs(
      docs: DataFrame,
      shingleN: Int = 3,
      minOverlap: Double = 0.8,
      maxShingleDf: Option[Long] = None): DataFrame = {
    val ex = gramIndex(docs, shingleN, maxShingleDf)
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sg"))

    val a = ex.select(col("lang"), col("h"), col("doc_id").as("doc_a"))
    val b = ex.select(col("lang"), col("h"), col("doc_id").as("doc_b"))

    a.join(b, Seq("lang", "h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sg").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sg").as("n_b")), Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
          .as("containment"))
      .filter(col("containment") >= minOverlap)
  }
}
