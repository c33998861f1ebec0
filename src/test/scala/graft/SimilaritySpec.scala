package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.operators.{OpCache, Similarity}

/** Similarity-search operators: brute-force correctness against a
  * hand-computed oracle and LSH recall against brute force on the
  * real sf0.001 embeddings.
  */
class SimilaritySpec extends SparkSpec {

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    dot / (na * nb)
  }

  private lazy val real: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("brute-force top-k matches a driver-side recomputation") {
    val rows = real.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val got = Similarity.cosineTopK(real, k = 3, queryMod = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val queries = rows.keys.filter(_ % 100 == 0)
    for (q <- queries) {
      val expected = rows.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cosine(rows(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1)
      val actual = got.filter(_._1 == q).sortBy(_._3).map(_._2).toSeq
      assert(actual == expected, s"query $q")
    }
  }

  test("sign-LSH ANN achieves reasonable recall vs brute force") {
    val exact = Similarity.cosineTopK(real, k = 3, queryMod = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annSignLshTopK(real, k = 3, queryMod = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall (exact=${exact.size}, hit=${(exact & approx).size})")
  }

  test("IVF ANN achieves reasonable recall vs brute force") {
    val exact = Similarity.cosineTopK(real, k = 3, queryMod = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(real, k = 3, queryMod = 100, nProbes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // 500 vectors / 10 overlapping clusters is a hard regime for IVF;
    // probing 4 of 10 cells should still recover most true neighbors.
    assert(recall >= 0.5, s"IVF recall $recall (exact=${exact.size}, hit=${(exact & approx).size})")
  }

  test("k-means IVF achieves reasonable recall vs brute force") {
    val exact = Similarity.cosineTopK(real, k = 3, queryMod = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopKKmeans(real, k = 3, queryMod = 100, nProbes = 4, cells = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // Learned cells won't match the generator's label clusters exactly;
    // probing 4 of 10 learned cells should still recover a usable share.
    assert(recall >= 0.4, s"k-means IVF recall $recall")
  }

  test("PQ ANN with exact re-rank achieves high recall vs brute force") {
    val exact = Similarity.cosineTopK(real, k = 3, queryMod = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.pqTopK(real, k = 3, queryMod = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // ADC scores every corpus vector (no bucketing loss) and the top
    // 32 are re-ranked exactly — recall should beat the bucketed ANN
    // variants; only codebook quantization error can lose a neighbor.
    assert(recall >= 0.6, s"PQ recall $recall (exact=${exact.size}, hit=${(exact & approx).size})")
    // Re-ranked cosines are EXACT: every reported (query, neighbor,
    // cosine) must match brute force's value for that same pair.
    val exactScores = Similarity.cosineTopK(real, k = 50, queryMod = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.pqTopK(real, k = 3, queryMod = 100).collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exactScores.get(key).foreach(c => assert(c == r.getDouble(2), s"cosine mismatch at $key"))
    }
  }

  test("IVF-PQ achieves reasonable recall vs brute force, with exact re-ranked cosines") {
    val exact = Similarity.cosineTopK(real, k = 3, queryMod = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfPqTopK(real, k = 3, queryMod = 100, nProbes = 4, cells = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // Composes both loss sources: IVF probe miss (4 of 10 cells) and
    // PQ quantization error inside the probed cells — the floor is
    // the bucketed-ANN one, not plain PQ's.
    assert(recall >= 0.4, s"IVF-PQ recall $recall (exact=${exact.size}, hit=${(exact & approx).size})")
    // Survivor cosines must be EXACT (the re-rank contract).
    val exactScores = Similarity.cosineTopK(real, k = 50, queryMod = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.ivfPqTopK(real, k = 3, queryMod = 100, nProbes = 4, cells = 10).collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exactScores.get(key).foreach(c => assert(c == r.getDouble(2), s"cosine mismatch at $key"))
    }
  }

  test("IVF-PQ with nProbes = cells reproduces the exhaustive ADC scan exactly") {
    // With every cell probed, corpus-side pruning removes nothing: the
    // cell equi-join covers every (corpus, query) pair exactly once,
    // the codebooks are memo-shared with plain PQ (same base plan),
    // and both rank ADC scores with the same tie-breaks — so the
    // composed operator must be bit-identical to pqTopK at the same
    // rerank budget. Any divergence means cell matching corrupted the
    // ADC sum or dropped/duplicated a candidate.
    val wide = Similarity.pqTopK(real, k = 3, queryMod = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val pruned = Similarity.ivfPqTopK(real, k = 3, queryMod = 100, nProbes = 10, cells = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(pruned == wide,
      s"only-in-ivfpq=${pruned -- wide} only-in-pq=${wide -- pruned}")
  }

  test("external query tables reproduce the queryMod slice exactly, on every operator") {
    // The queryMod overloads are conveniences over the external-query
    // primary form; passing the same slice explicitly must be
    // indistinguishable, for all four operators.
    val slice = real.filter(org.apache.spark.sql.functions.col("vec_id") % 100 === 0)
      .select("vec_id", "embedding")
    def rows(df: DataFrame): Set[(Long, Long, Int)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(rows(Similarity.cosineTopK(real, slice, 3)) ==
      rows(Similarity.cosineTopK(real, k = 3, queryMod = 100)))
    assert(rows(Similarity.annSignLshTopK(real, slice, 3, 16, 4, 64)) ==
      rows(Similarity.annSignLshTopK(real, k = 3, queryMod = 100)))
    assert(rows(Similarity.ivfTopK(real, slice, 3, 4, "label")) ==
      rows(Similarity.ivfTopK(real, k = 3, queryMod = 100, nProbes = 4)))
    assert(rows(Similarity.ivfTopKKmeans(real, slice, 3, 4, 10, 3)) ==
      rows(Similarity.ivfTopKKmeans(real, k = 3, queryMod = 100, nProbes = 4, cells = 10)))
    assert(rows(Similarity.pqTopK(real, slice, 3, 8, 32, 64, 3, 64)) ==
      rows(Similarity.pqTopK(real, k = 3, queryMod = 100)))
    assert(rows(Similarity.ivfPqTopK(real, slice, 3, 4, 10, 8, 32, 64, 3, 64)) ==
      rows(Similarity.ivfPqTopK(real, k = 3, queryMod = 100, nProbes = 4, cells = 10)))
  }

  test("PQ survives empty clusters from a degenerate (two-point) corpus") {
    import sqlImplicits._
    // 40 vectors but only two distinct values: most of the 32 codes
    // per subspace win zero subvectors — the codebook must stay dense
    // (starved codes keep their previous centroid) or the packed ADC
    // lookup misaligns/overruns. Every query must still rank its own
    // cluster's copies first with exact cosine 1.0.
    val vs = (0L until 40L).map { i =>
      val v = Array.fill(64)(if (i % 2 == 0) 1.0f else -0.5f)
      (i, v)
    }.toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(vs, k = 3, queryMod = 10) // queries: 0,10,20,30
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 12) // 4 queries × k=3, none lost to null scores
    out.foreach { case (q, n, c) =>
      assert(q % 2 == n % 2, s"query $q got cross-cluster neighbor $n")
      assert(c == 1.0, s"identical-copy cosine was $c")
    }
  }

  test("results are identical when the broadcast threshold forces shuffled joins") {
    // Above the broadcast threshold the candidate joins degrade to
    // shuffled equi-joins; answers must not change.
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val withBcast = Similarity.annSignLshTopK(real, k = 3, queryMod = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.operators.OpCache.clear() // drop plans cached under the old conf
      val shuffled = Similarity.annSignLshTopK(real, k = 3, queryMod = 100)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(shuffled == withBcast)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
      graft.operators.OpCache.clear()
    }
  }

  test("external query vectors need not exist in the corpus") {
    import sqlImplicits._
    // A held-out probe vector close to corpus vector 0 must surface it.
    val first = real.orderBy("vec_id").limit(1).collect()(0)
    val target = first.getLong(0)
    val probe = first.getSeq[Float](1).toArray.map(x => x * 0.999f + 1e-5f)
    val q = Seq((-1L, probe.toSeq)).toDF("vec_id", "embedding")
    val got = Similarity.cosineTopK(real, q, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((-1L, target)), s"got ${got.toSeq}")
  }

  test("embedding near-dup pairs finds a planted duplicate vector") {
    import sqlImplicits._
    val v = Array.tabulate(64)(i => math.sin(i * 0.7).toFloat)
    val vDup = v.clone(); vDup(0) = (v(0) + 1e-4f)
    val other = Array.tabulate(64)(i => math.cos(i * 1.3).toFloat)
    val df = Seq((1L, v.toSeq), (2L, vDup.toSeq), (3L, other.toSeq)).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupPairs(df, minCosine = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("persisted IVF-PQ index reproduces the in-session search with zero retraining") {
    import sqlImplicits._
    val rnd = new scala.util.Random(77)
    val rows = (0L until 400L).map { i =>
      (i, Seq.tabulate(64)(d => (math.sin((i % 7) + d * 0.31) + rnd.nextDouble() * 0.1).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val expected = Similarity.ivfPqTopK(
      df, k = 3, queryMod = 100, nProbes = 2, cells = 4, m = 8, codes = 16,
      rerank = 32, maxIter = 2)
      .collect().map(_.toSeq).toSet
    // Build persists the SAME training (memo-shared with the run above).
    Similarity.buildIvfPqIndex(df, "ann_idx_test", cells = 4, m = 8, codes = 16, maxIter = 2)
    // Wipe every in-session memo/cache: the search below may rely on
    // NOTHING trained this session — only the stored tables.
    graft.operators.OpCache.clear()
    val got = Similarity.searchIvfPqIndex(
      df, df.filter(org.apache.spark.sql.functions.col("vec_id") % 100 === 0), "ann_idx_test",
      k = 3, nProbes = 2, rerank = 32)
      .collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(got.nonEmpty)
    Seq("cells", "books", "corpus", "meta")
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS ann_idx_test_$s"))
  }

  test("portable persisted-index lifecycle is bit-identical to the in-session twin, rebuilds included") {
    import sqlImplicits._
    val rnd = new scala.util.Random(78)
    val rows = (0L until 400L).map { i =>
      (i, s"l${i % 4}",
        Seq.tabulate(64)(d => (math.sin((i % 5) + d * 0.29) + rnd.nextDouble() * 0.1).toFloat))
    }
    val df = rows.toDF("vec_id", "label", "embedding")
    val expected = graft.queries.PortableAnn.ivfPq(df).collect().map(_.toSeq).toSeq
    assert(expected.nonEmpty)
    // The round-tripped probe must reproduce the in-session chain
    // bit-for-bit (cosines included — stored doubles are exact).
    val stored = graft.queries.PortableAnn.ivfPqPersisted(df, "pann_test")
      .collect().map(_.toSeq).toSeq
    assert(stored == expected, "stored-artifact probe must equal the in-session twin")
    // Rebuild over EXISTING artifact tables (the re-run case dropManaged
    // exists for), with every in-session cache wiped first: the probe
    // may rely on nothing but the freshly stored tables + source.
    graft.operators.OpCache.clear()
    val rebuilt = graft.queries.PortableAnn.ivfPqPersisted(df, "pann_test")
      .collect().map(_.toSeq).toSeq
    assert(rebuilt == expected, "a cold rebuild must reproduce the same index and ranking")
    Seq("cells", "books", "corpus")
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS pann_test_$s"))
  }

  test("semantic dedup finds planted dup groups; the keep report keeps one of each") {
    import sqlImplicits._
    // Two tight families far apart + singletons; each family has one
    // planted near-dup pair (cosine ≈ 1) and one looser member.
    def fam(seed: Double, eps: Double): Array[Float] =
      Array.tabulate(64)(i => (math.sin(i * seed) + eps * math.cos(i * 2.9)).toFloat)
    val df = Seq(
      (1L, fam(0.7, 0.0).toSeq), (2L, fam(0.7, 1e-4).toSeq), (3L, fam(0.7, 0.35).toSeq),
      (10L, fam(1.3, 0.0).toSeq), (11L, fam(1.3, 1e-4).toSeq),
      (20L, fam(2.1, 0.0).toSeq)).toDF("vec_id", "embedding")
    val pairs = Similarity.semanticDupPairs(df, minCosine = 0.99, cells = 3, maxIter = 4)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (10L, 11L)), s"got $pairs")
    // The found pairs feed the keep report: each planted pair is one
    // 2-member cluster, and the higher-scoring member is kept.
    val report = graft.operators.Dedup.dedupReportBest(
      pairs.toSeq.toDF("doc_a", "doc_b"),
      Seq((1L, 0.9), (2L, 0.1), (10L, 0.2), (11L, 0.8)).toDF("doc_id", "score"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(report.map(_._2).forall(_ == 2L), s"got ${report.toSeq}")
    assert(report.map(_._1).toSet.subsetOf(Set(1L, 2L, 10L, 11L)), s"got ${report.toSeq}")
    assert(report.map(_._1).toSet == Set(1L, 11L), s"got ${report.toSeq}")
  }

  test("zero-norm vectors are excluded, never NaN-ranked above true neighbors") {
    import sqlImplicits._
    // two real clusters plus an ALL-ZERO vector: its cosine with
    // anything is 0/0 = NaN, and Spark orders NaN above every double —
    // unguarded, vec 99 would be the rank-1 "neighbor" of every query
    // and NaN >= minCosine would report zero-pairs as near-dups
    val vs = ((0L until 6L).map { i =>
      (i, Array.fill(8)(if (i % 2 == 0) 1.0f else -1.0f))
    } :+ ((99L, Array.fill(8)(0.0f))) :+ ((100L, Array.fill(8)(0.0f))))
      .toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(vs, vs.filter(org.apache.spark.sql.functions.col("vec_id") < 6), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(top.nonEmpty)
    top.foreach { case (q, n, c) =>
      assert(n != 99L && n != 100L, s"zero vector ranked as neighbor of $q")
      assert(!c.isNaN)
    }
    // two zero vectors share the all-zero LSH signature — without the
    // guard they pair up and NaN >= 0.95 is TRUE
    val nd = Similarity.embeddingNearDupPairs(vs, minCosine = 0.95, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!nd.contains((99L, 100L)), s"zero-vector pair reported as near-dup: ${nd.toSeq}")
  }

  test("sign-LSH banding rejects a bands/nPlanes mismatch instead of one shared bucket") {
    // bands > nPlanes → bitsPerBand 0, mask 0, every band key 0: the
    // candidate join silently becomes all-pairs (the Dedup.bandedSigs
    // class of bug, fixed loudly there and mirrored here)
    val e = intercept[IllegalArgumentException] {
      Similarity.annSignLshTopK(real, k = 3, queryMod = 100, nPlanes = 16, bands = 20).collect()
    }
    assert(e.getMessage.contains("divide"))
    intercept[IllegalArgumentException] {
      Similarity.annSignLshTopK(real, k = 3, queryMod = 100, nPlanes = 16, bands = 5).collect()
    }
  }

  test("buildIvfPqIndex memoizes the idempotent same-input rebuild; a lost artifact forces a real one") {
    import sqlImplicits._
    val rnd = new scala.util.Random(79)
    val df = (0L until 200L).map { i =>
      (i, Seq.tabulate(64)(d => (math.sin((i % 6) + d * 0.23) + rnd.nextDouble() * 0.1).toFloat))
    }.toDF("vec_id", "embedding")
    val prefix = "simspec_memo_idx"
    // table writes under the prefix, seen as the CTAS commands Spark
    // runs for them (delivered on the listener bus: drained before
    // each read)
    val written = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        qe.analyzed.foreach {
          case c: org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand
              if c.table.identifier.table.startsWith(prefix) => written.incrementAndGet()
          case _ =>
        }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    def writes = {
      org.apache.spark.graftprobe.ListenerBus.drain(spark.sparkContext)
      written
    }
    Similarity.buildIvfPqIndex(df, prefix, cells = 4, m = 8, codes = 16, maxIter = 2)
    val afterFirst = writes.get()
    assert(afterFirst >= 4, "the cold build must write all four artifact tables")
    def probe() = Similarity.searchIvfPqIndex(
        df, df.filter(org.apache.spark.sql.functions.col("vec_id") % 100 === 0), prefix,
        k = 3, nProbes = 2, rerank = 32)
      .collect().map(_.toSeq).toSeq
    val expected = probe()
    assert(expected.nonEmpty)
    // Same input, same geometry, artifacts intact: the rebuild is
    // byte-idempotent, so it must be memoized — zero table writes.
    Similarity.buildIvfPqIndex(df, prefix, cells = 4, m = 8, codes = 16, maxIter = 2)
    assert(writes.get() == afterFirst,
      "a warm same-input rebuild must not drop or rewrite the artifact tables")
    assert(probe() == expected)
    // The memo never outlives its artifacts: drop one table and the
    // next build is a REAL rebuild reproducing the identical index.
    spark.sql(s"DROP TABLE ${prefix}_corpus")
    Similarity.buildIvfPqIndex(df, prefix, cells = 4, m = 8, codes = 16, maxIter = 2)
    assert(writes.get() >= afterFirst + 4,
      "a build over a dropped artifact must rewrite the index for real")
    assert(probe() == expected, "the real rebuild must reproduce the same index")
    spark.listenerManager.unregister(listener)
    Seq("cells", "books", "corpus", "meta")
      .foreach(s => graft.sources.Tables.dropManaged(spark, s"${prefix}_$s"))
  }

  test("k-means keeps starved cells: the persisted index always has the requested cell count") {
    import sqlImplicits._
    // two distinct duplicated points with cells=4: in round one every
    // point ties and the smaller cell id wins, so two cells win zero
    // points — pre-backfill they vanished from the Lloyd recompute and
    // the index shipped with fewer cells than requested
    val vs = (0L until 40L).map { i =>
      (i, Array.fill(64)(if (i % 2 == 0) 1.0f else -0.5f))
    }.toDF("vec_id", "embedding")
    val prefix = "simspec_starved_idx"
    Similarity.buildIvfPqIndex(vs, prefix, cells = 4, maxIter = 3)
    assert(spark.table(s"${prefix}_cells").count() == 4,
      "starved cells must keep their previous centroid, not vanish")
    Seq("cells", "books", "corpus", "meta")
      .foreach(s => graft.sources.Tables.dropManaged(spark, s"${prefix}_$s"))
  }

  test("PQ on a corpus smaller than the codebook matches brute force (clamped stride)") {
    import sqlImplicits._
    // 10 rows, codes=32: seeding can only produce 10 codes per
    // subspace — with the requested stride the ADC lookup past
    // subspace 0 read other subspaces' blocks (garbage shortlists).
    // The clamp makes the book density and the stride agree, so PQ's
    // exact re-rank must reproduce brute force here.
    val vs = (0L until 10L).map { i =>
      (i, Array.tabulate(64)(d => math.sin(i * 17.0 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val qs = vs.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
    val exact = Similarity.cosineTopK(vs, qs, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sortBy(x => (x._1, x._3))
    val pq = Similarity.pqTopK(vs, qs, k = 2, m = 8, codes = 32, rerank = 10, maxIter = 2, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sortBy(x => (x._1, x._3))
    assert(pq.toSeq == exact.toSeq,
      s"clamped-PQ with full-corpus rerank must equal brute force; pq=${pq.toSeq} exact=${exact.toSeq}")
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recall(exact: Set[(Long, Long)], approx: Set[(Long, Long)]): Double =
    (exact & approx).size.toDouble / exact.size

  test("ANN training runs no Spark job per Lloyd round") {
    // Jobs started while a plan is built (training is eager), counted
    // on a cold cache: the sample collect and the lut guard's count,
    // whatever the number of rounds.
    def jobsToBuild(build: => DataFrame): Int = {
      OpCache.clear()
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      org.apache.spark.graftprobe.ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        build
        org.apache.spark.graftprobe.ListenerBus.drain(spark.sparkContext)
        jobs.get
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobsToBuild(Similarity.pqTopK(real, k = 3, queryMod = 100, maxIter = 1)) ==
      jobsToBuild(Similarity.pqTopK(real, k = 3, queryMod = 100, maxIter = 6)), "pqTopK")
    assert(jobsToBuild(Similarity.ivfTopKKmeans(real, k = 3, queryMod = 100, maxIter = 1)) ==
      jobsToBuild(Similarity.ivfTopKKmeans(real, k = 3, queryMod = 100, maxIter = 6)), "ivfTopKKmeans")
    OpCache.clear()
  }

  test("trained ANN indexes do not depend on the corpus' partitioning") {
    def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
    val (a, b) = (real.repartition(1), real.repartition(7))
    assert(rows(Similarity.ivfTopKKmeans(a, k = 3, queryMod = 100, nProbes = 4, cells = 10)) ==
      rows(Similarity.ivfTopKKmeans(b, k = 3, queryMod = 100, nProbes = 4, cells = 10)), "ivfTopKKmeans")
    assert(rows(Similarity.pqTopK(a, k = 3, queryMod = 100)) ==
      rows(Similarity.pqTopK(b, k = 3, queryMod = 100)), "pqTopK")
    assert(rows(Similarity.ivfPqTopK(a, k = 3, queryMod = 100, nProbes = 4, cells = 10)) ==
      rows(Similarity.ivfPqTopK(b, k = 3, queryMod = 100, nProbes = 4, cells = 10)), "ivfPqTopK")
    // The trained tables themselves, as the persisted index stores them.
    // Float components of one magnitude sum exactly in double, in any
    // order; over a wide dynamic range they do not, so the tables stay
    // equal only if the training sums in an order of its own.
    def trained(df: DataFrame, prefix: String) = {
      Similarity.buildIvfPqIndex(df, prefix, cells = 4, m = 8, codes = 16, maxIter = 2)
      val t = Seq("cells", "books").map(s => rows(spark.table(s"${prefix}_$s")))
      Seq("cells", "books", "corpus", "meta")
        .foreach(s => graft.sources.Tables.dropManaged(spark, s"${prefix}_$s"))
      t
    }
    import sqlImplicits._
    val rnd = new scala.util.Random(80)
    val wide = (0L until 300L).map { i =>
      (i, Seq.fill(64)((rnd.nextGaussian() * math.pow(10, rnd.nextInt(16) - 8)).toFloat))
    }.toDF("vec_id", "embedding")
    assert(trained(wide.repartition(1), "simspec_parts_a") == trained(wide.repartition(7), "simspec_parts_b"),
      "trained cells and codebooks")
  }

  test("a corpus larger than the sample bound trains deterministically and keeps its recall") {
    val bound = 200
    assert(real.count() > bound)
    val exact = pairs(Similarity.cosineTopK(real, k = 3, queryMod = 100))
    def run(corpus: DataFrame): Seq[Set[(Long, Long)]] = Similarity.sampleRows.withValue(bound) {
      Seq(
        pairs(Similarity.ivfTopKKmeans(corpus, k = 3, queryMod = 100, nProbes = 4, cells = 10)),
        pairs(Similarity.pqTopK(corpus, k = 3, queryMod = 100)),
        pairs(Similarity.ivfPqTopK(corpus, k = 3, queryMod = 100, nProbes = 4, cells = 10)))
    }
    val first = run(real)
    OpCache.clear() // the second run trains again, on another partitioning
    assert(run(real.repartition(7)) == first, "the sample and its training must be deterministic")
    // the floors of the full-corpus tests above
    Seq("k-means IVF" -> 0.4, "PQ" -> 0.6, "IVF-PQ" -> 0.4).zip(first).foreach {
      case ((name, floor), approx) =>
        assert(recall(exact, approx) >= floor, s"$name recall ${recall(exact, approx)} on a $bound-row sample")
    }
    OpCache.clear()
  }
}
