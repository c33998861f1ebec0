package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Dedup

/** Dedup operators on planted data: exact copies, a shuffled-word
  * near-duplicate, and unrelated filler docs.
  */
class DedupSpec extends SparkSpec {

  private lazy val docs: DataFrame = {
    import sqlImplicits._
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire and the birds sing in the tall green trees above the quiet garden path"
    val nearDup = base.replace("quiet garden path", "quiet garden trail") // tail edit → high shingle overlap
    val exactCopy = base
    val unrelated1 = "completely different content about spark query engines and distributed columnar execution with shuffles joins and aggregates running on large clusters"
    val unrelated2 = "yet another unrelated document mentioning bicycles stations riders trips and docking points across the city during winter months"
    Seq(
      (0L, base, "en"), (1L, exactCopy, "en"), (2L, nearDup, "en"),
      (3L, unrelated1, "en"), (4L, unrelated2, "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
  }

  test("exact dedup groups identical texts and keeps the lowest id") {
    val res = Dedup.exact(docs).orderBy("keep_id").collect()
    assert(res.length == 4) // 5 docs, one exact pair
    val dupGroup = res.find(_.getLong(1) == 2L).get
    assert(dupGroup.getLong(0) == 0L) // keeper is min(doc_id)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated pairs") {
    val pairs = Dedup.minhashLshPairs(docs, minEstJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((0L, 1L)), s"exact pair missing from $pairs")
    assert(pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 == 1.0) // identical signature
    assert(ids.contains((0L, 2L)) || ids.contains((1L, 2L)), s"near-dup pair missing from $pairs")
    assert(!ids.exists(p => p._2 >= 3L), s"unrelated doc paired: $pairs")
  }

  test("minhash estimate tracks exact jaccard on the near-dup pair") {
    val exact = Dedup.ngramJaccardPairs(docs, minJaccard = 0.0)
      .filter("doc_a = 0 and doc_b = 2").head.getDouble(2)
    val est = Dedup.minhashLshPairs(docs, minEstJaccard = 0.0)
      .filter("doc_a = 0 and doc_b = 2").head.getDouble(2)
    assert(exact > 0.8, s"planted near-dup should be high-jaccard, got $exact")
    assert(math.abs(est - exact) < 0.35, s"est $est vs exact $exact") // 16 hashes → ±~0.25 @95%
  }

  test("simhash: identical docs share signature; near-dups within small hamming") {
    val sh = Dedup.simhashes(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    assert(java.lang.Long.bitCount(sh(0L) ^ sh(2L)) <= 12)
    assert(java.lang.Long.bitCount(sh(0L) ^ sh(3L)) > 12)
  }

  test("simhash banded pairs find the exact duplicate") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("cluster resolution follows transitive chains to the min label") {
    import sqlImplicits._
    // components: {1,2,3,4} via a chain, {10,11}, and 20-30 isolated (no pairs)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val labels = Dedup.resolveClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("cluster resolution fails loudly instead of returning truncated labels") {
    import sqlImplicits._
    // A 100-node path cannot reach a star forest in one alternating
    // round; a silent exit would hand back labels that are not the
    // component minimum.
    val chain = (1L to 99L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.resolveClusters(chain, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // The same chain converges with the default bound.
    val labels = Dedup.resolveClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet == Set(1L))
  }

  test("a 50-deep chain resolves inside the default round bound") {
    import sqlImplicits._
    // O(diameter) min-label propagation threw at maxIter=15 on this
    // input; the large-star/small-star rounds halve component height,
    // so depth 50 needs only O(log 50) rounds. Ids descend so the
    // component minimum (1) sits at the FAR end of the chain — the
    // worst case for label propagation. A second disjoint component
    // guards against everything collapsing into one cluster.
    val deep = (1L to 50L).map(i => (i + 1, i)).toDF("doc_a", "doc_b")
      .unionByName(Seq((200L, 201L)).toDF("doc_a", "doc_b"))
    val labels = Dedup.resolveClusters(deep, maxIter = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 51L).forall(labels(_) == 1L), s"chain labels: $labels")
    assert(labels(200L) == 200L && labels(201L) == 200L)
    assert(labels.size == 53)
  }

  test("star-round resolution equals union-find on random graphs (property, seeded)") {
    import sqlImplicits._
    // The alternating-star fixpoint is subtle (a chain-free state can
    // still hide a multi-parent node whose roots must merge) — check
    // the whole algorithm against a driver-side union-find over many
    // random topologies: sparse, dense, chains, self-loops, singleton
    // pairs, and id ranges that don't start at 1.
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 1 to 12) {
      val n = 2 + rnd.nextInt(50)
      val base = rnd.nextInt(1000).toLong
      val m = 1 + rnd.nextInt(2 * n)
      val pairs = Seq.fill(m)((base + rnd.nextInt(n), base + rnd.nextInt(n)))
      // driver-side union-find ground truth
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      // path-compress to the true minimum root
      val expected = nodes.map(x => x -> find(x)).toMap
      val got = Dedup.resolveClusters(pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial (n=$n m=$m base=$base)")
    }
  }

  test("cross-corpus LSH flags planted eval leaks in train, nothing within-side") {
    import sqlImplicits._
    val leak = "the quick brown fox jumps over the lazy dog again and again today"
    val edited = leak.replace("today", "tomorrow") // light edit — still near-dup
    val train = Seq(
      (1L, leak), // verbatim leak
      (2L, edited), // edited leak
      (3L, "completely unrelated text about database engines and shuffle joins here"),
      (4L, "another unrelated document that shares no shingles with the benchmark"))
      .toDF("doc_id", "text")
    val eval_ = Seq((100L, leak)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairsAcross(train, eval_, minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 100L)), s"verbatim leak missed: $pairs")
    assert(pairs.forall(_._2 == 100L), s"non-eval id on the right side: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._1 == 4L), s"unrelated doc flagged: $pairs")
  }

  test("keep-best report keeps the highest-scoring member, not the lowest id") {
    import sqlImplicits._
    // cluster {1,2,3}: doc 2 has the best score → keep 2, remove 1,3.
    // cluster {10,11}: tie on score → keep the LOWER id 10.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val scores = Seq((1L, 5L), (2L, 9L), (3L, 7L), (10L, 4L), (11L, 4L))
      .toDF("doc_id", "score")
    val r = Dedup.dedupReportBest(pairs, scores)
      .orderBy("keep_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getSeq[Long](2).toSeq))
    assert(r.toSeq == Seq((2L, 3L, Seq(1L, 3L)), (10L, 2L, Seq(11L))))
  }

  test("dedup report keeps the canonical doc and lists removals") {
    val report = Dedup.dedupReport(docs, minEstJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toSeq))
    assert(report.length == 1)
    val (keep, size, removed) = report.head
    assert(keep == 0L)                      // min id of the {0,1,2} cluster
    assert(size == 3 && removed == Seq(1L, 2L))
  }

  test("ngram jaccard blocking excludes cross-length-band pairs") {
    import sqlImplicits._
    val far = Seq(
      (10L, "a b c d e f g h i j", "en", 1000L),
      (11L, "a b c d e f g h i j", "en", 2000L)) // identical text, length metadata 1000 apart
      .toDF("doc_id", "text", "lang", "n_chars")
    assert(Dedup.ngramJaccardPairs(far, minJaccard = 0.0).count() == 0)
  }

  test("shingle df cap drops boilerplate as similarity evidence, keeps rare-shingle dups") {
    import sqlImplicits._
    // "x y z" is a boilerplate shingle present in ALL four docs; docs
    // 1/2 also share rare payload shingles, docs 3/4 share ONLY the
    // boilerplate.
    val d = Seq(
      (1L, "x y z p q r s t", "en", 100L),
      (2L, "x y z p q r s u", "en", 100L),
      (3L, "x y z m1 m2 m3 m4 m5", "en", 100L),
      (4L, "x y z k1 k2 k3 k4 k5", "en", 100L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val uncapped = Dedup.ngramJaccardPairs(d, minJaccard = 0.01)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((3L, 4L))) // boilerplate alone links 3-4
    // Cap at df ≤ 3: the universal "x y z" (df=4) stops counting.
    val capped = Dedup.ngramJaccardPairs(d, minJaccard = 0.01, maxShingleDf = Some(3L))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.contains((3L, 4L)), s"boilerplate-only pair survived: $capped")
    assert(capped.contains((1L, 2L)), s"rare-shingle dup lost: $capped")
  }

  test("ngramDupStats maxGramDf removes boilerplate grams from the universe") {
    import sqlImplicits._
    // Docs 1..40 share one boilerplate 5-gram ("b1..b5"); docs 1 and 2
    // are identical (so their other grams have df=2); docs 3..40 have
    // unique tails. Uncapped: every doc counts the boilerplate gram as
    // duplicated. Capped at df<=10: the df=40 boilerplate gram leaves
    // the universe, so only docs 1,2 still carry duplicated grams.
    val docs = (1L to 40L).map { i =>
      val rare = if (i <= 2) " r1 r2 r3 r4 r5" else s" u${i}a u${i}b u${i}c u${i}d u${i}e"
      (i, s"b1 b2 b3 b4 b5$rare")
    }.toDF("doc_id", "text")
    val uncapped = Dedup.ngramDupStats(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(uncapped.size == 40 && uncapped.values.forall(_ >= 1))
    val capped = Dedup.ngramDupStats(docs, maxGramDf = Some(10L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(capped.map(_._1).toSet == (1L to 40L).toSet)
    // Every doc keeps its 5 non-boilerplate grams in the universe;
    // only 1 and 2 (identical) still have duplicated ones.
    assert(capped.forall { case (_, n, _) => n == 5L }, s"got ${capped.toSeq}")
    assert(capped.forall { case (id, _, dup) => (dup >= 1) == (id <= 2) }, s"got ${capped.toSeq}")
  }

  test("bloomSemiJoin equals the exact semi-join (no false negatives, FPs verified away)") {
    import sqlImplicits._
    val big = (1L to 5000L).map(i => (i, s"key-$i")).toDF("id", "k")
    val small = Seq("key-7", "key-4242", "key-5000", "key-absent").map(Tuple1(_)).toDF("k")
    val viaBloom = Dedup.bloomSemiJoin(big, small, "k", expectedItems = 10L, fpp = 0.03)
      .select("id").collect().map(_.getLong(0)).toSet
    val exact = big.join(small, Seq("k"), "left_semi")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaBloom == exact)
    assert(viaBloom == Set(7L, 4242L, 5000L))
  }

  test("bloomSemiJoin ignores null keys on the big side") {
    import sqlImplicits._
    val big = Seq((1L, Some("a")), (2L, None), (3L, Some("b"))).toDF("id", "k")
    val small = Seq(Tuple1("a")).toDF("k")
    val r = Dedup.bloomSemiJoin(big, small, "k", expectedItems = 10L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(r == Set(1L))
  }

  test("bloomSemiJoin dispatches long-key probes (no false negatives on numeric keys)") {
    import sqlImplicits._
    // A string-cast probe against a long-populated sketch would test
    // false for every row and return the empty set.
    val big = (1L to 2000L).map(i => (i, i * 7L)).toDF("id", "k")
    val small = Seq(7L * 13L, 7L * 999L, 41L).map(Tuple1(_)).toDF("k")
    val viaBloom = Dedup.bloomSemiJoin(big, small, "k", expectedItems = 10L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaBloom == Set(13L, 999L))
    // Int keys probe through the same long path.
    val bigInt = (1 to 100).map(i => (i.toLong, i)).toDF("id", "k")
    val smallInt = Seq(5, 50).map(Tuple1(_)).toDF("k")
    val viaInt = Dedup.bloomSemiJoin(bigInt, smallInt, "k", expectedItems = 10L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaInt == Set(5L, 50L))
  }

  test("bloom probe is a native codegen expression, not a UDF") {
    import sqlImplicits._
    // Parquet-backed input: an in-memory LocalRelation would let the
    // optimizer evaluate the deterministic probe at plan time and fold
    // it into the LocalTableScan (valid, but hides the runtime shape
    // this test pins).
    val dir = java.nio.file.Files.createTempDirectory("bloom_plan").toString
    (1L to 100L).map(i => (i, s"k-$i")).toDF("id", "k")
      .write.mode("overwrite").parquet(dir)
    val big = spark.read.parquet(dir)
    val small = Seq(Tuple1("k-7")).toDF("k")
    val probed = Dedup.bloomSemiJoin(big, small, "k", expectedItems = 10L)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_might_contain"), s"probe missing from plan:\n$plan")
    assert(!plan.contains("UDF"), s"UDF still in plan:\n$plan")
    assert(probed.select("id").collect().map(_.getLong(0)).toSet == Set(7L))
  }

  test("bloomSemiJoin rejects mismatched and unsupported key types") {
    import sqlImplicits._
    val bigStr = Seq((1L, "a")).toDF("id", "k")
    val smallLong = Seq(Tuple1(1L)).toDF("k")
    intercept[IllegalArgumentException] {
      Dedup.bloomSemiJoin(bigStr, smallLong, "k", expectedItems = 10L)
    }
    val bigDouble = Seq((1L, 1.5)).toDF("id", "k")
    val smallDouble = Seq(Tuple1(1.5)).toDF("k")
    intercept[Exception] { // stat.bloomFilter or the probe rejects doubles
      Dedup.bloomSemiJoin(bigDouble, smallDouble, "k", expectedItems = 10L)
    }
  }

  test("char-shingle LSH finds unsegmented near-dups the word pipeline is blind to") {
    import sqlImplicits._
    val zhA = "天地玄黄宇宙洪荒日月盈昃辰宿列张寒来暑往秋收冬藏闰余成岁律吕调阳云腾致雨露结为霜"
    val zhB = zhA.patch(10, "改换", 2) // small edit → near-dup
    val zhC = zhA.reverse             // same chars, different shingles
    val d = Seq((1L, zhA), (2L, zhB), (3L, zhC)).toDF("doc_id", "text")
    // word pipeline: each doc is ONE token → no 3-gram shingles → no signatures at all
    assert(Dedup.minhashSignatures(d).count() == 0)
    // char pipeline: (1,2) near-dup surfaces, the reversal does not
    val pairs = Dedup.charMinhashLshPairs(d, minEstJaccard = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("containment pairs catch a short doc embedded in a long one that Jaccard misses") {
    import sqlImplicits._
    val short = "the quick brown fox jumps over the lazy dog"
    // distinct filler tokens: every filler shingle is unique, so the
    // long doc's shingle set stays ~8x the short one's
    val long = short + " " + (1 to 60).map(i => s"filler$i").mkString(" ")
    val d = Seq(
      (1L, short, "en"),
      (2L, long, "en"),
      (3L, "entirely different text about spark engines and shuffles at scale here", "en"))
      .map { case (id, t, l) => (id, t, l, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "n_chars")
    // Every shingle of doc 1 appears in doc 2 → containment 1.0 …
    val cont = Dedup.ngramContainmentPairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(cont == Seq((1L, 2L, 1.0)))
    // … while symmetric Jaccard (even without the length band) stays
    // far below any useful threshold: size disparity drowns it.
    val jac = Dedup.ngramJaccardPairs(d, lenBand = 10000, minJaccard = 0.0)
      .filter($"doc_a" === 1L && $"doc_b" === 2L)
      .head().getDouble(2)
    assert(jac < 0.2, s"jaccard $jac")
  }

  test("edit verification keeps true near-dups and rejects false LSH candidates") {
    import sqlImplicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val d = Seq(
      (1L, base),
      (2L, base.replace("today", "tonight")), // one-word edit → high similarity
      (3L, "totally different content that an unlucky band collision might pair up"))
      .toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b") // incl. a false candidate
    val out = Dedup.editVerifiedPairs(cands, d, minSimilarity = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L))) // false candidate verified away
    // unfiltered: both candidates scored, similarity in [0,1]
    val all = Dedup.editVerifiedPairs(cands, d, minSimilarity = 0.0).collect()
    assert(all.length == 2 && all.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
    // two EMPTY texts are a perfect duplicate (sim 1), not a
    // divide-by-zero null that silently drops the pair
    val empties = Seq((7L, ""), (8L, "")).toDF("doc_id", "text")
    val e = Dedup.editVerifiedPairs(Seq((7L, 8L)).toDF("doc_a", "doc_b"), empties)
      .collect()
    assert(e.length == 1 && e.head.getDouble(3) == 1.0)
    // a NULL text is excluded in report-everything mode too (the
    // documented contract; pins the r14 compute-lev-once rewrite,
    // which replaced the null-sim filter with an explicit early
    // null-text filter)
    val withNull = Seq((9L, Some("abc")), (10L, None: Option[String]))
      .toDF("doc_id", "text")
    val n = Dedup.editVerifiedPairs(
      Seq((9L, 10L)).toDF("doc_a", "doc_b"), withNull, minSimilarity = 0.0)
    assert(n.count() == 0)
  }

  test("ngramDupStats: planted shared 5-grams give exact dup fractions") {
    import sqlImplicits._
    val d = Seq(
      // docs 1 and 2 share exactly one 5-gram ("a b c d e"); each has 2
      (1L, "a b c d e f"),   // grams: "a b c d e", "b c d e f"
      (2L, "z a b c d e"),   // grams: "z a b c d", "a b c d e"
      (3L, "p q r s t u v"), // 3 grams, none shared
      (4L, "w x y"))         // < 5 tokens → absent from output
      .toDF("doc_id", "text")
    val r = Dedup.ngramDupStats(d, shingleN = 5).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq(
      (1L, 2L, 1L, 5000L),
      (2L, 2L, 1L, 5000L),
      (3L, 3L, 0L, 0L)))
  }

  test("substringRunPairs: consecutive shared grams form runs; scattered ones don't") {
    import sqlImplicits._
    val d = Seq(
      // 1↔2 share the verbatim 7-token span "q w e r t y u" → 3
      // consecutive 5-grams (run 3, match_tokens 7), at DIFFERENT
      // offsets (diagonal ≠ 0)
      (1L, "q w e r t y u i o p"),
      (2L, "z z z q w e r t y u"),
      // 3 shares two NON-ADJACENT 5-grams with 1 (positions 0–4 and
      // 5–9 of doc 1 — islands of length 1 each, below minRun 3)
      (3L, "q w e r t x x t y u i o x"),
      (4L, "m n b v c x l k j h"))
      .toDF("doc_id", "text")
    val r = Dedup.substringRunPairs(d, k = 5, minRun = 3)
      .orderBy("doc_a", "doc_b")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq((1L, 2L, 3L, 7L)))
    // lowering minRun surfaces the scattered-gram pair with its true run of 1
    val loose = Dedup.substringRunPairs(d, k = 5, minRun = 1)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    assert(loose((1L, 3L)) == 1L)
  }

  test("substringRunPairs equals brute-force diagonal runs on random corpora (property, seeded)") {
    import sqlImplicits._
    // 4-token vocabulary forces heavy gram collisions and repeated
    // grams WITHIN documents — the cases where the diagonal-island
    // bookkeeping could double-count or split runs.
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d")
    val k = 3
    val docs = (1L to 12L).map(i =>
      (i, Seq.fill(rnd.nextInt(15) + 5)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    def grams(s: String): IndexedSeq[String] = {
      val t = s.split("\\s+").filter(_.nonEmpty).toIndexedSeq
      if (t.length < k) IndexedSeq.empty
      else (0 to t.length - k).map(i => t.slice(i, i + k).mkString(" "))
    }
    val expect = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      ga = grams(ta); gb = grams(tb)
      if ga.nonEmpty && gb.nonEmpty
    } yield {
      val best = (-(gb.length - 1) to (ga.length - 1)).map { d =>
        var bestRun = 0; var run = 0
        (0 until ga.length).foreach { pa =>
          val pb = pa - d
          if (pb >= 0 && pb < gb.length && ga(pa) == gb(pb)) {
            run += 1; bestRun = math.max(bestRun, run)
          } else run = 0
        }
        bestRun
      }.max
      ((ia, ib), best.toLong)
    }).filter(_._2 >= 2L).toMap
    val got = Dedup.substringRunPairs(docs.toDF("doc_id", "text"), k = k, minRun = 2)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    assert(got == expect && expect.nonEmpty)
  }

  test("substringRunPairs maxGramDf drops stop-gram-seeded matches only") {
    import sqlImplicits._
    // "the of and in to" appears in ALL four docs (df 4); the real
    // shared run between 1 and 2 uses grams of df 2 and survives a
    // cap of 3 — the boilerplate-only 3↔4 match does not.
    val d = Seq(
      (1L, "the of and in to a b c d e f g"),
      (2L, "x x the of and in to a b c d e f g"),
      (3L, "the of and in to p q r s t"),
      (4L, "the of and in to l m n o k"))
      .toDF("doc_id", "text")
    val capped = Dedup.substringRunPairs(d, k = 5, minRun = 1, maxGramDf = Some(3L))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
    assert(capped.contains((1L, 2L)))
    assert(!capped.contains((3L, 4L)))
  }

  test("exact dedup: null texts are absent content, never a duplicate group") {
    import sqlImplicits._
    val d = Seq(
      (1L, Some("same words here")), (2L, Some("same words here")),
      (3L, Option.empty[String]), (4L, Option.empty[String]))
      .toDF("doc_id", "text")
    val res = Dedup.exact(d).collect()
    // md5(null) is null: without the filter docs 3 and 4 grouped into
    // one "duplicate" cluster and a pipeline applying the report would
    // delete one of them
    assert(res.length == 1, s"only the real duplicate group reports, got ${res.toList}")
    assert(res.head.getLong(0) == 1L && res.head.getLong(1) == 2L)
  }

  test("LSH banding rejects a bands/numHashes mismatch instead of degenerating to all-pairs") {
    // bands > numHashes makes every band slice EMPTY — one shared
    // bucket, an O(n^2) cross join; non-dividing bands silently drop
    // trailing hashes from banding
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashLshPairs(docs, numHashes = 4, bands = 8).collect()
    }
    assert(e.getMessage.contains("divide"))
    intercept[IllegalArgumentException] {
      Dedup.minhashLshPairs(docs, numHashes = 16, bands = 5).collect()
    }
  }

  test("keep-best report retains unscored cluster members instead of silently dropping them") {
    import sqlImplicits._
    val pairs = Seq((1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    // doc 2 and doc 6 have no score row (signal computed on a
    // different snapshot): the old inner join removed them from the
    // report — cluster {1,2} shrank to size 1 and vanished, doc 2
    // neither kept nor removed
    val scores = Seq((1L, 5L), (5L, 3L)).toDF("doc_id", "score")
    val r = Dedup.dedupReportBest(pairs, scores)
      .orderBy("keep_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getSeq[Long](2).toSeq))
    assert(r.toSeq == Seq((1L, 2L, Seq(2L)), (5L, 2L, Seq(6L))),
      "unscored members must stay in the report, ordered after scored ones")
    // an unscored member is never chosen canonical while a scored one exists
    val scoresOnly2 = Seq((2L, 9L)).toDF("doc_id", "score")
    val r2 = Dedup.dedupReportBest(Seq((1L, 2L)).toDF("doc_a", "doc_b"), scoresOnly2)
      .collect().map(x => (x.getLong(0), x.getSeq[Long](2).toSeq))
    assert(r2.toSeq == Seq((2L, Seq(1L))))
  }

  test("simhashes quotes the text column name (dots and spaces work like every sibling)") {
    import sqlImplicits._
    val d = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "doc text")
    val sh = Dedup.simhashes(d, textCol = "doc text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L), "identical texts must share a signature through a quoted name")
  }

  test("the df-cap hot list broadcasts by MEASURED size (the estimate reads the whole gram table)") {
    // a tiny over-cap list must take the broadcast fast path: the
    // optimizer estimate of Filter-over-Aggregate inherits the full
    // gram table's size, so the old size-estimate guard never fired
    val capped = Dedup.ngramDupStats(docs, maxGramDf = Some(3L))
    capped.collect()
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"hot-list anti-join should broadcast the measured-tiny list, plan:\n${plan.take(2000)}")
  }
}
