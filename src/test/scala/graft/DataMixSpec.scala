package graft

import org.apache.spark.sql.functions._

import graft.operators.DataMix

class DataMixSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

  test("md5 sample is rate-accurate, partitioning-stable, and total at frac=1") {
    val kept = DataMix.md5Sample(docs, 0.3, Seq(col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(math.abs(kept.size.toDouble / docs.count() - 0.3) < 0.05, s"rate ${kept.size}")
    val keptRepart = DataMix.md5Sample(docs.repartition(17), 0.3, Seq(col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == keptRepart)
    assert(DataMix.md5Sample(docs, 1.0, Seq(col("doc_id"))).count() == docs.count())
  }

  test("samples nest: raising the fraction only adds rows") {
    // The property that makes incremental training-set growth sound: a
    // 30% sample extends the 10% sample, it doesn't reshuffle it —
    // true by construction for threshold gates on a fixed hash.
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val m10 = ids(DataMix.md5Sample(docs, 0.1, Seq(col("doc_id"))))
    val m30 = ids(DataMix.md5Sample(docs, 0.3, Seq(col("doc_id"))))
    assert(m10.subsetOf(m30) && m10.size < m30.size)
  }

  test("md5 split label agrees with md5Sample and partitions exhaustively") {
    val labeled = docs.withColumn("split", DataMix.md5SplitLabel(0.2, Seq(col("doc_id"))))
    val test = labeled.filter(col("split") === "test")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val train = labeled.filter(col("split") === "train")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sampled = DataMix.md5Sample(docs, 0.2, Seq(col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(test == sampled) // the split's test side IS the sample
    assert((test & train).isEmpty)
    assert(test.size + train.size == docs.count())
  }

  test("sequence packing: bins fill toward the budget, partition exhaustively, stay stable") {
    import sqlImplicits._
    val withTokens = docs.select(col("doc_id"), col("lang"),
      (col("n_chars") % 100 + 1).cast("int").as("n_tokens"))
    val packed = DataMix.packSequences(withTokens, col("n_tokens"), 500, col("lang"), Seq(col("doc_id")))
    assert(packed.count() == docs.count()) // every row lands in exactly one bin
    val bins = packed.groupBy("lang", "bin_id").agg(sum(col("n_tokens")).as("tok"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // every non-final bin of a stratum holds ≥ budget − max row (no
    // premature spill); bin 0 exists for every stratum
    val byLang = bins.groupBy(_._1)
    byLang.foreach { case (lang, bs) =>
      assert(bs.exists(_._2 == 0L), s"$lang missing bin 0")
      val lastBin = bs.map(_._2).max
      bs.filter(_._2 < lastBin).foreach { case (_, b, tok) =>
        assert(tok >= 500 - 100, s"$lang bin $b underfilled: $tok")
      }
    }
    // repartition-stable (the md5 order is data-derived, not physical)
    val again = DataMix.packSequences(
      withTokens.repartition(13), col("n_tokens"), 500, col("lang"), Seq(col("doc_id")))
      .select("doc_id", "bin_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val first = packed.select("doc_id", "bin_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == first)
  }

  test("packSequences/md5TokenQuota: banded prefix sums bit-identical to the window form") {
    import sqlImplicits._
    val df = (1 to 80)
      .map(i => (i.toLong, s"s${i % 2}", (i * 7 % 40 + 1).toLong))
      .toDF("id", "g", "tok")
    val h = md5(concat_ws("", coalesce(col("id").cast("string"), lit(""))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(h.asc, col("id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val gotPack = DataMix.packSequences(df, col("tok"), 100, col("g"), Seq(col("id")))
      .orderBy("id").collect().map(_.toSeq).toSeq
    val wantPack = df.withColumn("__cum", sum(col("tok")).over(w))
      .withColumn("bin_id",
        floor((col("__cum") - col("tok")).cast("double") / 100).cast("long"))
      .drop("__cum").orderBy("id").collect().map(_.toSeq).toSeq
    assert(gotPack == wantPack)
    val gotQuota = DataMix.md5TokenQuota(df, col("g"), col("tok"), 300L, Seq(col("id")))
      .orderBy("id").collect().map(_.toSeq).toSeq
    val wantQuota = df.withColumn("__cum", sum(col("tok")).over(w))
      .filter(col("__cum") <= 300L).drop("__cum")
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(gotQuota == wantQuota && gotQuota.nonEmpty && gotQuota.size < 80)
    // md5Quota rides the same banded rank now — must replay the old
    // whole-group window rank bit-for-bit
    val gotCap = DataMix.md5Quota(df, col("g"), 7, Seq(col("id")))
      .orderBy("id").collect().map(_.toSeq).toSeq
    val wantCap = df.withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(h.asc, col("id").asc)))
      .filter(col("__r") <= 7).drop("__r")
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(gotCap == wantCap && gotCap.size == 14)
  }

  test("md5 quota caps every group and picks a stable subset") {
    val kept = DataMix.md5Quota(docs, col("source"), 5, Seq(col("doc_id")))
    val perSource = kept.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    assert(perSource.forall(_ <= 5))
    assert(perSource.sum < docs.count()) // quota actually bit
    val again = DataMix.md5Quota(docs.repartition(11), col("source"), 5, Seq(col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("stratified sample at rate 1.0 keeps the whole stratum (hex-threshold edge)") {
    val kept = DataMix.md5StratifiedSample(
      docs, col("lang"), Map("en" -> 0.1), defaultFrac = 1.0, keyCols = Seq(col("doc_id")))
    val nonEnTotal = docs.filter(col("lang") =!= "en").count()
    assert(kept.filter(col("lang") =!= "en").count() == nonEnTotal)
  }

  test("stratified md5 sample applies per-stratum rates") {
    val kept = DataMix.md5StratifiedSample(
      docs, col("lang"), Map("en" -> 0.1), defaultFrac = 0.8, keyCols = Seq(col("doc_id")))
    val byLang = kept.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = byLang.getOrElse("en", 0L).toDouble / totals("en")
    assert(enRate < 0.25, s"en rate $enRate should be ~0.1")
    val restKept = (byLang - "en").values.sum.toDouble
    val restTotal = (totals - "en").values.sum.toDouble
    assert(restKept / restTotal > 0.6, s"rest rate ${restKept / restTotal} should be ~0.8")
  }

  test("temperatureMix: t=1 keeps everything, t=0 flattens toward the smallest source") {
    import sqlImplicits._
    val d = ((1L to 1600L).map(i => (i, "big")) ++ (10001L to 10100L).map(i => (i, "small")))
      .toDF("doc_id", "source")
    val t1 = DataMix.temperatureMix(d, col("source"), 1.0, Seq(col("doc_id")))
    assert(t1.count() == 1700L) // rate 1 for every source

    val t0 = DataMix.temperatureMix(d, col("source"), 0.0, Seq(col("doc_id")))
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t0("small") == 100L) // min source keeps all
    assert(math.abs(t0("big") - 100L) < 40, s"t=0 big kept ${t0("big")}, want ~100")
  }

  test("temperatureMix: NULL sources form their own stratum and are never dropped") {
    import sqlImplicits._
    val d = ((1L to 400L).map(i => (i, Some("big"))) ++ (10001L to 10100L).map(i => (i, None: Option[String])))
      .toDF("doc_id", "source")
    val t1 = DataMix.temperatureMix(d, col("source"), 1.0, Seq(col("doc_id")))
    assert(t1.count() == 500L) // t=1 keeps everything, NULL rows included
    val bysrc = DataMix.temperatureMix(d, col("source"), 0.5, Seq(col("doc_id")))
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(bysrc(None) == 100L) // NULL is the min stratum → fully kept
    // big: rate sqrt(100/400) = 0.5 → ~200 of 400
    assert(math.abs(bysrc(Some("big")) - 200L) < 60, s"got ${bysrc(Some("big"))}")
  }

  test("temperatureMix: t=0.5 rate is sqrt-interpolated and partitioning-stable") {
    import sqlImplicits._
    val d = ((1L to 1600L).map(i => (i, "big")) ++ (10001L to 10100L).map(i => (i, "small")))
      .toDF("doc_id", "source")
    val kept = DataMix.temperatureMix(d, col("source"), 0.5, Seq(col("doc_id")))
    val bysrc = kept.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bysrc("small") == 100L) // min source keeps all
    // big: rate sqrt(100/1600) = 0.25 → ~400 of 1600
    assert(math.abs(bysrc("big") - 400L) < 80, s"t=0.5 big kept ${bysrc("big")}, want ~400")
    val again = DataMix.temperatureMix(d.repartition(13), col("source"), 0.5, Seq(col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("shard assignment is total, roughly balanced, and partitioning-stable") {
    import sqlImplicits._
    val d = (1L to 3200L).map(i => (i, i % 50)).toDF("doc_id", "grp")
    for (sharded <- Seq(
        DataMix.md5Shard(d, 16, Seq(col("doc_id"))),
        DataMix.hashShard(d, 16, salt = 7L, Seq(col("doc_id"))))) {
      val counts = sharded.groupBy("shard_id").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(counts.keySet == (0 until 16).toSet) // every shard hit, none out of range
      assert(counts.values.sum == 3200L) // total: every row exactly one shard
      // 200/shard expected; md5/xxhash draws should stay well within 2x
      assert(counts.values.forall(n => n > 100 && n < 400), s"imbalanced: $counts")
    }
    // Cross-partitioning determinism for the portable draw:
    val one = DataMix.md5Shard(d, 16, Seq(col("doc_id")))
      .select("doc_id", "shard_id").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val two = DataMix.md5Shard(d.repartition(13), 16, Seq(col("doc_id")))
      .select("doc_id", "shard_id").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(one == two)
  }

  /** JVM replica of the engine's A-ES draw: md5 hex of the stringified
    * key, 13 nibbles → u ∈ (0,1], rank −ln(u)/w.
    */
  private def aesRank(key: String, w: Double): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val v = hex.take(13).foldLeft(0L)((acc, c) => acc * 16 + "0123456789abcdef".indexOf(c))
    -math.log((v.toDouble + 1.0) / 4503599627370496.0) / w
  }

  test("md5WeightedSample selects exactly the k smallest A-ES ranks") {
    import sqlImplicits._
    val rows = (1L to 500L).map(i => (i, (i % 7 + 1).toDouble))
    val df = rows.toDF("doc_id", "w")
    val want = rows
      .map { case (id, w) => (aesRank(id.toString, w), id) }
      .sortBy(identity).take(40).map(_._2).toSet
    val got = DataMix.md5WeightedSample(df.repartition(11), 40, "w", "doc_id", Seq(col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(got.size == 40)
  }

  test("splitLeakage: group-keyed splits never straddle; row-keyed splits do") {
    import sqlImplicits._
    // 40 groups × 25 rows — a doc-keyed 50% split straddles almost
    // every group; a group-keyed split can straddle none.
    val df = (1L to 1000L).map(i => (i, s"g${i % 40}")).toDF("doc_id", "grp")
    def audit(keyed: org.apache.spark.sql.Column) = DataMix.splitLeakage(
      df.withColumn("split", DataMix.md5SplitLabel(0.5, Seq(keyed))),
      col("split"), col("grp"))
      .head()
    val byRow = audit(col("doc_id"))
    val byGroup = audit(col("grp"))
    assert(byRow.getLong(0) == 40L && byRow.getLong(1) > 30L, byRow.toString)
    assert(byGroup.getLong(0) == 40L && byGroup.getLong(1) == 0L, byGroup.toString)
  }

  test("md5WeightedSample favors heavy weights and drops w<=0") {
    import sqlImplicits._
    // 100 heavy (w=100) + 100 light (w=1) + poisoned rows
    val df = ((1L to 100L).map(i => (i, 100.0)) ++ (101L to 200L).map(i => (i, 1.0)) ++
      Seq((201L, 0.0), (202L, -5.0))).toDF("doc_id", "w")
    val got = DataMix.md5WeightedSample(df, 20, "w", "doc_id", Seq(col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0))
    assert(got.length == 20)
    assert(!got.contains(201L) && !got.contains(202L))
    assert(got.count(_ <= 100L) >= 17, s"heavy items under-sampled: ${got.toSeq.sorted}")
  }

  test("quotaSplit gives exactly floor(frac*n) val rows per stratum, deterministically") {
    import sqlImplicits._
    val df = (1 to 500).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "g")
    val split = graft.operators.DataMix.quotaSplit(df, Seq(col("g")), 0.2, Seq(col("id")))
    val counts = split.groupBy("g", "split").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // strata sizes: s0 166, s1 167, s2 167 → quotas 33, 33, 33
    assert(counts(("s0", "val")) == 33L && counts(("s0", "train")) == 133L)
    assert(counts(("s1", "val")) == 33L && counts(("s2", "val")) == 33L)
    // deterministic under repartitioning
    val a = split.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val b = graft.operators.DataMix.quotaSplit(
        df.repartition(11), Seq(col("g")), 0.2, Seq(col("id")))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a == b)
  }

  test("allocateLargestRemainder sums exactly to the budget with proportional parts") {
    import sqlImplicits._
    // weights 1/1/1 with budget 100: 33/33/33 base + 1 leftover to the
    // largest remainder (tie → lowest id)
    val even = Seq(("s1", 1.0), ("s2", 1.0), ("s3", 1.0)).toDF("id", "w")
    val g1 = graft.operators.DataMix.allocateLargestRemainder(even, 100L, "w", "id")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("alloc")).toMap
    assert(g1.values.sum == 100L)
    assert(g1 == Map("s1" -> 34L, "s2" -> 33L, "s3" -> 33L))
    // skewed weights: parts proportional, still exactly the budget;
    // zero/null weights excluded
    val skew = Seq(("a", 5.0), ("b", 3.0), ("c", 2.0), ("d", 0.0)).toDF("id", "w")
    val g2 = graft.operators.DataMix.allocateLargestRemainder(skew, 1001L, "w", "id")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("alloc")).toMap
    assert(g2.values.sum == 1001L)
    assert(!g2.contains("d"))
    assert(g2("a") == 501L && g2("b") == 300L && g2("c") == 200L)
  }

  test("quotaSplit edge fractions: 0 puts nothing in val, 1 puts everything") {
    import sqlImplicits._
    val df = (1 to 50).map(i => (i.toLong, "g")).toDF("id", "g")
    val z = graft.operators.DataMix.quotaSplit(df, Seq(col("g")), 0.0, Seq(col("id")))
    assert(z.filter(col("split") === "val").count() == 0L)
    val o = graft.operators.DataMix.quotaSplit(df, Seq(col("g")), 1.0, Seq(col("id")))
    assert(o.filter(col("split") === "train").count() == 0L)
  }

  test("kfold balances folds within one row per stratum and is deterministic") {
    import sqlImplicits._
    val df = (1 to 10).map(i => (i.toLong, "s")).toDF("id", "g") unionByName
      (1 to 7).map(i => (100L + i, "t")).toDF("id", "g")
    val got = graft.operators.DataMix.kfold(df, Seq(col("g")), 3, Seq(col("id")))
    val sizes = got.groupBy("g", "fold").count().collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    // 10 rows over 3 folds -> {4,3,3}; 7 rows -> {3,2,2}
    assert(Seq(0, 1, 2).map(f => sizes(("s", f))).sorted.reverse == Seq(4L, 3L, 3L))
    assert(Seq(0, 1, 2).map(f => sizes(("t", f))).sorted.reverse == Seq(3L, 2L, 2L))
    val a = got.orderBy("id").collect().map(_.toSeq).toSeq
    val b = graft.operators.DataMix.kfold(df.repartition(7), Seq(col("g")), 3, Seq(col("id")))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("kfold: NULL strata included, banded ranks bit-identical to the window form") {
    import sqlImplicits._
    // parity oracle: the direct whole-stratum window over the SAME
    // md5 draw — what bandedMd5Prefix's band-offset + in-band rank
    // must replay exactly, null strata ranking as their own group
    val df = (1 to 60)
      .map(i => (i.toLong, if (i % 3 == 0) None else Some(s"s${i % 2}")))
      .toDF("id", "g")
    val got = graft.operators.DataMix.kfold(df, Seq(col("g")), 4, Seq(col("id")))
      .orderBy("id").collect().map(_.toSeq).toSeq
    val h = md5(concat_ws("", coalesce(col("id").cast("string"), lit(""))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(h.asc, col("id").asc)
    val want = df.withColumn("fold", ((row_number().over(w) - 1) % 4).cast("int"))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("quotaSplit fills the exact decimal quota at fractions where the double product under-floors") {
    import sqlImplicits._
    // 0.29 × 100 in doubles is 28.999999999999996 — floor 28, one
    // short of the documented ⌊0.29·100⌋ = 29 (and of the decimal
    // arithmetic every SQL oracle uses for a 0.29 literal)
    val df = (1L to 100L).map(i => (i, "g")).toDF("id", "g")
    val nVal = DataMix.quotaSplit(df, Seq(col("g")), 0.29, Seq(col("id")))
      .filter(col("split") === "val").count()
    assert(nVal == 29L, s"expected the exact 29-row quota, got $nVal")
  }

  test("weighted sample: NaN weights cannot steal slots; non-integral ids are rejected") {
    import sqlImplicits._
    // NaN > 0 is TRUE under Spark's NaN-is-largest ordering and a NaN
    // score sorts first — NaN-weight rows would displace every
    // legitimate winner
    val df = ((1L to 20L).map(i => (i, 1.0)) ++ Seq((100L, Double.NaN), (101L, Double.NaN)))
      .toDF("id", "w")
    val got = DataMix.md5WeightedSample(df, 5, "w", "id", Seq(col("id")))
      .collect().map(_.getLong(0)).toSet
    assert(got.size == 5 && !got.contains(100L) && !got.contains(101L),
      s"NaN-weight rows must not sample, got $got")
    val strIds = Seq(("doc-1", 1.0)).toDF("id", "w")
    val e = intercept[IllegalArgumentException] {
      DataMix.md5WeightedSample(strIds, 1, "w", "id", Seq(col("id")))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("splitLeakage counts an unlabeled (null) side — a train/null straddle is a leak") {
    import sqlImplicits._
    val df = Seq(
      ("g1", Some("train")), ("g1", Option.empty[String]), // straddles train/null
      ("g2", Some("train")), ("g2", Some("train")),
      ("g3", Option.empty[String])) // null-only: one side, safe
      .toDF("grp", "split")
    val r = DataMix.splitLeakage(df, col("split"), col("grp")).head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 1L,
      s"only g1 straddles (train + unlabeled), got (${r.getLong(0)}, ${r.getLong(1)})")
  }

  test("token-budget operators fail loudly on null or negative token counts") {
    import sqlImplicits._
    // a NULL count is skipped by the prefix sum (free budget-cheating
    // rows / a NULL bin); a negative count breaks prefix membership —
    // both violate the stated contracts
    val bad = Seq((1L, "s", Some(25000L)), (2L, "s", Option.empty[Long])).toDF("id", "src", "toks")
    intercept[Exception] {
      DataMix.md5TokenQuota(bad, col("src"), col("toks"), 20000L, Seq(col("id"))).collect()
    }
    val neg = Seq((1L, "s", 25000L), (2L, "s", -10000L)).toDF("id", "src", "toks")
    intercept[Exception] {
      DataMix.packSequences(neg, col("toks"), 2048, col("src"), Seq(col("id"))).collect()
    }
    // clean inputs still flow
    val ok = Seq((1L, "s", 100L), (2L, "s", 200L)).toDF("id", "src", "toks")
    assert(DataMix.md5TokenQuota(ok, col("src"), col("toks"), 1000L, Seq(col("id"))).count() == 2)
  }

  test("largest-remainder allocation raises when every weight quantizes to zero") {
    import sqlImplicits._
    // all weights under the 1e-4 quantum pass the raw > 0 filter but
    // sum to __tw = 0 — the budget silently stayed unallocated (alloc
    // null everywhere)
    val tiny = Seq(("a", 0.00003), ("b", 0.00002)).toDF("src", "w")
    intercept[Exception] {
      DataMix.allocateLargestRemainder(tiny, 1000L, "w", "src").collect()
    }
    // normal weights still allocate exactly
    val okRows = DataMix.allocateLargestRemainder(
      Seq(("a", 0.3), ("b", 0.7)).toDF("src", "w"), 1000L, "w", "src")
      .collect().map(r => r.getAs[String]("src") -> r.getAs[Long]("alloc")).toMap
    assert(okRows.values.sum == 1000L && okRows("b") == 700L)
  }
}
