package graft

import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {

  private lazy val docs = {
    import sqlImplicits._
    Seq(
      (1L, "the cat, the dog!", "en"),
      (2L, "el perro y el gato que corre en la casa", "es"),
      (3L, "", "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
  }

  test("quality metrics: counts and ratios are exact") {
    val r = TextAnalysis.qualityMetrics(docs).orderBy("doc_id").collect()
    // doc 1: "the cat, the dog!" → 17 chars, 4 tokens, 2 punct, 2 stopwords ("the"×2)
    assert(r(0).getInt(1) == 17)
    assert(r(0).getInt(2) == 4)
    assert(r(0).getDouble(3) == math.rint(2.0 / 17 * 1e4) / 1e4)
    assert(r(0).getDouble(4) == 0.5)
    // tokens are "the","cat,","the","dog!" → 3+4+3+4 = 14 chars / 4
    assert(r(0).getDouble(5) == 3.5)
    // empty doc: all ratios 0, no division blowup
    assert(r(2).getInt(2) == 0 && r(2).getDouble(3) == 0.0 && r(2).getDouble(4) == 0.0)
  }

  test("token rarity: exact df means and corpus-unique fractions") {
    import sqlImplicits._
    // vocab: "a" in all three docs (df=3), "b" in two (df=2),
    // "x"/"y"/"z" unique (df=1). Duplicate tokens within a doc count
    // once (distinct vocabulary).
    val corpus = Seq(
      (1L, "a b x a"), // distinct {a,b,x}: dfs 3,2,1 → mean 2.0, rare 1/3
      (2L, "a b y"), // dfs 3,2,1 → mean 2.0, rare 1/3
      (3L, "a z")) // dfs 3,1 → mean 2.0, rare 1/2
      .toDF("doc_id", "text")
    val r = TextAnalysis.tokenRarity(corpus).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getDouble(3)))
    assert(r(0) == ((1L, 3L, 2.0, 0.3333)))
    assert(r(1) == ((2L, 3L, 2.0, 0.3333)))
    assert(r(2) == ((3L, 2L, 2.0, 0.5)))
  }

  test("language id picks the dominant stopword language") {
    val r = TextAnalysis.languageId(docs).orderBy("doc_id").collect()
    assert(r(0).getString(2) == "en")
    assert(r(1).getString(2) == "es")
    assert(r(2).getString(2) == "und") // empty text → undetermined
  }

  test("token stats per language") {
    val r = TextAnalysis.tokenStatsByLang(docs).orderBy("lang").collect()
    val en = r.find(_.getString(0) == "en").get
    assert(en.getLong(1) == 2 && en.getLong(2) == 4) // 2 docs, 4 tokens total
    val es = r.find(_.getString(0) == "es").get
    assert(es.getLong(2) == 10) // el perro y el gato que corre en la casa
  }

  test("normalization lowercases, strips punctuation, collapses whitespace") {
    import sqlImplicits._
    val out = Seq((1L, "  Hello,   WORLD!  a.b  "))
      .toDF("doc_id", "text")
      .select(TextAnalysis.normalizeText($"text"))
      .head.getString(0)
    assert(out == "hello world a b")
  }

  test("quality filter keeps docs passing all rules, attributes first failure") {
    import sqlImplicits._
    val corpus = Seq(
      (1L, Seq.fill(50)("words").mkString(" "), "en"),               // kept
      (2L, "tiny doc", "en"),                                        // too_short
      (3L, Seq.fill(50)("a.!?").mkString(" "), "en"))                // short-circuit: punct-heavy but avg-len fires later → too_punct
      .toDF("doc_id", "text", "lang")
    val verdicts = TextAnalysis.qualityVerdict(corpus, minTokens = 10)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(verdicts(1L) == "kept")
    assert(verdicts(2L) == "too_short")
    assert(verdicts(3L) == "too_punct")
    val kept = TextAnalysis.qualityFilter(corpus, minTokens = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("char-n-gram language heuristic: no tokenizer, handles unsegmented scripts") {
    import sqlImplicits._
    import org.apache.spark.sql.functions.col
    val d = Seq(
      (1L, "the weather in the north is cold and the days are getting shorter"),
      (2L, "el que no ha visto el mar no sabe que es la belleza"),
      (3L, "der Hund und die Katze schlafen in der schönen Küche"),
      (4L, "我是在和有的了"), // unsegmented — whitespace tokenizers see ONE token
      (5L, ""))
      .toDF("doc_id", "text")
    val out = d.select(col("doc_id"), graft.functions.TextFunctions.langIdNgram(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en", out.toString)
    assert(out(2L) == "es", out.toString)
    assert(out(3L) == "de", out.toString)
    assert(out(4L) == "zh", out.toString)
    assert(out(5L) == "und", out.toString)
  }

  test("repetition metrics: counts, max frequency, and basis points are exact") {
    import sqlImplicits._
    val d = Seq(
      (1L, "a a a a b"),          // 5 tokens, 2 distinct, max 4, bp = floor(1e4·(1-2/5)) = 6000
      (2L, "x y z"),              // no repetition → bp 0
      (3L, "w w"))                // 2 tokens, 1 distinct, max 2, bp 5000
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetitionMetrics(d).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    assert(r(0) == ((1L, 5L, 2L, 4L, 6000L)))
    assert(r(1) == ((2L, 3L, 3L, 1L, 0L)))
    assert(r(2) == ((3L, 2L, 1L, 2L, 5000L)))
  }

  test("pii scan counts and redacts every pattern kind, in order") {
    import sqlImplicits._
    val d = Seq(
      (1L, "mail alice.smith@corp.example.org and bob+x@a.io now"),
      (2L, "server 192.168.0.1 fell over, ping 10.0.0.255"),
      (3L, "call +1-555-0199 or +44-201-9911 today"),
      (4L, "clean text with no pii at all"),
      (5L, "combo c@d.net at 8.8.8.8 via +1-800-1234"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.piiScan(d).orderBy("doc_id").collect()
    def row(i: Int) = (r(i).getAs[Int]("n_email"), r(i).getAs[Int]("n_ipv4"),
      r(i).getAs[Int]("n_phone"), r(i).getAs[String]("redacted"))
    assert(row(0) == ((2, 0, 0, "mail <EMAIL> and <EMAIL> now")))
    assert(row(1) == ((0, 2, 0, "server <IP> fell over, ping <IP>")))
    assert(row(2) == ((0, 0, 2, "call <PHONE> or <PHONE> today")))
    assert(row(3) == ((0, 0, 0, "clean text with no pii at all")))
    assert(row(4) == ((1, 1, 1, "combo <EMAIL> at <IP> via <PHONE>")))
  }

  test("charDiversity: Simpson basis points are exact on planted texts") {
    import sqlImplicits._
    val d = Seq(
      (1L, "aaaa"), // one char flooded → diversity 0
      (2L, "abab"), // 2×2 → 1 - 8/16 = 0.5
      (3L, "abcd")) // all distinct → 1 - 4/16 = 0.75
      .toDF("doc_id", "text")
    val r = TextAnalysis.charDiversity(d).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq(
      (1L, 4L, 1L, 0L),
      (2L, 4L, 2L, 5000L),
      (3L, 4L, 4L, 7500L)))
  }

  test("chunkText: coverage, overlap consistency, and edge sizes") {
    import sqlImplicits._
    // 10-char chunks, 3 overlap → step 7
    val text = "abcdefghijklmnopqrstuvwxyz" // 26 chars → chunks at 0,7,14,21
    val d = Seq((1L, text), (2L, "short"), (3L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.chunkText(d, chunkSize = 10, overlap = 3)
      .orderBy("doc_id", "chunk_id").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getString(2)))
    val c1 = r.filter(_._1 == 1L).map(_._3)
    assert(c1.toSeq == Seq("abcdefghij", "hijklmnopq", "opqrstuvwx", "vwxyz"))
    // every adjacent pair agrees on the 3-char overlap
    c1.sliding(2).foreach { case Array(a, b) =>
      assert(a.takeRight(3) == b.take(3) || b.length < 3)
    }
    // stitching chunks minus their overlap reconstructs the text
    assert(c1.head + c1.tail.map(_.drop(3)).mkString == text)
    assert(r.filter(_._1 == 2L).map(_._3).toSeq == Seq("short")) // sub-chunk text: 1 chunk
    assert(!r.exists(_._1 == 3L)) // empty text: 0 chunks
  }

  test("chunkText never emits a chunk fully contained in its predecessor") {
    import sqlImplicits._
    // 15 chars, size 10, overlap 3, step 7: a floor((len-1)/step)+1
    // count would add a 1-char tail chunk already covered by chunk 1
    val d = Seq((1L, "abcdefghijklmno")).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkText(d, chunkSize = 10, overlap = 3)
      .orderBy("chunk_id").collect().map(_.getString(2))
    assert(chunks.toSeq == Seq("abcdefghij", "hijklmno")) // 2 chunks, end reached
    assert(chunks.last.length > 3) // tail longer than the overlap
  }

  test("stripBoilerplate removes corpus-frequent lines, keeps order and blanks") {
    import sqlImplicits._
    // "HEADER" in 3 docs (df=3 → boiler at minDf=3); " HEADER  " must
    // hit the same trimmed key; "FOOT" in only 2 docs (df=2 → kept);
    // whitespace-only lines are never boilerplate; unique bodies kept
    // in original order.
    val corpus = Seq(
      (1L, "HEADER\nalpha one\n\nbeta two\nFOOT"),
      (2L, " HEADER  \ngamma three\nFOOT"),
      (3L, "HEADER\ndelta four"),
      (4L, ""), // one empty line, kept
      (5L, null.asInstanceOf[String])) // NULL text must not vanish from the output
      .toDF("doc_id", "text")
    val r = graft.operators.TextAnalysis.stripBoilerplate(corpus, minDf = 3)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
    assert(r(0) == ((1L, 5L, 1L, "alpha one\n\nbeta two\nFOOT")))
    // padded header stripped via the trimmed key; original spacing of
    // KEPT lines is preserved verbatim
    assert(r(1) == ((2L, 3L, 1L, "gamma three\nFOOT")))
    assert(r(2) == ((3L, 2L, 1L, "delta four")))
    assert(r(3) == ((4L, 1L, 0L, "")))
    assert(r(4) == ((5L, 1L, 0L, "")))
  }

  test("stripBoilerplate extremes: huge minDf is the identity, minDf=1 strips all non-blank") {
    import sqlImplicits._
    val corpus = Seq(
      (1L, "one\n\ntwo"),
      (2L, "three\nfour"),
      (3L, "one\nfive"))
      .toDF("doc_id", "text")
    // minDf above the corpus size: nothing can reach it — reassembly
    // must reproduce every text byte-for-byte (order, blanks, all)
    val id = graft.operators.TextAnalysis.stripBoilerplate(corpus, minDf = 1000L)
      .orderBy("doc_id").collect()
    assert(id.map(_.getString(3)).toSeq == Seq("one\n\ntwo", "three\nfour", "one\nfive"))
    assert(id.map(_.getLong(2)).forall(_ == 0L))
    // minDf=1: every non-blank line is its own boilerplate — only the
    // blank separator survives
    val all = graft.operators.TextAnalysis.stripBoilerplate(corpus, minDf = 1L)
      .orderBy("doc_id").collect()
    assert(all.map(x => (x.getLong(2), x.getString(3))).toSeq ==
      Seq((2L, ""), (2L, ""), (2L, "")))
  }

  test("RAKE: hand-checked phrase scores with stopword splitting and micro-exact sums") {
    import sqlImplicits._
    // doc: "deep learning of deep models" → phrases: "deep learning", "deep models"
    // freq(deep)=2, degree(deep)=4 → 2.0; learning 1/2 → 2.0; models 1/2 → 2.0
    // both phrases score 4.0; tie broken by phrase text.
    val docs = Seq((1L, "deep learning of deep models")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.rakeKeywords(docs)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got == Seq(("deep learning", 4.0, 1L), ("deep models", 4.0, 1L)), got.toString)
  }

  test("RAKE: longer runs outrank single words; maxPhraseLen caps candidates") {
    import sqlImplicits._
    val docs = Seq(
      (1L, "red green blue and red green blue and red"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.rakeKeywords(docs, maxPhraseLen = 4)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    // the 7-token run of doc 2 is dropped by the cap
    assert(!got.exists(_._1.contains("seven")), got.toSeq.toString)
    val byPhrase = got.map(g => g._1 -> g).toMap
    assert(byPhrase("red green blue")._3 == 2L, got.toSeq.toString)
    // within "red green blue": red freq 3 degree 7 (3+3+1); green/blue freq 2 degree 6
    val exp = (7.0 / 3.0 * 1e6).round / 1e6 + 3.0 + 3.0
    assert(math.abs(byPhrase("red green blue")._2 - exp) < 1e-9, got.toSeq.toString)
  }

  test("compression signal: repetitive text compresses far below random; nulls/empties are null") {
    import sqlImplicits._
    val rnd = new scala.util.Random(47)
    val repetitive = "spam ham " * 200
    val random = (1 to 400).map(_ => rnd.alphanumeric.take(4).mkString).mkString(" ")
    val docs = Seq((1L, repetitive), (2L, random), (3L, null.asInstanceOf[String]), (4L, ""))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.compressionRatio(docs)
      .orderBy("doc_id").collect()
    val rRep = got(0).getDouble(3)
    val rRnd = got(1).getDouble(3)
    assert(rRep < 0.05 && rRnd > 0.3 && rRep < rRnd / 5, s"$rRep vs $rRnd")
    assert(got(2).isNullAt(3) && got(3).isNullAt(3))
    assert(got(0).getLong(1) == repetitive.getBytes("UTF-8").length.toLong)
    // determinism across partitioning — byte-identical counts
    val rep = graft.operators.TextAnalysis.compressionRatio(docs.repartition(5))
      .orderBy("doc_id").collect()
    assert(got.map(_.toSeq).toSeq == rep.map(_.toSeq).toSeq)
  }

  test("compression signal: exact Deflater goldens for planted strings (the x129 behavior pin)") {
    // x129 is the surface's one none_by_nature rows-only row (DuckDB
    // has no zlib), so nothing outside this JVM ever checks its VALUES
    // — without goldens, a silent Deflater behavior change would flip
    // nothing (the r11 verdict's prescription #5). The exact byte
    // counts below are deterministic for a fixed JDK zlib (recorded on
    // temurin 17.0.20, Deflater level 6, raw mode — the operator's
    // exact configuration); a JDK upgrade that ships a different zlib
    // may legitimately shift them, in which case re-record the
    // constants here and note the JDK in the commit message. That
    // trade is the point: a golden that flips on an environment change
    // beats a value surface nothing watches.
    import sqlImplicits._
    val rep = "spam ham " * 200 // templated: collapses to a back-reference chain
    val fox = "The quick brown fox jumps over the lazy dog. " * 10
    val pi = "3.14159265358979323846264338327950288419716939937510" // near-incompressible
    val got = graft.operators.TextAnalysis.compressionRatio(
        Seq((1L, rep), (2L, fox), (3L, pi)).toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got(0) == ((1800L, 24L, 24.0 / 1800)), s"rep: ${got(0)}")
    assert(got(1) == ((450L, 51L, 51.0 / 450)), s"fox: ${got(1)}")
    assert(got(2) == ((52L, 40L, 40.0 / 52)), s"pi: ${got(2)}")
  }

  test("readability matches the hand-computed Flesch score") {
    import sqlImplicits._
    val docs = Seq(
      (1L, "Hello world."),
      (2L, ""),
      (3L, "Go. Stop! Why?")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.readability(docs).orderBy("doc_id").collect()
    // doc 1: 2 words, 1 sentence, syllables 2 (Hello) + 1 (world.) = 3
    assert(got(0).getLong(1) == 2L && got(0).getLong(2) == 1L && got(0).getLong(3) == 3L)
    assert(math.abs(got(0).getDouble(4) - (206.835 - 1.015 * 2.0 - 84.6 * 1.5)) < 1e-9)
    // empty text: zero words -> null score, sentence floor stays 1
    assert(got(1).getLong(1) == 0L && got(1).isNullAt(4))
    // doc 3: 3 words, 3 sentence runs, 1 vowel group per word
    assert(got(2).getLong(1) == 3L && got(2).getLong(2) == 3L && got(2).getLong(3) == 3L)
  }

  test("null text: 'und' language, zero PII counts, zero words — never -1 or a confident label") {
    import sqlImplicits._
    // size(NULL array) is -1 with ANSI off: language scores of -1
    // slipped past the zero-evidence guard (emitting 'zh' for no text
    // at all), PII counts reported -1 matches, and readability
    // emitted n_words = -1
    import org.apache.spark.sql.functions.col
    val d = Seq((1L, Option.empty[String], "en"), (2L, Some("the cat sat"), "en"))
      .toDF("doc_id", "text", "lang")
    val lid = TextAnalysis.languageId(d).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("lang_pred")).toMap
    assert(lid(1L) == "und", s"null text must be undetermined, got ${lid(1L)}")
    assert(lid(2L) == "en")
    val pii = TextAnalysis.piiScan(d).filter(col("doc_id") === 1L).head()
    assert(pii.getAs[Int]("n_email") == 0 && pii.getAs[Int]("n_ipv4") == 0,
      "null text has zero PII matches, not -1")
    val rd = TextAnalysis.readability(d).filter(col("doc_id") === 1L).head()
    assert(rd.getAs[Long]("n_words") == 0L && rd.isNullAt(rd.fieldIndex("flesch")))
  }
}
