package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis Column combinators for the training-data pipeline
  * extensions (builder prompt; SURVEY.md §7.1 item 7).
  *
  * All pure Spark built-ins / higher-order functions — codegen'd, no
  * UDFs. Deterministic: same input → same output on every run and
  * every partitioning.
  */
object TextFunctions {

  /** Whitespace tokens with empties dropped (so "" → [] not [""]).
    * Native codegen scanner ([[graft.plans.WhitespaceTokens]]) —
    * byte-identical to `filter(split(trim(text), "\\s+"), length(_) >
    * 0)` but stays inside whole-stage codegen instead of the HOF's
    * interpreted fallback (this call sits under every shingle, token
    * stat, and fingerprint).
    */
  def tokens(text: Column): Column =
    org.apache.spark.sql.graftops.ColumnBridge.column(
      graft.plans.WhitespaceTokens(
        org.apache.spark.sql.graftops.ColumnBridge.expression(text)))

  /** Distinct word n-gram shingles, order-sensitive — the dedup unit
    * for MinHash/Jaccard. Docs shorter than n get an empty array.
    *
    * Pass `toks` as a MATERIALIZED attribute (a prior `.select(...
    * tokens(col).as("__toks"))`), never an inline `tokens(text)`
    * expression: each `element_at` inside the lambda re-evaluates its
    * array argument, so an inline tokenizer would re-run n× per gram
    * position (measured 4.3 s → 0.75 s at sf0.1 for 5-grams).
    */
  def wordShingles(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(toks) - lit(n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, (i + lit(j)).cast("int"))): _*))
    // NULL propagates like charShingles (and every SQL function): with
    // ANSI off, size(NULL) = −1 < n silently routed a null token array
    // into the empty-shingles branch, so the two dedup-unit functions
    // classified the same null document differently (empty set vs
    // NULL). Post-explode consumers see no difference — explode drops
    // both — but a direct size()/equality consumer must not.
    when(toks.isNull, lit(null).cast("array<string>"))
      .otherwise(array_distinct(
        when(size(toks) < n, array().cast("array<string>")).otherwise(grams)))
  }

  /** Distinct overlapping character `n`-gram shingles — the dedup unit
    * for unsegmented scripts (zh/ja/th), where whitespace tokens don't
    * exist. Texts shorter than `n` produce no shingles. Shared by the
    * production char-LSH operator and its portable certified twin so
    * the two can never diverge. `substr` indexes the text column
    * directly (no per-position re-evaluation hazard — the lambda
    * argument is the scalar, not an array rebuild).
    */
  def charShingles(text: Column, n: Int): Column =
    when(length(text) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))

  // (A per-row array-HOF MinHash signature used to live here; it was
  //  superseded by Dedup.minhashSignatures' explode→groupBy-min
  //  formulation — the HOF form re-evaluates the interpreted shingle
  //  pipeline once per hash lane via projection collapse.)

  /** Fraction of equal positions between two same-length signatures —
    * the unbiased MinHash estimate of Jaccard similarity.
    */
  def minhashEstimate(sigA: Column, sigB: Column): Column =
    aggregate(
      zip_with(sigA, sigB, (a, b) => when(a === b, 1).otherwise(0)),
      lit(0),
      (acc, v) => acc + v
    ).cast("double") / size(sigA)

  /** 64-bit SimHash over the token multiset (duplicate tokens vote
    * more than once). Per-bit ±1 votes accumulated with one pass of
    * nested higher-order functions; sign of each vote becomes the bit.
    * Built as a SQL lambda expression because dynamic shift amounts
    * are only expressible there (`functions.shiftright` takes a
    * literal Int).
    */
  def simhash64(toksSql: String): Column = {
    val t = toksSql
    expr(s"""
      aggregate(
        zip_with(
          aggregate(
            transform($t, tk -> xxhash64(tk)),
            array_repeat(0L, 64),
            (acc, h) -> zip_with(acc, sequence(0, 63),
                                 (a, b) -> a + CASE WHEN (h >> b) & 1 = 1 THEN 1L ELSE -1L END)),
          sequence(0, 63),
          (v, b) -> CASE WHEN v > 0 THEN shiftleft(1L, CAST(b AS INT)) ELSE 0L END),
        0L,
        (acc, x) -> acc + x)""")
  }

  /** Hamming distance between two SimHash longs. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Tiny stopword lists per language for the n-gram/stopword language
    * heuristic. Deliberately small — language ID here is a scoring
    * harness, not a model.
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un"),
    "fr" -> Seq("le", "la", "de", "et", "un", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我")
  )

  /** Predicted language = argmax stopword hits; ties broken by the
    * lexicographically larger code (array_max over (score, lang)
    * structs — deterministic). Zero hits → "und" (undetermined).
    */
  def langId(toks: Column): Column =
    argmaxLang(langStopwords.map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isin(words: _*)))
    })

  /** Shared language-scoring argmax: highest score wins, ties go to
    * the lexicographically larger code (array_max over (score, lang)
    * structs), zero total evidence → "und". Both heuristics AND both
    * SQL oracles replay exactly this rule — change it in one place.
    */
  private def argmaxLang(scoredByLang: Seq[(String, Column)]): Column = {
    val scored = array(scoredByLang.map { case (lang, score) =>
      struct(score.as("score"), lit(lang).as("lang"))
    }: _*)
    val best = array_max(scored)
    // <= 0 OR NULL, not === 0: NULL text makes every score
    // size(NULL) = −1 (ANSI off) or NULL — either way there is no
    // evidence, and the old equality guard passed −1 through to emit
    // a confident 'zh' (the lexicographically largest code) for a
    // document with no text at all
    when(best.getField("score").isNull || best.getField("score") <= 0, lit("und"))
      .otherwise(best.getField("lang"))
  }

  /** PII patterns as (kind, regex, replacement). The regexes use only
    * syntax common to Java regex and RE2 (character classes, bounded
    * repetition — no backrefs, no lookaround), so the same pattern
    * string drives both the Spark operator and the generated DuckDB
    * oracle; redaction applies them in THIS order (email first — an
    * address would otherwise leave its user part behind after the
    * host's dotted tail is eaten by a later rule).
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}", "<PHONE>"))

  /** Count of punctuation characters. */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?]", ""))

  /** Count of tokens appearing in the English stopword list. */
  def stopwordCount(toks: Column): Column =
    size(filter(toks, t => t.isin(langStopwords.head._2: _*)))

  /** Distinctive character n-grams per language for the n-gram
    * language heuristic (zh uses single hanzi — script presence IS
    * the signal there). Tiny by design, like [[langStopwords]].
    */
  val langNgramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th", "he", "ing", " a ", " the ", "er", "on"),
    "es" -> Seq(" el ", " la ", " que ", "os ", "as ", " un ", "ue"),
    "fr" -> Seq(" le ", " les ", " des ", " et ", "ou", "aux", "é"),
    "de" -> Seq("ch", " der ", " die ", " und ", "ei", "sch", "ß"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我")
  )

  /** N-gram language heuristic: score each language by the total
    * characters its profile n-grams cover in the text — computed as
    * `length(text) - length(replace(text, gram, ''))`, a pure
    * codegen'd string fold with no regex, no tokenizer, and an exact
    * SQL-portable replay (`replace`/`length` agree across engines).
    * Argmax with ties to the lexicographically larger code; zero
    * coverage → "und". Complements [[langId]] (token/stopword based):
    * this one needs no tokenization, so it works on unsegmented
    * scripts (zh) where whitespace tokens don't exist.
    */
  def langIdNgram(text: Column): Column =
    argmaxLang(langNgramProfiles.map { case (lang, grams) =>
      lang -> grams
        .map(g => length(text) - length(replace(text, lit(g), lit(""))))
        .reduce(_ + _)
    })
}
