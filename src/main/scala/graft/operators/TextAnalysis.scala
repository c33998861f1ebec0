package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` table: quality
  * scoring, language ID, token statistics, fingerprinting.
  * All single-pass, codegen'd column work — the only shuffle is the
  * final aggregate where one exists.
  */
object TextAnalysis {

  /** Flesch reading-ease scoring — the classic readability axis of
    * quality filtering (alongside length/punctuation/stopword ratios):
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    * deterministic proxies both engines replay exactly — sentences =
    * runs of [.!?] (min 1), syllables = vowel-group runs
    * ([aeiouyAEIOUY]+) per token, min 1 per word. Counts are exact
    * integers; the score is one double tree over them (identical
    * literals, identical divisions), rounded at the query layer.
    * Docs with zero tokens score null.
    *
    * Scale shape: pure per-row column work inside whole-stage codegen
    * — no shuffle, no explode (the syllable sum is a HOF fold over
    * the token array).
    * Output: (doc_id, n_words, n_sentences, n_syllables, flesch).
    */
  def readability(docs: DataFrame): DataFrame = {
    // materialize the token array and the regex-heavy syllable fold
    // ONCE per row (the qualityMetrics/wordShingles lesson — inline
    // trees re-run the interpreted tokenizer per reference); coalesce
    // the token array so NULL text reads as zero tokens, not the
    // size(NULL) = −1 that bypassed the zero-word guard and emitted
    // n_words = −1 (the DuckDB formulation yields NULL/0 there)
    val prepared = docs.select(
      col("doc_id"),
      col("text"),
      coalesce(tokens(col("text")), array().cast("array<string>")).as("__toks"))
      .select(
        col("doc_id"),
        size(col("__toks")).cast("long").as("__words"),
        greatest(lit(1L), regexp_count(coalesce(col("text"), lit("")), lit("[.!?]+"))
          .cast("long")).as("__sentences"),
        aggregate(
          col("__toks"), lit(0L),
          (acc, t) => acc + greatest(lit(1L), regexp_count(t, lit("[aeiouyAEIOUY]+"))
            .cast("long"))).as("__syllables"))
    prepared.select(
      col("doc_id"),
      col("__words").as("n_words"),
      col("__sentences").as("n_sentences"),
      col("__syllables").as("n_syllables"),
      when(col("__words") === 0L, null).otherwise(
        lit(206.835) -
          lit(1.015) * (col("__words").cast("double") / col("__sentences").cast("double")) -
          lit(84.6) * (col("__syllables").cast("double") / col("__words").cast("double")))
        .as("flesch"))
  }

  /** Corpus-frequency token rarity — a perplexity proxy that needs no
    * model: per document, the mean document-frequency of its DISTINCT
    * tokens and the fraction that are corpus-unique (df = 1). Low
    * mean_df / high rare_frac marks rare-vocabulary documents (OCR
    * noise, other-language leakage, genuinely novel text) — the cheap
    * first-pass signal a pipeline applies before any model scores
    * anything. All-integer counts folded through the decimal-exact
    * average pattern, so outputs are engine-portable bit-for-bit.
    *
    * Scale shape: one groupBy on token (the df table), one equi-join
    * back, one groupBy on doc — no corpus-wide windows, no all-pairs;
    * df comes from per-doc DISTINCT tokens so join fan-out is bounded
    * by per-doc vocabulary. Docs with zero tokens have no vocabulary
    * to score and drop out (by contract, matching the SQL replay).
    * Output: (doc_id, n_distinct, mean_df, rare_frac).
    */
  def tokenRarity(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // Read twice (df build + join-back) — materialize once.
    val toks = OpCache.cached(
      docs.select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok")))
    val dfTab = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    toks.join(dfTab, Seq("tok"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_distinct"),
        round(sum(col("df").cast(DecimalType(18, 4))).cast("double") / count(lit(1)), 4)
          .as("mean_df"),
        round(sum(when(col("df") === 1, 1).otherwise(0).cast(DecimalType(18, 4)))
          .cast("double") / count(lit(1)), 4).as("rare_frac"))
  }

  /** CCNet-style line-level boilerplate stripping: a line is
    * boilerplate when its trimmed form appears in at least `minDf`
    * DISTINCT documents (license headers, generator footers, nav
    * chrome — the lines that repeat verbatim across a crawl). Per
    * document, boilerplate lines are removed and the remainder is
    * reassembled in original order. Whitespace-only lines are never
    * boilerplate: they carry no signal, and all of them would
    * otherwise collapse onto one empty key whose df condemns every
    * blank separator in the corpus.
    *
    * Scale shape: one distinct + groupBy on the trimmed line (the df
    * table — each distinct (doc, line) shuffles once), one equi-join
    * back, one per-doc ordered reassembly — no corpus-wide windows,
    * no all-pairs. The df table is df >= minDf only (the boilerplate
    * set is tiny next to the corpus), so the join-back broadcasts
    * while it fits.
    * Output: (doc_id, n_lines, n_boiler, clean_text).
    */
  def stripBoilerplate(docs: DataFrame, minDf: Long = 3): DataFrame = {
    // Read twice (df build + join-back) — materialize once. NULL text
    // normalizes to "" so the doc still emits its (1-line, nothing
    // stripped) row — posexplode of a NULL split would silently drop
    // the document from the output entirely.
    val lines = OpCache.cached(
      docs.select(
        col("doc_id"),
        posexplode(split(coalesce(col("text"), lit("")), "\n", -1))
          .as(Seq("pos", "line"))))
    val boiler = lines
      .filter(length(trim(col("line"))) > 0)
      .select(col("doc_id"), trim(col("line")).as("lkey"))
      .distinct()
      .groupBy("lkey").agg(count(lit(1)).as("line_df"))
      .filter(col("line_df") >= minDf)
      .select("lkey")
    lines
      .join(Broadcasting.maybeBroadcast(boiler),
        trim(col("line")) === col("lkey"), "left")
      .withColumn("__boiler", col("lkey").isNotNull)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__boiler"), 1).otherwise(0)).as("n_boiler"),
        // when() without otherwise yields NULL for kept=false rows and
        // collect_list drops NULLs — the sort key is the unique pos.
        array_join(
          transform(
            array_sort(collect_list(
              when(!col("__boiler"), struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          "\n").as("clean_text"))
  }

  /** Per-document quality metrics: char/token counts, punctuation
    * ratio, stopword ratio, mean token length. Ratios guard /0.
    */
  def qualityMetrics(docs: DataFrame): DataFrame = {
    // tokens materialized once per row — the three token expressions
    // below would otherwise each re-run the tokenizer
    val toks = col("__toks")
    docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("__toks"))
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_m"),
        size(toks).as("n_tokens"),
        punctCount(col("text")).as("n_punct"),
        stopwordCount(toks).as("n_stop"),
        aggregate(toks, lit(0), (acc, t) => acc + length(t)).as("token_chars"))
      .select(
        col("doc_id"),
        col("n_chars_m"),
        col("n_tokens"),
        when(col("n_chars_m") === 0, 0.0)
          .otherwise(round(col("n_punct").cast("double") / col("n_chars_m"), 4)).as("punct_ratio"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(round(col("n_stop").cast("double") / col("n_tokens"), 4)).as("stopword_ratio"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(round(col("token_chars").cast("double") / col("n_tokens"), 4)).as("avg_token_len"))
  }

  /** Per-document repetition metrics (the Gopher-style quality signal
    * for detecting degenerate/boilerplate text): token count, distinct
    * token count, the highest single-token frequency, and the
    * repetition ratio 1 - distinct/total in basis points.
    *
    * The ratio is emitted as integer basis points via floor(1e4·x):
    * both engines do identical IEEE-754 double math, and floor (unlike
    * round-half) has no engine-specific tie-breaking — so the value is
    * bit-portable for the oracle. Shape: explode → (doc, term) count
    * with map-side partial aggregation → per-doc rollup; both shuffles
    * carry counts, never text.
    */
  def repetitionMetrics(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        max(col("c")).as("max_term_count"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct_tokens"), col("max_term_count"),
        floor(lit(10000.0) * (lit(1.0) - col("n_distinct_tokens").cast("double") / col("n_tokens")))
          .cast("long").as("repetition_bp"))

  /** Per-document predicted language vs the labeled one. */
  def languageId(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("lang").as("lang_given"),
      langId(tokens(col("text"))).as("lang_pred"))

  /** Token statistics rolled up per language label. */
  def tokenStatsByLang(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs
      .select(col("lang"), size(toks).as("n_tokens"), length(col("text")).as("n_chars_m"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        round(sum(col("n_tokens").cast("long")).cast("double") / count(lit(1)), 4).as("avg_tokens"),
        sum(col("n_chars_m").cast("long")).as("total_chars"))
  }

  /** Text normalization for dedup/tokenization: lowercase, punctuation
    * → space, whitespace collapsed, trimmed.
    */
  def normalizeText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(lower(c), "[.,;:!?]", " "), "\\s+", " "))

  /** Quality gate with first-failing-rule attribution — the filter
    * step of a training-data pipeline. Rules in order: too few tokens,
    * too much punctuation, degenerate mean token length.
    */
  /** The verdict when-chain over a MATERIALIZED token column — shared
    * by [[qualityVerdict]] (reporting) and [[qualityFilter]] (the
    * per-row gate), so the two can never drift.
    */
  private def verdictExpr(
      text: Column, toks: Column,
      minTokens: Int, maxPunctRatio: Double, minAvgTokenLen: Double): Column =
    when(size(toks) < minTokens, "too_short")
      .when(punctCount(text).cast("double") / length(text) > maxPunctRatio, "too_punct")
      .when(
        aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("double") /
          size(toks) < minAvgTokenLen,
        "low_avg_token_len")
      .otherwise("kept")

  def qualityVerdict(
      docs: DataFrame,
      minTokens: Int = 40,
      maxPunctRatio: Double = 0.2,
      minAvgTokenLen: Double = 4.0): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), col("text"), tokens(col("text")).as("__toks"))
      .select(
        col("doc_id"), col("lang"),
        verdictExpr(col("text"), col("__toks"),
          minTokens, maxPunctRatio, minAvgTokenLen).as("verdict"))

  /** Per-document character diversity: distinct-char count and the
    * Simpson diversity index 1 - Σc²/N² over character frequencies —
    * the tokenizer-free degenerate-text signal (works on unsegmented
    * scripts; a one-character flood scores 0). Emitted as floor basis
    * points: every intermediate is an exact integer below 2⁵³, so the
    * single division is the only float op and the value replays
    * bit-identically in any engine (unlike an entropy variant, whose
    * ln() carries no cross-engine rounding guarantee).
    * Shape: per-(doc, char) count with map-side combine, then per-doc
    * rollup — shuffles carry counts, never text.
    */
  def charDiversity(docs: DataFrame): DataFrame =
    docs
      // Spark split('', '') yields [""] — a phantom character row that
      // would score an empty doc as 1 char (and diverge from SQL
      // replays, where splitting '' yields nothing). Empty docs have
      // no diversity to measure: drop them, matching the oracle.
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy("doc_id", "ch")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_chars_m"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("c") * col("c")).as("sum_sq"))
      .select(
        col("doc_id"), col("n_chars_m"), col("n_distinct_chars"),
        floor(lit(10000.0)
          * (col("n_chars_m") * col("n_chars_m") - col("sum_sq")).cast("double")
          / (col("n_chars_m") * col("n_chars_m")).cast("double"))
          .cast("long").as("diversity_bp"))

  /** PII scan + redaction: per-row match counts for each pattern in
    * [[graft.functions.TextFunctions.piiPatterns]] and the text with
    * all of them replaced (in pattern order) by their placeholders —
    * the scrubbing step of a training-data pipeline. Pure codegen'd
    * regexp work, no shuffle; counts are taken on the ORIGINAL text so
    * a row's `n_<kind>` columns always describe what the redaction
    * removed.
    */
  def piiScan(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val counted = graft.functions.TextFunctions.piiPatterns.foldLeft(docs) {
      case (df, (kind, pattern, _)) =>
        // explicit null guard: size(regexp_extract_all(NULL)) is −1
        // with ANSI off (not NULL — coalesce can't catch it), which
        // silently DECREMENTED corpus-level scrub counts by one per
        // null-text row; a null text has zero matches
        df.withColumn(s"n_$kind",
          when(col(textCol).isNull, lit(0))
            .otherwise(size(regexp_extract_all(col(textCol), lit(pattern), lit(0)))))
    }
    val redacted = graft.functions.TextFunctions.piiPatterns.foldLeft(col(textCol)) {
      case (c, (_, pattern, replacement)) => regexp_replace(c, pattern, replacement)
    }
    counted.withColumn("redacted", redacted)
  }

  /** Fixed-size overlapping character chunks — the context-window
    * splitter feeding embedding/indexing pipelines. Chunk `i` covers
    * characters `[i·step, i·step + chunkSize)` with
    * `step = chunkSize - overlap`; the last chunk may run short, empty
    * text yields no chunks. Chunk count is 1 while the text fits in
    * one chunk, else ceil((len - chunkSize)/step) + 1 — the count
    * stops once a chunk reaches the end, so no chunk is ever fully
    * contained in its predecessor (a naive floor((len-1)/step)+1
    * emits a redundant sub-overlap tail whenever len mod step lands
    * in [1, overlap]). One generated row per chunk via posexplode —
    * no shuffle, and chunk bodies are born distributed (never
    * collected or concatenated per document).
    */
  def chunkText(
      docs: DataFrame,
      chunkSize: Int,
      overlap: Int,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(chunkSize > 0, s"chunkSize $chunkSize must be positive")
    require(overlap >= 0 && overlap < chunkSize, s"overlap $overlap must be in [0, chunkSize)")
    val step = chunkSize - overlap
    val len = length(col(textCol))
    val n = when(len === 0, lit(0))
      .when(len <= chunkSize, lit(1))
      .otherwise((ceil((len - chunkSize).cast("double") / step) + 1).cast("int"))
    docs
      .select(col(idCol), col(textCol).as("__t"), n.as("__n"))
      .select(
        col(idCol),
        posexplode(
          // guard: sequence(0, -1) would DESCEND, not produce empty
          when(col("__n") === 0, array().cast("array<string>"))
            .otherwise(transform(
              sequence(lit(0), col("__n") - 1),
              i => col("__t").substr(i * step + 1, lit(chunkSize)))))
          .as(Seq("chunk_id", "chunk")))
  }

  /** Kept subset under [[qualityVerdict]]'s rules — computed as a
    * pure per-row FILTER (the shared [[verdictExpr]] inline on the
    * corpus), not the old self semi-join: the verdict is row-local,
    * so the join formulation tokenized the corpus twice and shuffled
    * BOTH full-corpus sides on doc_id for rows a single scan decides.
    * Same rows, zero shuffles, one tokenize pass.
    */
  def qualityFilter(docs: DataFrame, minTokens: Int = 40, maxPunctRatio: Double = 0.2, minAvgTokenLen: Double = 4.0): DataFrame =
    docs
      .withColumn("__qf_toks", tokens(col("text")))
      .filter(verdictExpr(col("text"), col("__qf_toks"),
        minTokens, maxPunctRatio, minAvgTokenLen) === "kept")
      .drop("__qf_toks")

  /** RAKE keyword extraction (Rose et al. 2010, public): candidate
    * phrases are maximal stopword-free token runs, each word scores
    * degree/frequency over the candidate table, a phrase scores the
    * sum of its words. Portability: word scores are quantized to
    * integer micro-units BEFORE the phrase sum (sum of longs — the
    * addition order a groupBy cannot pin goes away), one double
    * division at the end.
    *
    * Scale shape: phrase extraction is one window pass per doc (the
    * sessionizer boundary idiom on stopword flags), word stats one
    * vocabulary-sized groupBy joined back broadcast. Output: top-`k`
    * phrases by (score desc, phrase asc) with corpus occurrence
    * counts.
    */
  def rakeKeywords(docs: DataFrame, maxPhraseLen: Int = 4, topK: Int = 20): DataFrame = {
    val stops = graft.functions.TextFunctions.langStopwords.head._2
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("pos").asc)
    val frame = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val toks = docs.select(
      col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val grouped = toks
      .withColumn("is_stop", col("tok").isin(stops: _*).cast("int"))
      .withColumn("grp", sum(col("is_stop")).over(frame))
      .filter(col("is_stop") === 0)
    val phrases = OpCache.cached(
      grouped
        .groupBy(col("doc_id"), col("grp"))
        .agg(array_sort(collect_list(struct(col("pos"), col("tok")))).as("pt"))
        .select(
          concat_ws(" ", transform(col("pt"), x => x.getField("tok"))).as("phrase"),
          size(col("pt")).as("plen"))
        .filter(col("plen") <= maxPhraseLen))
    val words = phrases
      .select(explode(split(col("phrase"), " ")).as("word"), col("plen"))
      .groupBy("word")
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .withColumn(
        "score_micro",
        round(col("degree").cast("double") / col("freq").cast("double") * lit(1e6))
          .cast("long"))
    phrases
      .groupBy("phrase").agg(count(lit(1)).as("n_occurrences"))
      .select(
        col("phrase"), col("n_occurrences"),
        explode(split(col("phrase"), " ")).as("word"))
      .join(Broadcasting.maybeBroadcast(words.select("word", "score_micro")), Seq("word"))
      .groupBy("phrase", "n_occurrences")
      .agg(sum(col("score_micro")).as("psm"))
      .select(
        col("phrase"),
        (col("psm").cast("double") / lit(1e6)).as("score"),
        col("n_occurrences"))
      .orderBy(col("score").desc, col("phrase").asc)
      .limit(topK)
  }

  /** zlib compression ratio per document — the model-free
    * redundancy/entropy signal of dataset curation (templated or
    * repetitive text compresses far below natural prose; random noise
    * barely compresses). `ratio = deflate(text)/len(utf8)` with the
    * JDK Deflater at level 6, raw mode: deterministic for a fixed JVM
    * — certified by spec (no SQL analogue exists, so the driver check
    * is rows-only, like the multimodal JVM decodes).
    *
    * mapPartitions boundary (the [[Multimodal]] justification: no
    * Catalyst expression can run zlib): ONE Deflater reused per
    * partition, allocation-free inner loop. Output: (doc_id, n_bytes,
    * n_compressed, ratio) — ratio null for null/empty text.
    */
  def compressionRatio(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6, true)
        // release the NATIVE zlib buffers when the task ends — without
        // end(), each task's Deflater holds off-heap memory until GC
        // finalization, which on a quiet heap accumulates across a
        // long session's many partitions with no heap signal until
        // the container is OOM-killed
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          if (text == null || text.isEmpty) (id, 0L, 0L, null.asInstanceOf[java.lang.Double])
          else {
            val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            deflater.reset()
            deflater.setInput(raw)
            deflater.finish()
            var total = 0L
            while (!deflater.finished()) total += deflater.deflate(buf)
            (id, raw.length.toLong, total,
              java.lang.Double.valueOf(total.toDouble / raw.length))
          }
        }
      }
      .toDF("doc_id", "n_bytes", "n_compressed", "ratio")
  }
}
