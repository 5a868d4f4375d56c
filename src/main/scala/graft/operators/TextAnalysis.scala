package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis surface for training-data pipelines: token statistics,
  * quality scoring, n-gram-heuristic language ID, and document
  * fingerprinting. All pure column expressions (codegen'd, no UDFs);
  * ratios derive from integer counts so doubles match the oracle
  * bit-for-bit.
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "of", "and", "in", "to", "is")

  private def tokens(text: Column): Column = split(trim(text), " ")

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Per-language corpus statistics (token counting at aggregate
    * granularity).
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_char"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        sum(col("n_char")).as("total_chars"))
      .withColumn("avg_tokens", col("total_tokens").cast("double") / col("n_docs"))
      .orderBy("lang")

  /** Per-document quality signals: token count, mean token length,
    * stopword ratio — the length/punct/stopword heuristics used to
    * filter pretraining corpora.
    */
  def qualityScores(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") /
          size(toks)).as("avg_token_len"),
        (countIn(toks, stopwords).cast("double") / size(toks))
          .as("stopword_ratio"))
      .orderBy("doc_id")
  }

  /** Scalar quality for duplicate-cluster representative selection
    * ([[Dedup.survivors]]): token count — the content-volume signal —
    * discounted by half when the stopword ratio falls below the prose
    * floor used in [[graft.operators.Sampling.qualityFilter]]. Pure
    * column expression, codegen'd.
    */
  def representativeQuality(text: Column): Column = {
    val toks = tokens(text)
    val stopRatio = countIn(toks, stopwords).cast("double") / size(toks)
    size(toks).cast("double") * when(stopRatio >= 0.05, 1.0).otherwise(0.5)
  }

  /** Top-quantile share kept per source by [[qualityCalibrated]]. */
  val calibratedKeepShare = 0.25

  /** Per-source quality calibration — the fairness step before any
    * GLOBAL quality cut: classifier/heuristic score distributions
    * differ by source (one crawl's median beats another's 90th
    * percentile), so a single global threshold silently empties the
    * low-scoring source. Calibrating to within-source percentile rank
    * and cutting at the same quantile everywhere keeps the per-source
    * mix intact while still dropping each source's worst quarter.
    *
    * Engine-exactness: the score is the survivor-selection quality
    * (token count halved under the prose floor, with the floor as the
    * INTEGER predicate `20·stopwords ≥ tokens` — the Gopher integer
    * discipline, no float ratio); ranks are `row_number` over
    * (score desc, doc_id) per source; the calibrated value is one
    * rounded division of exact integers. Window partitions by source
    * — bounded cardinality, each partition corpus/|sources| — and at
    * 100× the rank swaps for per-source `approx_percentile` cutoffs
    * broadcast back (the [[unigramNll]] scale note).
    */
  def qualityCalibrated(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val score = (size(toks) *
      when(countIn(toks, stopwords) * 20 >= size(toks), 2).otherwise(1))
      .cast("long")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
    val wc = Window.partitionBy(col("source"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), score.as("score"))
      .withColumn("src_rank", row_number().over(w).cast("long"))
      .withColumn("n_src", count(lit(1)).over(wc))
      .withColumn("cal",
        round(col("src_rank").cast("double") / col("n_src"), 6))
      .filter(col("cal") <= calibratedKeepShare)
      .select("doc_id", "source", "score", "src_rank", "cal")
      .orderBy("doc_id")
  }

  /** Stopword-overlap language-ID heuristic scored against the labeled
    * lang column: confusion counts per (labeled, predicted) pair.
    */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val en = countIn(toks, Seq("the", "and", "of", "is"))
    val de = countIn(toks, Seq("der", "die", "das", "und"))
    val fr = countIn(toks, Seq("le", "la", "et", "les"))
    val es = countIn(toks, Seq("el", "los", "las", "y"))
    val predicted =
      when(en >= de && en >= fr && en >= es && en > 0, "en")
        .when(de >= fr && de >= es && de > 0, "de")
        .when(fr >= es && fr > 0, "fr")
        .when(es > 0, "es")
        .otherwise("und")
    Tables(spark, dir, "documents")
      .select(col("lang"), predicted.as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** Order-insensitive document fingerprint: md5 over the sorted
    * distinct token set (bag-of-words identity; robust to shuffling).
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(tokens(col("text")))), " ")
          .cast("binary")).as("fingerprint"))
      .orderBy("doc_id")

  /** BPE-ish subword counting next to whitespace tokens: alnum runs and
    * single punctuation marks each count as one subword (the shape a
    * byte-pair tokenizer's pre-tokenization produces). `fertility` =
    * subwords per whitespace token — the standard tokenizer-cost metric.
    * Pure regex count, codegen'd, narrow.
    */
  def subwordStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z0-9]+|[^A-Za-z0-9 ]"))
          .cast("long").as("n_subwords"))
      .withColumn("fertility",
        col("n_subwords").cast("double") / col("n_ws_tokens"))
      .orderBy("doc_id")
  }

  /** Exact heavy hitters: the top-5 most frequent tokens per language —
    * the vocabulary-inspection pass corpus analysis starts with. One
    * explode + map-side-combined count on (lang, token), then a tiny
    * per-language top-k window over the (vocab-sized, not corpus-sized)
    * count table. At 100 TB the count table is the reduction point;
    * for a skew-proof variant the same shape runs over a count-min
    * sketch, but exact counts stay cheap while vocab ≪ corpus.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc, col("token"))
    Tables(spark, dir, "documents")
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select("lang", "rk", "token", "n")
      .orderBy("lang", "rk")
  }

  /** PII-signal counts per document — the redaction/filter audit every
    * released training corpus runs: email addresses, URLs, and long
    * digit runs (account/id-like). Patterns avoid lookaround and
    * escapes that differ between regex engines, so Java (Spark) and
    * RE2 (DuckDB oracle) count identically; one narrow codegen'd scan,
    * three `regexp_count`s.
    */
  def piiSignals(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit(piiEmailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(piiUrlRe)).cast("long").as("n_urls"),
        regexp_count(col("text"), lit(piiIdRe)).cast("long").as("n_idlike"))
      .withColumn("has_pii",
        col("n_emails") + col("n_urls") + col("n_idlike") > 0)
      .orderBy("doc_id")

  /** The [[piiSignals]] patterns, shared with [[piiRedact]] so the
    * audit and the transform cannot drift. Lookaround-free and
    * engine-parallel (Java on the Spark side, RE2 in the oracle).
    */
  val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiUrlRe = "https?://[^ ]+"
  val piiIdRe = "[0-9]{6,}"

  /** PII redaction transform — the act that follows the [[piiSignals]]
    * audit: rewrite each document with typed placeholders, applied in
    * a FIXED order (email → URL → id-like digit runs) on the
    * progressively-redacted text, so a digit run inside a URL is
    * consumed by `<URL>` and never double-redacted, and the reported
    * counts are the replacements actually made (not independent
    * matches on the original). Placeholders contain no `@`, digits,
    * or `://`, so redaction cannot cascade. The output carries
    * `md5(redacted)` — the hash gate certifies the rewritten BYTES,
    * not just counts — plus the redacted length for size accounting.
    * One narrow codegen'd scan, no shuffle beyond the presentation
    * sort.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val afterEmail = regexp_replace(col("text"), lit(piiEmailRe), lit("<EMAIL>"))
    val afterUrl = regexp_replace(afterEmail, lit(piiUrlRe), lit("<URL>"))
    val redacted = regexp_replace(afterUrl, lit(piiIdRe), lit("<ID>"))
    Tables.spread(spark, dir, "documents") // spread: 3 regex passes/row
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit(piiEmailRe)).cast("long").as("n_emails"),
        regexp_count(afterEmail, lit(piiUrlRe)).cast("long").as("n_urls"),
        regexp_count(afterUrl, lit(piiIdRe)).cast("long").as("n_idlike"),
        length(redacted).cast("long").as("redacted_len"),
        md5(redacted).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Repetition / diversity signals per document — the Gopher-style
    * within-document repetition filters corpus cleaning applies after
    * cross-document dedup: type-token ratio (distinct / total tokens),
    * duplicate-bigram fraction, and the fraction of bigram mass
    * claimed by the single most-repeated bigram (top-2-gram coverage).
    * Docs under 2 tokens have no bigram and are excluded symmetrically
    * in the oracle.
    *
    * Shape: ONE corpus scan computes the per-doc fields and the bigram
    * array, materialized before the explode (`localCheckpoint` — the
    * single-job analog of writing the projection; Generate would
    * otherwise re-evaluate the array expressions per EXPLODED row,
    * measured 3.7× slower at sf0.1). Then one explode + two
    * map-side-combined aggregates keyed on doc_id. Ratios are IEEE
    * divisions of exact integer counts, so they hash identically
    * cross-engine without rounding.
    */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val bigrams = zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat(a, lit(" "), b))
    Tables(spark, dir, "documents")
      .filter(size(toks) >= 2)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        bigrams.as("bigs"))
      .localCheckpoint()
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        explode(col("bigs")).as("bg"))
      .groupBy(col("doc_id"), col("n_tokens"), col("n_distinct"), col("bg"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"), col("n_tokens"), col("n_distinct"))
      .agg(sum(col("n")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        max(col("n")).as("top_n"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_distinct").cast("double") / col("n_tokens"))
          .as("type_token_ratio"),
        (lit(1.0) - col("n_distinct_bigrams").cast("double") / col("n_bigrams"))
          .as("dup_bigram_frac"),
        (col("top_n").cast("double") / col("n_bigrams"))
          .as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Winnowing parameters for [[winnowPassagePairs]]: k-gram width,
    * selection window, df-cap on boilerplate fingerprints, and the
    * minimum shared-fingerprint count to report a pair. Guarantee: any
    * shared passage of ≥ k + w − 1 = 23 chars yields ≥ 1 shared
    * fingerprint.
    */
  val winnowK = 16
  val winnowW = 8
  val winnowMaxDf = 10
  val winnowMinShared = 3

  /** Cross-document repeated-passage candidates via winnowed
    * fingerprints (the MOSS scheme): each doc keeps the per-window
    * minima of its k-gram rolling hashes (native codegen'd
    * [[graft.functions.WinnowFingerprints]], ~2/(w+1) the density of
    * the full hash set), boilerplate fingerprints are dropped by a
    * broadcast df-cap blocklist (same discipline as the Jaccard
    * shingle join), and docs sharing ≥ [[winnowMinShared]] fingerprints
    * become passage-overlap pairs. This detects COPIED SPANS — a
    * finer-grained signal than whole-document MinHash, and the missing
    * granularity between exact dedup and near-dup: quotation farms,
    * template boilerplate, cross-posted passages.
    *
    * Scale shape: fingerprint table is ~2/(w+1) of corpus chars, the
    * join is equi on fingerprint value with df-bounded buckets — never
    * all-pairs. Memoized per session and data version: the pairs row
    * and the duplication-graph PageRank both consume it, and the
    * fingerprint front-end costs ~1.5 s at sf0.1.
    */
  def winnowPassagePairs(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(graft.DataVersion.sessionKey(spark, dir, "documents", "winnow"))(
      computeWinnowPairs(spark, dir).localCheckpoint())

  private[graft] def computeWinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val sel = Tables(spark, dir, "documents")
      .filter(length(col("text")) >= winnowK)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFingerprints.of(
          col("text"), winnowK, winnowW)).as("fp"))
      .localCheckpoint() // feeds blocklist + both join sides
    val hot = sel.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > winnowMaxDf)
      .select("fp")
    val kept = sel.join(broadcast(hot), Seq("fp"), "left_anti")
    kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= winnowMinShared)
      .orderBy("a_id", "b_id")
  }

  /** Rolling-hash document fingerprint (Rabin-Karp polynomial, base 31
    * mod 2^31−1): the full-content hash plus the minimum over all
    * 16-char window hashes (the winnowing primitive used for local
    * similarity / plagiarism-style fingerprints). One narrow codegen'd
    * O(n) pass via the native [[graft.functions.RollingHash]]
    * expression — the equivalent nested higher-order-function form runs
    * interpreted at O(window·n) and was ~70× slower at sf0.1.
    */
  def rollingHashes(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("rh", graft.functions.RollingHash.of(col("text"), 16))
      .select(
        col("doc_id"),
        element_at(col("rh"), 1).as("content_hash"),
        element_at(col("rh"), 2).as("winnow_min"))
      .orderBy("doc_id")

  /** CCNet-style unigram-LM quality scoring: train a per-language
    * unigram model on the corpus itself (token count / language
    * total), score each document by its mean negative log-likelihood,
    * and bucket documents into head/middle/tail terciles per language —
    * the perplexity filter pretraining pipelines run before anything
    * expensive. No smoothing is needed: the model is trained on the
    * same corpus it scores, so every token has mass.
    *
    * Scale shape: one corpus pass explodes to (doc, lang, token) and
    * is immediately map-side-combine counted; the LM (vocab-sized) and
    * language totals (1 row per lang) aggregate FROM that reduction;
    * scoring joins on the (lang, token) key — one shuffle — and the
    * terciles are one `ntile` window per language. At 100 TB, swap the
    * rank window for per-lang `approx_percentile` cutoffs broadcast
    * back (the [[Similarity.normOutliers]] pattern) — exact tercile
    * boundaries don't matter there and the per-lang sort disappears.
    *
    * Float parity: per-token log-likelihoods are identical-shape
    * doubles (integer counts → one division → `ln`), summed per doc by
    * an ordered fold over tokens sorted ascending — the same
    * order-pinning discipline as the IVF mean update — then rounded to
    * 4 decimals. Buckets are assigned by RANK (`ntile` over a total
    * order with doc_id tiebreak), never by comparing a score against
    * an interpolated threshold: interpolation arithmetic differs in
    * shape across engines (`a+(b-a)f` vs `a(1-f)+bf`), and a one-ULP
    * cutoff difference flips boundary documents (observed at sf0.1).
    */
  def unigramNll(spark: SparkSession, dir: String): DataFrame = {
    // (doc_id, lang, token, tf): the only corpus-sized intermediate,
    // checkpointed once — it feeds the LM counts AND the doc scoring
    val tf = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "lang", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val lm = tf.groupBy("lang", "token").agg(sum(col("tf")).as("cnt"))
    val totals = lm.groupBy("lang").agg(sum(col("cnt")).as("total"))
    val term = tf.join(lm, Seq("lang", "token"))
      .join(broadcast(totals), "lang")
      .select(col("doc_id"), col("lang"), col("token"), col("tf"),
        (col("tf").cast("double") *
          log(col("cnt").cast("double") / col("total").cast("double"))).as("ll"))
    val scored = term.groupBy("doc_id", "lang")
      .agg(sum(col("tf")).as("n_tokens"),
        sort_array(collect_list(struct(col("token"), col("ll")))).as("xs"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(-aggregate(col("xs"), lit(0.0),
          (acc, x) => acc + x.getField("ll")) / col("n_tokens"), 4).as("nll"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("nll"), col("doc_id"))
    scored
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("nll"),
        when(ntile(3).over(w) === 1, "head")
          .when(ntile(3).over(w) === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** Stop list for the Gopher "contains ≥ 2 distinct stop words" rule.
    * The paper uses its own eight English function words; the rule is
    * list-parametric, and the engine ships its configured list (the
    * same one [[qualityScores]] and the survivor scorer use) so the
    * gate discriminates on the corpus it actually filters — the
    * synthetic vocabulary contains only two of the paper's eight, which
    * would make the rule vacuously false corpus-wide.
    */
  val gopherStopWords: Seq[String] =
    Seq("the", "a", "of", "and", "in", "to", "is")

  /** Gopher-rule document filters (Rae et al. 2021, appendix A1.1) —
    * the canonical pretraining quality gate, complementing the
    * trained-classifier and perplexity filters with hand rules. Every
    * threshold is evaluated in INTEGER arithmetic (e.g. mean word
    * length ∈ [3, 10] as `3·words ≤ chars ≤ 10·words`), so the row is
    * ratio-free and engine-exact. One narrow codegen'd pass per doc;
    * the two per-word filters run DuckDB-matching list lambdas (per
    * doc, off the hot path).
    *
    * Word-length accounting uses the single-space convention the
    * corpus follows (`sum(word lengths) = len(trim) − (words − 1)`),
    * stated identically on both sides.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val words = split(trim(col("text")), " ")
    val lines = split(col("text"), "\n")
    val nWords = size(words).cast("long")
    val nLines = size(lines).cast("long")
    val sumLen = (length(trim(col("text"))) - (size(words) - 1)).cast("long")
    val nAlpha = size(expr(
      """filter(split(trim(text), ' '), w -> w rlike '[A-Za-z]')""")).cast("long")
    // stop words match on the letters-only lowercase token, so "The,"
    // counts as "the" — without this the rule is vacuously false on
    // punctuated prose
    val nStop = size(array_intersect(
      array_distinct(transform(words,
        w => lower(regexp_replace(w, "[^A-Za-z]", "")))),
      array(gopherStopWords.map(lit): _*))).cast("long")
    val nBullet = size(expr(
      """filter(split(text, '\n'), l -> l rlike '^[-*•] ')""")).cast("long")
    val nEllLines = size(expr(
      """filter(split(text, '\n'), l -> l rlike '\\.\\.\\.$')""")).cast("long")
    val nSymbols = (regexp_count(col("text"), lit("#")) +
      regexp_count(col("text"), lit("\\.\\.\\."))).cast("long")
    val checks = Seq(
      "wordcount_ok" -> (nWords >= 50L && nWords <= 100000L),
      "mean_wl_ok" -> (sumLen >= nWords * 3L && sumLen <= nWords * 10L),
      "symbol_ok" -> (nSymbols * 10L < nWords),
      "bullet_ok" -> (nBullet * 10L < nLines * 9L),
      "ellipsis_ok" -> (nEllLines * 10L < nLines * 3L),
      "alpha_ok" -> (nAlpha * 5L >= nWords * 4L),
      "stop_ok" -> (nStop >= 2L))
    Tables.spread(spark, dir, "documents") // spread: regex-rule kernel
      .select(col("doc_id") +: nWords.as("n_words") +:
        checks.map { case (n, c) => c.as(n) }: _*)
      .withColumn("gopher_pass",
        checks.map(c => col(c._1)).reduce(_ && _))
      .orderBy("doc_id")
  }

  /** Cut points of the Zipf coverage audit. */
  val zipfCutoffs = Seq(10L, 100L, 1000L)

  /** Zipf / vocabulary-coverage audit: the fraction of all corpus
    * token OCCURRENCES covered by the k most frequent word types, at
    * each [[zipfCutoffs]] cut — the curve a tokenizer/vocabulary
    * sizing decision reads (how much of the stream do the top-k words
    * absorb; how heavy is the tail a subword model must carry).
    *
    * Scale shape: one corpus scan into a map-side-combined word-count
    * reduction (vocab-sized output); frequency ranks come from
    * [[Ranks.global]]'s two-pass range sort over the VOCAB table (not
    * the corpus); the three cuts are a tiny literal cross-join over
    * the ranked vocab and the grand total is summed from the rank
    * pass's own checkpointed frame (never a second corpus scan),
    * riding back as a 1-row broadcast. Counts and ranks are exact
    * integers; the single coverage division is rounded at 6.
    */
  def zipfCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val ranked = Ranks.global(counts, "rank", col("c").desc, col("w"))
    val total = ranked.agg(sum(col("c")).as("total_occurrences"))
    val ks = zipfCutoffs.toDF("k")
    ranked.crossJoin(broadcast(ks))
      .filter(col("rank") <= col("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("covered"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("n_types"), col("covered"),
        col("total_occurrences"),
        round(col("covered").cast("double") / col("total_occurrences"), 6)
          .as("coverage"))
      .orderBy("k")
  }

  /** Per-document character-bigram Shannon entropy — the
    * gibberish/keyboard-mash detector that complements the word-level
    * quality rules: natural text sits in a mid-entropy band, repeated
    * characters ("aaaa…") read near 0, and uniform random characters
    * read near the log of the alphabet size. H = −Σ p·ln p over the
    * doc's bigram distribution, with the float terms folded in SORTED
    * BIGRAM ORDER per document (doc-bounded state — the unigram-NLL
    * discipline; no unordered float sum), counts exact integers,
    * H rounded at 4.
    *
    * Scale shape: entropy needs only each document's OWN characters,
    * so the whole computation is ONE codegen'd kernel pass per row
    * ([[graft.functions.BigramEntropyStats]] — histogram + sorted
    * p·ln p fold fused, state bounded by the document) with ZERO
    * exchanges; the only shuffle left is the presentation sort. This
    * replaced the round-9 explode form, which shuffled every bigram
    * OCCURRENCE into a corpus×(len−1)-row (doc, bigram) reduction for
    * a per-document answer — no corpus-sized shuffle to die on at
    * 100×, and the float fold is bit-identical (the kernel replays
    * the same sorted-order p·ln p sequence the composed form folded).
    */
  def bigramEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"),
        graft.functions.BigramEntropyStats(col("text")).as("st"))
      .select(col("doc_id"),
        col("st.n_bigrams").as("n_bigrams"),
        col("st.n_distinct").as("n_distinct"),
        round(-col("st.plogp_sum"), 4).as("entropy"))
      .orderBy("doc_id")

  /** Per-document n-gram novelty against everything EARLIER in the
    * corpus (doc_id order = ingest order): the fraction of a doc's
    * distinct char-8-grams whose FIRST corpus occurrence is this doc.
    * Early documents score ~1, later near-duplicates ~0 — the novelty
    * curve a dedup-aware curriculum or ingest monitor reads (a
    * falling corpus-level curve means the crawl is saturating).
    *
    * Exact integers throughout: first occurrence is one min-aggregate
    * per gram, novelty one rounded division.
    *
    * Scale shape — and why there is NO gram-keyed join: each gram is
    * novel for exactly its min-doc, so n_novel(d) is just a COUNT of
    * the firsts table grouped by first_doc — the round-9 formulation's
    * `grams ⋈ firsts` join back onto the corpus-sized gram table
    * (which serialized a hot reducer whenever one boilerplate gram
    * recurred across much of the corpus, and leaned on AQE skew
    * splitting that its fused aggregate plan could not even match) is
    * gone. What remains: two map-side-combined aggregates over the
    * gram table — the hot gram is ABSORBED by partial aggregation
    * (every mapper emits one pre-combined row per gram, so the hot
    * key arrives at its reducer as ~numMappers rows, not corpus
    * rows; the planted hot-gram spec pins this shape) — and a join
    * of two doc-cardinality frames on doc_id, balanced by
    * construction. TRUE COST, stated plainly: the `localCheckpoint`
    * MATERIALIZES the full exploded distinct-8-gram table (~8× the
    * corpus text bytes) to executor disk — the price of feeding both
    * aggregates from one explode instead of recomputing it.
    */
  def noveltyScores(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.spread(spark, dir, "documents") // spread: gram explode
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"),
        explode(array_distinct(expr(
          "transform(sequence(1, length(text) - 7), i -> substring(text, i, 8))")))
          .as("g"))
      .localCheckpoint() // read by both the firsts and per-doc counts
    val perDoc = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val novelPerDoc = grams.groupBy("g").agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    perDoc.join(novelPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_grams"), 6).as("novelty"))
      .orderBy("doc_id")
  }

  /** Line width (words) for [[lineDedup]]'s lineation. C4 (Raffel et
    * al. 2020, §2.2) deduplicates on newline-delimited lines; the
    * synthetic corpus has no newlines and no sentence punctuation
    * (documented corpus physics), so the registered lineation is
    * fixed-width word windows — a deterministic rule both engines
    * replay exactly. A newline corpus would pass `split(text, '\n')`
    * through the identical count/first-occurrence/reassembly pipeline.
    */
  val lineWords = 5

  /** C4-style corpus-level line dedup (Raffel et al. 2020): drop every
    * LINE whose exact text occurs more than once in the corpus, keep
    * only the first occurrence — smallest (doc_id, line_no) — and
    * reassemble each document from its kept lines in order, reporting
    * removed-line/char counts. The most widely deployed text-dedup
    * transform after exact-document; catches boilerplate (headers,
    * cookie banners) that document-level MinHash leaves untouched.
    *
    * First-occurrence keys are scaled integers doc_id·10⁵ + line_no
    * (exact, min-aggregable; line_no < 10⁵ holds for any document
    * under ~500k words at this width — a corpus violating it would
    * key on the pair instead). Reassembly sorts the per-doc collected
    * (line_no, keep, line) structs — line_no is unique per doc, so the
    * order is total — and joins kept lines with single spaces; a fully
    * duplicated document reassembles to the empty string, never NULL.
    *
    * Scale shape (100 TB): one narrow explode (the split array binds
    * in its own projection so CollapseProject cannot re-evaluate the
    * split per emitted line), one map-side-combined count/min
    * aggregate keyed on line text (a boilerplate hot line arrives at
    * its reducer pre-combined, ~numMappers rows), one LEFT join of
    * the line table against only the DUPLICATED firsts (c > 1 — the
    * keep verdict needs nothing from singleton lines, which at C4
    * scale are the overwhelming majority), and one per-doc
    * collect_list whose state is bounded by document length — nothing
    * corpus-sized on any single node, no window, no driver collect.
    *
    * HOT-KEY shape (round-18 verdict item 6): a boilerplate line
    * present in a large fraction of documents is a skewed join key.
    * Restricting the build side to duplicated firsts makes it small
    * enough to BROADCAST under a measured-count guard
    * ([[maxBroadcastDupLines]], checkpointed so the count never
    * re-runs the census aggregate) — the hot line then streams down
    * the PROBE side of a broadcast hash join and never shuffles at
    * all. Past the budget the join falls back to a shuffled HASH join
    * (hinted — never sort-merge), where AQE's skew-split covers the
    * hot partitions; LineDedupSpec pins both shapes and the planted
    * hot-line corpus.
    */
  def lineDedup(spark: SparkSession, dir: String,
      width: Int = lineWords): DataFrame =
    lineDedup(spark, dir, width, maxBroadcastDupLines)

  /** Broadcast-row budget for the duplicated-firsts build side of
    * [[lineDedup]]'s keep join. Same calibration discipline as
    * [[Fuzzy.maxBroadcastNames]]: the binding limit is the
    * driver-side collect a broadcast build performs
    * (`spark.driver.maxResultSize`, 1 GiB default) at the measured
    * ~2.7 KB/row serialization cost of short-string rows — 200k rows
    * ≈ 540 MB transient worst-case. The C4 physics make duplicated
    * DISTINCT line texts a small fraction of the corpus (boilerplate
    * is few texts repeated many times), but that is a size CLAIM, so
    * it is measured per run, never assumed.
    */
  val maxBroadcastDupLines = 200000L

  /** The (doc_id, line_no, line) table both line-dedup entry points
    * explode — fixed-width word-window lineation (see [[lineWords]]).
    */
  private def lineTable(spark: SparkSession, dir: String,
      width: Int): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), split(trim(col("text")), " ").as("ws"))
    toks.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(ws) + ${width - 1}) div $width - 1), " +
          s"i -> array_join(slice(ws, i * $width + 1, $width), ' '))"))
        .as(Seq("p", "line")))
      .select(col("doc_id"), col("p").cast("long").as("line_no"), col("line"))
  }

  /** The corpus line census — (line, c, fk): occurrence count and the
    * scaled-integer first-occurrence key min(doc_id·10⁵ + line_no).
    * This is MERGEABLE STATE: for any corpus split, c sums and fk
    * min-merges, so a stored base census plus a delta batch's census
    * reconstructs the global census exactly — the property
    * [[lineDedupIncremental]] and the ModelStore round-trip
    * (LineDedupSpec) rest on.
    */
  def lineCensus(lines: DataFrame): DataFrame =
    lines.groupBy("line").agg(
      count(lit(1)).as("c"),
      min(col("doc_id") * lit(100000L) + col("line_no")).as("fk"))

  /** Budget-parameterized form — the spec forces 0 to certify the
    * shuffled-hash fallback row-identical and its plan shape.
    */
  def lineDedup(spark: SparkSession, dir: String, width: Int,
      maxDup: Long): DataFrame = {
    val lines = lineTable(spark, dir, width)
    // only lines whose text occurs more than once matter to the keep
    // verdict; the guard's count rides on the census checkpoint's job
    val (dups, nDups) =
      Ranks.checkpointCounted(lineCensus(lines).filter(col("c") > 1))
    val flagged = lines
      .join(Ranks.guarded(dups, nDups, maxDup), Seq("line"), "left")
      .select(col("doc_id"), col("line_no"), col("line"),
        (col("c").isNull ||
          col("doc_id") * lit(100000L) + col("line_no") === col("fk"))
          .as("keep"))
    reassemble(flagged)
  }

  /** Incremental C4 line dedup (`text_line_dedup_incr`) — the nightly
    * ingest form of [[lineDedup]], completing the E152 family the way
    * the sketch families (E128/E138/E139) complete theirs: clean ONLY
    * the new batch (doc_id % 10 = 0, the engine's standing delta
    * convention) against the base corpus WITHOUT rescanning base
    * text. The base contributes only its line CENSUS
    * ([[lineCensus]] — in production a stored artifact the nightly
    * job reloads through the ModelStore, stamp-validated; the
    * LineDedupSpec round-trip certifies the stored path bit-equal),
    * and the census is mergeable: global c = base c + delta c,
    * global fk = min(base fk, delta fk) for every line the delta
    * touches, so the merged verdict equals the full recompute's —
    * which is exactly what the driver's oracle certifies (the oracle
    * SQL IS the full recompute restricted to delta docs:
    * merge == recompute, hash-checked).
    *
    * Scale shape: the delta's distinct lines semi-join-filter the
    * base census (probe side streams the census scan; build side is
    * the delta's distinct lines under the measured-count broadcast
    * guard), so the merge is O(delta) wide against one flow-through
    * pass of O(distinct base lines) state — base TEXT is never
    * re-read, nothing corpus-sized broadcasts, and the keep join is
    * the same duplicated-firsts broadcast shape as the batch pass.
    */
  def lineDedupIncremental(spark: SparkSession, dir: String,
      width: Int = lineWords): DataFrame =
    lineDedupIncremental(spark, dir, width, maxBroadcastDupLines, None)

  /** Parameterized form: the spec forces `maxDup` = 0 for the
    * fallback shape and passes `baseCensus` to certify the
    * ModelStore-served path equal to the self-computed one.
    */
  def lineDedupIncremental(spark: SparkSession, dir: String, width: Int,
      maxDup: Long, baseCensus: Option[DataFrame]): DataFrame = {
    val all = lineTable(spark, dir, width)
    val deltaLines = all.filter(col("doc_id") % 10 === 0)
    val base = baseCensus.getOrElse(
      lineCensus(all.filter(col("doc_id") % 10 =!= 0)))
    // the delta census is delta-sized; checkpoint it once for the
    // merge, its row count riding on the checkpoint's job
    val (dCensus, nDeltaLines) =
      Ranks.checkpointCounted(lineCensus(deltaLines))
    // every build side below is bounded by the MEASURED delta
    // distinct-line count: guarded broadcast, shuffled-hash past the
    // budget (never sort-merge; never an unhinted join whose build
    // side Catalyst's stats would pick, the round-17 lesson)
    def guarded(df: DataFrame) = Ranks.guarded(df, nDeltaLines, maxDup)
    // restrict the base census to lines the delta actually touches:
    // the census streams through a semi-join whose build side is the
    // delta's distinct lines
    val relevantBase =
      base.join(guarded(dCensus.select("line")), Seq("line"), "left_semi")
    // mergeable-state reconstruction, then the batch pass's
    // duplicated-firsts discipline: only merged lines with global
    // c > 1 can suppress anything
    val merged = dCensus.as("d")
      .join(guarded(relevantBase).as("b"), Seq("line"), "left")
      .select(col("line"),
        (col("d.c") + coalesce(col("b.c"), lit(0L))).as("c"),
        least(col("d.fk"), col("b.fk")).as("fk"))
      .filter(col("c") > 1)
    val flagged = deltaLines.join(guarded(merged), Seq("line"), "left")
      .select(col("doc_id"), col("line_no"), col("line"),
        (col("c").isNull ||
          col("doc_id") * lit(100000L) + col("line_no") === col("fk"))
          .as("keep"))
    reassemble(flagged)
  }

  /** Shared tail of both line-dedup entry points: per-doc ordered
    * reassembly of kept lines plus removed-line/char accounting.
    */
  private def reassemble(flagged: DataFrame): DataFrame =
    flagged.groupBy("doc_id").agg(
        array_join(transform(
          filter(array_sort(collect_list(
            struct(col("line_no"), col("keep"), col("line")))),
            x => x.getField("keep")),
          x => x.getField("line")), " ").as("clean_text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept_lines"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("removed_lines"),
        sum(when(!col("keep"), length(col("line")).cast("long"))
          .otherwise(0L)).as("removed_chars"))
      .orderBy("doc_id")

  /** Unicode normalization pre-pass (the CCNet/Gopher/C4 ingest step
    * this engine tokenized without): NFC-normalize each document,
    * strip non-whitespace control characters, and count
    * replacement-character (U+FFFD) mojibake — the signals an ingest
    * gate reads before any tokenizer or shingle sees the text.
    *
    * Rules, identical in both engines:
    *  - stripped controls are the Cc category MINUS tab/newline/CR:
    *    U+0000–U+0008, U+000B, U+000C, U+000E–U+001F, U+007F–U+009F
    *    (explicit ranges, not Character.getType, so the oracle's RE2
    *    class `[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]` is the same set
    *    by construction);
    *  - NFC applies AFTER the strip (a control between a base char
    *    and its combining mark must not block composition);
    *  - n_mojibake counts U+FFFD in the ORIGINAL text (U+FFFD is not
    *    a control, so pre/post-strip counts are equal — stated, not
    *    assumed); `changed` compares the normalized result against
    *    the original.
    *
    * Engine parity: JDK 17's java.text.Normalizer and DuckDB's
    * utf8proc both implement the Unicode NFC spec, which is
    * STABILIZED for assigned code points (normalization results are
    * frozen by the Unicode stability policy since 4.1), so version
    * skew (Unicode 13 vs 15) cannot split the engines on real text;
    * counts compare UTF-16 units vs codepoints but differ only on
    * astral characters, and every counted character class here (Cc,
    * U+FFFD) is BMP. The registered corpus is ASCII (normalization is
    * identity there); the spec pins the interesting cases — planted
    * composed/decomposed é pairs, control stripping, idempotence.
    *
    * Scale shape: one narrow mapPartitions pass, no shuffle before
    * the presentation sort, output proportional to input.
    */
  def normalizeText(spark: SparkSession, dir: String): DataFrame =
    normalizeOf(Tables(spark, dir, "documents")).orderBy("doc_id")

  /** Deterministic Unicode probe documents for
    * [[normalizeTextUnicode]] — the round-18 close of the "identity
    * on ASCII" certification gap: the registered corpus is pure
    * ASCII, so `text_normalize`'s tri-scale hash rows prove only
    * NFC(x) = x there. These probes carry every interesting behavior
    * — decomposed NFC pairs, stripped Cc controls (C0 and C1,
    * whitespace survivors interleaved), preserved-and-counted
    * U+FFFD mojibake, astral passthrough, and a control BETWEEN a
    * base char and its combining mark (the strip-before-NFC ordering
    * case) — and the oracle replays them from chr() codepoint
    * literals GENERATED from this same sequence, so the driver's
    * hash gate certifies the non-trivial transform cross-engine.
    * Ids sit at 9·10¹¹, above any corpus or ×128-replica id.
    */
  val unicodeProbes: Seq[(Long, String)] = Seq(
    // decomposed e+ACUTE three times: NFC composes, changed = 1
    (900000000001L, "café société menu"),
    // C0 + C1 controls strip (including U+0085 NEL); tab/newline/CR
    // survive between them: n_ctrl_stripped = 6, changed = 1
    (900000000002L, "ctlabcd\te\nf\rgh"),
    // U+FFFD counted AND preserved: n_mojibake = 2, changed = 0
    (900000000003L, "moji�x� end"),
    // astral clef (U+1D11E) and precomposed é pass through: changed = 0
    (900000000004L, "astral 𝄞 clef café"),
    // control BETWEEN base char and combining mark: the strip must
    // not block composition (strip first, then NFC)
    (900000000005L, "mixed e́ tail�"))

  /** `text_normalize_unicode` — [[normalizeText]] over the corpus
    * plus the planted [[unicodeProbes]]: same kernel, same zero-
    * shuffle shape; exists so the DRIVER-level oracle certifies a
    * non-trivial normalization (nonzero strips/mojibake/changed) and
    * not just the ASCII identity.
    */
  def normalizeTextUnicode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planted = spark.createDataset(unicodeProbes).toDF("doc_id", "text")
    normalizeOf(Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).unionByName(planted))
      .orderBy("doc_id")
  }

  /** Streaming serve half of the normalization gate — the same
    * stateless narrow projection over arriving documents (zero
    * shuffles, no sort: append-mode streamable like the E151
    * blocklist gate); per-row bit-equal to the batch pass
    * (LineDedupSpec pins it across two MemoryStream waves).
    */
  def streamingNormalize(docs: DataFrame): DataFrame = normalizeOf(docs)

  /** The sortless normalization projection both entry points share. */
  private def normalizeOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, t) =>
          var mojibake = 0L
          var stripped = 0L
          val sb = new java.lang.StringBuilder(t.length)
          var i = 0
          while (i < t.length) {
            val ch = t.charAt(i)
            if (ch == 0xFFFD.toChar) mojibake += 1
            if (ch <= 0x08 || ch == 0x0B || ch == 0x0C ||
                (ch >= 0x0E && ch <= 0x1F) ||
                (ch >= 0x7F && ch <= 0x9F)) stripped += 1
            else sb.append(ch)
            i += 1
          }
          val norm = java.text.Normalizer
            .normalize(sb, java.text.Normalizer.Form.NFC)
          (id, norm, stripped, mojibake, if (norm == t) 0L else 1L)
        }
      }
      .toDF("doc_id", "norm_text", "n_ctrl_stripped", "n_mojibake",
        "changed")
  }

  /** PMI co-occurrence window (token pairs within this many positions). */
  val pmiWindow = 4

  /** Minimum pair count for a PMI estimate (rare-pair PMI is noise). */
  val pmiMinCount = 5L

  /** Default top-k cut for [[pmiPairs]] — shared with the driver
    * oracle's LIMIT so the two cannot drift.
    */
  val pmiTopK = 50

  /** Top strongly-associated token pairs by pointwise mutual
    * information over sliding windows: each position pairs with the
    * next [[pmiWindow]] tokens in its document (lead windows
    * PARTITIONED BY doc — one shuffle on doc_id, four lead
    * expressions in a single window spec), pairs are canonicalized
    * (least, greatest), and PMI = ln(N·c_xy / (c_x·c_y)) uses
    * PAIR-TABLE marginals so the distribution is self-consistent.
    * Counts are exact integers; each pair's PMI is one float ln
    * rounded at 4; the top-50 cut is `orderBy().limit()` —
    * TakeOrdered, never a global window — tie-broken on the pair.
    * The collocation audit a tokenizer-merge or stopword decision
    * reads.
    *
    * Scale shape: explode → per-doc window → (pair) reduction with
    * map-side combining; marginals re-aggregate the PAIR table
    * (vocab²-bounded, far below corpus) and broadcast back with the
    * 1-row total.
    */
  def pmiPairs(spark: SparkSession, dir: String, k: Int = pmiTopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), posexplode(tokens(col("text")))
        .as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val withLeads = toks.select(
      col("tok") +: (1 to pmiWindow).map(d =>
        lead(col("tok"), d).over(w).as(s"l$d")): _*)
    val pairs = (1 to pmiWindow).map(d =>
        withLeads.filter(col(s"l$d").isNotNull)
          .select(least(col("tok"), col(s"l$d")).as("x"),
            greatest(col("tok"), col(s"l$d")).as("y")))
      .reduce(_ unionByName _)
      .groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
      .localCheckpoint() // vocab²-bounded; feeds marginals + scoring
    val marg = pairs.select(col("x").as("t"), col("c_xy"))
      .unionByName(pairs.select(col("y").as("t"), col("c_xy")))
      .groupBy("t").agg(sum(col("c_xy")).as("c_t"))
    val total = pairs.agg(sum(col("c_xy")).as("n_pairs"))
    pairs.filter(col("c_xy") >= pmiMinCount)
      .join(broadcast(marg.select(col("t").as("x"), col("c_t").as("c_x"))), "x")
      .join(broadcast(marg.select(col("t").as("y"), col("c_t").as("c_y"))), "y")
      .crossJoin(broadcast(total))
      .select(col("x"), col("y"), col("c_xy"),
        round(log(col("n_pairs").cast("double") * col("c_xy").cast("double") /
          (col("c_x").cast("double") * col("c_y").cast("double"))), 4)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("x"), col("y"))
      .limit(k)
  }

  /** Token-length histogram in power-of-two buckets — the
    * sequence-length distribution a batch-shape / packing decision
    * reads (how much of the corpus fits a 64-token window; how heavy
    * is the long tail that forces chunking). Bucket = ⌊log₂ n⌋ via
    * the BINARY-STRING length (an exact integer identity both engines
    * share — no float log whose boundary could flip an exact power of
    * two); empty docs land in bucket 0 with the 1-token docs. Shares
    * are single rounded divisions of exact integer counts against
    * 1-row broadcast totals.
    *
    * Scale shape: one map pass into a ~60-group map-side-combined
    * aggregate; nothing collects.
    */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val n = size(tokens(col("text"))).cast("long")
    val hist = Tables(spark, dir, "documents")
      .select((length(bin(n)) - 1).cast("long").as("bucket"), n.as("n_tokens"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val totals = hist.agg(sum(col("n_docs")).as("td"),
      sum(col("n_tokens")).as("tt"))
    hist.crossJoin(broadcast(totals))
      .select(col("bucket"),
        pow(lit(2.0), col("bucket")).cast("long").as("bucket_lo"),
        (pow(lit(2.0), col("bucket") + 1).cast("long") - 1L).as("bucket_hi"),
        col("n_docs"), col("n_tokens"),
        round(col("n_docs").cast("double") / col("td"), 6).as("doc_share"),
        round(col("n_tokens").cast("double") / col("tt"), 6).as("token_share"))
      .orderBy("bucket")
  }

  /** Lempel–Ziv complexity per document: LZ78 incremental-parse phrase
    * count over the raw text ([[graft.functions.Lz78PhraseCount]], a
    * codegen'd sequential kernel — the parse is stateful, so no
    * builtin composition exists) and the phrases-per-char ratio — the
    * reference-free compression-proxy redundancy signal (repetitive /
    * template text parses into far fewer phrases than diverse prose)
    * corpus pipelines use alongside the n-gram repetition rules, with
    * an exactly-specified parse instead of a platform-defined zlib
    * bitstream so the DuckDB oracle replays it character by character.
    *
    * Scale shape (100 TB): one narrow map pass, no shuffle but the
    * presentation sort; O(doc length) time and dictionary per row.
    */
  def lzComplexity(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        graft.functions.Lz78PhraseCount(col("text")).cast("long")
          .as("lz_phrases"))
      .withColumn("lz_ratio",
        when(col("n_chars") > 0,
          round(col("lz_phrases").cast("double") / col("n_chars"), 6)))
      .orderBy("doc_id")

  /** Chunk budget for [[greedyChunks]] (characters). */
  val greedyChunkMax = 80

  /** Word-boundary greedy chunking — the tokenizer-safe packing
    * upgrade over [[graft.operators.Sampling.chunkWindows]]'s fixed
    * character windows: chunks never cut a word in half (a mid-word
    * cut corrupts both halves for any tokenizer; sentence terminators
    * need no special casing — they ride inside their word unit). The
    * greedy pack runs inside the native
    * [[graft.functions.GreedyChunkEnds]] kernel (codegen'd sequential
    * scan per document — unit detection + open-chunk state has no
    * builtin composition), and the oracle replays the identical rule
    * as a per-unit recursive CTE. Each output row carries `md5` of
    * the exact chunk substring, so the hash gate certifies the chunk
    * BYTES, not just offsets.
    *
    * Shape: one narrow kernel pass, the chunk-ends array materialized
    * (`localCheckpoint`) BEFORE the explode so Generate cannot
    * re-evaluate the kernel per output row (the measured 3.7×
    * explode-reeval trap), then pure array arithmetic per chunk. No
    * shuffle but the presentation sort.
    */
  def greedyChunks(spark: SparkSession, dir: String): DataFrame = {
    val withEnds = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        graft.functions.GreedyChunkEnds(col("text"), greedyChunkMax)
          .as("ends"))
      .localCheckpoint()
    withEnds
      .select(col("doc_id"), col("text"), col("ends"),
        posexplode(col("ends")).as(Seq("i0", "chunk_end")))
      .select(col("doc_id"), col("text"),
        (col("i0") + 1).cast("long").as("chunk_idx"),
        when(col("i0") === 0, lit(1))
          .otherwise(element_at(col("ends"), col("i0")) + 1)
          .cast("long").as("chunk_start"),
        col("chunk_end").cast("long").as("chunk_end"))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        col("chunk_end"),
        (col("chunk_end") - col("chunk_start") + 1).as("chunk_len"),
        md5(expr("substring(text, cast(chunk_start AS INT), " +
          "cast(chunk_end - chunk_start + 1 AS INT))")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Stupid-backoff weight (Brants et al. 2007 use 0.4; the score is a
    * ranking quantity, not a normalized probability).
    */
  val backoffAlpha = 0.4

  /** Bigram-LM perplexity scoring with stupid backoff (Brants et al.
    * 2007, "Large Language Models in Machine Translation") — the
    * sequence-aware upgrade over [[unigramNll]] and the shape of the
    * CCNet/KenLM perplexity filter: a bigram model trained on a
    * REFERENCE half of the corpus (even doc_ids, the stand-in for
    * "clean wiki text") scores the OTHER half, so unseen bigrams
    * genuinely take the backoff path instead of the train-on-self
    * degeneracy where every bigram is known.
    *
    * Counts all derive from ONE bigram reduction over the train half:
    * context counts ctx(w₁) = Σ_w₂ C(w₁w₂) (so S(·|w₁) sums to 1 over
    * seen successors) and continuation-style unigram counts
    * uni(w₂) = Σ_w₁ C(w₁w₂) for the backoff. Seen: S = C(w₁w₂)/ctx(w₁)
    * (ctx ≥ C ≥ 1 — division safe). Unseen:
    * S = α·(uni(w₂)+1)/(N+V+1) — the add-one floor keeps ln() away
    * from zero for OOV words, and a language absent from the train
    * half degrades to ln(α), never a throw.
    *
    * Scale shape (100 TB): the (doc, prev, tok, tf) reduction is
    * map-side combined and checkpointed once; the LM (bigram-types ×
    * lang) aggregates FROM it; scoring is two corpus-sized equi-joins
    * (LM on (lang,prev,tok), backoff unigram on (lang,tok)) plus a
    * 1-row-per-lang broadcast — no window, no collect. Per-token
    * log-scores are summed by the ordered fold ((prev, tok) asc — ties
    * carry equal ll) and rounded at 4, the [[unigramNll]] float
    * discipline.
    */
  def bigramNll(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(slice(toks, 1, size(toks) - 1), " +
          "(t, i) -> struct(t AS prev, toks[i + 1] AS tok))")).as("b"))
      .select(col("doc_id"), col("lang"), col("b.prev"), col("b.tok"))
      .groupBy("doc_id", "lang", "prev", "tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val lm2 = tf.filter(col("doc_id") % 2 === 0)
      .groupBy("lang", "prev", "tok").agg(sum(col("tf")).as("cnt2"))
      .localCheckpoint()
    val ctx = lm2.groupBy("lang", "prev").agg(sum(col("cnt2")).as("c_ctx"))
    val uni = lm2.groupBy("lang", "tok").agg(sum(col("cnt2")).as("c_uni"))
    val tot = lm2.groupBy("lang").agg(sum(col("cnt2")).as("n_total"),
      countDistinct(col("tok")).as("vocab"))
    val lmb = lm2.join(ctx, Seq("lang", "prev"))
    val term = tf.filter(col("doc_id") % 2 === 1)
      .join(lmb, Seq("lang", "prev", "tok"), "left")
      .join(uni, Seq("lang", "tok"), "left")
      .join(broadcast(tot), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("prev"), col("tok"), col("tf"),
        when(col("cnt2").isNotNull,
          col("tf").cast("double") *
            log(col("cnt2").cast("double") / col("c_ctx").cast("double")))
          .otherwise(col("tf").cast("double") * log(
            lit(backoffAlpha) *
              (coalesce(col("c_uni"), lit(0L)).cast("double") + 1.0) /
              (coalesce(col("n_total"), lit(0L)).cast("double") +
                coalesce(col("vocab"), lit(0L)).cast("double") + 1.0)))
          .as("ll"),
        when(col("cnt2").isNull, col("tf")).otherwise(lit(0L)).as("bk"))
    term.groupBy("doc_id", "lang")
      .agg(sum(col("tf")).as("n_bigrams"), sum(col("bk")).as("n_backoff"),
        sort_array(collect_list(struct(col("prev"), col("tok"), col("ll"))))
          .as("xs"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("n_backoff"),
        round(-aggregate(col("xs"), lit(0.0),
          (acc, x) => acc + x.getField("ll")) / col("n_bigrams"), 4).as("nll"))
      .orderBy("doc_id")
  }

  /** Vocabulary-growth (Heaps-law) curve — the corpus-health report a
    * pretraining pipeline reads before committing a crawl slice: at 10
    * doc_id checkpoints (deciles of the id span), the cumulative doc
    * count, token count, distinct-word vocabulary, and type–token
    * ratio. A vocabulary that stops growing means the crawl is
    * re-reading itself; a TTR spike means boilerplate flooded in.
    *
    * Shape (100 TB): the corpus reduces to two bounded-by-corpus
    * histograms in single map-side-combined passes — per-word FIRST
    * doc_id (one shuffle on word), collapsed to a per-doc new-word
    * histogram, and per-doc token counts — then the 10-row checkpoint
    * spine broadcast-inequality-joins each histogram (fan-out ≤ 10 per
    * row). Never a global sort, never a running window over the
    * corpus. All counts exact integers; TTR is the only division,
    * rounded at 6.
    */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .localCheckpoint() // feeds the word pass, the token pass, the spine
    val spine = docs.agg(max(col("doc_id")).as("idmax"))
      .select(explode(sequence(lit(1L), lit(10L))).as("decile"), col("idmax"))
      .select(col("decile"), expr("(decile * idmax) div 10").as("thr"))
    val newWords = docs.select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy("w").agg(min(col("doc_id")).as("first_doc"))
      .groupBy("first_doc").agg(count(lit(1)).as("n_new"))
    val docStats = docs
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"))
    val vocabAt = broadcast(spine)
      .join(newWords, col("first_doc") <= col("thr"))
      .groupBy("decile", "thr").agg(sum(col("n_new")).as("n_vocab"))
    val tokAt = broadcast(spine)
      .join(docStats, col("doc_id") <= col("thr"))
      .groupBy("decile", "thr")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    tokAt.join(vocabAt, Seq("decile", "thr"))
      .select(col("decile"), col("thr"), col("n_docs"), col("n_tokens"),
        col("n_vocab"),
        when(col("n_tokens") > 0,
          round(col("n_vocab").cast("double") /
            col("n_tokens").cast("double"), 6)).as("ttr"))
      .orderBy("decile")
  }

  /** Blocklist terms for [[blocklistFilter]] — a FIXED literal list
    * (the SRP/affine-constant discipline: constants live in code and
    * ride the oracle as SQL literals, so no cross-engine list source
    * exists to disagree). Three corpus-vocabulary terms stand in for
    * the 10k-term production safety list; the PLAN is the production
    * plan either way (broadcast join, never a per-term scan).
    */
  val blocklistTerms: Seq[String] = Seq("merge", "slow", "vector")

  /** A document is dropped when blocklisted-token DENSITY exceeds 5%
    * — stated as the integer predicate 20·hits > tokens, so threshold
    * membership never rides float noise (the prefix-join τ
    * discipline). Density-based, not any-hit: real safety lists carry
    * common words, and a single incidental hit must not nuke a
    * document (the Gopher-rules philosophy).
    */
  val blocklistMaxDensityNum = 1
  val blocklistMaxDensityDen = 20

  /** Blocklist gating (`text_blocklist_filter`) — the safety-filter
    * stage every training-data pipeline runs between quality scoring
    * and packing: per document, total and distinct blocklisted-token
    * hits, the matched terms (sorted, comma-joined — the audit
    * column a reviewer greps), the hit density, and the keep/drop
    * decision at the integer 5% density gate.
    *
    * Fold rule: tokens are CASE-FOLDED (`lower`) before the list
    * join — a production safety list is case-insensitive ("Merge"
    * must hit "merge") — and the terms themselves are lowercase by
    * [[blocklistTerms]] convention; `hit_terms` records the folded
    * form, the canonical list spelling.
    *
    * Scale shape (100 TB): the blocklist is an O(list) broadcast
    * joined against one exploded-token pass (Aho–Corasick semantics
    * via hash equi-join — at token granularity the automaton IS a
    * hash lookup), collapsed by one map-side-combined per-doc
    * aggregate; docs with zero hits re-enter via a left join against
    * the narrow (doc_id, n_tok) base. No regex scan per term, no
    * corpus×list fan-out beyond matched tokens.
    */
  /** Streaming serve half of the blocklist gate — the safety filter an
    * INGEST pipeline runs on arriving documents before they land: a
    * stateless narrow projection (zero shuffles, no sort — append-mode
    * streamable) whose per-row verdict is bit-equal to
    * [[blocklistFilter]]'s columns for the same document (same fold:
    * lower → space-split → term membership → integer density gate).
    * The batch form's explode + broadcast-join shape is the 10k-term
    * plan (hash lookup per token); at stream granularity the per-row
    * array fold over the O(list) term set is the stateless equivalent
    * — the list rides the closure, refreshed per restart exactly like
    * a broadcast. `docs` needs (doc_id, text).
    */
  def streamingBlocklistGate(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(blocklistTerms.toSet)
    val num = blocklistMaxDensityNum.toLong
    val den = blocklistMaxDensityDen.toLong
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val terms = bc.value
        it.map { case (id, text) =>
          // the batch fold exactly: SQL trim (spaces only) → lower →
          // split ' ' with trailing empties kept
          var lo = 0; var hi = text.length
          while (lo < hi && text.charAt(lo) == ' ') lo += 1
          while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
          val ws = text.substring(lo, hi).toLowerCase.split(" ", -1)
          var hits = 0L
          val seen = new java.util.TreeSet[String]()
          var i = 0
          while (i < ws.length) {
            if (terms.contains(ws(i))) { hits += 1; seen.add(ws(i)) }
            i += 1
          }
          val nTok = ws.length.toLong
          val density: java.lang.Double =
            if (nTok > 0)
              BigDecimal(hits.toDouble / nTok)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            else null
          (id, nTok, hits, seen.size.toLong,
            String.join(",", seen), density, hits * den <= nTok * num)
        }
      }
      .toDF("doc_id", "n_tok", "n_hits", "n_terms", "hit_terms",
        "density", "keep")
  }

  def blocklistFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tok"))
    // fold BEFORE the split (lower commutes with the space split, and
    // runs once per doc, not once per token)
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), " ")).as("tok"))
    val bl = blocklistTerms.toDF("tok")
    val hits = toks.join(broadcast(bl), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"),
        sort_array(collect_set(col("tok"))).as("terms"))
    base.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(size(col("terms")), lit(0)).cast("long").as("n_terms"),
        coalesce(concat_ws(",", col("terms")), lit("")).as("hit_terms"),
        when(col("n_tok") > 0,
          round(coalesce(col("n_hits"), lit(0L)).cast("double") /
            col("n_tok").cast("double"), 6)).as("density"),
        (coalesce(col("n_hits"), lit(0L)) * lit(blocklistMaxDensityDen.toLong) <=
          col("n_tok") * lit(blocklistMaxDensityNum.toLong)).as("keep"))
      .orderBy("doc_id")
  }
}
