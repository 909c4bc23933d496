package graft.datapipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.datapipe.Staging.Staged

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language-ID heuristic, document
  * fingerprinting. All pure column expressions (codegen'd, no UDFs),
  * so they run at scan speed and scale linearly — no shuffle at all
  * until a downstream groupBy.
  */
object TextAnalysis {

  /** Whitespace tokenizer count. */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+")).cast("bigint")

  /** BPE-ish subword pre-tokenizer count: letter runs, digit runs,
    * and single non-alphanumeric marks (the usual byte-level BPE
    * pre-split shape).
    */
  def bpeishCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("bigint")

  /** English-ish stopword hits (word-boundary anchored). */
  def stopwordCount(text: Column): Column =
    regexp_count(lower(text), lit("\\b(the|a|of|and|to|in|is)\\b")).cast("bigint")

  /** Quality features + a composite score: length, word count,
    * average word length, stopword ratio, alphanumeric ratio.
    * Mirrors the usual pretraining heuristic filters (length /
    * punctuation / stopword-density).
    */
  def qualityFeatures(df: DataFrame, text: Column): DataFrame =
    df.withColumn("q_chars", length(text).cast("bigint"))
      .withColumn("q_words", tokenCount(text))
      .withColumn("q_avg_word_len",
        length(regexp_replace(text, "\\s+", "")).cast("double") / col("q_words"))
      .withColumn("q_stopword_ratio",
        stopwordCount(text).cast("double") / col("q_words"))
      .withColumn("q_alnum_ratio",
        regexp_count(lower(text), lit("[a-z0-9]")).cast("double") / col("q_chars"))

  /** Readability scoring (Flesch 1948; Kincaid et al. 1975) — the
    * audience-level quality signal edu-style corpus filters rank on,
    * next to [[qualityFeatures]]' surface ratios. Syllables are the
    * standard heuristic: maximal vowel-group runs per word, floored
    * at one. ZERO shuffle — sentences, words, and the syllable fold
    * are per-row codegen'd expressions; the formulas are fixed IEEE
    * chains over exact integer counts (written operand-for-operand
    * in the oracle), rounded to 6 dp.
    *
    * Output: (doc_id, n_words, n_sentences, n_syllables, fk_grade,
    * flesch_ease) — grades NULL for a wordless document; a text with
    * no terminator counts as one sentence.
    */
  def readability(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val ws = filter(words(col(textCol)),
      w => length(w) > 0)
    val syl = (w: Column) => greatest(lit(1L),
      size(filter(split(w, "[^aeiouy]+"), x => length(x) > 0)).cast("long"))
    val sentences = greatest(lit(1L),
      size(filter(split(col(textCol), "[.!?]+"),
        s => length(trim(s)) > 0)).cast("long"))
    val nW = col("n_words"); val nS = col("n_sentences")
    val nSyl = col("n_syllables")
    docs.select(col(idCol).as("doc_id"),
        coalesce(size(ws), lit(0)).cast("bigint").as("n_words"),
        sentences.as("n_sentences"),
        coalesce(aggregate(ws, lit(0L), (acc, w) => acc + syl(w)),
          lit(0L)).as("n_syllables"))
      .select(col("doc_id"), nW, nS, nSyl,
        when(nW === 0, lit(null).cast("double")).otherwise(round(
          lit(0.39) * (nW.cast("double") / nS.cast("double")) +
            lit(11.8) * (nSyl.cast("double") / nW.cast("double")) -
            lit(15.59), 6)).as("fk_grade"),
        when(nW === 0, lit(null).cast("double")).otherwise(round(
          lit(206.835) -
            lit(1.015) * (nW.cast("double") / nS.cast("double")) -
            lit(84.6) * (nSyl.cast("double") / nW.cast("double")), 6))
          .as("flesch_ease"))
  }

  /** Language-ID by stopword-profile heuristic: per-language marker
    * words, predict the best-scoring language, 'und' when no marker
    * hits. (A real model swaps in here; the Spark plumbing — one
    * codegen'd expression per language profile, argmax via greatest —
    * is the part that must scale.)
    */
  def langIdScores: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|is)\\b",
    "es" -> "\\b(el|la|de|que|y)\\b",
    "fr" -> "\\b(le|la|de|et|les)\\b",
    "de" -> "\\b(der|die|das|und|ist)\\b")

  def predictLang(text: Column): Column = {
    val scores = langIdScores.map { case (lang, pat) =>
      (lang, regexp_count(lower(text), lit(pat)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // first language reaching the max wins (deterministic order) — the
    // reversed fold nests later languages in the otherwise branch
    scores.reverse.foldLeft(lit("und")) { case (acc, (lang, score)) =>
      when(score > 0 && score === best, lit(lang)).otherwise(acc)
    }
  }

  /** Engine-portable 60-bit hash: the leading 15 hex chars of md5 as
    * a bigint, reproducible in any engine as
    * `('0x' || substr(md5(x), 1, 15))::BIGINT`. The ONE shared
    * primitive behind document fingerprints, portable shingle hashes
    * ([[Dedup.shingleHashesPortable]]), and the epoch-shuffle key
    * ([[ShuffleOrder.shuffleRank]]) — the prefix length is an
    * oracle-parity contract, so change it here or nowhere.
    */
  def md5Long60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")

  /** 64-bit document fingerprint: md5 of the whitespace-normalized,
    * lowercased text, top 60 bits as a bigint. Engine-portable (md5
    * is identical everywhere) and collision-safe enough for exact
    * dedup keys at 100 TB (~1e-10 collision odds at 1e9 docs on 60
    * bits... use the full md5 string when that matters).
    */
  def fingerprint(text: Column): Column =
    md5Long60(normalize(text))

  /** PII scrub — the redaction pass a pretraining corpus gets before
    * anything else sees it: email-like tokens become `<EMAIL>`, digit
    * runs of 10+ (phone/account numbers) become `<NUM>`. Pure
    * regexp_replace (codegen'd, replace-all), with patterns inside
    * the RE2 ∩ java.util.regex common subset so an external engine
    * replicates them byte-for-byte.
    */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "\\d{10,}", "<NUM>")

  /** Normalization used by fingerprint/dedup: lower, collapse
    * whitespace, trim.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** The word list `split(normalize(text), " ")`.
    *
    * THE tokenization convention, documented once (round-7 review
    * asked for one rule): `split(normalize(text), " ")` on empty or
    * whitespace-only text yields `[""]` — ONE phantom empty token.
    * The hashed-bag model operators (Classifier, LanguageModel's
    * importance weights) COUNT that token: their oracles replay
    * `len(w)`/`generate_series(1, len(w))` over the same split, so
    * the phantom hashes into a bucket on both engines identically and
    * n_tokens agrees. The WORD-level operators (BpeTokenizer's word
    * counts, Chunker's windows) FILTER `length > 0`: a zero-length
    * word is not a word, and their oracles filter identically. Both
    * camps are internally consistent with their oracles; unifying
    * them would change every hash for no semantic gain — keep the
    * rule per-family, per this note.
    */
  def words(text: Column): Column = split(normalize(text), " ")

  /** Unicode NFC normalization — run before fingerprinting/dedup so
    * the same visible text in composed vs decomposed encoding hashes
    * identically (a crawled corpus mixes both freely). Spark has no
    * built-in normalizer; this is the native codegen expression
    * [[graft.functions.NfcNormalize]] (ASCII fast path, stays inside
    * whole-stage codegen — no UDF closure), checked byte-for-byte
    * against DuckDB's independent nfc_normalize by the oracle.
    * Null-safe; stateless, streams unchanged.
    */
  def nfc(text: Column): Column =
    graft.functions.NfcNormalize.column(text)

  /** Plain text out of crawled HTML — the extraction step that feeds
    * every text operator when the corpus arrives as web pages: strip
    * tags, decode the five predefined XML entities plus nbsp
    * (`&amp;` LAST, per the spec, so `&amp;lt;` correctly yields the
    * literal text `&lt;`), collapse whitespace. Case is preserved
    * (unlike [[normalize]] — extraction precedes, not replaces, the
    * analysis normalization). One stateless codegen'd projection:
    * zero shuffles, streams unchanged. Scope: tag stripping is the
    * regex convention (no script/style content removal — a DOM-aware
    * extractor plugs in at the same seam); the deterministic chain
    * is what makes the operator certifiable engine-to-engine.
    */
  def stripHtml(html: Column): Column = {
    val noTags = regexp_replace(html, "<[^>]*>", " ")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) {
      case (c, (e, r)) => regexp_replace(c, e, r)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Corpus vocabulary: the `topN` most frequent normalized tokens
    * with their counts — the input a tokenizer trainer (BPE seed
    * vocab, subword frequency tables) consumes. One explode + one
    * partial-aggregated count shuffle; the global cut runs as
    * TakeOrderedAndProject (per-partition top-N, merged on the
    * driver), so no single reducer ever sees the full vocabulary.
    * Ordering is (freq desc, token asc) — fully deterministic, so
    * the cut boundary is engine-portable.
    */
  def vocabulary(docs: DataFrame, textCol: String, topN: Int): DataFrame =
    docs.select(explode(words(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(topN)

  /** Per-group token-length quantiles (p50/p90/p99) — the
    * length-distribution readout next to [[zipfSlope]] and
    * `corpus_stats`' min/mean/max: packing efficiency, truncation
    * rates, and chunker settings all key off these.
    *
    * Exact, not sketched, yet scale-sane: lengths first collapse to a
    * per-group HISTOGRAM (one partial-aggregated shuffle; cardinality
    * = distinct lengths per group, thousands at most), and the
    * quantile rule — smallest length whose cumulative count reaches
    * ceil(q·n) — runs as a window over that histogram, never over
    * documents. All counts exact integers; ceil(q·n) is one identical
    * IEEE product per group.
    *
    * Output: (group, n_docs, p50, p90, p99).
    */
  def lengthQuantiles(docs: DataFrame, textCol: String,
                      groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = docs
      .select(col(groupCol).as("grp"), tokenCount(col(textCol)).as("len"))
      .groupBy(col("grp"), col("len")).agg(count(lit(1)).as("c"))
    val tot = hist.groupBy(col("grp")).agg(sum(col("c")).as("n"))
    val w = Window.partitionBy(col("grp")).orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cc", sum(col("c")).over(w))
      .join(tot, Seq("grp"))
    def p(q: Double, nm: String) =
      min(when(col("cc") >= ceil(col("n") * lit(q)), col("len"))).as(nm)
    cum.groupBy(col("grp"))
      .agg(max(col("n")).as("n_docs"),
        p(0.5, "p50"), p(0.9, "p90"), p(0.99, "p99"))
      .select(col("grp").as(groupCol), col("n_docs"),
        col("p50"), col("p90"), col("p99"))
  }

  /** Per-group Zipf-slope diagnostic: the least-squares slope of
    * ln(freq) on ln(rank) over each group's `topN` most frequent
    * words. Natural text sits near −1 (Zipf 1949; Piantadosi 2014
    * doi:10.3758/s13423-014-0585-6); a much flatter slope flags
    * boilerplate/template sources and a much steeper one flags
    * degenerate repetition — the corpus-composition readout mixture
    * design reads next to [[sourceDivergence]].
    *
    * Scale shape: ONE partial-aggregated (group, word) count shuffle
    * over the token stream; the per-group top-N cut is a rank window
    * over the vocab-sized count table (bounded per-group state, no
    * global sort); the fit is a single exact aggregation over ≤ topN
    * rows per group.
    *
    * Portability: the only inexact surface is ln(), so both engines
    * round ln(rank)/ln(freq) to 8 dp and accumulate the regression
    * sums as exact DECIMALs (order-independent); the closed-form
    * slope then divides two exactly-equal doubles, rounded to 6 dp.
    *
    * Output: (group, n_words, zipf_slope) — slope NULL for a group
    * whose top-N has a single distinct rank (var = 0, degenerate fit).
    */
  def zipfSlope(docs: DataFrame, textCol: String, groupCol: String,
                topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tk = docs.select(col(groupCol).as("grp"), explode(filter(
      words(col(textCol)), t => length(t) > 0)).as("t"))
    val ranked = tk.groupBy(col("grp"), col("t"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("grp"))
          .orderBy(col("freq").desc, col("t").asc)))
      .filter(col("rnk") <= topN)
    val x = round(log(col("rnk").cast("double")), 8).cast("decimal(18,8)")
    val y = round(log(col("freq").cast("double")), 8).cast("decimal(18,8)")
    val agg = ranked.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_words"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(x * y).as("sxy"))
    val n = col("n_words").cast("double")
    def d(c: Column): Column = c.cast("double")
    val denom = n * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    agg.select(col("grp").as(groupCol), col("n_words"),
      when(denom === 0.0, lit(null).cast("double"))
        .otherwise(round(
          (n * d(col("sxy")) - d(col("sx")) * d(col("sy"))) / denom, 6))
        .as("zipf_slope"))
  }

  /** Per-source unigram KL divergence to the corpus distribution —
    * the distribution-shift readout mixture design reads next to the
    * overlap matrix ([[Dedup.sourceOverlap]]): sources whose word
    * distribution sits far from the mixture are the ones a
    * temperature weight actually moves.
    *
    *   KL(p_s ‖ q) = Σ_w p_s(w) · ln(p_s(w) / q(w))
    *
    * with p_s the source's unigram distribution and q the whole
    * corpus's. No smoothing is needed: every source word is a corpus
    * word, so q(w) > 0 wherever p_s(w) > 0.
    *
    * Scale shape: ONE partial-aggregated count shuffle over the token
    * stream to (source, word) rows; everything downstream is
    * vocab-sized — the corpus marginal is a re-aggregation of those
    * partials (keyed on word, co-partitioned with the term join) and
    * the per-source totals broadcast. Portability: counts are exact
    * integers; each KL term rounds to 8 dp then sums as DECIMAL(28,8)
    * (exact, order-independent — the catalog's log-space convention);
    * the readout rounds to 6 dp. Word-camp tokenization (zero-length
    * tokens are not words — see the [[normalize]] note).
    *
    * Output: (source, n_tokens, n_distinct, kl).
    */
  def sourceDivergence(docs: DataFrame, textCol: String,
                       sourceCol: String): DataFrame = {
    val tk = docs.select(col(sourceCol).as("source"), explode(filter(
      words(col(textCol)), t => length(t) > 0)).as("t"))
    val csw = tk.groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c_sw")).stage()
    val cw = csw.groupBy(col("t")).agg(sum(col("c_sw")).as("c_w"))
    val ns = csw.groupBy(col("source")).agg(
      sum(col("c_sw")).as("n_s"), count(lit(1)).as("n_distinct"))
    val n = csw.agg(sum(col("c_sw")).as("n"))
    val p = col("c_sw").cast("double") / col("n_s").cast("double")
    val q = col("c_w").cast("double") / col("n").cast("double")
    csw.join(cw, Seq("t"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(n))
      .withColumn("term", round(p * log(p / q), 8))
      .groupBy(col("source"))
      .agg(first(col("n_s")).as("n_tokens"),
        first(col("n_distinct")).as("n_distinct"),
        sum(col("term").cast("decimal(28,8)")).as("klsum"))
      .select(col("source"), col("n_tokens"), col("n_distinct"),
        // round ON the decimal, then cast (a double round diverges
        // between engines on exact-half sums — see UnigramLM readout)
        round(col("klsum"), 6).cast("double").as("kl"))
  }

  /** Leave-one-source-out mixture ablation: for each source s,
    * KL(q₋ₛ ‖ q) — how far the corpus unigram distribution MOVES if
    * s is removed — the data-ablation readout mixture design reads
    * alongside [[sourceDivergence]] (which asks the converse: how far
    * s sits FROM the mixture). A source can be individually exotic
    * (high KL(pₛ‖q)) yet removable (tiny KL(q₋ₛ‖q)) because it is
    * small; this readout prices the removal itself.
    *
    * The sum over the full vocabulary SPLITS so no per-source
    * vocabulary walk is needed: writing q₋ₛ(w) = (c_w − c_sw)/(N−nₛ),
    * every word OUTSIDE s's vocabulary has c_sw = 0, so its ratio
    * q₋ₛ/q collapses to the constant N/(N−nₛ) and the whole
    * out-of-vocabulary mass contributes the single closed-form term
    * ((N − Bₛ)/(N−nₛ))·ln(N/(N−nₛ)) with Bₛ = Σ_{w∈s} c_w — only
    * words s actually uses are walked (the csw table the
    * [[sourceDivergence]] shuffle already produces), never
    * vocab × sources.
    *
    * Portability: counts exact; each in-vocabulary term and the
    * residual round to 8 dp and sum as DECIMAL(28,8) (the catalog's
    * log-space convention); readout rounds to 6 dp on the decimal. A
    * source that IS the whole corpus reads NULL (the removed corpus
    * is empty). Words with c_w = c_sw (owned entirely by s)
    * contribute 0 in-vocabulary (p′ = 0) and are excluded by the
    * same guard both engines apply.
    *
    * Output: (source, n_tokens, n_distinct, removed_frac, kl_loo).
    */
  def ablationDivergence(docs: DataFrame, textCol: String,
                         sourceCol: String): DataFrame = {
    val tk = docs.select(col(sourceCol).as("source"), explode(filter(
      words(col(textCol)), t => length(t) > 0)).as("t"))
    val csw = tk.groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c_sw")).stage()
    val cw = csw.groupBy(col("t")).agg(sum(col("c_sw")).as("c_w"))
    val ns = csw.groupBy(col("source")).agg(
      sum(col("c_sw")).as("n_s"), count(lit(1)).as("n_distinct"))
    val n = csw.agg(sum(col("c_sw")).as("n"))
    val rest = (col("n") - col("n_s")).cast("double")
    val pp = (col("c_w") - col("c_sw")).cast("double") / rest
    val q = col("c_w").cast("double") / col("n").cast("double")
    val agg = csw.join(cw, Seq("t"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(n))
      .withColumn("term",
        when(col("c_w") > col("c_sw") && col("n") > col("n_s"),
          round(pp * log(pp / q), 8)).otherwise(lit(0.0)))
      .groupBy(col("source"))
      .agg(first(col("n_s")).as("n_s"),
        first(col("n_distinct")).as("n_distinct"),
        first(col("n")).as("n"),
        sum(col("c_w")).as("b_s"),
        // cap the widened sum back to (28,8) BEFORE the residual add
        // (the decimal(38,8)+decimal(28,8) precision-drop trap)
        sum(col("term").cast("decimal(28,8)")).cast("decimal(28,8)")
          .as("klin"))
    val restA = (col("n") - col("n_s")).cast("double")
    val resid = round(
      ((col("n") - col("b_s")).cast("double") / restA)
        * log(col("n").cast("double") / restA), 8)
    agg.select(col("source"), col("n_s").as("n_tokens"), col("n_distinct"),
      graft.functions.ExactRound.ratio6(col("n_s"), col("n"))
        .as("removed_frac"),
      when(col("n_s") === col("n"), lit(null).cast("double"))
        .otherwise(round(col("klin") + resid.cast("decimal(28,8)"), 6)
          .cast("double"))
        .as("kl_loo"))
  }

  /** Gopher-style composite quality filter (the "document filters" of
    * the Gopher corpus paper, arXiv:2112.11446 §A1.1): per-document
    * rule features, one boolean per rule, and the joint keep decision
    * an ingest pipeline actually applies. Rules covered:
    *
    *  - word count within [minWords, maxWords];
    *  - mean word length within [3, 10] characters;
    *  - ≥ 80% of words contain at least one alphabetic character;
    *  - ≥ 2 stopword hits (the "stop word" sanity check);
    *  - symbol-to-word ratio (`#` and `...`) below 0.1.
    *
    * The two line-shape rules (bullet-line and ellipsis-line
    * fractions) require line structure this corpus does not have (no
    * newlines) and are intentionally out of scope. ZERO shuffles —
    * every feature is a per-row codegen'd expression over the word
    * array, so at 100 TB the cost is the scan itself; the keep
    * decision composes downstream (filter + count) without ever
    * materializing the features. All fractions are exact integer
    * counts divided once, so an external engine reproduces the
    * doubles (and the rule booleans) bit-for-bit. Word-level
    * tokenization follows the word camp of the convention note on
    * [[normalize]]: zero-length tokens are not words.
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val norm = normalize(col(textCol))
    val toks = filter(split(norm, " "), w => length(w) > 0)
    val nWords = size(toks).cast("bigint")
    val nW = nWords.cast("double")
    val meanLen = when(nWords > 0,
      length(translate(norm, " ", "")).cast("double") / nW)
    val alphaFrac = when(nWords > 0,
      size(filter(toks, w => w.rlike("[a-z]"))).cast("double") / nW)
    val stops = stopwordCount(col(textCol))
    val symbols = (length(col(textCol))
      - length(translate(col(textCol), "#", ""))).cast("bigint") +
      regexp_count(col(textCol), lit("\\.\\.\\.")).cast("bigint")
    val symbolRatio = when(nWords > 0, symbols.cast("double") / nW)
    val rWordCount = nWords >= minWords && nWords <= maxWords
    val rMeanLen = meanLen >= 3.0 && meanLen <= 10.0
    val rAlpha = alphaFrac >= 0.8
    val rStops = stops >= 2
    val rSymbol = symbolRatio < 0.1
    docs.select(col(idCol).as("doc_id"),
      nWords.as("n_words"),
      meanLen.as("mean_word_len"),
      alphaFrac.as("alpha_word_frac"),
      stops.as("stopword_hits"),
      symbolRatio.as("symbol_word_ratio"),
      rWordCount.as("r_word_count"),
      rMeanLen.as("r_mean_word_len"),
      rAlpha.as("r_alpha_words"),
      rStops.as("r_stopwords"),
      rSymbol.as("r_symbol_ratio"),
      (rWordCount && rMeanLen && rAlpha && rStops && rSymbol).as("keep"))
  }

  /** Within-document repetition metrics — the Gopher/RefinedWeb-style
    * quality signals that catch boilerplate loops and degenerate
    * generations BEFORE they reach pretraining:
    *
    *  - dup2_frac / dup3_frac: fraction of word 2-/3-grams that are
    *    repeats of an earlier occurrence in the same document
    *    ((total − distinct) / total; null when the doc is too short
    *    to have any such n-gram);
    *  - top_word_frac: the most frequent token's share of all tokens.
    *
    * ZERO shuffles — everything is a per-row expression, so the
    * operator runs at scan speed and the 100 TB cost is one pass over
    * the text column. Distinct n-gram counts come from the fused
    * [[graft.functions.ShingleHashes]] (which dedups as it hashes —
    * no n-gram string arrays are ever materialized; distinct-by-
    * 64-bit-hash is the engine's standard collision-free assumption,
    * and the oracle counts distinct strings). The top token count is
    * a sort_array + run-length aggregate per row — an earlier version
    * counted (doc_id, word) pairs via explode/groupBy, which shuffles
    * the entire token stream; the per-row sort is strictly local and
    * exact. The tokenizer expression is referenced by several output
    * columns and CollapseProject inlines it into each (staging it in
    * a projection does not survive optimization); it is one regex
    * pass per reference, which the scan-speed measurement already
    * includes. Every fraction is exact-integer-counts divided once,
    * so any engine reproduces the doubles bit-for-bit.
    */
  /** Per-document token Shannon entropy — the distribution-shape
    * quality signal next to [[repetition]]'s duplication fractions
    * (low-entropy documents are keyword stuffing / boilerplate even
    * when no single n-gram repeats; entropy thresholds appear in the
    * C4/Gopher-era filter stacks as "too repetitive to train on"):
    *
    *   H(doc) = −Σ_t round8((c_t/n)·ln(c_t/n))   (exact decimal sum)
    *
    * Scale shape: ZERO shuffle — the per-token-type counts are the
    * run lengths of the per-row SORTED token array, folded in one
    * `aggregate` (same local-sort trick as [[repetition]]'s topRun;
    * an explode + groupBy(doc, token) would shuffle the entire token
    * stream to compute a per-row number). The fold accumulates the
    * 8-dp-rounded entropy terms as exact DECIMAL(28,8) in sorted-run
    * order; since the sum is exact, any engine computing the same
    * terms in ANY order (the oracle uses a count groupBy) lands on
    * the identical double.
    *
    * Output: (doc_id, n_tokens, n_distinct, entropy) — entropy −Σ
    * rounded to 4 dp; a single-type document scores 0.
    */
  def entropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the sorted tokens AND the token count materialize as their own
    // columns BEFORE the fold: captured inside the aggregate lambda,
    // `size(sort_array(split(normalize(...))))` re-evaluated the
    // whole tokenize+sort per ARRAY ELEMENT (the HOF-capture rule —
    // O(n²) tokenization; this entry read 4.3 s at sf0.1, the #2
    // slowest on the r14 validation board, for a per-row readout).
    // Bound column references inside the lambda are cheap.
    val w = col("__w")
    val n = col("__n")
    def term(run: Column): Column =
      round((run.cast("double") / n) * log(run.cast("double") / n), 8)
        .cast("decimal(28,8)")
    val zero = lit(0).cast("decimal(28,8)")
    def closeRun(acc: Column): Column =
      (acc.getField("acc") + when(acc.getField("run") > 0,
        term(acc.getField("run"))).otherwise(zero)).cast("decimal(28,8)")
    val h = aggregate(
      w,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        zero.as("acc")),
      (acc, x) => {
        val same = x.eqNullSafe(acc.getField("prev"))
        struct(x.as("prev"),
          when(same, acc.getField("run") + lit(1L)).otherwise(lit(1L))
            .as("run"),
          when(same, acc.getField("acc")).otherwise(closeRun(acc))
            .as("acc"))
      },
      // decimal round before the cast — exact-half portability
      acc => round(-closeRun(acc), 4).cast("double"))
    docs
      .select(col(idCol).as("doc_id"),
        sort_array(words(col(textCol))).as("__w"))
      .select(col("doc_id"), col("__w"),
        size(col("__w")).cast("double").as("__n"))
      .select(col("doc_id"),
        size(w).cast("bigint").as("n_tokens"),
        size(array_distinct(w)).cast("bigint").as("n_distinct"),
        h.as("entropy"))
  }

  def repetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = words(col(textCol))
    def dupFrac(w: Column, k: Int): Column = {
      val total = (size(w) - (k - 1)).cast("double")
      when(size(w) < k, lit(null).cast("double"))
        .otherwise((total -
          size(graft.functions.ShingleHashes.ofTokens(w, k)).cast("double"))
          / total)
    }
    // Longest equal-run in the sorted token array == the max token
    // multiplicity. State: (prev token, current run, best run).
    def topRun(w: Column): Column = aggregate(
      sort_array(w),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    docs.select(col(idCol).as("doc_id"),
      size(toks).cast("bigint").as("n_tokens"),
      dupFrac(toks, 2).as("dup2_frac"),
      dupFrac(toks, 3).as("dup3_frac"),
      (topRun(toks).cast("double") / size(toks).cast("double"))
        .as("top_word_frac"))
  }

  /** Per-document lexical-diversity readout: token/type/hapax counts
    * and their exact ratios — type-token ratio (TTR, Templin 1957)
    * and hapax fraction, the vocabulary-richness quality signals a
    * filter stack reads next to [[repetition]] (low TTR = template /
    * keyword-stuffed text even when entropy looks fine; hapax-heavy
    * text is OCR noise or codes).
    *
    * Scale shape: ZERO shuffle — types come from `array_distinct`
    * per row, and the hapax count is a run-length fold over the
    * per-row SORTED token array (the same local-sort trick as
    * [[entropy]]/[[repetition]]; an explode + groupBy(doc, token)
    * would shuffle the whole token stream to compute a per-row
    * number). Both ratios are the engine-exact integer rounding
    * ([[graft.functions.ExactRound]]); a zero-token document keeps
    * its row with NULL ratios.
    *
    * Output: (doc_id, n_tokens, n_types, n_hapax, ttr, hapax_frac).
    */
  def lexicalDiversity(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val w = filter(words(col(textCol)),
      t => length(t) > 0)
    // hapax = tokens of multiplicity exactly 1: +1 when a new run
    // opens, −1 the moment it reaches length 2, 0 on longer runs.
    val hapax = aggregate(
      sort_array(w),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("acc")),
      (acc, x) => {
        val same = x.eqNullSafe(acc.getField("prev"))
        struct(x.as("prev"),
          when(same, acc.getField("run") + lit(1L)).otherwise(lit(1L))
            .as("run"),
          (acc.getField("acc") +
            when(same && (acc.getField("run") === lit(1L)), lit(-1L))
              .when(!same, lit(1L)).otherwise(lit(0L))).as("acc"))
      },
      acc => acc.getField("acc"))
    val nTok = size(w).cast("bigint")
    val nTyp = size(array_distinct(w)).cast("bigint")
    val nHap = hapax.cast("bigint")
    docs.select(col(idCol).as("doc_id"),
      nTok.as("n_tokens"), nTyp.as("n_types"), nHap.as("n_hapax"),
      graft.functions.ExactRound.ratio6(nTyp, nTok).as("ttr"),
      graft.functions.ExactRound.ratio6(nHap, nTok).as("hapax_frac"))
  }

  /** Per-group Good–Turing unseen-vocabulary mass (Good 1953,
    * doi:10.1093/biomet/40.3-4.237): P(next token is a NEW type)
    * ≈ f₁/N — hapax count over total tokens. The readout that says
    * whether a source's vocabulary is saturated (low p_unseen: safe
    * to freeze the tokenizer) or still growing (high: more data will
    * keep minting types) — read next to [[vocabulary]] and
    * [[zipfSlope]] when sizing a tokenizer train set.
    *
    * Scale shape: one partial-aggregated (group, word) count shuffle
    * over the token stream, then one group-sized rollup — the same
    * two-stage shape as [[zipfSlope]], vocabulary-bounded state
    * throughout. The emitted mass is the engine-exact integer
    * rounding.
    *
    * Output: (group, n_tokens, n_types, n_hapax, p_unseen).
    */
  def goodTuring(docs: DataFrame, textCol: String,
                 groupCol: String): DataFrame = {
    val tk = docs.select(col(groupCol).as("grp"), explode(filter(
      words(col(textCol)), t => length(t) > 0)).as("t"))
    tk.groupBy(col("grp"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("grp"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        count(when(col("c") === 1L, 1)).as("n_hapax"))
      .select(col("grp").as(groupCol),
        col("n_tokens").cast("bigint").as("n_tokens"),
        col("n_types"), col("n_hapax"),
        graft.functions.ExactRound.ratio6(col("n_hapax"), col("n_tokens"))
          .as("p_unseen"))
  }

  /** C4 line-level cleaning (Raffel et al. 2020, arXiv:1910.10683
    * §2.2): retain only lines that end in terminal punctuation, have
    * at least three words, and do not mention javascript; flag pages
    * carrying "lorem ipsum" or a curly brace, and gate on at least
    * five sentences surviving — the canonical web-crawl cleanup
    * every C4-descended corpus starts from. Lines are
    * newline-separated; the cleaned text is the surviving lines
    * re-joined in order.
    *
    * Scale shape: ZERO shuffle — line split, the per-line rule
    * lambda, the page flags, and the rebuild are all per-row
    * codegen'd array expressions; streams statelessly. Sentence
    * count is the terminal-punctuation count over the CLEANED text
    * (the usual heuristic; abbreviations over-count, documented not
    * hidden).
    *
    * Output: (doc_id, n_lines, n_kept_lines, n_sentences, has_lorem,
    * has_brace, kept, text_clean).
    */
  def c4Rules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n")
    val keptLines = filter(lines, l =>
      rtrim(l).rlike("[.!?\"]$") &&
        size(filter(split(trim(l), "\\s+"), t => length(t) > 0)) >= 3 &&
        !lower(l).rlike("\\bjavascript\\b"))
    val cleaned = array_join(keptLines, "\n")
    val nSent = regexp_count(cleaned, lit("[.!?]")).cast("bigint")
    val hasLorem = lower(col(textCol)).contains("lorem ipsum")
    val hasBrace = col(textCol).contains("{")
    docs.select(col(idCol).as("doc_id"),
      size(lines).cast("bigint").as("n_lines"),
      size(keptLines).cast("bigint").as("n_kept_lines"),
      nSent.as("n_sentences"),
      hasLorem.as("has_lorem"), hasBrace.as("has_brace"),
      (!hasLorem && !hasBrace && nSent >= 5).as("kept"),
      cleaned.as("text_clean"))
  }

  /** Encoding-quality (mojibake) gate: per-document counts of U+FFFD
    * replacement characters (the residue of a wrong-charset decode)
    * and C0 control characters (tab/newline/CR excluded) — the
    * "was this page decoded correctly" filter that runs before any
    * text heuristic can be trusted, since mojibake poisons
    * tokenization, language-ID, and dedup fingerprints alike.
    *
    * ZERO shuffle — two codegen'd regexp counts per row; streams
    * statelessly. The bad-character fraction is the engine-exact
    * integer rounding; an empty document keeps its row with a NULL
    * fraction and counts as clean.
    *
    * Output: (doc_id, n_chars, n_replacement, n_control, bad_frac,
    * clean).
    */
  def encodingQuality(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val t = col(textCol)
    val nRepl = regexp_count(t, lit("\\x{FFFD}")).cast("bigint")
    val nCtrl = regexp_count(t,
      lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")).cast("bigint")
    docs.select(col(idCol).as("doc_id"),
      length(t).cast("bigint").as("n_chars"),
      nRepl.as("n_replacement"), nCtrl.as("n_control"),
      graft.functions.ExactRound.ratio6(nRepl + nCtrl,
        length(t).cast("bigint")).as("bad_frac"),
      (nRepl === 0L && nCtrl === 0L).as("clean"))
  }

  /** Vocabulary coverage curve: for each candidate vocabulary size k,
    * the fraction of TOKEN OCCURRENCES the top-k most frequent words
    * cover — the tokenizer-sizing readout next to [[goodTuring]]'s
    * unseen mass (coverage(k) flattening is the signal that a larger
    * word-level vocab stops paying and subwords should take over).
    *
    * Scale shape: one partial-aggregated (word) count shuffle; the
    * top-max(k) cut is a distributed TakeOrderedAndProject
    * (per-partition heaps — the vocabulary is never globally
    * sorted); the rank window and the k fan-out then run over at
    * most max(k) rows — a LITERAL bound independent of corpus size,
    * so the single-partition window is dimension-sized by
    * construction. The corpus token total comes from a separate
    * scan-only aggregation (per-document counts partial-aggregate;
    * the token stream itself never shuffles for it). Coverage is the
    * engine-exact integer rounding.
    *
    * Output: one row per DISTINCT k — (k, n_vocab, covered_tokens,
    * total_tokens, coverage), n_vocab = min(k, vocabulary size).
    * Duplicate k values are rejected (the groupBy on k would
    * silently collapse them). An empty corpus yields ZERO rows —
    * there is no top-k vocabulary to fan the k values over; callers
    * wanting a zero row per k should guard upstream.
    */
  def vocabCoverage(docs: DataFrame, textCol: String,
                    ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), "need positive k values")
    require(ks.distinct.size == ks.size,
      s"duplicate k values collapse in the per-k rollup: $ks")
    import org.apache.spark.sql.expressions.Window
    val w = filter(words(col(textCol)), t => length(t) > 0)
    val top = docs.select(explode(w).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("t").asc).limit(ks.max)
      // single-partition window is BOUNDED: its input is the
      // limit(ks.max) top-k above (TakeOrderedAndProject), never the
      // vocabulary — at most ks.max rows rank here at any corpus size
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("freq").desc, col("t").asc)).cast("long"))
    val total = docs.agg(sum(size(w).cast("long")).as("total_tokens"))
    val karr = array(ks.sorted.map(k => lit(k.toLong)): _*)
    top.select(col("freq"),
        explode(filter(karr, k => k >= col("rnk"))).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_vocab"), sum(col("freq")).as("covered_tokens"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("n_vocab"),
        col("covered_tokens").cast("bigint").as("covered_tokens"),
        col("total_tokens"),
        graft.functions.ExactRound.ratio6(col("covered_tokens"),
          col("total_tokens")).as("coverage"))
  }

  /** Population-stability-index drift between two corpus snapshots
    * over the standard token-length buckets (16/32/64/128/256/512,
    * the [[Packing.lengthBuckets]] chain): PSI = Σ (pᵃ−pᵇ)·ln(pᵃ/pᵇ)
    * — the between-refresh distribution-shift gate (PSI < 0.1 stable
    * / 0.1–0.25 drifting / > 0.25 investigate, the standard bands)
    * a pipeline checks before retraining on a new crawl.
    *
    * Scale shape: two map-side-combinable histogram aggregations
    * (state = six buckets each), then everything downstream runs on
    * the six-row bucket dimension — totals come back as a one-row
    * broadcast, never a global window.
    *
    * Portability: bucket shares are the engine-exact integer
    * rounding; each PSI term is one sub/div/ln chain over those
    * exact doubles rounded to 6 dp (ln is the only inexact surface,
    * the [[zipfSlope]] convention); the total sums the 6-dp terms as
    * scaled integers — exactly order-independent. A bucket empty on
    * either side contributes a NULL term excluded from the total
    * (the standard no-smoothing PSI convention, documented rather
    * than hidden by an epsilon).
    *
    * Output: one row per bucket present in either snapshot —
    * (bucket, n_a, n_b, p_a, p_b, psi_term, psi) with `psi` the
    * corpus-level total repeated per row.
    */
  def lengthPsi(a: DataFrame, b: DataFrame, textCol: String): DataFrame = {
    def hist(df: DataFrame, nm: String): DataFrame = {
      val n = tokenCount(col(textCol))
      val bucket = when(n <= 16, 16L).when(n <= 32, 32L).when(n <= 64, 64L)
        .when(n <= 128, 128L).when(n <= 256, 256L).otherwise(512L)
      df.select(bucket.as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as(nm))
    }
    val joined = hist(a, "n_a").join(hist(b, "n_b"), Seq("bucket"), "full")
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val tots = joined.agg(sum(col("n_a")).as("tot_a"),
      sum(col("n_b")).as("tot_b"))
    val detail = joined.crossJoin(broadcast(tots))
      .withColumn("p_a",
        graft.functions.ExactRound.ratio6(col("n_a"), col("tot_a")))
      .withColumn("p_b",
        graft.functions.ExactRound.ratio6(col("n_b"), col("tot_b")))
      .withColumn("psi_term",
        when(col("n_a") > 0 && col("n_b") > 0 &&
            col("p_a") > 0 && col("p_b") > 0,
          round((col("p_a") - col("p_b")) * log(col("p_a") / col("p_b")), 6)))
      .drop("tot_a", "tot_b")
    val total = detail.agg(coalesce(sum(
        round(col("psi_term") * 1e6).cast("long")), lit(0L)).as("psi_scaled"))
      .select((col("psi_scaled").cast("double") / 1e6).as("psi"))
    detail.crossJoin(broadcast(total))
  }

  /** Blocklist word-filter gate (the UT1/"bad words" pass of
    * CCNet/RefinedWeb-style cleanups): per document, how many token
    * occurrences and how many DISTINCT terms hit the blocklist, the
    * exact hit fraction, and the gate bit. The gate is pure integer
    * arithmetic (engine-portable): blocked when ≥ 2 distinct
    * blocklisted terms appear, or when blocklisted occurrences
    * exceed `maxHitPct`% of the tokens.
    *
    * Scale shape: ZERO shuffle — the blocklist is a LITERAL array in
    * the plan (a real deployment's list is a few thousand words:
    * still literal/broadcast-sized), and the hit counting is a
    * per-row codegen'd array filter; streams statelessly. Token rule
    * is the length-filtered camp ([[vocabCoverage]]'s): a zero-token
    * document carries NULL hit_frac and is not blocked.
    *
    * Output: (doc_id, n_tokens, n_hits, n_distinct_hits, hit_frac,
    * blocked).
    */
  def blocklistGate(docs: DataFrame, idCol: String, textCol: String,
                    blocklist: Seq[String], maxHitPct: Int = 5): DataFrame = {
    require(blocklist.nonEmpty, "need a non-empty blocklist")
    require(maxHitPct >= 0 && maxHitPct <= 100,
      s"maxHitPct is a percentage, got $maxHitPct")
    val bl = array(blocklist.map(lit): _*)
    val ws = filter(words(col(textCol)), t => length(t) > 0)
    docs.select(col(idCol).as("doc_id"),
        size(ws).cast("bigint").as("n_tokens"),
        filter(ws, t => array_contains(bl, t)).as("hits"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("hits")).cast("bigint").as("n_hits"),
        size(array_distinct(col("hits"))).cast("bigint")
          .as("n_distinct_hits"))
      .select(col("doc_id"), col("n_tokens"), col("n_hits"),
        col("n_distinct_hits"),
        graft.functions.ExactRound.ratio6(col("n_hits"), col("n_tokens"))
          .as("hit_frac"),
        (col("n_distinct_hits") >= 2L ||
          col("n_hits") * 100L > col("n_tokens") * maxHitPct)
          .as("blocked"))
  }

  /** Top-k n-gram frequency table for each requested n — the
    * "top bigrams/trigrams" block of a dataset card, and the raw
    * input to phrase-level dedup lists. Tokens are the
    * length-filtered normalized words; an n-gram is the
    * space-joined window, counted across the corpus.
    *
    * Scale shape: one explode + one partial-aggregated count shuffle
    * PER n, each cut by a distributed TakeOrderedAndProject
    * (per-partition heaps; the n-gram table is never globally
    * sorted) — the per-n plans union AFTER their k-bounded cuts, so
    * the union carries ≤ Σk rows. Ordering is (freq desc, gram asc):
    * fully deterministic, engine-portable cut boundary.
    *
    * Output: one row per (n, gram) — (n, gram, freq), at most k rows
    * per n.
    */
  def topNgrams(docs: DataFrame, textCol: String, ns: Seq[Int],
                k: Int): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"need n >= 1, got $ns")
    require(ns.distinct.size == ns.size, s"duplicate n values: $ns")
    require(k >= 1, s"need a positive k, got $k")
    // tokenize ONCE into a materialized column: captured inside the
    // positional transform, the regex split would re-run per gram
    // position (the HOF-lambda-capture rule — see collocations)
    val ws = filter(words(col(textCol)), t => length(t) > 0)
    val tokenized = docs.select(ws.as("__ws"))
    val perN = ns.sorted.map { n =>
      // guard: sequence(1, size-n+1) DESCENDS when size < n, which
      // would fabricate grams — short documents contribute nothing
      val grams = when(size(col("__ws")) >= n,
        transform(sequence(lit(1), size(col("__ws")) - n + 1),
          i => concat_ws(" ", slice(col("__ws"), i, lit(n)))))
        .otherwise(array().cast("array<string>"))
      tokenized.select(explode(grams).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("gram").asc).limit(k)
        .select(lit(n.toLong).as("n"), col("gram"), col("freq"))
    }
    perN.reduce(_ unionByName _)
  }

  /** T160: PMI collocation mining (Church & Hanks 1990) — the top-k
    * adjacent word pairs by pointwise mutual information,
    * PMI(a,b) = ln(N·c(a,b) / (c(a)·c(b))), with a minimum pair
    * count so hapax pairs (PMI's known failure mode — two words that
    * co-occur once score arbitrarily high) never rank. This is the
    * multiword-expression detector a tokenizer-vocabulary or
    * quality-analysis pass runs to see what a corpus actually glues
    * together ("new york", "machine learning") versus what mere
    * frequency suggests.
    *
    * Exactness: all three counts are exact integers; the PMI forms
    * its two products in DOUBLE (exact to 2^53 — c(a,b)·N wraps a
    * long near 1e9·1e9), takes ONE IEEE division and ln, rounds to
    * 6 dp; ranking ties break on (w1, w2), so the top-k boundary is
    * deterministic.
    *
    * Scale shape: two map-side-combined count shuffles over the
    * token/pair streams (pairs come from a per-row transform over
    * consecutive positions — no position explode beyond the pair
    * stream itself), two vocab-keyed joins of the ≥minCount pair
    * table against the unigram counts (AQE broadcasts the unigram
    * side when the vocabulary is small; both co-shuffle on the token
    * key otherwise), one scalar broadcast for N, and the two-stage
    * TopK — never a window over the corpus.
    *
    * Output: (w1, w2, n_pair, pmi), top `topK` by PMI.
    */
  def collocations(docs: DataFrame, textCol: String, minCount: Int = 5,
                   topK: Int = 100): DataFrame = {
    require(minCount >= 1 && topK >= 1,
      s"need minCount/topK >= 1, got $minCount/$topK")
    val ws = filter(words(col(textCol)), t => length(t) > 0)
    // tokenize ONCE into a materialized column before the positional
    // transform — an expression captured inside the lambda would
    // re-run the regex split per position (the bootstrapCI lesson)
    val pairs = docs.select(ws.as("__ws"))
      .select(explode(when(size(col("__ws")) >= 2,
        transform(sequence(lit(1), size(col("__ws")) - 1), i => struct(
          element_at(col("__ws"), i).as("w1"),
          element_at(col("__ws"), i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
      .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val uni = docs.select(explode(ws).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .stage()
    val n = uni.agg(sum(col("c")).cast("bigint").as("n_total"))
    val scored = pairs
      .join(uni.select(col("t").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log((col("n_pair").cast("double") * col("n_total").cast("double"))
          / (col("c1").cast("double") * col("c2").cast("double"))), 6)
          .as("pmi"))
    scored.orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** T154: Heaps'-law vocabulary-growth fit per group (Heaps 1978;
    * the V(n) = K·n^β law every tokenizer-budget plan starts from).
    * Each document contributes one (ln n_tokens, ln n_distinct)
    * point; the per-group OLS slope IS the Heaps exponent β — how
    * fast this source keeps minting new vocabulary as it grows — and
    * the intercept is ln K. Sources with β near 1 are open-ended
    * (code, user IDs, URLs — vocabulary grows linearly and a fixed
    * subword vocab will fragment them); prose sits near 0.4–0.6.
    *
    * Portability is the [[zipfSlope]] convention: ln() is the only
    * inexact surface, so both engines round each log to 8 dp and
    * accumulate the regression sums as exact decimals; the
    * closed-form slope and intercept then divide identical doubles,
    * rounded to 6 dp. Word-camp tokenization; zero-word documents
    * carry no point. Degenerate groups (all docs the same length —
    * x-variance 0) read NULL slope and intercept.
    *
    * Scale shape: ONE map-side-combined rollup straight to the
    * group dimension — the per-document distinct count is a per-row
    * fold (`array_distinct`, no token explode), so nothing between
    * the scan and the group-sized aggregate ever shuffles more than
    * (group, 6 sums) rows.
    *
    * Output: (group, n_docs, heaps_beta, heaps_lnk).
    */
  def heapsFit(docs: DataFrame, textCol: String,
               groupCol: String): DataFrame = {
    val ws = filter(words(col(textCol)), t => length(t) > 0)
    val n = size(ws).cast("bigint")
    val v = size(array_distinct(ws)).cast("bigint")
    val pts = docs
      .select(col(groupCol).as("grp"), n.as("n"), v.as("v"))
      .filter(col("n") >= 1)
    val x = round(log(col("n").cast("double")), 8).cast("decimal(18,8)")
    val y = round(log(col("v").cast("double")), 8).cast("decimal(18,8)")
    val agg = pts.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(x * y).as("sxy"),
        min(x).as("xmin"), max(x).as("xmax"))
    def d(c: Column): Column = c.cast("double")
    val nD = col("n_docs").cast("double")
    val denom = nD * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    // degeneracy is decided EXACTLY on the decimal x values (all
    // docs the same length ⇔ min = max) — the double-cast
    // cancellation n·Σx²−(Σx)² is ~1e-15-not-0 for most constant-x
    // groups (x²·10¹⁶ exceeds 2^53), which would publish a
    // tiny/tiny garbage fit instead of the documented NULL
    val degenerate = col("xmin") === col("xmax")
    val betaRaw = (nD * d(col("sxy")) - d(col("sx")) * d(col("sy"))) / denom
    agg.select(col("grp").as(groupCol), col("n_docs"),
      when(degenerate || denom === 0.0, lit(null).cast("double"))
        .otherwise(round(betaRaw, 6)).as("heaps_beta"),
      // intercept in closed form (sy·sxx − sx·sxy)/denom, so both
      // engines evaluate one identical expression tree — never
      // "mean minus slope·mean" on intermediate roundings
      when(degenerate || denom === 0.0, lit(null).cast("double"))
        .otherwise(round((d(col("sy")) * d(col("sxx"))
          - d(col("sx")) * d(col("sxy"))) / denom, 6)).as("heaps_lnk"))
  }

  /** T155: robust outlier gate per group — median/MAD instead of
    * mean/σ, the length-distribution screen that heavy-tailed web
    * corpora actually need (one 10 MB page moves a mean+std gate's
    * threshold corpus-wide; it moves the median not at all). A
    * document is flagged when |len − median| > k·MAD. Everything is
    * INTEGER arithmetic end-to-end (lower median: the value at
    * 1-based position ⌈n/2⌉ = (n+1) div 2 of the sorted multiset) —
    * no interpolation, no floats, bit-identical in any engine.
    *
    * Scale shape: the corpus-sized stage is ONE map-side-combined
    * histogram rollup to (group, len) rows; the median and the MAD
    * come from cumulative sums over that HISTOGRAM (windows over
    * distinct values per group, never over documents), the deviation
    * histogram is a re-key of the first, and the outlier count is a
    * filtered re-aggregation — after the first rollup nothing is
    * larger than the distinct-length dimension.
    *
    * Output: (group, n_docs, med, mad, n_outliers, outlier_frac).
    */
  def robustOutliers(docs: DataFrame, textCol: String, groupCol: String,
                     k: Int = 5): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val ws = filter(words(col(textCol)), t => length(t) > 0)
    val hist = docs
      .select(col(groupCol).as("grp"), size(ws).cast("bigint").as("v"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("cnt"))
      .stage()
    val tot = hist.groupBy(col("grp"))
      .agg(sum(col("cnt")).as("n_docs"))
    def lowerMedian(h: DataFrame, valCol: String): DataFrame = {
      // 1-based position of the lower median: m = (n+1) div 2 —
      // subtract the remainder before dividing so the division is
      // exact in double and the bigint cast lossless (the repo's
      // integer-div idiom)
      val np1 = col("n_docs") + lit(1L)
      val m = ((np1 - np1 % 2) / 2).cast("bigint")
      val cum = h.join(tot, "grp")
        .withColumn("cc", sum(col("cnt")).over(
          Window.partitionBy(col("grp")).orderBy(col(valCol))))
        .filter(col("cc") >= m)
      cum.groupBy(col("grp")).agg(min(col(valCol)).as(s"med_$valCol"))
    }
    val med = lowerMedian(hist, "v")
    val dev = hist.join(med, "grp")
      .groupBy(col("grp"), abs(col("v") - col("med_v")).as("d"))
      .agg(sum(col("cnt")).as("cnt"))
      .stage()
    val mad = lowerMedian(dev, "d")
    val outs = dev.join(mad, "grp")
      .groupBy(col("grp"))
      .agg(sum(when(col("d") > lit(k.toLong) * col("med_d"), col("cnt"))
        .otherwise(lit(0L))).as("n_outliers"))
    tot.join(med, "grp").join(mad, "grp").join(outs, "grp")
      .select(col("grp").as(groupCol), col("n_docs"),
        col("med_v").as("med"), col("med_d").as("mad"),
        col("n_outliers"),
        graft.functions.ExactRound.ratio6(col("n_outliers"), col("n_docs"))
          .as("outlier_frac"))
  }

  /** T170: Spearman rank correlation between two INTEGER quality
    * signals, per group — "do our quality proxies agree in how they
    * RANK documents" (quality filters act on ranks/thresholds, so
    * rank agreement, not Pearson on raw values, is the right
    * redundancy readout before paying for a second signal; Spearman
    * 1904, average-rank tie convention).
    *
    * Rank computation never sorts the corpus: ranks come from the
    * per-group VALUE HISTOGRAM — for a document with value x,
    * 2·rank(x) = 2·cnt_less(x) + cnt_eq(x) + 1, an exact integer
    * (the ×2 keeps tie midpoints integral), computed by a cumulative
    * window over the (group × distinct value) frame and joined back
    * by (group, value). rho is then Pearson over the doubled ranks
    * (scale-invariant): (nΣuv − ΣuΣv)/√((nΣu²−(Σu)²)(nΣv²−(Σv)²)) —
    * moments accumulate as DECIMAL(38,0) (exact at any corpus), the
    * readout forms products in DOUBLE (exact to 2^53), ONE IEEE
    * tree, 6-dp round. A group where either signal is constant
    * reads NULL (rank variance 0).
    *
    * Scale shape: one corpus rollup per signal to the value
    * histograms, windows over the HISTOGRAMS only (the
    * [[robustOutliers]] convention), two (group, value)-keyed hash
    * joins back to the corpus, ONE moment rollup. No corpus
    * windows, no cartesian.
    *
    * Output: (groupCol, n_docs, rho).
    */
  def spearman(docs: DataFrame, x: Column, y: Column,
               groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(groupCol).as("grp"),
      x.cast("bigint").as("x"), y.cast("bigint").as("y"))
      .stage() // feeds both histograms AND the rank join-back
    def ranks(valCol: String): DataFrame = base
      .groupBy(col("grp"), col(valCol)).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("grp")).orderBy(col(valCol))))
      // 2·avg-rank = 2·(cum − cnt) + cnt + 1, exact integers
      .select(col("grp"), col(valCol),
        (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + lit(1L))
          .as(s"r_$valCol"))
    val ranked = base
      .join(ranks("x"), Seq("grp", "x"))
      .join(ranks("y"), Seq("grp", "y"))
    val m = ranked.groupBy(col("grp")).agg(
      count(lit(1)).as("n"),
      sum(col("r_x").cast("decimal(38,0)")).as("su"),
      sum(col("r_y").cast("decimal(38,0)")).as("sv"),
      sum((col("r_x") * col("r_x")).cast("decimal(38,0)")).as("suu"),
      sum((col("r_y") * col("r_y")).cast("decimal(38,0)")).as("svv"),
      sum((col("r_x") * col("r_y")).cast("decimal(38,0)")).as("suv"))
    def d(c: String): Column = col(c).cast("double")
    val num = d("n") * d("suv") - d("su") * d("sv")
    val da = d("n") * d("suu") - d("su") * d("su")
    val db = d("n") * d("svv") - d("sv") * d("sv")
    m.select(col("grp").as(groupCol), col("n").as("n_docs"),
      when(da > 0 && db > 0, round(num / sqrt(da * db), 6))
        .otherwise(lit(null).cast("double")).as("rho"))
  }

  /** T174: two-sample Kolmogorov–Smirnov distance between each
    * group's token-count distribution and the REST of the corpus —
    * the distribution-drift readout PSI ([[lengthPsi]]) bins away:
    * KS is the max CDF gap at ANY threshold, so it is exactly the
    * worst-case disagreement a length-threshold filter would see if
    * tuned on the rest and applied to this source. The
    * snapshot-over-snapshot variant is the same call with a
    * source column tagging the snapshots.
    *
    * Exactness: the whole statistic is integer arithmetic until the
    * last step — at every candidate threshold v,
    * |cum_s(v)·n_rest − cum_rest(v)·n_s| is an exact DECIMAL(38,0)
    * (never a float CDF subtraction), the max is an exact integer
    * max, and KS = max/(n_s·n_rest) is ONE IEEE division + 6-dp
    * round.
    *
    * Scale shape: ONE corpus rollup to the (group × distinct value)
    * histogram; the candidate-threshold grid is (groups × distinct
    * values) — value-dimension sized, built by a broadcast cross
    * join of two rollup outputs; cumulative windows run over that
    * grid partitioned by group (the [[robustOutliers]] convention —
    * never over the corpus). No corpus joins.
    *
    * Output: (groupCol, n_docs, n_rest, ks).
    */
  def ksDrift(docs: DataFrame, textCol: String,
              groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = filter(words(col(textCol)), t => length(t) > 0)
    val hist = docs
      .select(col(groupCol).as("grp"), size(ws).cast("bigint").as("v"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("cnt"))
      .stage() // feeds the group histograms, the global histogram,
               // and the group totals
    val groups = hist.groupBy(col("grp")).agg(sum(col("cnt")).as("n_s"))
    val vals = hist.groupBy(col("v")).agg(sum(col("cnt")).as("cnt_all"))
    val nTot = vals.agg(sum(col("cnt_all")).as("n_tot"))
    // (group × distinct value) grid with both cumulative counts
    val grid = groups.crossJoin(broadcast(vals))
      .join(hist, Seq("grp", "v"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("cum_s", sum(col("cnt")).over(
        Window.partitionBy(col("grp")).orderBy(col("v"))))
      .withColumn("cum_all", sum(col("cnt_all")).over(
        Window.partitionBy(col("grp")).orderBy(col("v"))))
      .crossJoin(broadcast(nTot))
    val d = grid.select(col("grp"), col("n_s"), col("n_tot"),
        (col("cum_s").cast("decimal(38,0)") *
          ((col("n_tot") - col("n_s")).cast("decimal(38,0)")) -
          (col("cum_all") - col("cum_s")).cast("decimal(38,0)") *
            col("n_s").cast("decimal(38,0)")).as("gap"))
      .groupBy(col("grp"), col("n_s"), col("n_tot"))
      .agg(max(greatest(col("gap"), -col("gap"))).as("mx"))
    d.select(col("grp").as(groupCol), col("n_s").as("n_docs"),
      (col("n_tot") - col("n_s")).as("n_rest"),
      when(col("n_s") > 0 && col("n_tot") > col("n_s"),
        round(col("mx").cast("double") /
          (col("n_s").cast("double") *
            (col("n_tot") - col("n_s")).cast("double")), 6))
        .otherwise(lit(null).cast("double")).as("ks"))
  }

  /** T180: PII surface-area census per group — counts of email-like
    * tokens, long digit runs (phone/account), dotted quads, and URLs,
    * both total occurrences and affected-document counts. [[redact]]
    * SCRUBS two of these classes; this is the measurement that
    * decides whether scrubbing is sufficient and AUDITS it (run
    * before and after: the after-column must read zero for the
    * scrubbed classes). Patterns are syntactic, stay inside the
    * RE2 ∩ java.util.regex common subset (so the oracle replays them
    * byte-for-byte), and deliberately over-match (a dotted quad
    * census includes version strings — stated: this is a surface
    * AREA census for triage, not a PII classifier).
    *
    * Scale shape: four codegen'd regexp counts per row + ONE
    * map-side-combined rollup to the group dimension; no joins, no
    * windows — deploys unchanged on a stream.
    *
    * Output: (groupCol, n_docs, n_email_docs, n_emails,
    * n_longnum_docs, n_longnums, n_ipv4_docs, n_ipv4s, n_url_docs,
    * n_urls).
    */
  /** The four census patterns shared by [[piiStats]] and
    * [[redactionAudit]] — RE2 ∩ java.util.regex subset, so any
    * engine replays them byte-for-byte. `email` and `longnum` are
    * the classes [[redact]] scrubs; `ipv4`/`url` are census-only.
    */
  private val PiiPatterns = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "longnum" -> "\\d{10,}",
    "ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "url" -> "https?://[^\\s]+")

  def piiStats(docs: DataFrame, textCol: String,
               groupCol: String): DataFrame = {
    val pats = PiiPatterns
    val counted = docs.select(
      col(groupCol).as("grp") +: pats.map { case (nm, re) =>
        size(regexp_extract_all(col(textCol), lit(re), lit(0)))
          .cast("bigint").as(s"c_$nm")
      }: _*)
    val aggs = count(lit(1)).as("n_docs") +: pats.flatMap { case (nm, _) =>
      Seq(sum(when(col(s"c_$nm") > 0, 1L).otherwise(0L))
          .as(s"n_${nm}_docs"),
        sum(col(s"c_$nm")).as(s"n_${nm}s"))
    }
    counted.groupBy(col("grp")).agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("grp", groupCol)
  }

  /** T184: the REDACTION AUDIT — the production leak alarm wrapped
    * around the [[redact]] pass: census every PII class before AND
    * after the scrub in one projection, roll up per group, and
    * `raise_error` if any SCRUBBED class (email, longnum) survives
    * redaction — a silent redaction regression must fail the job,
    * never publish a "clean" corpus. The census-only classes
    * (ipv4, url) pass through un-gated, by [[redact]]'s contract.
    *
    * Scale shape: ONE corpus scan (the redacted text is derived in
    * the same codegen'd projection as the raw counts — the corpus
    * is never materialized twice), one grouped rollup to the group
    * dimension. A SINGLE aggregation, so the whole audit — gate
    * included — deploys unchanged as a Complete-mode streaming
    * query (StreamingSpec pins stream == batch); two chained
    * [[piiStats]] rollups would not (stream-stream joins of
    * aggregates are unsupported).
    *
    * Output: (groupCol, n_docs, before_emails, before_longnums,
    * before_ipv4s, before_urls, after_emails, after_longnums,
    * after_ipv4s, after_urls, scrub_certified).
    *
    * `redactor` defaults to [[redact]]; injectable so the spec can
    * certify the gate actually FIRES under a broken redactor (and so
    * a deployment with a stricter scrubber audits the same way).
    */
  def redactionAudit(docs: DataFrame, textCol: String,
                     groupCol: String,
                     redactor: Column => Column = redact): DataFrame = {
    val red = redactor(col(textCol))
    def cnt(src: Column, re: String): Column =
      size(regexp_extract_all(src, lit(re), lit(0))).cast("bigint")
    val counted = docs.select(
      col(groupCol).as("grp") +: PiiPatterns.flatMap { case (nm, re) =>
        Seq(cnt(col(textCol), re).as(s"b_$nm"), cnt(red, re).as(s"a_$nm"))
      }: _*)
    counted.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("b_email")).as("before_emails"),
        sum(col("b_longnum")).as("before_longnums"),
        sum(col("b_ipv4")).as("before_ipv4s"),
        sum(col("b_url")).as("before_urls"),
        sum(col("a_email")).as("after_emails"),
        sum(col("a_longnum")).as("after_longnums"),
        sum(col("a_ipv4")).as("after_ipv4s"),
        sum(col("a_url")).as("after_urls"))
      .withColumn("scrub_certified",
        when(col("after_emails") > 0 || col("after_longnums") > 0,
          raise_error(concat(
            lit("PII leak after redaction in group '"), col("grp"),
            lit("': emails="), col("after_emails"),
            lit(" longnums="), col("after_longnums"))).cast("boolean"))
          .otherwise(lit(true)))
      .withColumnRenamed("grp", groupCol)
  }

  /** T181: empirical vocabulary-growth curve — distinct-token count
    * at `points` equal-width document-id checkpoints, the MEASURED
    * curve [[heapsFit]] fits a law to (fit vs measurement is the
    * standard pair: a corpus whose curve bends away from its own
    * Heaps fit mid-way has a composition shift — e.g. a source
    * appended at the end of the id range — that the two-parameter
    * fit averages away). Checkpoint k covers documents with
    * ⌊id·points/(max_id+1)⌋ < k, so k = points is the whole corpus.
    *
    * Exactness: a token's first occurrence is min(doc id) — exact;
    * bucket arithmetic is pure integer division; every readout is a
    * count.
    *
    * Scale shape: ONE token explode + min-rollup (the vocabulary-
    * table shape — the only corpus-sized stage), then bucket
    * rollups to `points` rows and a bounded non-equi join for the
    * cumulative counts. The max-id scalar broadcasts.
    *
    * Output: (k, n_docs, vocab) — `points` rows.
    */
  def vocabGrowthCurve(docs: DataFrame, idCol: String, textCol: String,
                       points: Int = 10): DataFrame = {
    require(points >= 2, s"need >= 2 checkpoints, got $points")
    val ws = filter(words(col(textCol)), t => length(t) > 0)
    val base = docs.select(col(idCol).cast("bigint").as("id"),
        ws.as("w"))
      .stage() // feeds the first-occurrence rollup AND the doc buckets
    val mx = base.agg(max(col("id")).as("mx"))
    def bucket(idc: Column): Column = {
      val num = idc * lit(points.toLong)
      val den = col("mx") + lit(1L)
      // exact integer division (the repo's subtract-remainder idiom)
      ((num - num % den) / den).cast("bigint")
    }
    val vb = base.select(col("id"), explode(col("w")).as("t"))
      .groupBy(col("t")).agg(min(col("id")).as("fid"))
      .crossJoin(broadcast(mx))
      .groupBy(bucket(col("fid")).as("bucket"))
      .agg(count(lit(1)).as("nv"))
    val db = base.crossJoin(broadcast(mx))
      .groupBy(bucket(col("id")).as("bucket"))
      .agg(count(lit(1)).as("nd"))
    val grid = mx.select(explode(sequence(lit(1L),
      lit(points.toLong))).as("k"))
    def cum(src: DataFrame, cnt: String, out: String): DataFrame =
      grid.join(broadcast(src), col("bucket") < col("k"), "left")
        .groupBy(col("k"))
        .agg(coalesce(sum(col(cnt)), lit(0L)).as(out))
    cum(db, "nd", "n_docs").join(cum(vb, "nv", "vocab"), Seq("k"))
      .select(col("k"), col("n_docs"), col("vocab"))
  }

  /** T183: term burstiness for the corpus's top terms — cf/df
    * (collection frequency over document frequency, Church & Gale
    * 1995's burstiness axis): a term that appears 900 times in 30
    * documents (burstiness 30) is topical/templated; one that
    * appears 900 times in 850 documents (~1.06) is function-word
    * background. The boilerplate-vs-stopword separator the plain
    * frequency table can't see — dedup/boilerplate triage reads the
    * high-burst tail, stopword lists the low-burst head.
    *
    * Exactness: cf and df are exact counts from a two-stage rollup
    * ((term, doc) partial counts combine map-side, then the term
    * rollup sums/counts them — df without a count-distinct shuffle);
    * burstiness is the exact HALF_UP ratio. Top-N by (cf desc, term
    * asc) — a total order, so the cutoff is deterministic.
    *
    * Scale shape: token explode → (term, doc)-keyed rollup →
    * term-keyed rollup → two-stage top-N (TakeOrderedAndProject,
    * never a global sort materialization). No windows, no joins.
    *
    * Output: (term, cf, df, burstiness) — `topN` rows.
    */
  def burstiness(docs: DataFrame, idCol: String, textCol: String,
                 topN: Int = 40): DataFrame = {
    require(topN >= 1, s"need topN >= 1, got $topN")
    val ws = filter(words(col(textCol)), t => length(t) > 0)
    docs.select(col(idCol).as("__id"), explode(ws).as("t"))
      .groupBy(col("t"), col("__id")).agg(count(lit(1)).as("c"))
      .groupBy(col("t"))
      .agg(sum(col("c")).as("cf"), count(lit(1)).as("df"))
      .orderBy(col("cf").desc, col("t").asc)
      .limit(topN)
      .select(col("t").as("term"), col("cf"), col("df"),
        graft.functions.ExactRound.ratio6(col("cf"), col("df"))
          .as("burstiness"))
  }

  /** T176: Simpson diversity of the token distribution per group —
    * λ = Σc²/N² (the repeat-rate: probability two random tokens
    * coincide) and its inverse 1/λ, the "effective vocabulary"
    * (Hill number of order 2). The q=2 companion to the entropy
    * (q=1) and raw-vocab (q=0) readouts the corpus reports already
    * carry: heavy-head corpora (boilerplate, templated spam) crater
    * the effective vocabulary long before raw vocab or even entropy
    * move, because λ weights the HEAD quadratically.
    *
    * Exactness: token counts are exact; Σc² accumulates as
    * DECIMAL(38,0); both readouts form products in DOUBLE and round
    * 6 dp after ONE IEEE division each.
    *
    * Scale shape: one token explode + two rollups (token, then
    * group) — the vocabulary-table shape; no windows, no joins.
    *
    * Output: (groupCol, n_tokens, vocab, simpson, eff_vocab).
    */
  def simpsonDiversity(docs: DataFrame, textCol: String,
                       groupCol: String): DataFrame = {
    val ws = filter(words(col(textCol)), t => length(t) > 0)
    val freq = docs
      .select(col(groupCol).as("grp"), explode(ws).as("t"))
      .groupBy(col("grp"), col("t")).agg(count(lit(1)).as("c"))
    val agg = freq.groupBy(col("grp")).agg(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("vocab"),
      sum((col("c") * col("c")).cast("decimal(38,0)")).as("ssq"))
    def d(c: String): Column = col(c).cast("double")
    agg.select(col("grp").as(groupCol), col("n_tokens"), col("vocab"),
      when(col("n_tokens") > 0,
        round(d("ssq") / (d("n_tokens") * d("n_tokens")), 6))
        .otherwise(lit(null).cast("double")).as("simpson"),
      when(col("ssq") > 0,
        round(d("n_tokens") * d("n_tokens") / d("ssq"), 6))
        .otherwise(lit(null).cast("double")).as("eff_vocab"))
  }
}
