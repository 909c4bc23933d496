package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.datapipe.{Dedup, TextAnalysis}
import graft.functions.ExactRound

/** Text statistics and quality-filter queries: token counts, quality
  * features, language id, corpus and vocabulary statistics, rule-based
  * filters (Gopher, C4, mojibake, blocklist, PII) and the ingest/quality
  * gate funnels built from them.
  */
object TextStatsQueries {
  import SqlFragments.{DocWords, LangScores, Words, WordsWrapped}

  /** The per-source KL CTE chain shared by `text_source_kl` and
    * `mix_doremi`: exact (source, token) counts, the corpus
    * marginal, 8-dp KL terms, and the `klv` readout (source,
    * n_tokens, n_distinct, kl).
    */
  private[queries] def sourceKlCtes: String = raw"""tk AS (SELECT source, u.t AS t
        FROM (SELECT source,
          list_filter($Words,
            x -> len(x) > 0) AS w FROM documents), UNNEST(w) u(t)),
      csw AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c_sw
        FROM tk GROUP BY 1, 2),
      cw AS (SELECT t, SUM(c_sw) AS c_w FROM csw GROUP BY 1),
      ns AS (SELECT source, SUM(c_sw) AS n_s,
          CAST(COUNT(*) AS BIGINT) AS n_distinct FROM csw GROUP BY 1),
      n AS (SELECT SUM(c_sw) AS n FROM csw),
      terms AS (SELECT csw.source,
          round((CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE)) *
            ln((CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE)) /
               (CAST(c_w AS DOUBLE) / CAST(n.n AS DOUBLE))), 8) AS term,
          n_s, n_distinct
        FROM csw JOIN cw ON cw.t = csw.t
        JOIN ns ON ns.source = csw.source, n),
      klv AS MATERIALIZED (SELECT source, CAST(MIN(n_s) AS BIGINT) AS n_tokens,
        MIN(n_distinct) AS n_distinct,
        CAST(round(SUM(CAST(term AS DECIMAL(28,8))), 6) AS DOUBLE) AS kl
      FROM terms GROUP BY source)"""

  /** Per-source unigram KL divergence to the corpus distribution.
    * The oracle rebuilds both distributions from exact counts and
    * replays the 8-dp term rounding + exact decimal sum.
    */
  private val textSourceKl = QueryDef(
    "text_source_kl",
    (s, d) => TextAnalysis.sourceDivergence(
      Tables.documents(s, d), "text", "source"),
    Some(s"""WITH $sourceKlCtes
      SELECT source, n_tokens, n_distinct, kl FROM klv"""))

  private val textTokens = QueryDef(
    "text_tokens",
    (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeishCount(col("text")).as("n_bpeish")),
    Some("""SELECT doc_id,
      CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish
      FROM documents"""))

  private val textQuality = QueryDef(
    "text_quality",
    (s, d) =>
      TextAnalysis.qualityFeatures(Tables.documents(s, d), col("text"))
        .select(col("doc_id"), col("q_chars"), col("q_words"),
          col("q_avg_word_len"), col("q_stopword_ratio"), col("q_alnum_ratio")),
    Some("""SELECT doc_id,
      CAST(length(text) AS BIGINT) AS q_chars,
      CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS q_words,
      CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        / len(regexp_split_to_array(trim(text), '\s+')) AS q_avg_word_len,
      CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE)
        / len(regexp_split_to_array(trim(text), '\s+')) AS q_stopword_ratio,
      CAST(len(regexp_extract_all(lower(text), '[a-z0-9]')) AS DOUBLE)
        / length(text) AS q_alnum_ratio
      FROM documents"""))

  private val textLangId = QueryDef(
    "text_langid",
    (s, d) =>
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.predictLang(col("text")).as("predicted_lang")),
    Some(raw"""WITH scored AS (SELECT doc_id, lang,
        $LangScores
      FROM documents)
      SELECT doc_id, lang,
        CASE WHEN s_en > 0 AND s_en >= greatest(s_en, s_es, s_fr, s_de) THEN 'en'
             WHEN s_es > 0 AND s_es >= greatest(s_en, s_es, s_fr, s_de) THEN 'es'
             WHEN s_fr > 0 AND s_fr >= greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
             WHEN s_de > 0 AND s_de >= greatest(s_en, s_es, s_fr, s_de) THEN 'de'
             ELSE 'und' END AS predicted_lang
      FROM scored"""))

  private val textFingerprint = QueryDef(
    "text_fingerprint",
    (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint")),
    Some("""SELECT doc_id,
      ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fingerprint
      FROM documents"""))

  /** Per-source exact-duplication rate — the dedup observability
    * readout next to [[corpusStats]]: documents, distinct
    * fingerprints, and the duplicate fraction per source. The rate
    * is the [[ExactRound.ratio6]] integer-exact round of
    * (n_docs − n_unique)/n_docs — round(double, 6) is a latent tie
    * bomb on integer ratios (the corpus_stats lesson).
    */
  private val dedupStats = QueryDef(
    "dedup_stats",
    (s, d) => Tables.documents(s, d)
      .select(col("source"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"))
      .withColumn("dup_rate",
        ExactRound.ratio6(col("n_docs") - col("n_unique"), col("n_docs"))),
    Some("""WITH s AS (SELECT source, COUNT(*) AS n_docs,
      CAST(COUNT(DISTINCT ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT) AS BIGINT) AS n_unique
      FROM documents GROUP BY source)
      SELECT source, n_docs, n_unique,
      ((2 * (n_docs - n_unique) * 1000000 + n_docs)
        // (2 * n_docs)) / 1000000.0 AS dup_rate
      FROM s"""))

  /** Count-min-sketch heavy hitters: the exact top-20 tokens probed
    * against a 4×1024 CMS built from the same stream — (token,
    * exact_cnt, cms_est), est ≥ exact structurally. The oracle
    * rebuilds the sketch cell-for-cell from the md5 hash contract
    * and replays the min-over-rows probe, so the hash certifies the
    * sketch itself, not just the readout.
    */
  private val textHeavyHitters = QueryDef(
    "text_heavy_hitters",
    (s, d) => {
      val tk = Tables.documents(s, d).select(explode(filter(
        TextAnalysis.words(col("text")),
        t => length(t) > 0)).as("t"))
      val top = tk.groupBy(col("t")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("t").asc).limit(20)
        .select(col("t").as("token"), col("exact_cnt"))
      val cms = graft.datapipe.Sketches.cmsCounts(tk, "t",
        depth = 4, width = 1024)
      graft.datapipe.Sketches.cmsEstimate(cms, top, "token",
        depth = 4, width = 1024)
    },
    Some(raw"""WITH toks AS (SELECT doc_id,
        list_filter($Words,
          x -> len(x) > 0) AS w
        FROM documents),
      tk AS (SELECT u.t AS t FROM toks, UNNEST(w) u(t)),
      cnts AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM tk GROUP BY t),
      top AS (SELECT t AS token, exact_cnt FROM cnts
        ORDER BY exact_cnt DESC, t LIMIT 20),
      rb AS (SELECT r.r,
          ('0x' || substr(md5('cms:' || CAST(r.r AS VARCHAR) || ':' || tk.t), 1, 15))::BIGINT
            % 1024 AS b
        FROM tk, generate_series(0, 3) r(r)),
      cms AS (SELECT r, b, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM rb GROUP BY r, b),
      est AS (SELECT top.token, top.exact_cnt, MIN(cms.cnt) AS cms_est
        FROM top, generate_series(0, 3) r(r)
        JOIN cms ON cms.r = r.r
          AND cms.b = ('0x' || substr(md5('cms:' || CAST(r.r AS VARCHAR)
            || ':' || top.token), 1, 15))::BIGINT % 1024
        GROUP BY 1, 2)
      SELECT token, exact_cnt, CAST(cms_est AS BIGINT) AS cms_est FROM est"""))

  /** HLL distinct-trigram estimate per source, next to the exact
    * count it approximates (the error readout is the point of the
    * entry). m = 128 registers, p = 7, W = 53. The oracle rebuilds
    * every register from the md5/bin string contract and replays the
    * exact-integer estimate expression, including the
    * linear-counting switch.
    */
  private val textDistinctHll = QueryDef(
    "text_distinct_hll",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val w = TextAnalysis.words(col("text"))
      val grams = docs.filter(size(w) >= 3)
        .select(col("source"), explode(Dedup.shingles(col("text"), 3)).as("g"))
      val regs = graft.datapipe.Sketches.hllRegisters(
        grams, "g", m = 128, groupCols = Seq("source"))
      val est = graft.datapipe.Sketches.hllEstimate(
        regs, m = 128, groupCols = Seq("source"))
      val exact = grams.groupBy(col("source"))
        .agg(count_distinct(col("g")).as("n_distinct_exact"))
      est.join(exact, Seq("source"))
        .select(col("source"), col("n_distinct_exact"),
          col("n_registers_hit"), col("max_rho"), col("hll_est"))
    },
    Some(raw"""WITH toks AS (SELECT source,
        $Words AS w
        FROM documents),
      sg AS (SELECT DISTINCT source, array_to_string(w[i:i+2], ' ') AS g
        FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3),
      hash AS (SELECT source, g,
          ('0x' || substr(md5('hll:' || g), 1, 15))::BIGINT AS h FROM sg),
      reg AS (SELECT source, h % 128 AS j,
          CASE WHEN (h // 128) = 0 THEN 54
               ELSE 54 - length(bin(h // 128)) END AS rho
        FROM hash),
      regs AS (SELECT source, j, MAX(rho) AS rho_max FROM reg GROUP BY 1, 2),
      heads AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS hits,
          MAX(rho_max) AS mmax FROM regs GROUP BY 1),
      s AS (SELECT regs.source,
          SUM((CAST(1 AS BIGINT) << CAST(heads.mmax - regs.rho_max AS INT)))
            AS s_touched
        FROM regs JOIN heads ON heads.source = regs.source GROUP BY 1),
      est AS (SELECT heads.source, heads.hits, heads.mmax,
          s.s_touched + (128 - heads.hits) *
            (CAST(1 AS BIGINT) << CAST(heads.mmax AS INT)) AS big_s
        FROM heads JOIN s ON s.source = heads.source),
      fin AS (SELECT source, hits, mmax,
          0.7213 / (1.0 + 1.079 / 128.0) * 128.0 * 128.0 *
            pow(2.0, CAST(mmax AS DOUBLE)) / CAST(big_s AS DOUBLE) AS raw
        FROM est),
      exact AS (SELECT source, CAST(COUNT(DISTINCT g) AS BIGINT)
          AS n_distinct_exact FROM sg GROUP BY 1)
      SELECT fin.source, exact.n_distinct_exact,
        fin.hits AS n_registers_hit, CAST(fin.mmax AS BIGINT) AS max_rho,
        round(CASE WHEN raw <= 320.0 AND (128 - hits) > 0
          THEN 128.0 * ln(128.0 / CAST(128 - hits AS DOUBLE))
          ELSE raw END, 4) AS hll_est
      FROM fin JOIN exact ON exact.source = fin.source"""))

  /** Gopher composite document filter: rule features + per-rule
    * booleans + the joint keep decision, all zero-shuffle per-row
    * expressions. The oracle recomputes every feature from scratch
    * (word array, exact integer counts divided once) so the rule
    * booleans — including the three-valued NULL propagation on empty
    * documents — must agree bit-for-bit.
    */
  private val textGopherRules = QueryDef(
    "text_gopher_rules",
    (s, d) => TextAnalysis.gopherRules(Tables.documents(s, d), "doc_id", "text"),
    Some("""WITH t AS (SELECT doc_id, text,
        trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
      f AS (SELECT doc_id,
        CAST(len(list_filter(string_split(norm, ' '), x -> len(x) > 0)) AS BIGINT) AS n_words,
        length(replace(norm, ' ', '')) AS n_wchars,
        len(list_filter(string_split(norm, ' '),
          x -> len(x) > 0 AND regexp_matches(x, '[a-z]'))) AS n_alpha,
        CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) AS stopword_hits,
        length(text) - length(replace(text, '#', ''))
          + len(regexp_extract_all(text, '\.\.\.')) AS n_symbols
      FROM t),
      g AS (SELECT doc_id, n_words,
        CASE WHEN n_words > 0 THEN CAST(n_wchars AS DOUBLE) / n_words END AS mean_word_len,
        CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words END AS alpha_word_frac,
        stopword_hits,
        CASE WHEN n_words > 0 THEN CAST(n_symbols AS DOUBLE) / n_words END AS symbol_word_ratio
      FROM f)
      SELECT doc_id, n_words, mean_word_len, alpha_word_frac, stopword_hits,
        symbol_word_ratio,
        n_words >= 50 AND n_words <= 100000 AS r_word_count,
        mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS r_mean_word_len,
        alpha_word_frac >= 0.8 AS r_alpha_words,
        stopword_hits >= 2 AS r_stopwords,
        symbol_word_ratio < 0.1 AS r_symbol_ratio,
        (n_words >= 50 AND n_words <= 100000)
          AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
          AND alpha_word_frac >= 0.8 AND stopword_hits >= 2
          AND symbol_word_ratio < 0.1 AS keep
      FROM g"""))

  /** Per-source corpus card — the datasheet readout (docs, token
    * totals and extremes, mean doc length, language spread) every
    * curated corpus ships with. One partial-aggregated shuffle keyed
    * on source; the exact distinct-language count expands rows by one
    * grouping set, still source-granularity. The mean is the
    * [[ExactRound.ratio6]] integer-exact round — round(double, 6) here
    * hash-diverged against the driver's DuckDB build in r8 AND r9
    * despite bit-matching locally (tie-region quotients).
    */
  private val corpusStats = QueryDef(
    "corpus_stats",
    (s, d) => {
      val toks = TextAnalysis.tokenCount(col("text"))
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(toks).as("n_tokens"),
          min(toks).as("min_tokens"),
          max(toks).as("max_tokens"),
          ExactRound.ratio6(sum(col("n_chars")), count(lit(1))).as("mean_chars"),
          countDistinct(col("lang")).as("n_langs"))
    },
    // DuckDB SUM(BIGINT) widens to HUGEINT (int128); CAST the emitted
    // aggregate back to BIGINT so the oracle dtype matches Spark's LongType
    Some("""SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens,
      MIN(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)) AS min_tokens,
      MAX(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)) AS max_tokens,
      ((2 * CAST(SUM(n_chars) AS BIGINT) * 1000000 + COUNT(*))
        // (2 * COUNT(*))) / 1000000.0 AS mean_chars,
      CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      FROM documents GROUP BY source"""))

  /** Gopher-style repetition quality metrics: duplicate 2-/3-gram
    * fractions (pure per-row expressions) plus the top token's share
    * (one tf-shaped aggregation). Fractions are exact integer counts
    * divided once, so the doubles match across engines.
    */
  private val textRepetition = QueryDef(
    "text_repetition",
    (s, d) => TextAnalysis.repetition(Tables.documents(s, d), "doc_id", "text"),
    Some(raw"""WITH $DocWords,
      g2 AS (SELECT doc_id, COUNT(*) AS t2, COUNT(DISTINCT gm) AS d2
             FROM (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS gm
                   FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
                   WHERE len(w) >= 2) GROUP BY doc_id),
      g3 AS (SELECT doc_id, COUNT(*) AS t3, COUNT(DISTINCT gm) AS d3
             FROM (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS gm
                   FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
                   WHERE len(w) >= 3) GROUP BY doc_id),
      tw AS (SELECT doc_id, MAX(c) AS top_c FROM (
               SELECT doc_id, u.t AS word, COUNT(*) AS c
               FROM toks, UNNEST(w) AS u(t) GROUP BY doc_id, u.t)
             GROUP BY doc_id)
      SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        CASE WHEN t2 IS NULL THEN NULL
             ELSE CAST(t2 - d2 AS DOUBLE) / CAST(t2 AS DOUBLE) END AS dup2_frac,
        CASE WHEN t3 IS NULL THEN NULL
             ELSE CAST(t3 - d3 AS DOUBLE) / CAST(t3 AS DOUBLE) END AS dup3_frac,
        CAST(top_c AS DOUBLE) / CAST(len(w) AS DOUBLE) AS top_word_frac
      FROM toks t LEFT JOIN g2 USING (doc_id) LEFT JOIN g3 USING (doc_id)
        LEFT JOIN tw USING (doc_id)"""))

  /** Flesch-Kincaid grade + Flesch reading ease per document. The
    * oracle replays the vowel-group syllable heuristic and the
    * formulas operand-for-operand (fixed IEEE chains over exact
    * counts).
    */
  private val textReadability = QueryDef(
    "text_readability",
    (s, d) => TextAnalysis.readability(
      Tables.documents(s, d), "doc_id", "text"),
    Some(raw"""WITH t AS (SELECT doc_id, text,
        list_filter($Words,
          w -> len(w) > 0) AS wl
        FROM documents),
      c AS (SELECT doc_id,
        CAST(len(wl) AS BIGINT) AS n_words,
        CAST(GREATEST(1, len(list_filter(
          regexp_split_to_array(text, '[.!?]+'), s -> len(trim(s)) > 0)))
          AS BIGINT) AS n_sentences,
        CAST(COALESCE(list_sum([GREATEST(1, len(list_filter(
            regexp_split_to_array(w, '[^aeiouy]+'), x -> len(x) > 0)))
          FOR w IN wl]), 0) AS BIGINT) AS n_syllables
        FROM t)
      SELECT doc_id, n_words, n_sentences, n_syllables,
        CASE WHEN n_words = 0 THEN NULL ELSE round(
          0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) +
          11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) -
          15.59, 6) END AS fk_grade,
        CASE WHEN n_words = 0 THEN NULL ELSE round(
          206.835 -
          1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) -
          84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
          6) END AS flesch_ease
      FROM c"""))

  /** Per-source token-length quantiles via the histogram-cumsum rule
    * (exact integers end to end — the oracle replays the ceil(q·n)
    * threshold election literally).
    */
  private val corpusLengthQuantiles = QueryDef(
    "corpus_length_quantiles",
    (s, d) => TextAnalysis.lengthQuantiles(
      Tables.documents(s, d), "text", "source"),
    Some("""WITH lens AS (SELECT source,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS len
        FROM documents),
      hist AS (SELECT source, len, COUNT(*) AS c FROM lens GROUP BY 1, 2),
      tot AS (SELECT source, SUM(c) AS n FROM hist GROUP BY 1),
      cum AS (SELECT h.source, len,
          SUM(c) OVER (PARTITION BY h.source ORDER BY len
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc, n
        FROM hist h JOIN tot USING (source))
      SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
        MIN(CASE WHEN cc >= ceil(n * 0.5) THEN len END) AS p50,
        MIN(CASE WHEN cc >= ceil(n * 0.9) THEN len END) AS p90,
        MIN(CASE WHEN cc >= ceil(n * 0.99) THEN len END) AS p99
      FROM cum GROUP BY source"""))

  /** Per-source Zipf slope over the top-100 vocabulary. Both engines
    * round the logs to 8 dp and accumulate the regression sums as
    * exact decimals, so the closed-form slope divides identical
    * doubles (see [[TextAnalysis.zipfSlope]]).
    */
  private val corpusZipf = QueryDef(
    "corpus_zipf",
    (s, d) => TextAnalysis.zipfSlope(
      Tables.documents(s, d), "text", "source", topN = 100),
    Some(raw"""WITH tok AS (SELECT source, u.t AS t
        FROM (SELECT source,
            $Words AS w
          FROM documents), UNNEST(w) AS u(t)
        WHERE len(u.t) > 0),
      f AS (SELECT source, t, COUNT(*) AS freq FROM tok GROUP BY 1, 2),
      r AS (SELECT source, freq, CAST(row_number() OVER
          (PARTITION BY source ORDER BY freq DESC, t) AS BIGINT) AS rnk
        FROM f QUALIFY rnk <= 100),
      v AS (SELECT source,
          CAST(round(ln(CAST(rnk AS DOUBLE)), 8) AS DECIMAL(18,8)) AS x,
          CAST(round(ln(CAST(freq AS DOUBLE)), 8) AS DECIMAL(18,8)) AS y
        FROM r),
      a AS (SELECT source, COUNT(*) AS n_words,
          SUM(x) AS sx, SUM(y) AS sy,
          SUM(x * x) AS sxx, SUM(x * y) AS sxy
        FROM v GROUP BY source)
      SELECT source, CAST(n_words AS BIGINT) AS n_words,
        CASE WHEN CAST(n_words AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0 THEN NULL
          ELSE round((CAST(n_words AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n_words AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
        END AS zipf_slope
      FROM a"""))

  /** T160: top-100 PMI collocations with a min-count-5 gate
    * ([[graft.datapipe.TextAnalysis.collocations]], Church & Hanks
    * 1990). The oracle rebuilds the adjacent-pair and unigram
    * counts, the double-product PMI, and the deterministic top-k
    * boundary.
    */
  private val textCollocations = QueryDef(
    "text_collocations",
    (s, d) => TextAnalysis.collocations(
      Tables.documents(s, d), "text", minCount = 5, topK = 100),
    Some(raw"""WITH doc AS (SELECT list_filter($WordsWrapped,
          x -> len(x) > 0) AS w
        FROM documents),
      pr AS (SELECT w[g.i] AS w1, w[g.i + 1] AS w2
        FROM doc, UNNEST(generate_series(1, len(w) - 1)) AS g(i)),
      pc AS MATERIALIZED (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair
        FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 5),
      uni AS MATERIALIZED (SELECT u.t AS t, CAST(COUNT(*) AS BIGINT) AS c
        FROM doc, UNNEST(w) AS u(t) GROUP BY 1),
      n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM uni)
      SELECT w1, w2, n_pair,
        round(ln((CAST(n_pair AS DOUBLE) * CAST(n_total AS DOUBLE))
          / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6) AS pmi
      FROM pc JOIN uni u1 ON u1.t = pc.w1
        JOIN uni u2 ON u2.t = pc.w2, n
      ORDER BY pmi DESC, w1, w2 LIMIT 100"""))

  /** Top-100 corpus vocabulary with deterministic (freq desc, token)
    * ordering. The driver's compare sorts rows, so the LIMIT boundary
    * is the only order-sensitive part — and the tie-break pins it.
    */
  private val textVocab = QueryDef(
    "text_vocab",
    (s, d) => TextAnalysis.vocabulary(Tables.documents(s, d), "text", 100),
    Some(raw"""SELECT u.t AS token, COUNT(*) AS freq
      FROM (SELECT $Words AS w
            FROM documents), UNNEST(w) AS u(t)
      GROUP BY u.t ORDER BY freq DESC, token LIMIT 100"""))

  /** Per-doc lexical diversity (T100): TTR + hapax fraction, the
    * zero-shuffle per-row fold certified against the oracle's
    * explode/group replay — the sorted-run hapax counter must agree
    * with a real per-(doc, token) count on every document. Zero-token
    * documents keep their row with NULL ratios on both sides.
    */
  private val textTtr = QueryDef(
    "text_ttr",
    (s, d) => TextAnalysis.lexicalDiversity(Tables.documents(s, d),
      "doc_id", "text"),
    Some(raw"""WITH base AS (SELECT doc_id,
        list_filter($Words,
          x -> len(x) > 0) AS ws
        FROM documents),
      w AS (SELECT doc_id, u.t FROM base, UNNEST(ws) AS u(t)),
      c AS (SELECT doc_id, t, COUNT(*) AS c FROM w GROUP BY 1, 2),
      a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        CAST(COUNT(*) AS BIGINT) AS n_types,
        CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax
        FROM c GROUP BY 1)
      SELECT b.doc_id, COALESCE(n_tokens, 0) AS n_tokens,
        COALESCE(n_types, 0) AS n_types,
        COALESCE(n_hapax, 0) AS n_hapax,
        ((2 * n_types * 1000000 + n_tokens) // (2 * n_tokens))
          / 1000000.0 AS ttr,
        ((2 * n_hapax * 1000000 + n_tokens) // (2 * n_tokens))
          / 1000000.0 AS hapax_frac
      FROM base b LEFT JOIN a USING (doc_id)"""))

  /** Per-source Good–Turing unseen-vocabulary mass (T101): f₁/N over
    * the same normalized token stream as [[textVocab]]; the oracle
    * replays the (source, word) rollup and the exact mass ratio.
    */
  private val vocabGoodTuring = QueryDef(
    "vocab_good_turing",
    (s, d) => TextAnalysis.goodTuring(Tables.documents(s, d),
      "text", "source"),
    Some(raw"""WITH w AS (SELECT source, u.t FROM (SELECT source,
        list_filter($Words,
          x -> len(x) > 0) AS ws
        FROM documents), UNNEST(ws) AS u(t)),
      c AS (SELECT source, t, COUNT(*) AS c FROM w GROUP BY 1, 2),
      a AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        CAST(COUNT(*) AS BIGINT) AS n_types,
        CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax
        FROM c GROUP BY 1)
      SELECT source, n_tokens, n_types, n_hapax,
        ((2 * n_hapax * 1000000 + n_tokens) // (2 * n_tokens))
          / 1000000.0 AS p_unseen
      FROM a"""))

  /** Snapshot-drift PSI (T103) between the even- and odd-doc_id
    * halves of the corpus over the standard length buckets. The
    * oracle replays histograms, exact shares, each 6-dp ln term, and
    * the scaled-integer total — certifying the whole drift-gate
    * chain, not just the final number.
    */
  private val corpusPsi = QueryDef(
    "corpus_psi",
    (s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.lengthPsi(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text")
    },
    Some("""WITH t AS (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
        FROM documents),
      bkt AS (SELECT doc_id,
        CAST(CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
             WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
             WHEN n <= 256 THEN 256 ELSE 512 END AS BIGINT) AS bucket
        FROM t),
      ha AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_a
        FROM bkt WHERE doc_id % 2 = 0 GROUP BY 1),
      hb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_b
        FROM bkt WHERE doc_id % 2 = 1 GROUP BY 1),
      j AS (SELECT COALESCE(ha.bucket, hb.bucket) AS bucket,
        COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
        FROM ha FULL JOIN hb ON ha.bucket = hb.bucket),
      tt AS (SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a,
        CAST(SUM(n_b) AS BIGINT) AS tot_b FROM j),
      p AS (SELECT bucket, n_a, n_b,
        ((2 * n_a * 1000000 + tot_a) // (2 * tot_a)) / 1000000.0 AS p_a,
        ((2 * n_b * 1000000 + tot_b) // (2 * tot_b)) / 1000000.0 AS p_b
        FROM j, tt),
      dtl AS (SELECT *, CASE WHEN n_a > 0 AND n_b > 0
            AND p_a > 0 AND p_b > 0
          THEN round((p_a - p_b) * ln(p_a / p_b), 6) END AS psi_term
        FROM p),
      s AS (SELECT COALESCE(SUM(CAST(round(psi_term * 1000000) AS BIGINT)), 0)
          AS ps FROM dtl WHERE psi_term IS NOT NULL)
      SELECT bucket, n_a, n_b, p_a, p_b, psi_term,
        ps / 1000000.0 AS psi
      FROM dtl, s"""))

  /** C4 line-level cleaning (T107) over documents with planted line
    * structure: the punctuation-free corpus becomes 6-word lines
    * with a terminal '.' on even line numbers only (so the
    * terminal-punctuation rule and the 3-word rule both get real
    * work on partial tail windows), plus a javascript line on %13
    * docs, a lorem-ipsum line on %29, a braced line on %31, and a
    * short no-punctuation footer on every doc. The oracle replays
    * the planting, every per-line rule, the page flags, and the
    * rebuilt text byte-for-byte (empty survivor lists pinned to ''
    * — DuckDB's array_to_string([]) is NULL, Spark's array_join is
    * '', hence the COALESCE).
    */
  private val textC4Rules = QueryDef(
    "text_c4_rules",
    (s, d) => {
      // materialized-column tokenization — the HOF-lambda-capture
      // rule; the line transform slices per 6-token window
      val toks = col("__toks")
      val lines = transform(
        sequence(lit(0), ((size(toks) - lit(1)) / lit(6)).cast("int")),
        i => concat(array_join(slice(toks, i * 6 + lit(1), lit(6)), " "),
          when(i % 2 === 0, lit(".")).otherwise(lit(""))))
      val lined = Tables.documents(s, d)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("__toks"))
        .select(col("doc_id"),
        concat(array_join(lines, "\n"),
          when(col("doc_id") % 13 === 0, lit("\nenable javascript now."))
            .otherwise(lit("")),
          when(col("doc_id") % 29 === 0, lit("\nlorem ipsum dolor sit."))
            .otherwise(lit("")),
          when(col("doc_id") % 31 === 0, lit("\ncode { x } sample."))
            .otherwise(lit("")),
          lit("\nread more")).as("text"))
      TextAnalysis.c4Rules(lined, "doc_id", "text")
    },
    Some("""WITH toks AS (SELECT doc_id,
        regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      wrd AS (SELECT doc_id, w[i] AS wd, i, (i - 1) // 6 AS ln_no
        FROM toks, UNNEST(generate_series(1, len(w))) t(i)),
      ln AS (SELECT doc_id, ln_no,
          string_agg(wd, ' ' ORDER BY i)
            || CASE WHEN ln_no % 2 = 0 THEN '.' ELSE '' END AS line
        FROM wrd GROUP BY doc_id, ln_no),
      lined AS (SELECT doc_id,
          string_agg(line, chr(10) ORDER BY ln_no)
          || CASE WHEN doc_id % 13 = 0
               THEN chr(10) || 'enable javascript now.' ELSE '' END
          || CASE WHEN doc_id % 29 = 0
               THEN chr(10) || 'lorem ipsum dolor sit.' ELSE '' END
          || CASE WHEN doc_id % 31 = 0
               THEN chr(10) || 'code { x } sample.' ELSE '' END
          || chr(10) || 'read more' AS text
        FROM ln GROUP BY doc_id),
      k AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls,
        list_filter(string_split(text, chr(10)), x ->
          regexp_matches(rtrim(x), '[.!?"]$')
          AND len(list_filter(regexp_split_to_array(trim(x), '\s+'),
            y -> len(y) > 0)) >= 3
          AND NOT regexp_matches(lower(x), '\bjavascript\b')) AS kept_ls
        FROM lined),
      f AS (SELECT doc_id, ls, kept_ls, text,
        COALESCE(array_to_string(kept_ls, chr(10)), '') AS clean
        FROM k)
      SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        CAST(len(kept_ls) AS BIGINT) AS n_kept_lines,
        CAST(len(regexp_extract_all(clean, '[.!?]')) AS BIGINT)
          AS n_sentences,
        contains(lower(text), 'lorem ipsum') AS has_lorem,
        contains(text, '{') AS has_brace,
        (NOT contains(lower(text), 'lorem ipsum'))
          AND (NOT contains(text, '{'))
          AND len(regexp_extract_all(clean, '[.!?]')) >= 5 AS kept,
        clean AS text_clean
      FROM f"""))

  /** Encoding-quality gate (T108) over planted mojibake: %7 docs get
    * a U+FFFD replacement char, %11 docs a C0 control char (both
    * appended identically in both engines — the clean corpus has
    * neither). The oracle replays the planting, both regexp counts,
    * the exact bad fraction, and the gate bit.
    */
  private val textMojibake = QueryDef(
    "text_mojibake",
    (s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" caf\uFFFD broken"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit("\u0007"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.encodingQuality(planted, "doc_id", "text")
    },
    Some("""WITH planted AS (SELECT doc_id,
        text
          || CASE WHEN doc_id % 7 = 0
               THEN ' caf' || chr(65533) || ' broken' ELSE '' END
          || CASE WHEN doc_id % 11 = 0 THEN chr(7) ELSE '' END AS text
        FROM documents),
      f AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        CAST(len(regexp_extract_all(text, '\x{FFFD}')) AS BIGINT)
          AS n_replacement,
        CAST(len(regexp_extract_all(text,
          '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT) AS n_control
        FROM planted)
      SELECT doc_id, n_chars, n_replacement, n_control,
        ((2 * (n_replacement + n_control) * 1000000 + n_chars)
          // (2 * n_chars)) / 1000000.0 AS bad_frac,
        n_replacement = 0 AND n_control = 0 AS clean
      FROM f"""))

  /** Vocabulary coverage curve (T105): top-k occurrence coverage at
    * k ∈ {100, 1000, 10000}. The oracle replays the word rollup, the
    * (freq desc, token) ranking — so the distributed top-k cut must
    * equal a real global sort — and the exact coverage ratios.
    */
  private val vocabCoverage = QueryDef(
    "vocab_coverage",
    (s, d) => TextAnalysis.vocabCoverage(Tables.documents(s, d), "text",
      Seq(100, 1000, 10000)),
    Some(raw"""WITH w AS (SELECT u.t FROM (SELECT
        list_filter($Words,
          x -> len(x) > 0) AS ws
        FROM documents), UNNEST(ws) AS u(t)),
      c AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS freq FROM w GROUP BY t),
      tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total_tokens FROM c),
      r AS (SELECT t, freq,
        CAST(row_number() OVER (ORDER BY freq DESC, t) AS BIGINT) AS rnk
        FROM c),
      kd AS (SELECT CAST(u.k AS BIGINT) AS k
        FROM UNNEST([100, 1000, 10000]) AS u(k)),
      cov AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_vocab,
        CAST(SUM(freq) AS BIGINT) AS covered_tokens
        FROM kd JOIN r ON r.rnk <= kd.k GROUP BY k)
      SELECT k, n_vocab, covered_tokens, total_tokens,
        ((2 * covered_tokens * 1000000 + total_tokens)
          // (2 * total_tokens)) / 1000000.0 AS coverage
      FROM cov, tot"""))

  /** T148: per-source dataset report card — the datasheet row a data
    * team ships with a corpus snapshot (volume, lexical breadth,
    * exact-dup exposure, language mix), one entry composing the
    * primitive rollups: doc/token counts, distinct vocabulary,
    * corpus-wide exact-dup membership attributed per source, and the
    * deterministic language mode (max count, lexicographic
    * tie-break). All outputs are dimension-sized; the three corpus
    * walks (md5, vocab, lang) are independent map-side-combined
    * rollups.
    */
  private val sourceReport = QueryDef(
    "source_report",
    (s, d) => {
      import graft.datapipe.Staging.Staged
      val docs = Tables.documents(s, d)
      val toksArr = TextAnalysis.words(col("text"))
      val base = docs.select(col("doc_id"), col("source"), col("lang"),
          md5(TextAnalysis.normalize(col("text"))).as("h"),
          size(toksArr).cast("bigint").as("n_toks"))
        .stage()
      val dupH = base.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      val a1 = base.join(dupH, Seq("h"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          sum(when(col("cnt") > 1, lit(1L)).otherwise(lit(0L)))
            .as("exact_dup_docs"))
      val wd = docs.select(col("source"),
          explode(filter(toksArr, t => length(t) > 0)).as("t"))
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_distinct"))
      val lg = base.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("lc")).stage()
      val mx = lg.groupBy(col("source")).agg(
        max(col("lc")).as("mxc"), count(lit(1)).as("n_langs"))
      val tp = lg.join(mx, Seq("source"))
        .filter(col("lc") === col("mxc"))
        .groupBy(col("source")).agg(min(col("lang")).as("top_lang"))
      a1.join(wd, Seq("source")).join(mx, Seq("source"))
        .join(tp, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          ExactRound.ratio6(col("n_tokens"), col("n_docs"))
            .as("mean_tokens"),
          col("n_distinct"), col("exact_dup_docs"),
          ExactRound.ratio6(
            col("exact_dup_docs"), col("n_docs")).as("dup_frac"),
          col("n_langs"), col("top_lang"))
    },
    Some("""WITH nrm AS (SELECT doc_id, source, lang,
        trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        FROM documents),
      base AS MATERIALIZED (SELECT doc_id, source, lang, md5(nt) AS h,
          CAST(len(string_split(nt, ' ')) AS BIGINT) AS n_toks,
          list_filter(string_split(nt, ' '), t -> len(t) > 0) AS w
        FROM nrm),
      dup AS (SELECT h, COUNT(*) AS cnt FROM base GROUP BY 1),
      a1 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
          CAST(COUNT(*) FILTER (WHERE cnt > 1) AS BIGINT)
            AS exact_dup_docs
        FROM base JOIN dup USING (h) GROUP BY 1),
      wd AS (SELECT source, CAST(COUNT(DISTINCT u.t) AS BIGINT)
            AS n_distinct
        FROM base, UNNEST(w) u(t) GROUP BY 1),
      lg AS (SELECT source, lang, COUNT(*) AS lc FROM base GROUP BY 1, 2),
      mx AS (SELECT source, MAX(lc) AS mxc,
          CAST(COUNT(*) AS BIGINT) AS n_langs FROM lg GROUP BY 1),
      tp AS (SELECT lg.source, MIN(lang) AS top_lang
        FROM lg JOIN mx ON mx.source = lg.source AND lg.lc = mx.mxc
        GROUP BY 1)
      SELECT a1.source, n_docs, n_tokens,
        ((2 * n_tokens * 1000000 + n_docs) // (2 * n_docs)) / 1000000.0
          AS mean_tokens,
        n_distinct, exact_dup_docs,
        ((2 * exact_dup_docs * 1000000 + n_docs) // (2 * n_docs))
          / 1000000.0 AS dup_frac,
        n_langs, top_lang
      FROM a1 JOIN wd USING (source) JOIN mx USING (source)
      JOIN tp ON tp.source = a1.source"""))

  /** T170: Spearman rank correlation between token count and
    * stopword count per source
    * ([[graft.datapipe.TextAnalysis.spearman]]) — "do the two
    * quality proxies agree in how they RANK documents". The oracle
    * replays the histogram average-ranks (doubled integers), the
    * exact decimal moments, and the one-sqrt Pearson tree.
    */
  private val qualitySpearman = QueryDef(
    "quality_spearman",
    (s, d) => {
      val ws = filter(TextAnalysis.words(col("text")),
        t => length(t) > 0)
      graft.datapipe.TextAnalysis.spearman(
        Tables.documents(s, d),
        size(ws).cast("bigint"),
        TextAnalysis.stopwordCount(col("text")),
        "source")
    },
    Some(raw"""WITH base AS MATERIALIZED (SELECT source AS grp,
        CAST(len(list_filter($WordsWrapped,
          x -> len(x) > 0)) AS BIGINT) AS x,
        CAST(len(regexp_extract_all(lower(text),
          '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) AS y
        FROM documents),
      rx AS MATERIALIZED (SELECT grp, x,
          2 * (cum - cnt) + cnt + 1 AS u
        FROM (SELECT grp, x, CAST(COUNT(*) AS BIGINT) AS cnt,
            CAST(SUM(COUNT(*)) OVER (PARTITION BY grp ORDER BY x)
              AS BIGINT) AS cum
          FROM base GROUP BY 1, 2)),
      ry AS MATERIALIZED (SELECT grp, y,
          2 * (cum - cnt) + cnt + 1 AS w
        FROM (SELECT grp, y, CAST(COUNT(*) AS BIGINT) AS cnt,
            CAST(SUM(COUNT(*)) OVER (PARTITION BY grp ORDER BY y)
              AS BIGINT) AS cum
          FROM base GROUP BY 1, 2)),
      j AS (SELECT b.grp, rx.u AS u, ry.w AS w
        FROM base b JOIN rx ON rx.grp = b.grp AND rx.x = b.x
        JOIN ry ON ry.grp = b.grp AND ry.y = b.y),
      m AS MATERIALIZED (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
          SUM(u) AS su, SUM(w) AS sv, SUM(u * u) AS suu,
          SUM(w * w) AS svv, SUM(u * w) AS suv
        FROM j GROUP BY 1)
      SELECT grp AS source, n AS n_docs,
        CASE WHEN CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
              - CAST(su AS DOUBLE) * CAST(su AS DOUBLE) > 0
            AND CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
              - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) > 0 THEN
          round((CAST(n AS DOUBLE) * CAST(suv AS DOUBLE)
              - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
                - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))), 6)
        END AS rho
      FROM m"""))

  /** T174: Kolmogorov–Smirnov drift of each source's token-count
    * distribution against the rest of the corpus
    * ([[graft.datapipe.TextAnalysis.ksDrift]]) — integer CDF-gap
    * numerators, exact max, ONE division. The oracle replays the
    * histogram, the grid, both cumulative sums, and the exact gap
    * arithmetic.
    */
  private val corpusKsDrift = QueryDef(
    "corpus_ks_drift",
    (s, d) => graft.datapipe.TextAnalysis.ksDrift(
      Tables.documents(s, d), "text", "source"),
    Some(raw"""WITH base AS (SELECT source AS grp,
        CAST(len(list_filter($WordsWrapped,
          x -> len(x) > 0)) AS BIGINT) AS v
        FROM documents),
      hist AS MATERIALIZED (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM base GROUP BY 1, 2),
      grs AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n_s
        FROM hist GROUP BY 1),
      vals AS (SELECT v, CAST(SUM(cnt) AS BIGINT) AS cnt_all
        FROM hist GROUP BY 1),
      nt AS (SELECT CAST(SUM(cnt_all) AS BIGINT) AS n_tot FROM vals),
      grid AS (SELECT g.grp, g.n_s, va.v, va.cnt_all,
          COALESCE(h.cnt, 0) AS cnt
        FROM grs g CROSS JOIN vals va
        LEFT JOIN hist h ON h.grp = g.grp AND h.v = va.v),
      cum AS (SELECT grp, n_s, v,
          CAST(SUM(cnt) OVER (PARTITION BY grp ORDER BY v) AS BIGINT)
            AS cum_s,
          CAST(SUM(cnt_all) OVER (PARTITION BY grp ORDER BY v) AS BIGINT)
            AS cum_all
        FROM grid),
      dd AS (SELECT grp, n_s, n_tot,
          abs(CAST(cum_s AS HUGEINT) * (n_tot - n_s)
            - CAST(cum_all - cum_s AS HUGEINT) * n_s) AS gap
        FROM cum, nt),
      mx AS (SELECT grp, n_s, n_tot, MAX(gap) AS mg
        FROM dd GROUP BY 1, 2, 3)
      SELECT grp AS source, n_s AS n_docs,
        CAST(n_tot - n_s AS BIGINT) AS n_rest,
        CASE WHEN n_s > 0 AND n_tot > n_s THEN
          round(CAST(mg AS DOUBLE) / (CAST(n_s AS DOUBLE)
            * CAST(n_tot - n_s AS DOUBLE)), 6)
        END AS ks
      FROM mx"""))

  /** T176: Simpson diversity / effective vocabulary per source
    * ([[graft.datapipe.TextAnalysis.simpsonDiversity]]) — the q=2
    * Hill number next to entropy (q=1) and raw vocab (q=0). The
    * oracle replays the token frequency table and both readout
    * trees.
    */
  private val textSimpson = QueryDef(
    "text_simpson",
    (s, d) => graft.datapipe.TextAnalysis.simpsonDiversity(
      Tables.documents(s, d), "text", "source"),
    Some(raw"""WITH tok AS (SELECT source,
        UNNEST(list_filter($WordsWrapped,
          x -> len(x) > 0)) AS t
        FROM documents),
      freq AS MATERIALIZED (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2),
      agg AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
          CAST(COUNT(*) AS BIGINT) AS vocab, SUM(c * c) AS ssq
        FROM freq GROUP BY 1)
      SELECT source, n_tokens, vocab,
        CASE WHEN n_tokens > 0 THEN
          round(CAST(ssq AS DOUBLE) / (CAST(n_tokens AS DOUBLE)
            * CAST(n_tokens AS DOUBLE)), 6) END AS simpson,
        CASE WHEN ssq > 0 THEN
          round(CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)
            / CAST(ssq AS DOUBLE), 6) END AS eff_vocab
      FROM agg"""))

  /** T180: PII surface-area census per source
    * ([[graft.datapipe.TextAnalysis.piiStats]]) — the before/after
    * audit around the T45 redaction pass. The oracle replays all
    * four RE2-subset patterns byte-for-byte.
    */
  private val textPiiStats = QueryDef(
    "text_pii_stats",
    (s, d) => graft.datapipe.TextAnalysis.piiStats(
      Tables.documents(s, d), "text", "source"),
    Some("""WITH c AS (SELECT source,
        CAST(len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
          AS c_email,
        CAST(len(regexp_extract_all(text, '\d{10,}')) AS BIGINT)
          AS c_longnum,
        CAST(len(regexp_extract_all(text,
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS c_ipv4,
        CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT)
          AS c_url
        FROM documents)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN c_email > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_email_docs,
        CAST(SUM(c_email) AS BIGINT) AS n_emails,
        CAST(SUM(CASE WHEN c_longnum > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_longnum_docs,
        CAST(SUM(c_longnum) AS BIGINT) AS n_longnums,
        CAST(SUM(CASE WHEN c_ipv4 > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_ipv4_docs,
        CAST(SUM(c_ipv4) AS BIGINT) AS n_ipv4s,
        CAST(SUM(CASE WHEN c_url > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_url_docs,
        CAST(SUM(c_url) AS BIGINT) AS n_urls
      FROM c GROUP BY 1"""))

  /** T184: end-to-end redaction audit
    * ([[graft.datapipe.TextAnalysis.redactionAudit]]) on a corpus
    * with PLANTED leaks — every %5 doc gains an email, every %7 doc
    * a 14-digit account number — so both scrubbed classes are
    * verifiably nonzero BEFORE and exactly zero AFTER, and the
    * raise_error gate's guarding expression is exercised on real
    * matches. The oracle replays the planting, the redaction
    * (global-flag regexp_replace), all eight censuses, and the same
    * fail-loud CASE (DuckDB `error()`), so both engines would abort
    * rather than publish a leaking audit.
    */
  private val e2eRedactionAudit = QueryDef(
    "e2e_redaction_audit",
    (s, d) => TextAnalysis.redactionAudit(
      Tables.documents(s, d).select(col("source"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            lit(" reach me at bob.smith+spam@example-mail.org ok"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit(" acct 98765432101234 noted")).otherwise(lit("")))
          .as("text")),
      "text", "source"),
    Some("""WITH p AS (SELECT source, text ||
        CASE WHEN doc_id % 5 = 0
          THEN ' reach me at bob.smith+spam@example-mail.org ok'
          ELSE '' END ||
        CASE WHEN doc_id % 7 = 0
          THEN ' acct 98765432101234 noted' ELSE '' END AS text
        FROM documents),
      r AS (SELECT source, text,
        regexp_replace(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\d{10,}', '<NUM>', 'g') AS rt
        FROM p),
      c AS (SELECT source,
        CAST(len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
          AS b_email,
        CAST(len(regexp_extract_all(text, '\d{10,}')) AS BIGINT)
          AS b_longnum,
        CAST(len(regexp_extract_all(text,
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS b_ipv4,
        CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT)
          AS b_url,
        CAST(len(regexp_extract_all(rt,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
          AS a_email,
        CAST(len(regexp_extract_all(rt, '\d{10,}')) AS BIGINT)
          AS a_longnum,
        CAST(len(regexp_extract_all(rt,
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS a_ipv4,
        CAST(len(regexp_extract_all(rt, 'https?://[^\s]+')) AS BIGINT)
          AS a_url
        FROM r)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(b_email) AS BIGINT) AS before_emails,
        CAST(SUM(b_longnum) AS BIGINT) AS before_longnums,
        CAST(SUM(b_ipv4) AS BIGINT) AS before_ipv4s,
        CAST(SUM(b_url) AS BIGINT) AS before_urls,
        CAST(SUM(a_email) AS BIGINT) AS after_emails,
        CAST(SUM(a_longnum) AS BIGINT) AS after_longnums,
        CAST(SUM(a_ipv4) AS BIGINT) AS after_ipv4s,
        CAST(SUM(a_url) AS BIGINT) AS after_urls,
        CASE WHEN SUM(a_email) > 0 OR SUM(a_longnum) > 0
          THEN error('PII leak after redaction') ELSE TRUE END
          AS scrub_certified
      FROM c GROUP BY 1"""))

  /** T181: empirical vocabulary-growth curve
    * ([[graft.datapipe.TextAnalysis.vocabGrowthCurve]]) at 10
    * id-range checkpoints — the measured companion to vocab_heaps'
    * two-parameter fit. The oracle replays first occurrences, the
    * integer bucket arithmetic, and both cumulative counts.
    */
  private val vocabGrowth = QueryDef(
    "vocab_growth",
    (s, d) => graft.datapipe.TextAnalysis.vocabGrowthCurve(
      Tables.documents(s, d), "doc_id", "text", points = 10),
    Some(raw"""WITH base AS MATERIALIZED (SELECT doc_id AS id,
        list_filter($Words, x -> len(x) > 0) AS w
        FROM documents),
      mx AS (SELECT MAX(id) AS mx FROM base),
      fo AS MATERIALIZED (SELECT t, MIN(id) AS fid
        FROM (SELECT id, UNNEST(w) AS t FROM base) GROUP BY 1),
      vb AS (SELECT (fid * 10) // (mx + 1) AS bucket,
          CAST(COUNT(*) AS BIGINT) AS nv FROM fo, mx GROUP BY 1),
      db AS (SELECT (id * 10) // (mx + 1) AS bucket,
          CAST(COUNT(*) AS BIGINT) AS nd FROM base, mx GROUP BY 1),
      ks AS (SELECT CAST(g.k AS BIGINT) AS k
        FROM generate_series(1, 10) AS g(k)),
      nd2 AS (SELECT k, CAST(COALESCE(SUM(nd), 0) AS BIGINT) AS n_docs
        FROM ks LEFT JOIN db ON bucket < k GROUP BY 1),
      nv2 AS (SELECT k, CAST(COALESCE(SUM(nv), 0) AS BIGINT) AS vocab
        FROM ks LEFT JOIN vb ON bucket < k GROUP BY 1)
      SELECT k, n_docs, vocab FROM nd2 JOIN nv2 USING (k)"""))

  /** T183: term burstiness (cf/df) for the corpus top-40
    * ([[graft.datapipe.TextAnalysis.burstiness]], Church & Gale
    * 1995) — the boilerplate-vs-stopword separator. The oracle
    * replays the two-stage counts, the exact ratio, and the
    * deterministic (cf desc, term) cutoff.
    */
  private val textBurstiness = QueryDef(
    "text_burstiness",
    (s, d) => graft.datapipe.TextAnalysis.burstiness(
      Tables.documents(s, d), "doc_id", "text", topN = 40),
    Some(raw"""WITH tok AS (SELECT doc_id,
        UNNEST(list_filter($WordsWrapped,
          x -> len(x) > 0)) AS t
        FROM documents),
      td AS MATERIALIZED (SELECT t, doc_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2),
      g AS (SELECT t, CAST(SUM(c) AS BIGINT) AS cf,
          CAST(COUNT(*) AS BIGINT) AS df
        FROM td GROUP BY 1)
      SELECT t AS term, cf, df,
        ((2 * cf * 1000000 + df) // (2 * df)) / 1000000.0 AS burstiness
      FROM g ORDER BY cf DESC, t LIMIT 40"""))

  /** T154: Heaps'-law vocabulary-growth fit per source
    * ([[graft.datapipe.TextAnalysis.heapsFit]]) — the OLS slope over
    * per-document (ln tokens, ln distinct) points is the Heaps
    * exponent β. The oracle replays the 8-dp log rounding, the exact
    * decimal regression sums, and the closed-form slope/intercept
    * (the `corpus_zipf` convention).
    */
  private val vocabHeaps = QueryDef(
    "vocab_heaps",
    (s, d) => TextAnalysis.heapsFit(Tables.documents(s, d), "text", "source"),
    Some(raw"""WITH tk AS (SELECT source,
        list_filter($Words,
          x -> len(x) > 0) AS w
        FROM documents),
      pts AS (SELECT source,
          CAST(round(ln(CAST(len(w) AS DOUBLE)), 8) AS DECIMAL(18,8)) AS x,
          CAST(round(ln(CAST(len(list_distinct(w)) AS DOUBLE)), 8) AS DECIMAL(18,8)) AS y
        FROM tk WHERE len(w) >= 1),
      a AS (SELECT source, COUNT(*) AS n_docs,
          SUM(x) AS sx, SUM(y) AS sy,
          SUM(x * x) AS sxx, SUM(x * y) AS sxy,
          MIN(x) AS xmin, MAX(x) AS xmax
        FROM pts GROUP BY source)
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        CASE WHEN xmin = xmax
            OR CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0 THEN NULL
          ELSE round((CAST(n_docs AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
        END AS heaps_beta,
        CASE WHEN xmin = xmax
            OR CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0 THEN NULL
          ELSE round((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
              / (CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
        END AS heaps_lnk
      FROM a"""))

  /** T155: robust median/MAD outlier gate per source
    * ([[graft.datapipe.TextAnalysis.robustOutliers]]) — all-integer
    * lower-median arithmetic over the length HISTOGRAM. The oracle
    * replays both histogram medians and the k·MAD gate.
    */
  private val textRobustOutliers = QueryDef(
    "text_robust_outliers",
    (s, d) => TextAnalysis.robustOutliers(
      Tables.documents(s, d), "text", "source", k = 5),
    Some(raw"""WITH tk AS (SELECT source AS grp,
        CAST(len(list_filter($Words,
          x -> len(x) > 0)) AS BIGINT) AS v
        FROM documents),
      hist AS MATERIALIZED (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tk GROUP BY 1, 2),
      tot AS MATERIALIZED (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n_docs
        FROM hist GROUP BY 1),
      cum AS (SELECT h.grp, v, n_docs, CAST(SUM(cnt) OVER (
          PARTITION BY h.grp ORDER BY v) AS BIGINT) AS cc
        FROM hist h JOIN tot USING (grp)),
      med AS MATERIALIZED (SELECT grp, MIN(v) AS med FROM cum
        WHERE cc >= (n_docs + 1) // 2 GROUP BY 1),
      dev AS MATERIALIZED (SELECT h.grp, abs(v - med) AS d,
          CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM hist h JOIN med USING (grp) GROUP BY 1, 2),
      cum2 AS (SELECT dv.grp, d, n_docs, CAST(SUM(cnt) OVER (
          PARTITION BY dv.grp ORDER BY d) AS BIGINT) AS cc
        FROM dev dv JOIN tot USING (grp)),
      mad AS MATERIALIZED (SELECT grp, MIN(d) AS mad FROM cum2
        WHERE cc >= (n_docs + 1) // 2 GROUP BY 1),
      outs AS (SELECT dv.grp, CAST(SUM(CASE WHEN d > 5 * mad THEN cnt
          ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev dv JOIN mad USING (grp) GROUP BY 1)
      SELECT t.grp AS source, n_docs, med, mad, n_outliers,
        ((2 * n_outliers * 1000000 + n_docs) // (2 * n_docs)) / 1000000.0
          AS outlier_frac
      FROM tot t JOIN med USING (grp) JOIN mad USING (grp)
        JOIN outs USING (grp)"""))

  /** Token Shannon entropy per document: the fold runs over per-row
    * sorted runs, the oracle over a count groupBy — the exact
    * decimal-sum convention makes the two term orders land on the
    * identical double.
    */
  private val textEntropy = QueryDef(
    "text_entropy",
    (s, d) => TextAnalysis.entropy(Tables.documents(s, d), "doc_id", "text"),
    Some(raw"""WITH $DocWords,
      tc AS (SELECT doc_id, u.t AS t, COUNT(*) AS c
        FROM toks, UNNEST(w) u(t) GROUP BY 1, 2),
      nn AS (SELECT doc_id, len(w) AS n FROM toks),
      terms AS (SELECT tc.doc_id,
          round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
            * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 8) AS t8
        FROM tc JOIN nn USING (doc_id)),
      agg AS (SELECT doc_id, SUM(CAST(t8 AS DECIMAL(28,8))) AS s
        FROM terms GROUP BY 1),
      dst AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct
        FROM tc GROUP BY 1)
      SELECT n.doc_id, CAST(n.n AS BIGINT) AS n_tokens, dst.n_distinct,
        CAST(round(-agg.s, 4) AS DOUBLE) AS entropy
      FROM nn n JOIN dst USING (doc_id) JOIN agg USING (doc_id)"""))

  /** HTML text extraction ([[TextAnalysis.stripHtml]]) over planted
    * markup: every document is wrapped in deterministic HTML with
    * attributes and entity escapes, and the extraction must recover
    * the readable text — tag strip, entity decode (&amp; last),
    * whitespace collapse — byte-for-byte in both engines. The doubly
    * escaped `&amp;lt;3` exercises the decode ordering.
    */
  private val textExtractHtml = QueryDef(
    "text_extract_html",
    (s, d) => {
      val html = concat(
        lit("""<html><body><h1>Title</h1><p class="a" id='p1'>"""),
        col("text"),
        lit("""</p><br/><p>Tom &amp; Jerry &quot;love&quot; &amp;lt;3&nbsp;&#39;forever&#39;</p></body></html>"""))
      Tables.documents(s, d).select(col("doc_id"),
        length(html).cast("bigint").as("n_chars_html"),
        TextAnalysis.stripHtml(html).as("text_extracted"))
    },
    Some("""WITH h AS (SELECT doc_id,
        '<html><body><h1>Title</h1><p class="a" id=''p1''>' || text ||
        '</p><br/><p>Tom &amp; Jerry &quot;love&quot; &amp;lt;3&nbsp;&#39;forever&#39;</p></body></html>'
          AS html
        FROM documents)
      SELECT doc_id, CAST(length(html) AS BIGINT) AS n_chars_html,
        trim(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(regexp_replace(
              regexp_replace(html, '<[^>]*>', ' ', 'g'),
            '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
            '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
          '\s+', ' ', 'g')) AS text_extracted
      FROM h"""))

  /** Unicode NFC normalization ([[TextAnalysis.nfc]]) over planted
    * decomposed sequences (combining acute U+0301, diaeresis U+0308):
    * the normalized text, codepoint counts before/after, and the
    * composed-codepoint delta, certified byte-for-byte against
    * DuckDB's nfc_normalize — two independent Unicode implementations
    * agreeing on the same bytes IS the portability proof a dedup
    * pipeline needs before hashing mixed-encoding crawls.
    */
  private val textNormalizeUnicode = QueryDef(
    "text_normalize_unicode",
    (s, d) => {
      val planted = concat(col("text"), lit(" Café naïve"))
      Tables.documents(s, d).select(col("doc_id"),
        length(planted).cast("bigint").as("n_cp_raw"),
        TextAnalysis.nfc(planted).as("text_nfc"))
        .select(col("doc_id"), col("n_cp_raw"),
          length(col("text_nfc")).cast("bigint").as("n_cp_nfc"),
          (col("n_cp_raw") - length(col("text_nfc")).cast("bigint"))
            .as("n_composed"),
          col("text_nfc"))
    },
    Some("""WITH h AS (SELECT doc_id,
        text || ' Cafe' || chr(769) || ' nai' || chr(776) || 've' AS raw
        FROM documents)
      SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_cp_raw,
        CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_cp_nfc,
        CAST(length(raw) - length(nfc_normalize(raw)) AS BIGINT)
          AS n_composed,
        nfc_normalize(raw) AS text_nfc
      FROM h"""))

  /** PII redaction: the corpus is synthetic word salad, so a
    * deterministic email + long digit run is INJECTED per row (both
    * engines build the same string) — the regexes exercise on every
    * document instead of matching nothing.
    */
  private val textRedact = QueryDef(
    "text_redact",
    (s, d) => Tables.documents(s, d).select(col("doc_id"),
      TextAnalysis.redact(concat(col("text"),
        lit(" contact user"), col("doc_id"),
        lit("@example.com tel 9876543210123"))).as("clean")),
    Some("""SELECT doc_id,
      regexp_replace(regexp_replace(
        text || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@example.com tel 9876543210123',
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\d{10,}', '<NUM>', 'g') AS clean
      FROM documents"""))

  /** The training-data flow end-to-end as ONE oracle-checked query:
    * minhash near-dedup keeps one doc per cluster, benchmark-overlap
    * decontamination drops anything sharing a shingle with the eval
    * subset (doc_id % 17 == 0), and the survivors are packed into
    * 256-token chunks. The oracle replays the whole chain — recursive
    * closure, shingle semi-join, window prefix sum — so the three
    * operators are checked COMPOSED, not just in isolation.
    */
  /** Composed quality gate — the text-family operators deciding
    * together, the way a curation pipeline actually runs them: keep a
    * document iff it language-IDs as English, has a sane token count,
    * contains stopwords, and is not repetitive (dup 3-gram fraction
    * and top-token share under their caps; a doc too short to have
    * 3-grams fails the repetition gate via the null→false coalesce).
    * The decision row carries every feature so the oracle certifies
    * the inputs, not just the verdict bit.
    */
  private val e2eQualityGate = QueryDef(
    "e2e_quality_gate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val feats = TextAnalysis.qualityFeatures(docs, col("text"))
        .select(col("doc_id"), col("q_words"), col("q_stopword_ratio"))
      val rep = TextAnalysis.repetition(docs, "doc_id", "text")
        .select(col("doc_id"), col("dup3_frac"), col("top_word_frac"))
      val lang = docs.select(col("doc_id"),
        TextAnalysis.predictLang(col("text")).as("lang_pred"))
      feats.join(rep, "doc_id").join(lang, "doc_id")
        .select(col("doc_id"), col("lang_pred"), col("q_words"),
          col("q_stopword_ratio"), col("dup3_frac"), col("top_word_frac"),
          (col("lang_pred") === "en" &&
            col("q_words") >= 20 && col("q_words") <= 10000 &&
            col("q_stopword_ratio") > 0.0 &&
            coalesce(col("dup3_frac") <= 0.2, lit(false)) &&
            col("top_word_frac") <= 0.2).as("kept"))
    },
    Some(raw"""WITH f AS (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS q_words,
        CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE)
          / len(regexp_split_to_array(trim(text), '\s+')) AS q_stopword_ratio
        FROM documents),
      ls AS (SELECT doc_id,
        $LangScores
        FROM documents),
      l AS (SELECT doc_id,
        CASE WHEN s_en > 0 AND s_en >= greatest(s_en, s_es, s_fr, s_de) THEN 'en'
             WHEN s_es > 0 AND s_es >= greatest(s_en, s_es, s_fr, s_de) THEN 'es'
             WHEN s_fr > 0 AND s_fr >= greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
             WHEN s_de > 0 AND s_de >= greatest(s_en, s_es, s_fr, s_de) THEN 'de'
             ELSE 'und' END AS lang_pred
        FROM ls),
      $DocWords,
      g3 AS (SELECT doc_id, COUNT(*) AS t3, COUNT(DISTINCT gm) AS d3
             FROM (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS gm
                   FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
                   WHERE len(w) >= 3) GROUP BY doc_id),
      tw AS (SELECT doc_id, MAX(c) AS top_c FROM (
               SELECT doc_id, u.t AS word, COUNT(*) AS c
               FROM toks, UNNEST(w) AS u(t) GROUP BY doc_id, u.t)
             GROUP BY doc_id),
      r AS (SELECT t.doc_id,
        CASE WHEN t3 IS NULL THEN NULL
             ELSE CAST(t3 - d3 AS DOUBLE) / CAST(t3 AS DOUBLE) END AS dup3_frac,
        CAST(top_c AS DOUBLE) / CAST(len(w) AS DOUBLE) AS top_word_frac
        FROM toks t LEFT JOIN g3 USING (doc_id) LEFT JOIN tw USING (doc_id))
      SELECT f.doc_id, lang_pred, q_words, q_stopword_ratio,
        dup3_frac, top_word_frac,
        (lang_pred = 'en' AND q_words >= 20 AND q_words <= 10000
          AND q_stopword_ratio > 0.0
          AND COALESCE(dup3_frac <= 0.2, FALSE)
          AND top_word_frac <= 0.2) AS kept
      FROM f JOIN l USING (doc_id) JOIN r ON f.doc_id = r.doc_id"""))

  /** The per-source data card — corpus composition readouts a curation
    * run reports in one table: volume (stats), exact duplication rate,
    * Zipf slope, distribution shift (KL to the corpus), and length
    * quantiles. Pure composition: every column is an already-certified
    * operator joined on source, and the oracle is assembled from the
    * SAME component oracle SQL as subqueries — so the report's hash
    * re-certifies each stage boundary.
    */
  private val corpusReport = QueryDef(
    "corpus_report",
    (s, d) => {
      import org.apache.spark.sql.functions.col
      corpusStats.run(s, d)
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("mean_chars"))
        .join(dedupStats.run(s, d).select(col("source"), col("dup_rate")),
          Seq("source"))
        .join(corpusZipf.run(s, d).select(col("source"), col("zipf_slope")),
          Seq("source"))
        .join(corpusLengthQuantiles.run(s, d)
          .select(col("source"), col("p50"), col("p90"), col("p99")),
          Seq("source"))
        .join(textSourceKl.run(s, d).select(col("source"), col("kl")),
          Seq("source"))
    },
    Some(s"""SELECT cs.source, cs.n_docs, cs.n_tokens, cs.mean_chars,
        ds.dup_rate, z.zipf_slope, q.p50, q.p90, q.p99, kl.kl
      FROM (${corpusStats.oracle.get}) cs
      JOIN (${dedupStats.oracle.get}) ds ON cs.source = ds.source
      JOIN (${corpusZipf.oracle.get}) z ON cs.source = z.source
      JOIN (${corpusLengthQuantiles.oracle.get}) q ON cs.source = q.source
      JOIN (${textSourceKl.oracle.get}) kl ON cs.source = kl.source"""))

  /** T109: blocklist word-filter gate ([[TextAnalysis.blocklistGate]],
    * the UT1/"bad words" pass). The blocklist mixes terms present in
    * the synthetic vocabulary (slow, vector) with absent ones (junk,
    * spam), so hit and no-hit paths are both exercised; the oracle
    * replays the token filter, both hit counts, the exact fraction,
    * and the integer-arithmetic gate.
    */
  private val textBlocklist = QueryDef(
    "text_blocklist",
    (s, d) => TextAnalysis.blocklistGate(Tables.documents(s, d),
      "doc_id", "text", Seq("slow", "vector", "junk", "spam"),
      maxHitPct = 5),
    Some(raw"""WITH base AS (SELECT doc_id,
        list_filter($Words,
          x -> len(x) > 0) AS ws
        FROM documents),
      h AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        list_filter(ws, t -> list_contains(['slow','vector','junk','spam'], t)) AS hits
        FROM base)
      SELECT doc_id, n_tokens,
        CAST(len(hits) AS BIGINT) AS n_hits,
        CAST(len(list_distinct(hits)) AS BIGINT) AS n_distinct_hits,
        CASE WHEN n_tokens = 0 THEN NULL
          ELSE ((2 * len(hits) * 1000000 + n_tokens) // (2 * n_tokens)) / 1000000.0
          END AS hit_frac,
        (len(list_distinct(hits)) >= 2 OR 100 * len(hits) > 5 * n_tokens)
          AS blocked
      FROM h"""))

  /** T112: top-k n-gram table ([[TextAnalysis.topNgrams]], n ∈ {2,3},
    * k = 20) — the dataset-card "top bigrams/trigrams" block. The
    * oracle regenerates the windows by list slicing, recounts, and
    * replays both deterministic cuts.
    */
  private val corpusNgramStats = QueryDef(
    "corpus_ngram_stats",
    (s, d) => TextAnalysis.topNgrams(Tables.documents(s, d), "text",
      Seq(2, 3), k = 20),
    Some(raw"""WITH base AS (SELECT
        list_filter($Words,
          x -> len(x) > 0) AS ws
        FROM documents),
      g2 AS (SELECT array_to_string(ws[i:i+1], ' ') AS gram
        FROM (SELECT ws FROM base WHERE len(ws) >= 2) b,
          UNNEST(generate_series(1, len(ws) - 1)) AS u(i)),
      t2 AS (SELECT CAST(2 AS BIGINT) AS n, gram, COUNT(*) AS freq
        FROM g2 GROUP BY gram ORDER BY freq DESC, gram LIMIT 20),
      g3 AS (SELECT array_to_string(ws[i:i+2], ' ') AS gram
        FROM (SELECT ws FROM base WHERE len(ws) >= 3) b,
          UNNEST(generate_series(1, len(ws) - 2)) AS u(i)),
      t3 AS (SELECT CAST(3 AS BIGINT) AS n, gram, COUNT(*) AS freq
        FROM g3 GROUP BY gram ORDER BY freq DESC, gram LIMIT 20)
      SELECT * FROM t2 UNION ALL SELECT * FROM t3"""))

  /** T118: the ingest gate funnel — per source, how many documents
    * survive each admission gate (encoding quality T108, blocklist
    * T109, Gopher rules T45) and all three together: the
    * stage-attrition readout an ingest pipeline publishes per crawl.
    * Pure composition: each gate column comes from the already-
    * certified entry's own query/oracle (the corpus_report pattern),
    * so the funnel hash re-certifies every stage boundary. NULL gate
    * verdicts (null-text documents) count as not-passing in both
    * engines (SQL FILTER/when semantics agree).
    */
  private val e2eIngestGate = QueryDef(
    "e2e_ingest_gate",
    (s, d) => {
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      src
        .join(textMojibake.run(s, d).select(col("doc_id"), col("clean")),
          Seq("doc_id"))
        .join(textBlocklist.run(s, d).select(col("doc_id"), col("blocked")),
          Seq("doc_id"))
        .join(textGopherRules.run(s, d).select(col("doc_id"), col("keep")),
          Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("clean"), 1)).as("n_clean"),
          count(when(!col("blocked"), 1)).as("n_unblocked"),
          count(when(col("keep"), 1)).as("n_gopher"),
          count(when(col("clean") && !col("blocked") && col("keep"), 1))
            .as("n_pass"))
    },
    Some(s"""SELECT d.source, COUNT(*) AS n_docs,
        CAST(COUNT(*) FILTER (WHERE e.clean) AS BIGINT) AS n_clean,
        CAST(COUNT(*) FILTER (WHERE NOT b.blocked) AS BIGINT) AS n_unblocked,
        CAST(COUNT(*) FILTER (WHERE g.keep) AS BIGINT) AS n_gopher,
        CAST(COUNT(*) FILTER (WHERE e.clean AND NOT b.blocked AND g.keep)
          AS BIGINT) AS n_pass
      FROM documents d
      JOIN (${textMojibake.oracle.get}) e ON d.doc_id = e.doc_id
      JOIN (${textBlocklist.oracle.get}) b ON d.doc_id = b.doc_id
      JOIN (${textGopherRules.oracle.get}) g ON d.doc_id = g.doc_id
      GROUP BY d.source"""))

  val defs: Seq[QueryDef] = Seq(
    textSourceKl,
    textTokens, textQuality, textLangId, textFingerprint, dedupStats,
    textHeavyHitters, textDistinctHll, textGopherRules, corpusStats,
    textRepetition, textReadability, corpusLengthQuantiles, corpusZipf,
    textCollocations, textVocab, textTtr, vocabGoodTuring, corpusPsi,
    textC4Rules, textMojibake, vocabCoverage, sourceReport, qualitySpearman,
    corpusKsDrift, textSimpson, textPiiStats, e2eRedactionAudit,
    vocabGrowth, textBurstiness, vocabHeaps, textRobustOutliers,
    textEntropy, textExtractHtml, textNormalizeUnicode, textRedact,
    e2eQualityGate, corpusReport, textBlocklist, corpusNgramStats,
    e2eIngestGate)
}
