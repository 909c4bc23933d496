package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.datapipe.{BpeTokenizer, Chunker, Contamination, Dedup, LanguageModel, Packing, Relevance, Sampling, TextAnalysis}
import graft.functions.PromHistogram

/** Queries for the training-data-pipeline operators (dedup, text
  * analysis) and the Prometheus-histogram aggregations (SURVEY.md
  * §2.6 A2, §2.8 Q6).
  */
object DataPipeQueries {

  // round(a/b, 6) engine-exactly — see [[graft.functions.ExactRound]]
  // (round(double, 6) flips on tie-region quotients; the r8/r9
  // corpus_stats red). Oracle twin:
  // ((2*a*1000000 + b) // (2*b)) / 1000000.0
  private def exactRatio6(a: Column, b: Column): Column =
    graft.functions.ExactRound.ratio6(a, b)

  // A2: Prometheus cumulative histogram over the event value column,
  // grouped by event_type, via the custom Aggregator.
  private val valueBuckets = Array(1.0, 5.0, 10.0, 50.0, 100.0, 250.0, 500.0)
  private val valueLabels = Array("1", "5", "10", "50", "100", "250", "500", "+Inf")

  private val a2PromHistogram = QueryDef(
    "a2_prom_histogram",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(PromHistogram.column(valueBuckets, valueLabels, col("value")).as("hist"))
        .select(col("event_type"), explode(col("hist")).as("h"))
        .select(col("event_type"), col("h._1").as("le"),
          col("h._2").as("cum_count")),
    Some("""SELECT e.event_type, b.le,
      CAST(COUNT(*) FILTER (WHERE e.value <= b.le_val) AS BIGINT) AS cum_count
      FROM events e CROSS JOIN (VALUES
        ('1',1.0),('5',5.0),('10',10.0),('50',50.0),('100',100.0),
        ('250',250.0),('500',500.0),('+Inf','infinity'::DOUBLE)) b(le, le_val)
      GROUP BY e.event_type, b.le"""))

  // Q6: payload-size heatmap — exponential le buckets over document
  // sizes per language (reference buckets 256·2^k,
  // data_synthesizer/service/metrics/metrics.go:57-62).
  private val q6PayloadHeatmap = QueryDef(
    "q6_payload_heatmap",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          when(col("n_chars") <= 128, "128")
            .when(col("n_chars") <= 256, "256")
            .when(col("n_chars") <= 512, "512")
            .otherwise("+Inf").as("le"))
        .groupBy(col("lang"), col("le"))
        .agg(count(lit(1)).as("n")),
    Some("""SELECT lang,
      CASE WHEN n_chars <= 128 THEN '128' WHEN n_chars <= 256 THEN '256'
           WHEN n_chars <= 512 THEN '512' ELSE '+Inf' END AS le,
      COUNT(*) AS n FROM documents GROUP BY 1, 2"""))

  // --- text analysis --------------------------------------------

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
    Some("""WITH scored AS (SELECT doc_id, lang,
        len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS s_en,
        len(regexp_extract_all(lower(text), '\b(el|la|de|que|y)\b')) AS s_es,
        len(regexp_extract_all(lower(text), '\b(le|la|de|et|les)\b')) AS s_fr,
        len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS s_de
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

  /** Shared oracle CTE chain for the WordPiece family: normalized
    * word counts, windowed substring counts, the top-V cut, the
    * single-char closure, and a 16-step greedy longest-match unroll
    * over the distinct-word table (corpus max word length is 8 at
    * the oracle SF; a fully-consumed word passes through later steps
    * unchanged). Step k advances one piece: the longest of the ≤4-,
    * 3-, 2-char vocab probes, else the single-char fallback — the
    * exact ELSE branch [[graft.datapipe.WordPiece.greedyCount]]
    * takes.
    */
  private val wordPieceCtes: String = {
    def step(k: Int) = s"""
      wg$k AS (SELECT g.w,
        CASE WHEN g.pos > len(g.w) THEN g.pos
             WHEN v4.piece IS NOT NULL THEN g.pos + 4
             WHEN v3.piece IS NOT NULL THEN g.pos + 3
             WHEN v2.piece IS NOT NULL THEN g.pos + 2
             ELSE g.pos + 1 END AS pos,
        CASE WHEN g.pos > len(g.w) THEN g.n ELSE g.n + 1 END AS n,
        CASE WHEN g.pos > len(g.w) THEN g.seg
             WHEN v4.piece IS NOT NULL THEN g.seg || ' ' || substr(g.w, CAST(g.pos AS INTEGER), 4)
             WHEN v3.piece IS NOT NULL THEN g.seg || ' ' || substr(g.w, CAST(g.pos AS INTEGER), 3)
             WHEN v2.piece IS NOT NULL THEN g.seg || ' ' || substr(g.w, CAST(g.pos AS INTEGER), 2)
             ELSE g.seg || ' ' || substr(g.w, CAST(g.pos AS INTEGER), 1) END AS seg
       FROM wg${k - 1} g
       LEFT JOIN wvoc v4 ON len(g.w) >= g.pos + 3
         AND v4.piece = substr(g.w, CAST(g.pos AS INTEGER), 4)
       LEFT JOIN wvoc v3 ON len(g.w) >= g.pos + 2
         AND v3.piece = substr(g.w, CAST(g.pos AS INTEGER), 3)
       LEFT JOIN wvoc v2 ON len(g.w) >= g.pos + 1
         AND v2.piece = substr(g.w, CAST(g.pos AS INTEGER), 2))"""
    s"""wtok AS (SELECT doc_id,
        list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
          x -> len(x) > 0) AS w
        FROM documents),
      wwords AS (SELECT u.t AS w, COUNT(*) AS freq
        FROM wtok, UNNEST(w) u(t) GROUP BY u.t),
      wpieces AS (SELECT substr(ww.w, i.i, l.l) AS piece,
          CAST(SUM(ww.freq) AS BIGINT) AS cnt
        FROM wwords ww,
          UNNEST(generate_series(1, len(ww.w))) i(i),
          UNNEST(generate_series(1, LEAST(4, len(ww.w) - i.i + 1))) l(l)
        GROUP BY 1),
      wvtop AS (SELECT piece, cnt FROM wpieces
        ORDER BY cnt DESC, piece LIMIT 120),
      wchars AS (SELECT DISTINCT substr(ww.w, i.i, 1) AS piece
        FROM wwords ww, UNNEST(generate_series(1, len(ww.w))) i(i)),
      wvoc AS (SELECT piece FROM wvtop UNION SELECT piece FROM wchars),
      wg0 AS (SELECT w, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n,
        '' AS seg
        FROM wwords),
      ${(1 to 16).map(step).mkString(",")}"""
  }

  /** WordPiece vocabulary: the top-120 substrings (lengths 1-4) by
    * word-frequency-weighted occurrence count, cut on (cnt desc,
    * piece). The oracle replays windowing, weighting, and the cut.
    */
  private val wordPieceVocab = QueryDef(
    "wordpiece_vocab",
    (s, d) => graft.datapipe.WordPiece.vocabTable(
      Tables.documents(s, d), "text", maxPieceLen = 4, topV = 120),
    Some(s"""WITH $wordPieceCtes
      SELECT piece, cnt FROM wvtop"""))

  /** WordPiece encoding counts per document under the same
    * vocabulary + single-char closure; the oracle walks the greedy
    * longest-match loop step by step, so a hash match certifies the
    * segmentation rule itself, not just totals.
    */
  private val wordPieceEncode = QueryDef(
    "wordpiece_encode",
    (s, d) => graft.datapipe.WordPiece.encodeCounts(
      Tables.documents(s, d), "doc_id", "text", maxPieceLen = 4, topV = 120),
    Some(s"""WITH $wordPieceCtes,
      wctok AS (SELECT doc_id, u.t AS w FROM wtok, UNNEST(w) u(t)),
      wagg AS (SELECT c.doc_id, COUNT(*) AS n_words,
          CAST(SUM(e.n) AS BIGINT) AS n_pieces
        FROM wctok c JOIN wg16 e USING (w) GROUP BY c.doc_id)
      SELECT d.doc_id, CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
        CAST(COALESCE(a.n_pieces, 0) AS BIGINT) AS n_pieces
      FROM documents d LEFT JOIN wagg a USING (doc_id)"""))

  /** WordPiece DETOKENIZATION round-trip
    * ([[graft.datapipe.WordPiece.decodeTable]]): the greedy
    * segmentation's pieces, concatenated, must reproduce every
    * distinct word. The oracle accumulates the chosen piece at each
    * unrolled greedy step, so a hash match certifies the
    * segmentation CONTENT, not just piece counts.
    */
  private val wordPieceDecode = QueryDef(
    "wordpiece_decode",
    (s, d) => graft.datapipe.WordPiece.decodeTable(
      Tables.documents(s, d), "text", maxPieceLen = 4, topV = 120),
    Some(s"""WITH $wordPieceCtes
      SELECT w, CAST(n AS BIGINT) AS n_pieces,
        ltrim(seg, ' ') AS segmentation,
        replace(seg, ' ', '') = w AS round_trip
      FROM wg16"""))

  /** Per-source WordPiece fertility — the tokenizer-coverage readout
    * a mixture owner checks before committing to a vocab (a source
    * whose fertility spikes is under-served by the vocabulary and
    * will eat a disproportionate token budget). One bounded rollup
    * over the certified encode counts; the ratio uses the
    * engine-exact integer rounding.
    */
  private val wordPieceCoverage = QueryDef(
    "wordpiece_coverage",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.datapipe.WordPiece.encodeCounts(docs, "doc_id", "text",
        maxPieceLen = 4, topV = 120)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"))
        .select(col("source"), col("n_words"), col("n_pieces"),
          exactRatio6(col("n_pieces"), col("n_words")).as("fertility"))
    },
    Some(s"""WITH $wordPieceCtes,
      wctok AS (SELECT doc_id, u.t AS w FROM wtok, UNNEST(w) u(t)),
      wagg AS (SELECT c.doc_id, COUNT(*) AS n_words,
          CAST(SUM(e.n) AS BIGINT) AS n_pieces
        FROM wctok c JOIN wg16 e USING (w) GROUP BY c.doc_id),
      per AS (SELECT d.doc_id, d.source,
          COALESCE(a.n_words, 0) AS n_words,
          COALESCE(a.n_pieces, 0) AS n_pieces
        FROM documents d LEFT JOIN wagg a USING (doc_id)),
      src AS (SELECT source, SUM(n_words)::BIGINT AS n_words,
          SUM(n_pieces)::BIGINT AS n_pieces FROM per GROUP BY source)
      SELECT source, n_words, n_pieces,
        ((2 * n_pieces * 1000000 + n_words) // (2 * n_words)) / 1000000.0
          AS fertility
      FROM src"""))

  /** Unigram-LM (SentencePiece-family) Viterbi encoding under the
    * frequency-seeded maxPieceLen=2 model: per doc, word count,
    * Viterbi piece count, and the exact-decimal segmentation score.
    * The oracle replays the WHOLE pipeline — seed distribution,
    * 8-dp log-probs, and the lookback-2 Viterbi DP as a recursive
    * CTE over exact decimals with the same prefer-bigram tie-break —
    * so a hash match certifies the dynamic program itself.
    */
  private val unigramEncode = QueryDef(
    "unigram_encode",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.datapipe.UnigramLM.encodeCounts(docs, "doc_id", "text",
        graft.datapipe.UnigramLM.seedModel(docs, "text", maxPieceLen = 2))
    },
    Some("""WITH RECURSIVE toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w0
        FROM documents),
      occ AS (SELECT doc_id, u.t AS w FROM toks, UNNEST(w0) AS u(t)
        WHERE len(u.t) > 0),
      wf AS (SELECT w, COUNT(*) AS freq FROM occ GROUP BY w),
      pc AS (SELECT substr(w, i, l) AS p, SUM(freq) AS cnt
        FROM wf, UNNEST(generate_series(1, length(w))) AS g(i),
             UNNEST(generate_series(1, 2)) AS h(l)
        WHERE i + l - 1 <= length(w)
        GROUP BY 1),
      tot AS (SELECT SUM(cnt) AS t FROM pc),
      lps AS (SELECT p,
          CAST(round(ln(CAST(cnt AS DOUBLE) / t), 8) AS DECIMAL(18,8)) AS plp
        FROM pc, tot),
      wl AS (SELECT w, length(w) AS n FROM wf),
      r AS (
        SELECT wl.w, wl.n, 1 AS i,
            CAST(0 AS DECIMAL(28,8)) AS dp0,
            CAST(l1.plp AS DECIMAL(28,8)) AS dp1,
            CAST(0 AS BIGINT) AS nt0, CAST(1 AS BIGINT) AS nt1
          FROM wl JOIN lps l1 ON l1.p = substr(wl.w, 1, 1)
        UNION ALL
        SELECT r.w, r.n, r.i + 1, r.dp1,
            CASE WHEN r.dp0 + l2.plp >= r.dp1 + l1.plp
                 THEN CAST(r.dp0 + l2.plp AS DECIMAL(28,8))
                 ELSE CAST(r.dp1 + l1.plp AS DECIMAL(28,8)) END,
            r.nt1,
            CASE WHEN r.dp0 + l2.plp >= r.dp1 + l1.plp
                 THEN r.nt0 + 1 ELSE r.nt1 + 1 END
          FROM r
          JOIN lps l1 ON l1.p = substr(r.w, r.i + 1, 1)
          JOIN lps l2 ON l2.p = substr(r.w, r.i, 2)
          WHERE r.i < r.n),
      seg AS (SELECT w, dp1 AS wlp, nt1 AS wnt FROM r WHERE i = n),
      agg AS (SELECT o.doc_id, COUNT(*) AS n_words,
          CAST(SUM(s.wnt) AS BIGINT) AS n_pieces,
          SUM(CAST(s.wlp AS DECIMAL(28,8))) AS slp
        FROM occ o JOIN seg s USING (w) GROUP BY o.doc_id)
      SELECT d.doc_id, CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
        CAST(COALESCE(n_pieces, 0) AS BIGINT) AS n_pieces,
        CAST(round(CAST(COALESCE(slp, 0) AS DECIMAL(28,8)), 6) AS DOUBLE)
          AS total_lp
      FROM (SELECT doc_id FROM documents) d LEFT JOIN agg USING (doc_id)"""))

  /** Unigram-LM DETOKENIZATION round-trip
    * ([[graft.datapipe.UnigramLM.decodeTable]]): the Viterbi argmax
    * segmentation itself, space-joined, per distinct word. The
    * oracle re-runs the DP as a recursive CTE carrying the two
    * frontier SEGMENTATION STRINGS alongside the exact-decimal
    * scores (same prefer-bigram tie-break), so a hash match
    * certifies the DP's piece choices character for character.
    */
  private val unigramDecode = QueryDef(
    "unigram_decode",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.datapipe.UnigramLM.decodeTable(docs, "text",
        graft.datapipe.UnigramLM.seedModel(docs, "text", maxPieceLen = 2))
    },
    Some("""WITH RECURSIVE toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w0
        FROM documents),
      occ AS (SELECT doc_id, u.t AS w FROM toks, UNNEST(w0) AS u(t)
        WHERE len(u.t) > 0),
      wf AS (SELECT w, COUNT(*) AS freq FROM occ GROUP BY w),
      pc AS (SELECT substr(w, i, l) AS p, SUM(freq) AS cnt
        FROM wf, UNNEST(generate_series(1, length(w))) AS g(i),
             UNNEST(generate_series(1, 2)) AS h(l)
        WHERE i + l - 1 <= length(w)
        GROUP BY 1),
      tot AS (SELECT SUM(cnt) AS t FROM pc),
      lps AS (SELECT p,
          CAST(round(ln(CAST(cnt AS DOUBLE) / t), 8) AS DECIMAL(18,8)) AS plp
        FROM pc, tot),
      wl AS (SELECT w, length(w) AS n FROM wf),
      r AS (
        SELECT wl.w, wl.n, 1 AS i,
            CAST(0 AS DECIMAL(28,8)) AS dp0,
            CAST(l1.plp AS DECIMAL(28,8)) AS dp1,
            CAST(0 AS BIGINT) AS nt0, CAST(1 AS BIGINT) AS nt1,
            '' AS sg0, substr(wl.w, 1, 1) AS sg1
          FROM wl JOIN lps l1 ON l1.p = substr(wl.w, 1, 1)
        UNION ALL
        SELECT r.w, r.n, r.i + 1, r.dp1,
            CASE WHEN r.dp0 + l2.plp >= r.dp1 + l1.plp
                 THEN CAST(r.dp0 + l2.plp AS DECIMAL(28,8))
                 ELSE CAST(r.dp1 + l1.plp AS DECIMAL(28,8)) END,
            r.nt1,
            CASE WHEN r.dp0 + l2.plp >= r.dp1 + l1.plp
                 THEN r.nt0 + 1 ELSE r.nt1 + 1 END,
            r.sg1,
            CASE WHEN r.dp0 + l2.plp >= r.dp1 + l1.plp
                 THEN r.sg0 || CASE WHEN r.sg0 = '' THEN '' ELSE ' ' END
                   || substr(r.w, CAST(r.i AS INTEGER), 2)
                 ELSE r.sg1 || ' '
                   || substr(r.w, CAST(r.i AS INTEGER) + 1, 1) END
          FROM r
          JOIN lps l1 ON l1.p = substr(r.w, r.i + 1, 1)
          JOIN lps l2 ON l2.p = substr(r.w, r.i, 2)
          WHERE r.i < r.n)
      SELECT w, nt1 AS n_pieces, sg1 AS segmentation,
        replace(sg1, ' ', '') = w AS round_trip
      FROM r WHERE i = n"""))

  /** Per-source exact-duplication rate — the dedup observability
    * readout next to [[corpusStats]]: documents, distinct
    * fingerprints, and the duplicate fraction per source. The rate
    * is the [[exactRatio6]] integer-exact round of
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
        exactRatio6(col("n_docs") - col("n_unique"), col("n_docs"))),
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
        split(TextAnalysis.normalize(col("text")), " "),
        t => length(t) > 0)).as("t"))
      val top = tk.groupBy(col("t")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("t").asc).limit(20)
        .select(col("t").as("token"), col("exact_cnt"))
      val cms = graft.datapipe.Sketches.cmsCounts(tk, "t",
        depth = 4, width = 1024)
      graft.datapipe.Sketches.cmsEstimate(cms, top, "token",
        depth = 4, width = 1024)
    },
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
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
      val w = split(TextAnalysis.normalize(col("text")), " ")
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
    Some("""WITH toks AS (SELECT source,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
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

  /** The per-source KL CTE chain shared by `text_source_kl` and
    * `mix_doremi`: exact (source, token) counts, the corpus
    * marginal, 8-dp KL terms, and the `klv` readout (source,
    * n_tokens, n_distinct, kl).
    */
  private val sourceKlCtes = """tk AS (SELECT source, u.t AS t
        FROM (SELECT source,
          list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
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

  /** T152: one DoReMi multiplicative-weights round over the source
    * mixture ([[graft.datapipe.Sampling.doremiWeights]], Xie et al.
    * 2023) with KL(p_s ‖ q) as the deterministic excess-loss proxy.
    * The oracle replays the KL chain, the engine-exact 1/k, the 6-dp
    * exp, the 8-dp products, the decimal normalizer, and the 6-dp
    * weight readout.
    */
  private val mixDoremi = QueryDef(
    "mix_doremi",
    (s, d) => graft.datapipe.Sampling.doremiWeights(
      Tables.documents(s, d), "text", "source"),
    Some(s"""WITH $sourceKlCtes,
      kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM klv),
      uu AS MATERIALIZED (SELECT source, n_tokens, kl,
          round(exp(1.0 * kl), 6) AS excess,
          round((((200000000 + k) // (2 * k)) / CAST(100000000 AS DOUBLE))
            * round(exp(1.0 * kl), 6), 8) AS u
        FROM klv, kk),
      zz AS (SELECT SUM(CAST(u AS DECIMAL(28,8))) AS z FROM uu)
      SELECT source, n_tokens, kl, excess,
        round(u / CAST(z AS DOUBLE), 6) AS weight
      FROM uu, zz"""))

  /** T192: ITERATED DoReMi ([[graft.datapipe.Sampling
    * .doremiWeightsIter]]) — 3 multiplicative-weights rounds with the
    * excess KL recomputed against the REWEIGHTED mixture each round
    * (Xie et al. 2023 run the update to convergence; the one-round
    * `mix_doremi` scores against the corpus marginal once). The
    * oracle unrolls every round: the 12-dp/decimal mixture fold, the
    * 8-dp KL terms, the 6-dp exp, the 8-dp products, the decimal
    * normalizer, and the 6-dp weight — a hash match certifies the
    * whole trajectory, not just the final weights.
    */
  private def doremiIterRoundSql(r: Int): String = s"""
      q$r AS MATERIALIZED (SELECT p.t,
          CAST(SUM(CAST(round(w.weight * p.p, 12) AS DECIMAL(38,12))) AS DOUBLE) AS q
        FROM pp p JOIN w${r - 1} w USING (source) GROUP BY 1),
      klr$r AS MATERIALIZED (SELECT p.source,
          CAST(round(SUM(CAST(round(p.p * ln(p.p / q.q), 8) AS DECIMAL(28,8))), 6) AS DOUBLE) AS kl
        FROM pp p JOIN q$r q USING (t) GROUP BY 1),
      uu$r AS MATERIALIZED (SELECT k.source, k.kl,
          round(exp(1.0 * k.kl), 6) AS excess,
          round(w.weight * round(exp(1.0 * k.kl), 6), 8) AS u
        FROM klr$r k JOIN w${r - 1} w USING (source)),
      zz$r AS (SELECT SUM(CAST(u AS DECIMAL(28,8))) AS z FROM uu$r),
      w$r AS MATERIALIZED (SELECT source, kl, excess,
          round(u / CAST(z AS DOUBLE), 6) AS weight FROM uu$r, zz$r)"""

  private val mixDoremiIter = QueryDef(
    "mix_doremi_iter",
    (s, d) => graft.datapipe.Sampling.doremiWeightsIter(
      Tables.documents(s, d), "text", "source", rounds = 3),
    Some(s"""WITH tk AS (SELECT source, u.t AS t
        FROM (SELECT source,
          list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
            x -> len(x) > 0) AS w FROM documents), UNNEST(w) u(t)),
      csw AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c_sw
        FROM tk GROUP BY 1, 2),
      nss AS (SELECT source, SUM(c_sw) AS n_s FROM csw GROUP BY 1),
      pp AS MATERIALIZED (SELECT csw.source, csw.t,
          CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE) AS p
        FROM csw JOIN nss USING (source)),
      kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM nss),
      w0 AS MATERIALIZED (SELECT source,
          ((200000000 + k) // (2 * k)) / CAST(100000000 AS DOUBLE) AS weight
        FROM nss, kk),
      ${(1 to 3).map(doremiIterRoundSql).mkString(",")}
      ${(1 to 3).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, source, kl, excess, weight FROM w$r")
        .mkString("\n      UNION ALL\n      ")}"""))

  /** Reciprocal-rank fusion of three quality signals' top-100 lists:
    * stopword ratio (desc — the natural-language signal), bigram-LM
    * perplexity (asc), top-word repetition share (asc). The oracle
    * rebuilds all three signals, replays each ranked cut (NULLS LAST
    * + doc-id tie-break), and the fixed-order fusion sum.
    */
  private val qualityRankFusion = QueryDef(
    "quality_rank_fusion",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val q = TextAnalysis.qualityFeatures(docs, col("text"))
        .select(col("doc_id"), col("q_stopword_ratio"))
      val p = LanguageModel.perplexity(docs, "doc_id", "text")
        .select(col("doc_id"), col("ppl"))
      val r = TextAnalysis.repetition(docs, "doc_id", "text")
        .select(col("doc_id"), col("top_word_frac"))
      Relevance.rrfFuse(Seq(
        "quality" -> Relevance.topRanks(q, "doc_id", "q_stopword_ratio",
          ascending = false, n = 100),
        "ppl" -> Relevance.topRanks(p, "doc_id", "ppl",
          ascending = true, n = 100),
        "rep" -> Relevance.topRanks(r, "doc_id", "top_word_frac",
          ascending = true, n = 100)), "doc_id", k = 60)
    },
    Some("""WITH toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      q AS (SELECT doc_id,
          CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE)
            / len(regexp_split_to_array(trim(text), '\s+')) AS s
        FROM documents),
      qr AS (SELECT doc_id, CAST(row_number()
          OVER (ORDER BY s DESC NULLS LAST, doc_id) AS BIGINT) AS r
        FROM q QUALIFY r <= 100),
      bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
             FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
             WHERE len(w) >= 2),
      c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
      vc AS (SELECT COUNT(DISTINCT u.tk) AS v FROM toks, UNNEST(w) AS u(tk)),
      lps AS (SELECT doc_id,
          round(ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + vc.v AS DOUBLE)), 8) AS lp
        FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), vc),
      ppl AS (SELECT doc_id,
          round(exp(-CAST(SUM(CAST(lp AS DECIMAL(28,8))) AS DOUBLE)
            / COUNT(*)), 4) AS ppl
        FROM lps GROUP BY doc_id),
      pr AS (SELECT doc_id, CAST(row_number()
          OVER (ORDER BY ppl ASC NULLS LAST, doc_id) AS BIGINT) AS r
        FROM toks LEFT JOIN ppl USING (doc_id) QUALIFY r <= 100),
      tw AS (SELECT doc_id, MAX(c) AS top_c FROM (
               SELECT doc_id, u.t AS word, COUNT(*) AS c
               FROM toks, UNNEST(w) AS u(t) GROUP BY doc_id, u.t)
             GROUP BY doc_id),
      rep AS (SELECT t.doc_id,
          CAST(top_c AS DOUBLE) / CAST(len(w) AS DOUBLE) AS s
        FROM toks t JOIN tw USING (doc_id)),
      rr AS (SELECT doc_id, CAST(row_number()
          OVER (ORDER BY s ASC NULLS LAST, doc_id) AS BIGINT) AS r
        FROM rep QUALIFY r <= 100),
      ids AS (SELECT doc_id FROM qr UNION
              SELECT doc_id FROM pr UNION
              SELECT doc_id FROM rr)
      SELECT ids.doc_id, qr.r AS r_quality, pr.r AS r_ppl, rr.r AS r_rep,
        round(COALESCE(1.0 / (60.0 + CAST(qr.r AS DOUBLE)), 0.0)
            + COALESCE(1.0 / (60.0 + CAST(pr.r AS DOUBLE)), 0.0)
            + COALESCE(1.0 / (60.0 + CAST(rr.r AS DOUBLE)), 0.0), 6) AS rrf
      FROM ids LEFT JOIN qr USING (doc_id) LEFT JOIN pr USING (doc_id)
        LEFT JOIN rr USING (doc_id)"""))

  /** TF-IDF keywords: every document's top-5 terms by tf·ln(N/df),
    * ranked on the 4-dp rounded score with term tie-break. The
    * oracle replays tf, the window df, idf, and the cut.
    */
  private val textKeywords = QueryDef(
    "text_keywords",
    (s, d) => Relevance.tfidfKeywords(Tables.documents(s, d),
      "doc_id", "text", k = 5),
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
          x -> len(x) > 0) AS w
        FROM documents),
      tf AS (SELECT doc_id, u.t AS term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks, UNNEST(w) u(t) GROUP BY doc_id, u.t),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      sc AS (SELECT doc_id, term,
        round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE)
          / CAST(COUNT(*) OVER (PARTITION BY term) AS DOUBLE)), 4) AS score
        FROM tf, n),
      ranked AS (SELECT doc_id, term, score,
        CAST(row_number() OVER (PARTITION BY doc_id
          ORDER BY score DESC, term) AS BIGINT) AS rnk
        FROM sc)
      SELECT doc_id, rnk, term, score FROM ranked WHERE rnk <= 5"""))

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
    * [[exactRatio6]] integer-exact round — round(double, 6) here
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
          exactRatio6(sum(col("n_chars")), count(lit(1))).as("mean_chars"),
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

  /** Token-budget selection over a quality-ranked pool: per source,
    * keep documents in (stopword-density desc, doc_id) order while
    * the inclusive running token total stays within 500. The oracle
    * replays the ranking, the ROWS-frame cumulative sum, and the
    * greedy cut; the kept set and every running total must agree
    * exactly, so the window semantics (tie order, NULL placement,
    * frame) are pinned engine-portably.
    */
  private val sampleTokenBudget = QueryDef(
    "sample_token_budget",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // priority rounds to 6 dp BEFORE the window ordering, via the
      // integer-exact [[exactRatio6]] — both the ordering key and the
      // emitted column stay engine-identical (a double round flips
      // on tie-region ratios); rounding-induced ties fall to the
      // deterministic doc_id tie-break
      Sampling.tokenBudget(docs, "doc_id", "source",
        TextAnalysis.tokenCount(col("text")),
        exactRatio6(TextAnalysis.stopwordCount(col("text")),
          TextAnalysis.tokenCount(col("text"))),
        budget = 500L)
    },
    Some("""WITH t AS (SELECT doc_id, source,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        ((2 * CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 1000000
            + CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))
          // (2 * CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))) / 1000000.0 AS priority
      FROM documents),
      c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source
          ORDER BY priority DESC NULLS LAST, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM t)
      SELECT doc_id, source, n_tokens, priority, cum_tokens
      FROM c WHERE cum_tokens <= 500"""))

  /** Efraimidis–Spirakis weighted 100-sample with w = token count —
    * longer documents proportionally likelier, drawn WITHOUT
    * replacement in one distributed top-k. The oracle replays the
    * md5 uniform, the u^(1/w) key, its 8-dp rounding, and the
    * (key desc, doc_id) cut, so the hash certifies the exact sampled
    * SET and every key.
    */
  private val sampleWeighted = QueryDef(
    "sample_weighted",
    (s, d) => Sampling.weightedSample(
      Tables.documents(s, d), "doc_id",
      TextAnalysis.tokenCount(col("text")), k = 100),
    Some("""WITH t AS (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS w,
        (('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 1000000000 + 1) / 1000000000.0 AS u
      FROM documents)
      SELECT doc_id, w, round(pow(u, 1.0 / w), 8) AS es_key
      FROM t ORDER BY es_key DESC, doc_id LIMIT 100"""))

  /** The weighted corpus selection a pretraining run actually
    * executes, as ONE certified chain: soft-dedup weights (each
    * distinct content contributes one unit of mass however often it
    * was crawled) × a quality factor (the certified stopword-ratio
    * feature, shifted to [1,2]) feed an Efraimidis–Spirakis weighted
    * 100-draw without replacement. Duplicates planted at doc_id%5
    * give the soft weights real work. Every stage is the
    * engine-exact formulation of an already-certified operator
    * (T87 × T9 → T84), so the oracle replays fingerprint rollup,
    * exact ratios, the md5 uniform, the u^(1/w) key at 8 dp, and
    * the cut — the hash certifies all three stage boundaries.
    *
    * Scale: the only corpus shuffles are the fingerprint rollup and
    * the doc_id join of the two certified per-doc tables; the final
    * selection is one distributed top-k (TakeOrderedAndProject).
    */
  private val e2eWeightedSelect = QueryDef(
    "e2e_weighted_select",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val planted = docs
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      val soft = Dedup.softDedupWeights(planted, "doc_id", col("text"))
        .select(col("doc_id"), col("weight"))
      val scored = planted.select(col("doc_id"),
        (exactRatio6(TextAnalysis.stopwordCount(col("text")),
          TextAnalysis.tokenCount(col("text"))) + lit(1.0)).as("quality"))
      val w = soft.join(scored, Seq("doc_id"))
        .select(col("doc_id"), (col("weight") * col("quality")).as("w"))
      val u = (TextAnalysis.md5Long60(concat(lit("ws2:"),
        col("doc_id").cast("string"))) % 1000000000L + 1L)
        .cast("double") / lit(1e9)
      w.select(col("doc_id"), col("w"),
          round(pow(u, lit(1.0) / col("w")), 8).as("es_key"))
        .orderBy(col("es_key").desc, col("doc_id").asc)
        .limit(100)
    },
    Some("""WITH planted AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
      f AS (SELECT doc_id, text,
        ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fp
        FROM planted),
      m AS (SELECT fp, COUNT(*) AS n_copies FROM f GROUP BY fp),
      soft AS (SELECT doc_id, text,
        ((2 * 1000000 + n_copies) // (2 * n_copies)) / 1000000.0 AS sw
        FROM f JOIN m USING (fp)),
      sc AS (SELECT doc_id, sw,
        ((2 * CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 1000000
            + CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))
          // (2 * CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))) / 1000000.0
          + 1.0 AS quality
        FROM soft),
      w AS (SELECT doc_id, sw * quality AS w FROM sc),
      t AS (SELECT doc_id, w,
        round(pow(
          (('0x' || substr(md5('ws2:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
            % 1000000000 + 1) / 1000000000.0,
          1.0 / w), 8) AS es_key
        FROM w)
      SELECT doc_id, w, es_key FROM t
      ORDER BY es_key DESC, doc_id LIMIT 100"""))

  /** Content-keyed 90/5/5 train/validation/test split
    * ([[Sampling.contentSplit]]): the bucket hashes the CONTENT
    * fingerprint, so exact duplicates co-assign and can never leak
    * across splits. The oracle replays fingerprint, bucket, and the
    * threshold CASE per document.
    */
  private val sampleSplit = QueryDef(
    "sample_split",
    (s, d) => Sampling.contentSplit(
      Tables.documents(s, d), "doc_id", col("text"),
      trainPct = 90, valPct = 5),
    Some("""WITH f AS (SELECT doc_id,
        ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fingerprint
        FROM documents),
      b AS (SELECT doc_id, fingerprint,
        ('0x' || substr(md5('split:' || CAST(fingerprint AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        FROM f)
      SELECT doc_id, fingerprint, bucket,
        CASE WHEN bucket < 90 THEN 'train'
             WHEN bucket < 95 THEN 'validation'
             ELSE 'test' END AS split
      FROM b"""))

  /** Gopher-style repetition quality metrics: duplicate 2-/3-gram
    * fractions (pure per-row expressions) plus the top token's share
    * (one tf-shaped aggregation). Fractions are exact integer counts
    * divided once, so the doubles match across engines.
    */
  private val textRepetition = QueryDef(
    "text_repetition",
    (s, d) => TextAnalysis.repetition(Tables.documents(s, d), "doc_id", "text"),
    Some("""WITH toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
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

  /** Corpus-level duplicated 5-gram coverage: the corpus-frequency
    * quality signal ([[Dedup.dupNgramCoverage]]). The oracle groups
    * by the gram STRING where Spark groups by its xxhash64 — equal
    * counts under the same collision-free-at-64-bit assumption the
    * ngram/minhash oracles document.
    */
  private val textDupNgrams = QueryDef(
    "text_dup_ngrams",
    (s, d) => Dedup.dupNgramCoverage(
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism),
      "doc_id", "text", k = 5),
    Some("""WITH toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      g AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS gm
            FROM toks, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
            WHERE len(w) >= 5),
      dup AS (SELECT gm FROM
        (SELECT gm, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gm)
        WHERE nd >= 2),
      cnt AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
      dcnt AS (SELECT doc_id, COUNT(*) AS n_dup
        FROM g JOIN dup USING (gm) GROUP BY doc_id)
      SELECT t.doc_id, CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
        CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup,
        CASE WHEN COALESCE(n_grams, 0) = 0 THEN NULL
             ELSE ((2 * COALESCE(n_dup, 0) * 1000000 + n_grams)
               // (2 * n_grams)) / 1000000.0
        END AS dup_frac
      FROM toks t LEFT JOIN cnt USING (doc_id) LEFT JOIN dcnt USING (doc_id)"""))

  /** Flesch-Kincaid grade + Flesch reading ease per document. The
    * oracle replays the vowel-group syllable heuristic and the
    * formulas operand-for-operand (fixed IEEE chains over exact
    * counts).
    */
  private val textReadability = QueryDef(
    "text_readability",
    (s, d) => TextAnalysis.readability(
      Tables.documents(s, d), "doc_id", "text"),
    Some("""WITH t AS (SELECT doc_id, text,
        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
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

  /** D4-style marginal novelty in doc_id order: per doc, the share
    * of its distinct 3-shingles no earlier doc contained. The oracle
    * replays the min-doc_id first-owner election, the short-text
    * whole-doc-shingle fallback included.
    */
  private val textNovelty = QueryDef(
    "text_novelty",
    (s, d) => Dedup.noveltyScores(
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism),
      "doc_id", "text", k = 3),
    Some("""WITH toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      g0 AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS gm
          FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
          WHERE len(w) >= 3
        UNION ALL
        SELECT doc_id, array_to_string(w, ' ') AS gm FROM toks
          WHERE len(w) < 3),
      g AS (SELECT DISTINCT doc_id, gm FROM g0),
      f AS (SELECT gm, MIN(doc_id) AS first_doc FROM g GROUP BY gm),
      per AS (SELECT doc_id, COUNT(*) AS n_shingles,
          COUNT(*) FILTER (WHERE first_doc = doc_id) AS n_novel
        FROM g JOIN f USING (gm) GROUP BY doc_id)
      SELECT d.doc_id, CAST(COALESCE(n_shingles, 0) AS BIGINT) AS n_shingles,
        CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel,
        CASE WHEN COALESCE(n_shingles, 0) = 0 THEN NULL
             ELSE ((2 * n_novel * 1000000 + n_shingles)
               // (2 * n_shingles)) / 1000000.0
        END AS novel_frac
      FROM (SELECT doc_id FROM documents) d LEFT JOIN per USING (doc_id)"""))

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
    Some("""WITH tok AS (SELECT source, u.t AS t
        FROM (SELECT source,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
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
    Some("""WITH doc AS (SELECT list_filter(string_split(trim(
          regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
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
    Some("""SELECT u.t AS token, COUNT(*) AS freq
      FROM (SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
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
    Some("""WITH base AS (SELECT doc_id,
        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
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
    Some("""WITH w AS (SELECT source, u.t FROM (SELECT source,
        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
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
    Some("""WITH w AS (SELECT u.t FROM (SELECT
        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
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

  /** Truncation-loss readout (T104) at candidate max length 256:
    * per-source document and token loss under a hard truncation. One
    * partial-aggregated rollup; the oracle replays every count and
    * both exact fractions.
    */
  private val chunkTruncation = QueryDef(
    "chunk_truncation",
    (s, d) => Packing.truncationLoss(Tables.documents(s, d), "source",
      TextAnalysis.tokenCount(col("text")), maxLen = 256),
    Some("""WITH t AS (SELECT source,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
        FROM documents)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n) AS BIGINT) AS n_tokens,
        CAST(COUNT(*) FILTER (WHERE n > 256) AS BIGINT) AS trunc_docs,
        CAST(SUM(greatest(n - 256, 0)) AS BIGINT) AS lost_tokens,
        ((2 * CAST(SUM(greatest(n - 256, 0)) AS BIGINT) * 1000000
            + CAST(SUM(n) AS BIGINT))
          // (2 * CAST(SUM(n) AS BIGINT))) / 1000000.0 AS lost_frac,
        ((2 * COUNT(*) FILTER (WHERE n > 256) * 1000000 + COUNT(*))
          // (2 * COUNT(*))) / 1000000.0 AS trunc_frac
      FROM t GROUP BY source"""))

  /** Quality-by-multiplicity (T106) over the planted-duplicates
    * corpus (the dedup_soft_weights planting: multiplicities 1/2/3).
    * The oracle replays the planting, the fingerprint rollup, each
    * document's scaled-integer quality, and the exact mean division
    * — certifying the whole crawl-bias chain.
    */
  private val dedupQualityMix = QueryDef(
    "dedup_quality_mix",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val planted = docs
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
      Dedup.qualityByMultiplicity(planted, "doc_id", col("text"))
    },
    Some("""WITH planted AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 3000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
      f AS (SELECT doc_id,
        ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fp,
        ((2 * CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 1000000
            + CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))
          // (2 * CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))) AS q_e6
        FROM planted),
      m AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_copies FROM f GROUP BY fp)
      SELECT n_copies, CAST(COUNT(DISTINCT f.fp) AS BIGINT) AS n_groups,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        (((2 * CAST(SUM(q_e6) AS BIGINT) + COUNT(q_e6))
          // (2 * COUNT(q_e6)))) / 1000000.0 AS mean_quality
      FROM f JOIN m USING (fp) GROUP BY n_copies"""))

  /** BM25 over three vocabulary terms of differing rarity. The oracle
    * replays the formula with the SAME expression tree (literal
    * arithmetic like (1.2 + 1.0) constant-folds to the identical
    * double in both engines) and the same literal-order pivoted sum,
    * so the only shared rounding surface is ln() — see
    * [[graft.datapipe.Relevance]].
    */
  private val textBm25 = QueryDef(
    "text_bm25",
    (s, d) => Relevance.bm25(Tables.documents(s, d), "doc_id", "text",
      Seq("merge", "window", "customer")),
    Some("""WITH toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      base AS (SELECT doc_id, len(w) AS dl, w FROM toks),
      stats AS (SELECT COUNT(*) AS n_docs, SUM(len(w)) AS sum_dl FROM toks),
      m AS (SELECT doc_id, dl, u.t AS term
            FROM base, UNNEST(w) AS u(t)
            WHERE u.t IN ('merge', 'window', 'customer')),
      tfs AS (SELECT doc_id, term, MAX(dl) AS dl, COUNT(*) AS tf
              FROM m GROUP BY 1, 2),
      dfs AS (SELECT term, COUNT(*) AS df FROM tfs GROUP BY 1),
      wts AS (SELECT doc_id, term,
          ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
            (tf * (1.2 + 1.0)) /
            (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl /
              (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS wt
        FROM tfs JOIN dfs USING (term), stats),
      p AS (SELECT doc_id,
          MAX(CASE WHEN term = 'merge' THEN wt END) AS w0,
          MAX(CASE WHEN term = 'window' THEN wt END) AS w1,
          MAX(CASE WHEN term = 'customer' THEN wt END) AS w2
        FROM wts GROUP BY doc_id)
      SELECT b.doc_id,
        round(COALESCE(w0, 0.0) + COALESCE(w1, 0.0) + COALESCE(w2, 0.0), 4)
          AS score
      FROM base b LEFT JOIN p USING (doc_id)"""))

  /** Per-query BM25 retrieval: three queries whose term sets are the
    * first 4 tokens of docs 0–2 (derived identically in both
    * engines), top-10 each. The oracle replays the shared tf/df
    * pass, the 8-dp-then-DECIMAL(28,8) order-independent weight sum
    * (the per-query twin of text_bm25's literal-order pivot), and
    * the rounded-score ranking.
    */
  private val textBm25Queries = QueryDef(
    "text_bm25_queries",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val q = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("q_id"),
          slice(split(TextAnalysis.normalize(col("text")), " "), 1, 4)
            .as("q_terms"))
      Relevance.bm25PerQuery(docs, "doc_id", "text", q, 10)
    },
    Some("""WITH toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      q AS (SELECT DISTINCT doc_id AS q_id, u.t AS term
            FROM toks, UNNEST(list_slice(w, 1, 4)) AS u(t)
            WHERE doc_id < 3),
      base AS (SELECT doc_id, len(w) AS dl, w FROM toks),
      stats AS (SELECT COUNT(*) AS n_docs, SUM(len(w)) AS sum_dl FROM toks),
      m AS (SELECT doc_id, dl, u.t AS term
            FROM base, UNNEST(w) AS u(t)
            WHERE u.t IN (SELECT DISTINCT term FROM q)),
      tfs AS (SELECT doc_id, term, MAX(dl) AS dl, COUNT(*) AS tf
              FROM m GROUP BY 1, 2),
      dfs AS (SELECT term, COUNT(*) AS df FROM tfs GROUP BY 1),
      wts AS (SELECT doc_id, term,
          CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
            (tf * (1.2 + 1.0)) /
            (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl /
              (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))), 8)
            AS DECIMAL(28,8)) AS wt8
        FROM tfs JOIN dfs USING (term), stats),
      sc AS (SELECT q_id, doc_id,
          CAST(round(SUM(wt8), 4) AS DOUBLE) AS score
        FROM wts JOIN q USING (term) GROUP BY 1, 2),
      r AS (SELECT q_id, doc_id, score,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
        FROM sc)
      SELECT q_id, rnk, doc_id, score FROM r WHERE rnk <= 10"""))

  /** T135: retrieval evaluation harness
    * ([[graft.datapipe.Relevance.retrievalEval]]) — Recall@10,
    * MRR@10, binary-gain nDCG@10 for the BM25 retriever of
    * `text_bm25_queries`, judged against the exact boolean-AND
    * containment qrels ([[graft.datapipe.Relevance.containmentQrels]]:
    * relevant = document contains EVERY query term). The oracle
    * replays the full bm25 chain, the containment join, and every
    * metric's integer arithmetic — including the 8-dp-gain decimal
    * DCG folds and the 10^8-scaled nDCG division.
    */
  private val retrievalEval = QueryDef(
    "retrieval_eval",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val q = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("q_id"),
          slice(split(TextAnalysis.normalize(col("text")), " "), 1, 4)
            .as("q_terms"))
      val retrieved = Relevance.bm25PerQuery(docs, "doc_id", "text", q, 10)
      val qrels = Relevance.containmentQrels(docs, "doc_id", "text", q)
      Relevance.retrievalEval(retrieved, qrels, 10)
    },
    Some("""WITH toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      q AS (SELECT DISTINCT doc_id AS q_id, u.t AS term
            FROM toks, UNNEST(list_slice(w, 1, 4)) AS u(t)
            WHERE doc_id < 3),
      qn AS (SELECT q_id, COUNT(*) AS n_terms FROM q GROUP BY 1),
      base AS (SELECT doc_id, len(w) AS dl, w FROM toks),
      stats AS (SELECT COUNT(*) AS n_docs, SUM(len(w)) AS sum_dl FROM toks),
      m AS (SELECT doc_id, dl, u.t AS term
            FROM base, UNNEST(w) AS u(t)
            WHERE u.t IN (SELECT DISTINCT term FROM q)),
      tfs AS (SELECT doc_id, term, MAX(dl) AS dl, COUNT(*) AS tf
              FROM m GROUP BY 1, 2),
      dfs AS (SELECT term, COUNT(*) AS df FROM tfs GROUP BY 1),
      wts AS (SELECT doc_id, term,
          CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
            (tf * (1.2 + 1.0)) /
            (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl /
              (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))), 8)
            AS DECIMAL(28,8)) AS wt8
        FROM tfs JOIN dfs USING (term), stats),
      sc AS (SELECT q_id, doc_id,
          CAST(round(SUM(wt8), 4) AS DOUBLE) AS score
        FROM wts JOIN q USING (term) GROUP BY 1, 2),
      r AS (SELECT q_id, doc_id,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
        FROM sc),
      lr AS MATERIALIZED (SELECT q_id, doc_id, rnk FROM r WHERE rnk <= 10),
      dterm AS (SELECT DISTINCT doc_id, u.t AS term FROM toks, UNNEST(w) AS u(t)),
      qrels AS MATERIALIZED (SELECT j.q_id, j.doc_id
        FROM (SELECT q.q_id, dterm.doc_id, COUNT(*) AS n_hit
              FROM dterm JOIN q USING (term) GROUP BY 1, 2) j
        JOIN qn USING (q_id) WHERE j.n_hit = qn.n_terms),
      nrel AS (SELECT q_id, COUNT(*) AS n_rel FROM qrels GROUP BY 1),
      nret AS (SELECT q_id, COUNT(*) AS n_ret FROM lr GROUP BY 1),
      ha AS (SELECT lr.q_id, COUNT(*) AS hits, MIN(lr.rnk) AS first_rank,
          SUM(CAST(round(1.0 / log2(CAST(lr.rnk AS DOUBLE) + 1.0), 8)
            AS DECIMAL(18,8))) AS dcg
        FROM lr JOIN qrels ON lr.q_id = qrels.q_id AND lr.doc_id = qrels.doc_id
        GROUP BY 1),
      idcg AS (SELECT q_id,
          SUM(CAST(round(1.0 / log2(CAST(rr AS DOUBLE) + 1.0), 8)
            AS DECIMAL(18,8))) AS idcg
        FROM (SELECT q_id, UNNEST(generate_series(1, LEAST(n_rel, 10))) AS rr
              FROM nrel)
        GROUP BY 1),
      ints AS (SELECT nrel.q_id, nrel.n_rel,
          COALESCE(nret.n_ret, 0) AS n_ret,
          COALESCE(ha.hits, 0) AS hits, ha.first_rank,
          CAST(COALESCE(ha.dcg, 0) * 100000000 AS BIGINT) AS dcg8,
          CAST(idcg.idcg * 100000000 AS BIGINT) AS idcg8
        FROM nrel LEFT JOIN nret USING (q_id) LEFT JOIN ha USING (q_id)
        JOIN idcg USING (q_id))
      SELECT q_id, CAST(n_rel AS BIGINT) AS n_rel,
        CAST(n_ret AS BIGINT) AS n_ret, CAST(hits AS BIGINT) AS hits,
        CAST(first_rank AS BIGINT) AS first_rank,
        ((2 * hits * 1000000 + n_rel) // (2 * n_rel)) / 1000000.0 AS recall_k,
        COALESCE(((2 * 1 * 1000000 + first_rank) // (2 * first_rank))
          / 1000000.0, 0.0) AS mrr,
        ((2 * dcg8 * 1000000 + idcg8) // (2 * idcg8)) / 1000000.0 AS ndcg_k
      FROM ints"""))

  /** T136: SFT conversation render + loss-mask accounting
    * ([[graft.datapipe.SftPrep.renderConversations]]) — 8-token
    * alternating turns, the `<|role|> … <|eot|>` chat template, and
    * the closed-form user/assistant token split. The md5 over the
    * full render certifies the template at the BYTE level across
    * engines; the oracle replays the turn walk with list_transform
    * and the mask arithmetic with the same integer expressions.
    */
  private val sftRender = QueryDef(
    "sft_render",
    (s, d) => graft.datapipe.SftPrep.renderConversations(
      Tables.documents(s, d), "doc_id", "text", turnTokens = 8),
    Some("""WITH t AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      b AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n,
        CAST((len(w) + 7) // 8 AS BIGINT) AS nt FROM t),
      r AS (SELECT doc_id, n, nt,
        (n // 16) * 8 + LEAST(n % 16, 8) AS ut,
        array_to_string(list_transform(generate_series(0, nt - 1), i ->
          '<|' || CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END ||
          '|> ' ||
          array_to_string(list_slice(w, i * 8 + 1, LEAST(i * 8 + 8, n)), ' ') ||
          ' <|eot|>'), chr(10)) AS render
        FROM b)
      SELECT doc_id, n AS n_tokens, nt AS n_turns,
        CAST(ut AS BIGINT) AS user_tokens,
        CAST(n - ut AS BIGINT) AS asst_tokens,
        ((2 * (n - ut) * 1000000 + n) // (2 * n)) / 1000000.0 AS loss_ratio,
        CAST(length(render) AS BIGINT) AS render_len,
        md5(render) AS render_md5
      FROM r"""))

  /** T139: T5 span corruption
    * ([[graft.datapipe.SftPrep.spanCorrupt]]) — deterministic
    * 3-token spans every 20 tokens (the 15% T5 recipe), sentinel
    * renders for inputs and targets, closed-form mask accounting.
    * The oracle replays both flatten-of-slices renders (md5 pair =
    * the corruption contract) and the integer arithmetic.
    */
  private val sftSpanCorrupt = QueryDef(
    "sft_span_corrupt",
    (s, d) => graft.datapipe.SftPrep.spanCorrupt(
      Tables.documents(s, d), "doc_id", "text", spanLen = 3, everyN = 20),
    Some("""WITH t AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      c AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n,
        CAST(len(w) % 20 AS BIGINT) AS r,
        CAST(len(w) // 20 AS BIGINT) AS q FROM t),
      m AS (SELECT doc_id, w, n,
        q * 3 + LEAST(r, 3) AS masked,
        q + CASE WHEN r > 0 THEN 1 ELSE 0 END AS ns FROM c),
      rr AS (SELECT doc_id, n, masked, ns,
        array_to_string(flatten(list_transform(generate_series(0, ns - 1),
          k -> list_prepend('<extra_id_' || CAST(k AS VARCHAR) || '>',
            list_slice(w, k * 20 + 4, LEAST(k * 20 + 20, n))))), ' ')
          AS inputs,
        array_to_string(flatten(list_transform(generate_series(0, ns - 1),
          k -> list_prepend('<extra_id_' || CAST(k AS VARCHAR) || '>',
            list_slice(w, k * 20 + 1, LEAST(k * 20 + 3, n))))), ' ')
          AS targets
        FROM m)
      SELECT doc_id, n AS n_tokens,
        CAST(masked AS BIGINT) AS masked_tokens,
        CAST(ns AS BIGINT) AS n_spans,
        ((2 * masked * 1000000 + n) // (2 * n)) / 1000000.0 AS mask_ratio,
        CAST(length(inputs) AS BIGINT) AS inputs_len,
        CAST(length(targets) AS BIGINT) AS targets_len,
        md5(inputs) AS inputs_md5, md5(targets) AS targets_md5
      FROM rr"""))

  /** T137: DPO preference-pair mining
    * ([[graft.datapipe.SftPrep.preferencePairs]]) — within each
    * (source, 32-token length bucket) stratum, rank by distinct-token
    * count (an exact-integer lexical-richness score) and pair quality
    * extremes: rank i from the top vs rank i from the bottom,
    * zero-margin ties dropped. The oracle replays the window ranking,
    * the mirror pairing, and the margin filter.
    */
  private val preferencePairs = QueryDef(
    "preference_pairs",
    (s, d) => {
      val toks = split(TextAnalysis.normalize(col("text")), " ")
      val scored = Tables.documents(s, d).select(
        col("doc_id"), col("source"),
        floor(size(toks) / lit(32)).cast("bigint").as("len_bucket"),
        size(array_distinct(toks)).cast("bigint").as("q_score"))
      graft.datapipe.SftPrep.preferencePairs(
        scored, "doc_id", col("q_score"), Seq("source", "len_bucket"))
    },
    Some("""WITH t AS (SELECT doc_id, source,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      sc AS (SELECT doc_id, source,
        CAST(len(w) // 32 AS BIGINT) AS len_bucket,
        CAST(len(list_distinct(w)) AS BIGINT) AS q_score FROM t),
      r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source, len_bucket
          ORDER BY q_score DESC, doc_id) AS BIGINT) AS rn,
        COUNT(*) OVER (PARTITION BY source, len_bucket) AS cnt FROM sc),
      tp AS (SELECT source, len_bucket, rn AS pair_rank,
          doc_id AS chosen_id, q_score AS chosen_score
        FROM r WHERE rn * 2 < cnt + 1),
      bt AS (SELECT source, len_bucket,
          CAST(cnt + 1 - rn AS BIGINT) AS pair_rank,
          doc_id AS rejected_id, q_score AS rejected_score FROM r)
      SELECT source, len_bucket, pair_rank, chosen_id, rejected_id,
        chosen_score, rejected_score,
        chosen_score - rejected_score AS margin
      FROM tp JOIN bt USING (source, len_bucket, pair_rank)
      WHERE chosen_score > rejected_score"""))

  /** T138: small-file compaction planner
    * ([[graft.datapipe.Layout.compactionPlan]]) — sequential-fill
    * bin assignment by exclusive per-partition byte prefix sum,
    * planned here over the documents manifest (source = partition,
    * doc = file, n_chars = bytes, 4 KiB target). The oracle replays
    * the window prefix sum and the integer floor-div bin rule.
    */
  private val layoutCompaction = QueryDef(
    "layout_compaction",
    (s, d) => graft.datapipe.Layout.compactionPlan(
      Tables.documents(s, d).select(col("source"), col("doc_id"),
        col("n_chars")),
      "source", "doc_id", "n_chars", targetBytes = 4096L),
    Some("""WITH c AS (SELECT source, doc_id, n_chars,
        COALESCE(CAST(SUM(n_chars) OVER (PARTITION BY source
          ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
          0) AS strt
        FROM documents)
      SELECT source, strt // 4096 AS bin_id, COUNT(*) AS n_files,
        CAST(SUM(n_chars) AS BIGINT) AS bin_bytes,
        MIN(doc_id) AS first_file, MAX(doc_id) AS last_file
      FROM c GROUP BY 1, 2"""))

  /** The cross-source preference-pair mining both [[prefWinrate]] and
    * [[prefBtSources]] replay: the [[preferencePairs]] chain grouped
    * by the 32-token length bucket ALONE, so chosen and rejected may
    * come from different sources (the signal Bradley–Terry needs).
    */
  private val crossPairSqlCtes =
    """t AS (SELECT doc_id, source,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      sc AS MATERIALIZED (SELECT doc_id, source,
        CAST(len(w) // 32 AS BIGINT) AS len_bucket,
        CAST(len(list_distinct(w)) AS BIGINT) AS q_score FROM t),
      r AS MATERIALIZED (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY len_bucket
          ORDER BY q_score DESC, doc_id) AS BIGINT) AS rn,
        COUNT(*) OVER (PARTITION BY len_bucket) AS cnt FROM sc),
      pr AS MATERIALIZED (SELECT chosen_id, chosen_src, rejected_id, rejected_src
        FROM (SELECT len_bucket, rn AS pair_rank, doc_id AS chosen_id,
            source AS chosen_src, q_score AS chosen_score
          FROM r WHERE rn * 2 < cnt + 1) tp
        JOIN (SELECT len_bucket, CAST(cnt + 1 - rn AS BIGINT) AS pair_rank,
            doc_id AS rejected_id, source AS rejected_src,
            q_score AS rejected_score FROM r) bt
        USING (len_bucket, pair_rank)
        WHERE chosen_score > rejected_score)"""

  /** The cross-source pair mining the two preference-analytics
    * entries share on the Spark side (each entry stays independently
    * runnable; the mining is the [[SftPrep.preferencePairs]] chain
    * grouped by length bucket only, so pairs cross sources).
    */
  private def crossSourcePairs(s: org.apache.spark.sql.SparkSession,
                               d: String): DataFrame = {
    val toks = split(TextAnalysis.normalize(col("text")), " ")
    val scored = Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      floor(size(toks) / lit(32)).cast("bigint").as("len_bucket"),
      size(array_distinct(toks)).cast("bigint").as("q_score"))
    val pairs = graft.datapipe.SftPrep.preferencePairs(
      scored, "doc_id", col("q_score"), Seq("len_bucket"))
    val src = scored.select(col("doc_id"), col("source"))
    pairs
      .join(src.toDF("chosen_id", "chosen_src"), Seq("chosen_id"))
      .join(src.toDF("rejected_id", "rejected_src"), Seq("rejected_id"))
      .select(col("chosen_id"), col("chosen_src"),
        col("rejected_id"), col("rejected_src"))
  }

  /** T140: per-document win/loss record with the Wilson lower bound
    * ([[graft.datapipe.Preference.winRates]]) over cross-source
    * preference pairs. The oracle replays the mining, the tally
    * union, the exact-integer win rate, and the Wilson expression
    * tree operation-for-operation (all IEEE correctly-rounded ops).
    */
  private val prefWinrate = QueryDef(
    "pref_winrate",
    (s, d) => graft.datapipe.Preference.winRates(
      crossSourcePairs(s, d), "chosen_id", "rejected_id"),
    Some(s"""WITH $crossPairSqlCtes,
      tally AS (SELECT item, CAST(SUM(win) AS BIGINT) AS wins,
          CAST(COUNT(*) AS BIGINT) AS n_games
        FROM (SELECT chosen_id AS item, 1 AS win FROM pr
              UNION ALL SELECT rejected_id, 0 FROM pr)
        GROUP BY 1)
      SELECT item, wins, n_games - wins AS losses, n_games,
        ((2 * wins * 1000000 + n_games) // (2 * n_games)) / 1000000.0
          AS win_rate,
        round((p + 3.8416::DOUBLE / (2 * nd)
            - 1.96::DOUBLE * sqrt((p * (1 - p) + 3.8416::DOUBLE / (4 * nd)) / nd))
          / (1 + 3.8416::DOUBLE / nd), 6) AS wilson_lb
      FROM (SELECT item, wins, n_games,
          CAST(wins AS DOUBLE) / CAST(n_games AS DOUBLE) AS p,
          CAST(n_games AS DOUBLE) AS nd
        FROM tally)"""))

  /** One unrolled Bradley–Terry MM step: per-group denominator fold
    * (8-dp/decimal over game terms), the win/denominator update, the
    * normalizing fold, the 8-dp re-rounded strengths. MATERIALIZED
    * throughout — inlined, the chain re-expands exponentially (the
    * pcaStepSql note).
    */
  private def btStepSql(k: Int): String = {
    val pv = s"bp${k - 1}"
    s"""bd$k AS MATERIALIZED (SELECT g.a AS src,
        CAST(SUM(CAST(round(CAST(g.n AS DOUBLE) / (pa.pi + pb.pi), 8) AS DECIMAL(28,8))) AS DOUBLE) AS dd
      FROM g JOIN $pv pa ON pa.src = g.a JOIN $pv pb ON pb.src = g.b
      WHERE pa.pi + pb.pi > 0 GROUP BY 1),
      bu$k AS MATERIALIZED (SELECT w.src,
        CASE WHEN COALESCE(d.dd, 0) > 0
          THEN round(CAST(w.wins AS DOUBLE) / d.dd, 8) ELSE 0.0 END AS u
      FROM wl w LEFT JOIN bd$k d ON d.src = w.src),
      bs$k AS (SELECT CAST(SUM(CAST(u AS DECIMAL(28,8))) AS DOUBLE) AS s FROM bu$k),
      bp$k AS MATERIALIZED (SELECT src, round(u / s, 8) AS pi FROM bu$k, bs$k)"""
  }

  /** T141: Bradley–Terry source strengths
    * ([[graft.datapipe.Preference.btStrengths]]) — 8 MM steps over
    * the (winner source, loser source) comparison matrix mined from
    * cross-source preference pairs. The oracle replays the mining,
    * the matrix, and every MM step's folds as materialized CTEs (the
    * sim_pca_top unrolling pattern).
    */
  private val prefBtSources = QueryDef(
    "pref_bt_sources",
    (s, d) => graft.datapipe.Preference.btStrengths(
        crossSourcePairs(s, d), "chosen_src", "rejected_src", iters = 8)
      .withColumnRenamed("group", "source"),
    Some(s"""WITH $crossPairSqlCtes,
      m AS MATERIALIZED (SELECT chosen_src AS a, rejected_src AS b,
          CAST(COUNT(*) AS BIGINT) AS w
        FROM pr WHERE chosen_src <> rejected_src GROUP BY 1, 2),
      srcs AS MATERIALIZED (SELECT DISTINCT s FROM
        (SELECT a AS s FROM m UNION SELECT b FROM m)),
      kk AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM srcs),
      wn AS (SELECT a AS src, CAST(SUM(w) AS BIGINT) AS wins FROM m GROUP BY 1),
      ls AS (SELECT b AS src, CAST(SUM(w) AS BIGINT) AS losses FROM m GROUP BY 1),
      wl AS MATERIALIZED (SELECT s.s AS src, COALESCE(wn.wins, 0) AS wins,
          COALESCE(ls.losses, 0) AS losses
        FROM srcs s LEFT JOIN wn ON wn.src = s.s LEFT JOIN ls ON ls.src = s.s),
      g AS MATERIALIZED (SELECT a, b, CAST(SUM(w) AS BIGINT) AS n FROM
        (SELECT a, b, w FROM m UNION ALL SELECT b AS a, a AS b, w FROM m)
        GROUP BY 1, 2),
      bp0 AS MATERIALIZED (SELECT s AS src, round(1.0 / k, 8) AS pi FROM srcs, kk),
      ${(1 to 8).map(btStepSql).mkString(",\n      ")}
      SELECT w.src AS source, w.wins, w.losses,
        w.wins + w.losses AS n_games, p.pi,
        CAST(row_number() OVER (ORDER BY p.pi DESC, w.src) AS BIGINT)
          AS bt_rank
      FROM wl w JOIN bp8 p ON p.src = w.src"""))

  /** T142: canary injection + exposure audit
    * ([[graft.datapipe.Audit.canaryInject]] →
    * [[Audit.canaryExposure]]) — every 97th document hosts its own
    * md5 canary, the document 417 ids later hosts a planted leak of
    * it, and the scan reports per-canary exposure. The oracle
    * replays the injection arithmetic, the regex extraction, and the
    * registry join.
    */
  private val canaryAudit = QueryDef(
    "canary_audit",
    (s, d) => {
      val injected = graft.datapipe.Audit.canaryInject(
        Tables.documents(s, d), "doc_id", "text",
        everyK = 97, leakOffset = 417L)
      graft.datapipe.Audit.canaryExposure(injected, "doc_id", "text",
        everyK = 97)
    },
    Some("""WITH inj AS MATERIALIZED (SELECT doc_id,
        text ||
        CASE WHEN doc_id % 97 = 0
          THEN ' canary_' || md5(CAST(doc_id AS VARCHAR)) ELSE '' END ||
        CASE WHEN doc_id >= 417 AND (doc_id - 417) % 97 = 0
          THEN ' canary_' || md5(CAST(doc_id - 417 AS VARCHAR)) ELSE '' END
          AS text
      FROM documents),
      hits AS (SELECT u.c AS canary, CAST(COUNT(*) AS BIGINT) AS n_found
        FROM inj, UNNEST(regexp_extract_all(text, 'canary_[0-9a-f]{32}')) u(c)
        GROUP BY 1),
      reg AS (SELECT doc_id AS origin_id,
          'canary_' || md5(CAST(doc_id AS VARCHAR)) AS canary,
          contains(text, 'canary_' || md5(CAST(doc_id AS VARCHAR)))
            AS found_origin
        FROM inj WHERE doc_id % 97 = 0)
      SELECT reg.origin_id, reg.canary,
        COALESCE(h.n_found, 0) AS n_found, reg.found_origin,
        COALESCE(h.n_found, 0) > 1 AS leaked
      FROM reg LEFT JOIN hits h ON h.canary = reg.canary"""))

  /** T143: leave-one-source-out mixture ablation
    * ([[graft.datapipe.TextAnalysis.ablationDivergence]]) —
    * KL(q₋ₛ ‖ q) per source via the vocabulary-split decomposition
    * (in-vocabulary terms walked, out-of-vocabulary mass in one
    * closed-form residual). The oracle rebuilds the counts and
    * replays the 8-dp term rounding, the decimal sums, and the
    * residual arithmetic.
    */
  private val mixAblationKl = QueryDef(
    "mix_ablation_kl",
    (s, d) => TextAnalysis.ablationDivergence(
      Tables.documents(s, d), "text", "source"),
    Some("""WITH tk AS (SELECT source, u.t AS t
        FROM (SELECT source,
          list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
            x -> len(x) > 0) AS w FROM documents), UNNEST(w) u(t)),
      csw AS MATERIALIZED (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c_sw
        FROM tk GROUP BY 1, 2),
      cw AS MATERIALIZED (SELECT t, SUM(c_sw) AS c_w FROM csw GROUP BY 1),
      ns AS MATERIALIZED (SELECT source, SUM(c_sw) AS n_s,
          CAST(COUNT(*) AS BIGINT) AS n_distinct FROM csw GROUP BY 1),
      n AS (SELECT SUM(c_sw) AS n FROM csw),
      terms AS (SELECT csw.source,
          CASE WHEN c_w > c_sw AND n.n > n_s THEN
            round((CAST(c_w - c_sw AS DOUBLE) / CAST(n.n - n_s AS DOUBLE)) *
              ln((CAST(c_w - c_sw AS DOUBLE) / CAST(n.n - n_s AS DOUBLE)) /
                 (CAST(c_w AS DOUBLE) / CAST(n.n AS DOUBLE))), 8)
          ELSE 0.0 END AS term,
          c_w, n_s, n_distinct, n.n AS n
        FROM csw JOIN cw ON cw.t = csw.t
        JOIN ns ON ns.source = csw.source, n),
      ag AS (SELECT source, MIN(n_s) AS n_s, MIN(n_distinct) AS n_distinct,
          MIN(n) AS n, SUM(c_w) AS b_s,
          CAST(SUM(CAST(term AS DECIMAL(28,8))) AS DECIMAL(28,8)) AS klin
        FROM terms GROUP BY 1)
      SELECT source, CAST(n_s AS BIGINT) AS n_tokens, n_distinct,
        ((2 * n_s * 1000000 + n) // (2 * n)) / 1000000.0 AS removed_frac,
        CASE WHEN n_s = n THEN NULL ELSE
          CAST(round(klin + CAST(round(
            (CAST(n - b_s AS DOUBLE) / CAST(n - n_s AS DOUBLE)) *
            ln(CAST(n AS DOUBLE) / CAST(n - n_s AS DOUBLE)), 8)
            AS DECIMAL(28,8)), 6) AS DOUBLE)
        END AS kl_loo
      FROM ag"""))

  /** T147: corpus-wide duplicate-sentence removal
    * ([[graft.datapipe.Dedup.dedupSentences]]) — the C4/Dolma
    * paragraph-dedup stage. The fixture plants a terminator every
    * 7th token (the chunk_sentences convention — the synthetic text
    * carries no punctuation) plus one shared boilerplate sentence on
    * every document, the classic cross-page footer the stage exists
    * to strip: keep-first leaves exactly one copy corpus-wide. The
    * oracle replays the planting, the sentence split, the
    * first-occurrence rule, and the ordered rebuild (md5 = the
    * byte-level contract).
    */
  private val dedupSentences = QueryDef(
    "dedup_sentences",
    (s, d) => {
      val w = filter(split(TextAnalysis.normalize(col("text")), " "),
        t => length(t) > 0)
      val planted = Tables.documents(s, d)
        .select(col("doc_id"), w.as("w"))
        .filter(size(col("w")) > 0)
        .select(col("doc_id"),
          concat(
            array_join(transform(sequence(lit(1), size(col("w"))),
              i => when(i % 7 === 0,
                concat(element_at(col("w"), i), lit(".")))
                .otherwise(element_at(col("w"), i))), " "),
            lit(". subscribe to our newsletter today.")).as("text"))
      graft.datapipe.Dedup.dedupSentences(planted, "doc_id", "text")
    },
    Some("""WITH base AS (SELECT doc_id,
        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
          t -> len(t) > 0) AS w
        FROM documents),
      planted AS (SELECT doc_id,
        array_to_string(list_transform(generate_series(1, len(w)), i ->
          CASE WHEN i % 7 = 0 THEN w[i] || '.' ELSE w[i] END), ' ')
          || '. subscribe to our newsletter today.' AS text
        FROM base WHERE len(w) > 0),
      m AS (SELECT doc_id,
        string_split(regexp_replace(
          regexp_replace(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), chr(1), '', 'g'),
          '([.!?]) ', '\1' || chr(1), 'g'), chr(1)) AS ss
        FROM planted),
      s AS MATERIALIZED (SELECT doc_id, CAST(i - 1 AS BIGINT) AS sent_idx,
          ss[i] AS sentence, md5(ss[i]) AS h
        FROM m, UNNEST(generate_series(1, len(ss))) AS g(i)
        WHERE len(list_filter(string_split(ss[i], ' '), t -> len(t) > 0)) > 0),
      k AS MATERIALIZED (SELECT doc_id, sent_idx, sentence,
          row_number() OVER (PARTITION BY h ORDER BY doc_id, sent_idx)
            = 1 AS keep
        FROM s),
      rb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sents,
          CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_dropped,
          COALESCE(array_to_string(
            LIST(sentence ORDER BY sent_idx) FILTER (WHERE keep), ' '),
            '') AS clean
        FROM k GROUP BY 1)
      SELECT doc_id, n_sents, n_dropped,
        ((2 * n_dropped * 1000000 + n_sents) // (2 * n_sents)) / 1000000.0
          AS dup_frac,
        CAST(length(clean) AS BIGINT) AS clean_len,
        md5(clean) AS clean_md5
      FROM rb"""))

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
      val toksArr = split(TextAnalysis.normalize(col("text")), " ")
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
          graft.functions.ExactRound.ratio6(col("n_tokens"), col("n_docs"))
            .as("mean_tokens"),
          col("n_distinct"), col("exact_dup_docs"),
          graft.functions.ExactRound.ratio6(
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

  /** T149: unbiased pass@k ([[graft.datapipe.Relevance.passAtK]]) —
    * per source with n docs of which c pass the distinct-token ≥ 25
    * gate, pass@k = 1 − Π (n−c−i)/(n−i) for k ∈ {1, 5, 10}. The
    * oracle replays the rollup and the identical left-to-right
    * product fold.
    */
  private val evalPassAtK = QueryDef(
    "eval_pass_at_k",
    (s, d) => {
      val toks = split(TextAnalysis.normalize(col("text")), " ")
      Relevance.passAtK(
        Tables.documents(s, d).select(col("source"),
          size(array_distinct(toks)).cast("bigint").as("dt")),
        Seq("source"), col("dt") >= 25, ks = Seq(1, 5, 10))
    },
    Some("""WITH st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(*) FILTER (WHERE
          len(list_distinct(string_split(trim(
            regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) >= 25)
          AS BIGINT) AS c
        FROM documents GROUP BY 1)
      SELECT source, n, c, CAST(k AS BIGINT) AS k,
        CASE WHEN k > n THEN NULL
             WHEN n - c < k THEN 1.0
             ELSE round(1 - list_reduce(
               list_transform(generate_series(0, k - 1),
                 i -> CAST(n - c - i AS DOUBLE) / CAST(n - i AS DOUBLE)),
               (acc, x) -> acc * x), 6)
        END AS pass_at_k
      FROM st, (SELECT UNNEST([1, 5, 10]) AS k)"""))

  /** Bigram-LM perplexity (the CCNet-style model-based quality
    * filter). The oracle retrains the same add-one bigram model in
    * SQL and replays the per-document ordered ln-fold via
    * list_reduce — a hash match certifies counts, smoothing, and the
    * fold. Engine-parity notes: every ln term is rounded to 8 dp on
    * both sides (Math.log vs a C log may differ in the last ulp), and
    * the fold is position-ordered, so the float sum is deterministic.
    */
  private val textPerplexity = QueryDef(
    "text_perplexity",
    (s, d) => LanguageModel.perplexity(Tables.documents(s, d), "doc_id", "text"),
    Some("""WITH toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
             FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
             WHERE len(w) >= 2),
      c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
      vc AS (SELECT COUNT(DISTINCT u.tk) AS v FROM toks, UNNEST(w) AS u(tk)),
      lps AS (SELECT doc_id,
          round(ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + vc.v AS DOUBLE)), 8) AS lp
        FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), vc),
      s AS (SELECT doc_id,
          SUM(CAST(lp AS DECIMAL(28,8))) AS slp,
          COUNT(*) AS n_bigrams
        FROM lps GROUP BY doc_id)
      SELECT t.doc_id, CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        round(exp(-CAST(s.slp AS DOUBLE) / s.n_bigrams), 4) AS ppl
      FROM toks t LEFT JOIN s USING (doc_id)"""))

  /** Trigram stupid-backoff perplexity in the HELD-OUT shape: the
    * model trains on doc_id % 7 != 0 and scores every document, so
    * the %7 slice genuinely exercises the backoff chain (unseen
    * trigram → bigram → add-one unigram floor). The oracle rebuilds
    * all three count tables from the same split and replays the CASE
    * chain branch by branch.
    */
  private val textPerplexityBackoff = QueryDef(
    "text_perplexity_backoff",
    (s, d) => {
      val docs = Tables.documents(s, d)
      LanguageModel.perplexityBackoff(
        docs.filter(col("doc_id") % 7 =!= 0), docs, "doc_id", "text")
    },
    Some("""WITH toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      tr AS (SELECT w FROM toks WHERE doc_id % 7 <> 0),
      tuni AS (SELECT u.t AS t FROM tr, UNNEST(w) u(t)),
      cu AS (SELECT t, COUNT(*) AS cu FROM tuni GROUP BY t),
      nv AS (SELECT COUNT(*) AS n_tok, COUNT(DISTINCT t) AS v FROM tuni),
      tbg AS (SELECT w[i] AS w1, w[i+1] AS w2
        FROM tr, UNNEST(generate_series(1, len(w) - 1)) t(i)
        WHERE len(w) >= 2),
      cb AS (SELECT w1, w2, COUNT(*) AS cb FROM tbg GROUP BY 1, 2),
      ttg AS (SELECT w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
        FROM tr, UNNEST(generate_series(1, len(w) - 2)) t(i)
        WHERE len(w) >= 3),
      ct AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM ttg GROUP BY 1, 2, 3),
      pos AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
        FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
        WHERE len(w) >= 3),
      sc AS (SELECT doc_id, round(ln(
          CASE WHEN ct.c3 IS NOT NULL
                 THEN CAST(ct.c3 AS DOUBLE) / CAST(b12.cb AS DOUBLE)
               WHEN b23.cb IS NOT NULL
                 THEN 0.4 * (CAST(b23.cb AS DOUBLE) / CAST(cu2.cu AS DOUBLE))
               ELSE 0.16 * (CAST(COALESCE(cu3.cu, 0) + 1 AS DOUBLE)
                 / CAST(nv.n_tok + nv.v AS DOUBLE)) END), 8) AS lp
        FROM pos
        LEFT JOIN ct ON ct.w1 = pos.w1 AND ct.w2 = pos.w2 AND ct.w3 = pos.w3
        LEFT JOIN cb b12 ON b12.w1 = pos.w1 AND b12.w2 = pos.w2
        LEFT JOIN cb b23 ON b23.w1 = pos.w2 AND b23.w2 = pos.w3
        LEFT JOIN cu cu2 ON cu2.t = pos.w2
        LEFT JOIN cu cu3 ON cu3.t = pos.w3, nv),
      s AS (SELECT doc_id, SUM(CAST(lp AS DECIMAL(28,8))) AS slp,
          COUNT(*) AS n FROM sc GROUP BY doc_id)
      SELECT t.doc_id, CAST(COALESCE(s.n, 0) AS BIGINT) AS n_trigrams,
        round(exp(-CAST(s.slp AS DOUBLE) / s.n), 4) AS ppl
      FROM toks t LEFT JOIN s USING (doc_id)"""))

  /** CCNet head/middle/tail tiering: per-language perplexity
    * terciles under the corpus bigram LM. The oracle replays the
    * whole retrain plus the NTILE over the same total order
    * (ppl ASC NULLS LAST, doc_id), so a hash match certifies the
    * model, the ranking, and the tercile boundaries.
    */
  private val samplePplBuckets = QueryDef(
    "sample_ppl_buckets",
    (s, d) => LanguageModel.perplexityBuckets(
      Tables.documents(s, d), "doc_id", "text", "lang", buckets = 3),
    Some("""WITH toks AS (SELECT doc_id, lang,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
             FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
             WHERE len(w) >= 2),
      c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
      vc AS (SELECT COUNT(DISTINCT u.tk) AS v FROM toks, UNNEST(w) AS u(tk)),
      lps AS (SELECT doc_id,
          round(ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + vc.v AS DOUBLE)), 8) AS lp
        FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), vc),
      ppl AS (SELECT doc_id,
          round(exp(-CAST(SUM(CAST(lp AS DECIMAL(28,8))) AS DOUBLE)
            / COUNT(*)), 4) AS ppl
        FROM lps GROUP BY doc_id),
      b AS (SELECT t.doc_id, t.lang, p.ppl,
          CAST(ntile(3) OVER (PARTITION BY t.lang
            ORDER BY p.ppl ASC NULLS LAST, t.doc_id) AS BIGINT) AS bucket
        FROM toks t LEFT JOIN ppl p USING (doc_id))
      SELECT doc_id, lang, ppl, bucket,
        CASE WHEN bucket = 1 THEN 'head'
             WHEN bucket = 3 THEN 'tail'
             ELSE 'middle' END AS tier
      FROM b"""))

  /** The train-offline/score-inline twin of text_perplexity: the
    * bigram model is EXTRACTED to the driver (capped dictionary, the
    * [[graft.datapipe.BpeTokenizer.MaxDriverVocab]] convention) and
    * every document is scored by one stateless per-row fold — the
    * shape a streaming ingest gate runs. On the training corpus the
    * frozen scorer must reproduce the batch retrain bit-for-bit, so
    * the SAME retrain oracle certifies it.
    */
  private val textPerplexityInline = QueryDef(
    "text_perplexity_inline",
    (s, d) => {
      val docs = Tables.documents(s, d)
      LanguageModel.perplexityScore(docs, "doc_id", "text",
        LanguageModel.bigramLm(docs, "text"))
    },
    textPerplexity.oracle)

  /** DSIR importance resampling toward the English slice: hashed-
    * unigram (md5-portable, 64 buckets) likelihood ratio of
    * lang='en' documents against the whole corpus, deterministic
    * top-100 selection. The oracle retrains both bucket
    * distributions and replays the ordered fold + ranking.
    */
  private val sampleImportance = QueryDef(
    "sample_importance",
    (s, d) => LanguageModel.importanceWeights(Tables.documents(s, d),
      "doc_id", "text", col("lang") === "en", buckets = 64, topN = 100),
    Some("""WITH toks AS (SELECT doc_id, lang,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      tk AS (SELECT doc_id, lang,
          CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT) % 64 AS b
        FROM toks, UNNEST(generate_series(1, len(w))) AS t(i)),
      rawc AS (SELECT b, COUNT(*) AS cr FROM tk GROUP BY 1),
      tgtc AS (SELECT b, COUNT(*) AS ct FROM tk WHERE lang = 'en' GROUP BY 1),
      tot AS (SELECT (SELECT SUM(cr) FROM rawc) AS tr,
                     COALESCE((SELECT SUM(ct) FROM tgtc), 0) AS tt),
      lrs AS (SELECT rawc.b,
          round(ln(CAST(COALESCE(tgtc.ct, 0) + 1 AS DOUBLE) / CAST(tot.tt + 64 AS DOUBLE))
              - ln(CAST(rawc.cr + 1 AS DOUBLE) / CAST(tot.tr + 64 AS DOUBLE)), 8) AS lr
        FROM rawc LEFT JOIN tgtc USING (b), tot),
      wsum AS (SELECT doc_id,
          CAST(round(SUM(CAST(lr AS DECIMAL(28,8))), 4) AS DOUBLE) AS wt,
          COUNT(*) AS n_tokens
        FROM tk JOIN lrs USING (b) GROUP BY doc_id),
      allw AS (SELECT t.doc_id, CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
          COALESCE(wt, 0.0) AS weight
        FROM toks t LEFT JOIN wsum USING (doc_id))
      SELECT doc_id, n_tokens, weight,
        (row_number() OVER (ORDER BY weight DESC, doc_id) <= 100) AS selected
      FROM allw"""))

  /** DSIR Gumbel-top-k soft sampling: the same importance weights
    * with hash-derived Gumbel noise (−ln(−ln u), u from md5 of the
    * doc_id) added before the top-N cut — sampling without
    * replacement that is still a pure function of the data, so the
    * oracle replays the draw exactly.
    */
  private val sampleImportanceSoft = QueryDef(
    "sample_importance_soft",
    (s, d) => LanguageModel.importanceWeightsSoft(Tables.documents(s, d),
      "doc_id", "text", col("lang") === "en", buckets = 64, topN = 100),
    Some("""WITH toks AS (SELECT doc_id, lang,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      tk AS (SELECT doc_id, lang,
          CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT) % 64 AS b
        FROM toks, UNNEST(generate_series(1, len(w))) AS t(i)),
      rawc AS (SELECT b, COUNT(*) AS cr FROM tk GROUP BY 1),
      tgtc AS (SELECT b, COUNT(*) AS ct FROM tk WHERE lang = 'en' GROUP BY 1),
      tot AS (SELECT (SELECT SUM(cr) FROM rawc) AS tr,
                     COALESCE((SELECT SUM(ct) FROM tgtc), 0) AS tt),
      lrs AS (SELECT rawc.b,
          round(ln(CAST(COALESCE(tgtc.ct, 0) + 1 AS DOUBLE) / CAST(tot.tt + 64 AS DOUBLE))
              - ln(CAST(rawc.cr + 1 AS DOUBLE) / CAST(tot.tr + 64 AS DOUBLE)), 8) AS lr
        FROM rawc LEFT JOIN tgtc USING (b), tot),
      wsum AS (SELECT doc_id,
          CAST(round(SUM(CAST(lr AS DECIMAL(28,8))), 4) AS DOUBLE) AS wt,
          COUNT(*) AS n_tokens
        FROM tk JOIN lrs USING (b) GROUP BY doc_id),
      allw AS (SELECT t.doc_id, CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
          COALESCE(wt, 0.0) AS weight
        FROM toks t LEFT JOIN wsum USING (doc_id)),
      gw AS (SELECT doc_id, n_tokens, weight,
          round(weight + round(-ln(-ln(least(
            (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              + 0.5) / 1152921504606846976.0, 1.0 - 1e-12))), 8), 4) AS noisy_weight
        FROM allw)
      SELECT doc_id, n_tokens, weight, noisy_weight,
        (row_number() OVER (ORDER BY noisy_weight DESC, doc_id) <= 100) AS selected
      FROM gw"""))

  /** Hashed-feature Naive-Bayes quality classifier (the fastText-
    * classifier role): class = "language-IDs as English" — a label
    * derivable in BOTH engines — over 256 md5-hashed unigram buckets.
    * The oracle retrains the class-conditional counts, prior, and
    * per-document fold in SQL, so the hash certifies the whole
    * closed-form training, not just the scores. The label COALESCEs to
    * FALSE on NULL text: Spark's predictLang(NULL) is 'und' (the when-
    * chain's otherwise), so `=== "en"` is false, and the oracle must
    * count such docs in the negative class the same way rather than
    * excluding NULL is_pos rows from both classes.
    */
  private val nbLabelCtes = """
      ls AS (SELECT doc_id,
        len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS s_en,
        len(regexp_extract_all(lower(text), '\b(el|la|de|que|y)\b')) AS s_es,
        len(regexp_extract_all(lower(text), '\b(le|la|de|et|les)\b')) AS s_fr,
        len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS s_de
        FROM documents),
      lab AS (SELECT doc_id,
        COALESCE(s_en > 0 AND s_en >= greatest(s_en, s_es, s_fr, s_de),
          FALSE) AS is_pos
        FROM ls),
      toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      tk AS (SELECT t.doc_id, lab.is_pos,
          CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT) % 256 AS b
        FROM toks t JOIN lab USING (doc_id),
             UNNEST(generate_series(1, len(w))) AS g(i)),
      cls AS (SELECT b,
          COUNT(*) FILTER (WHERE is_pos) AS np,
          COUNT(*) FILTER (WHERE NOT is_pos) AS nn
        FROM tk GROUP BY b),
      tot AS (SELECT COALESCE(SUM(np), 0) AS tp,
                     COALESCE(SUM(nn), 0) AS tn FROM cls),
      lrs AS (SELECT b,
          round(ln(CAST(np + 1 AS DOUBLE) / CAST(tp + 256 AS DOUBLE))
              - ln(CAST(nn + 1 AS DOUBLE) / CAST(tn + 256 AS DOUBLE)), 8) AS lr
        FROM cls, tot),
      pri AS (SELECT round(
          ln(CAST(dp + 1 AS DOUBLE) / CAST(dp + dn + 2 AS DOUBLE))
        - ln(CAST(dn + 1 AS DOUBLE) / CAST(dp + dn + 2 AS DOUBLE)), 8) AS prior
        FROM (SELECT COUNT(*) FILTER (WHERE is_pos) AS dp,
                     COUNT(*) FILTER (WHERE NOT is_pos) AS dn FROM lab)),
      ssum AS (SELECT doc_id,
          SUM(CAST(lr AS DECIMAL(28,8))) AS s, COUNT(*) AS n_tokens
        FROM tk JOIN lrs USING (b) GROUP BY doc_id)"""

  private val nbLabelSql = s"""$nbLabelCtes
      SELECT t.doc_id, CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
        CAST(round(CAST(prior AS DECIMAL(28,8))
          + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) AS score,
        (CAST(round(CAST(prior AS DECIMAL(28,8))
          + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) > 0) AS predicted
      FROM toks t LEFT JOIN ssum USING (doc_id), pri"""

  private def nbLabel = TextAnalysis.predictLang(col("text")) === "en"

  private val textClassifier = QueryDef(
    "text_classifier",
    (s, d) => graft.datapipe.Classifier.naiveBayes(
      Tables.documents(s, d), "doc_id", "text", nbLabel, buckets = 256),
    Some(s"WITH $nbLabelSql"))

  /** T144: reliability-diagram calibration + ECE of the trained NB
    * quality classifier ([[graft.datapipe.Classifier.calibration]])
    * against the language pseudo-label it trained on. The oracle
    * replays the NB score, the 6-dp sigmoid, the equal-width
    * binning, the decimal confidence sums, and the ECE fold.
    */
  private val clfCalibration = QueryDef(
    "clf_calibration",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val scored = graft.datapipe.Classifier.naiveBayes(
          docs, "doc_id", "text", nbLabel, buckets = 256)
        .select(col("doc_id"), col("score"))
      val labeled = docs.select(col("doc_id"), nbLabel.as("is_pos"))
      graft.datapipe.Classifier.calibration(
        scored.join(labeled, Seq("doc_id")), "score", "is_pos", bins = 10)
    },
    Some(s"""WITH $nbLabelCtes,
      sco AS MATERIALIZED (SELECT t.doc_id, lab.is_pos,
          CAST(round(CAST(prior AS DECIMAL(28,8))
            + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) AS score
        FROM toks t LEFT JOIN ssum USING (doc_id)
        JOIN lab ON lab.doc_id = t.doc_id, pri),
      pb AS MATERIALIZED (SELECT
          LEAST(CAST(floor(p * 10) AS BIGINT), 9) AS bin, p, is_pos
        FROM (SELECT round(1 / (1 + exp(-score)), 6) AS p, is_pos FROM sco)),
      agg AS MATERIALIZED (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(COUNT(*) FILTER (WHERE is_pos) AS BIGINT) AS n_pos,
          CAST(SUM(CAST(p AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS psum
        FROM pb GROUP BY 1),
      cal AS MATERIALIZED (SELECT bin, n, n_pos,
          round(CAST(psum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS confidence,
          ((2 * n_pos * 1000000 + n) // (2 * n)) / 1000000.0 AS accuracy
        FROM agg),
      nt AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cal),
      ec AS (SELECT CAST(round(SUM(CAST(round(
          (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE))
            * abs(accuracy - confidence), 8) AS DECIMAL(28,8))), 6)
          AS DOUBLE) AS ece
        FROM cal, nt)
      SELECT bin, n, n_pos, confidence, accuracy, ece FROM cal, ec"""))

  /** T153: temperature-scaling fit of the NB quality scorer
    * ([[graft.datapipe.Classifier.temperatureFit]], Guo et al. 2017
    * §4.2) — grid-search T minimizing NLL of σ(score/T). The oracle
    * replays the score, the clamped 6-dp sigmoid per T, the 8-dp NLL
    * terms, the decimal fold, and the (nll, t) argmin tie-break.
    */
  private val clfTemperature = QueryDef(
    "clf_temperature",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val scored = graft.datapipe.Classifier.naiveBayes(
          docs, "doc_id", "text", nbLabel, buckets = 256)
        .select(col("doc_id"), col("score"))
      val labeled = docs.select(col("doc_id"), nbLabel.as("is_pos"))
      graft.datapipe.Classifier.temperatureFit(
        scored.join(labeled, Seq("doc_id")), "score", "is_pos")
    },
    Some(s"""WITH $nbLabelCtes,
      sco AS MATERIALIZED (SELECT t.doc_id, lab.is_pos,
          CAST(round(CAST(prior AS DECIMAL(28,8))
            + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) AS score
        FROM toks t LEFT JOIN ssum USING (doc_id)
        JOIN lab ON lab.doc_id = t.doc_id, pri),
      grid AS (SELECT unnest([0.25, 0.5, 0.75, 1.0, 1.5, 2.0, 3.0, 4.0]::DOUBLE[]) AS t),
      pp AS (SELECT t, is_pos,
          least(greatest(round(1.0 / (1.0 + exp(-(score / t))), 6),
            0.000001), 0.999999) AS p
        FROM sco, grid),
      terms AS (SELECT t,
          round(-(CASE WHEN is_pos THEN ln(p) ELSE ln(1.0 - p) END), 8)
            AS nll8
        FROM pp),
      pert AS MATERIALIZED (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(round(SUM(CAST(nll8 AS DECIMAL(28,8))), 6) AS DOUBLE) AS nll
        FROM terms GROUP BY 1),
      best AS (SELECT t AS best_t FROM pert ORDER BY nll ASC, t ASC LIMIT 1)
      SELECT t, n_docs, nll, (t = best_t) AS is_best FROM pert, best"""))

  /** T161: confident-learning label-noise estimate
    * ([[graft.datapipe.Classifier.labelNoise]], Northcutt et al.
    * 2021) over the NB quality scorer and the language label — how
    * many labels each class should expect to be wrong, by the
    * per-class mean-self-probability threshold rule. The oracle
    * replays the score, both rounded sigmoids, the decimal threshold
    * means, and the flip counts.
    */
  private val clfLabelNoise = QueryDef(
    "clf_label_noise",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val scored = graft.datapipe.Classifier.naiveBayes(
          docs, "doc_id", "text", nbLabel, buckets = 256)
        .select(col("doc_id"), col("score"))
      val labeled = docs.select(col("doc_id"), nbLabel.as("is_pos"))
      graft.datapipe.Classifier.labelNoise(
        scored.join(labeled, Seq("doc_id")), "score", "is_pos")
    },
    Some(s"""WITH $nbLabelCtes,
      sco AS MATERIALIZED (SELECT t.doc_id, lab.is_pos,
          CAST(round(CAST(prior AS DECIMAL(28,8))
            + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) AS score
        FROM toks t LEFT JOIN ssum USING (doc_id)
        JOIN lab ON lab.doc_id = t.doc_id, pri),
      pp AS MATERIALIZED (SELECT is_pos AS given_label,
          CASE WHEN is_pos THEN round(1 / (1 + exp(-score)), 6)
               ELSE round(1 / (1 + exp(score)), 6) END AS p_own,
          CASE WHEN is_pos THEN round(1 / (1 + exp(score)), 6)
               ELSE round(1 / (1 + exp(-score)), 6) END AS p_other
        FROM sco),
      th AS MATERIALIZED (SELECT given_label,
          CAST(COUNT(*) AS BIGINT) AS n_labeled,
          round(CAST(SUM(CAST(p_own AS DECIMAL(28,6))) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE), 6) AS thr_own
        FROM pp GROUP BY 1),
      fl AS (SELECT NOT given_label AS given_label,
          thr_own AS thr_other FROM th),
      ag AS (SELECT pp.given_label, CAST(COUNT(*) AS BIGINT) AS n_labeled,
          MAX(thr_other) AS thr_other,
          CAST(COUNT(thr_other) AS BIGINT) AS n_thr,
          CAST(SUM(CASE WHEN p_other >= thr_other THEN 1 ELSE 0 END)
            AS BIGINT) AS flips0
        FROM pp LEFT JOIN fl USING (given_label) GROUP BY 1)
      SELECT ag.given_label, ag.n_labeled, th.thr_own, ag.thr_other,
        CASE WHEN n_thr > 0 THEN flips0 END AS n_flips,
        CASE WHEN n_thr > 0 THEN
          ((2 * flips0 * 1000000 + ag.n_labeled) // (2 * ag.n_labeled))
            / 1000000.0 END AS flip_rate
      FROM ag JOIN th USING (given_label)"""))

  /** T162: Poisson-bootstrap 95% CI
    * ([[graft.datapipe.Relevance.bootstrapCI]]) on the
    * stopword-gate pass rate — the shuffle-free bootstrap (each
    * (rep, item) weight a deterministic Poisson(1) draw from a
    * salted hash). The oracle replays the hash, the weight lookup,
    * every per-rep exact ratio, and the type-1 percentile ranks.
    */
  private val evalBootstrapCi = QueryDef(
    "eval_bootstrap_ci",
    (s, d) => {
      val ws = filter(split(TextAnalysis.normalize(col("text")), " "),
        t => length(t) > 0)
      graft.datapipe.Relevance.bootstrapCI(
        Tables.documents(s, d), "doc_id",
        TextAnalysis.stopwordCount(col("text")) * 5 >=
          size(ws).cast("bigint"),
        reps = 200)
    },
    Some("""WITH it AS MATERIALIZED (SELECT doc_id,
        CASE WHEN CAST(len(regexp_extract_all(lower(text),
              '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 5
            >= CAST(len(list_filter(string_split(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              x -> len(x) > 0)) AS BIGINT)
          THEN 1 ELSE 0 END AS x
        FROM documents),
      dr AS (SELECT g.r AS rep, x,
          ('0x' || substr(md5('boot:' || CAST(g.r AS VARCHAR) || ':'
            || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS h
        FROM it, generate_series(0, 199) AS g(r)),
      dw AS (SELECT rep, x,
          CASE WHEN h < 367879 THEN 0 WHEN h < 735759 THEN 1
               WHEN h < 919699 THEN 2 WHEN h < 981012 THEN 3
               WHEN h < 996340 THEN 4 WHEN h < 999406 THEN 5
               WHEN h < 999917 THEN 6 WHEN h < 999990 THEN 7
               WHEN h < 999999 THEN 8 ELSE 9 END AS w
        FROM dr),
      pr AS MATERIALIZED (SELECT rep, CAST(SUM(w) AS BIGINT) AS den,
          CAST(SUM(w * x) AS BIGINT) AS num FROM dw GROUP BY 1),
      est AS (SELECT rep,
          ((2 * num * 1000000 + den) // (2 * den)) / 1000000.0 AS est
        FROM pr WHERE den > 0),
      rk AS (SELECT rep, est, CAST(row_number() OVER
          (ORDER BY est, rep) AS BIGINT) AS rn,
          CAST(COUNT(*) OVER () AS BIGINT) AS nb FROM est),
      lo AS (SELECT est AS lo95 FROM rk WHERE rn = (25 * nb + 999) // 1000),
      hi AS (SELECT est AS hi95 FROM rk WHERE rn = (975 * nb + 999) // 1000),
      pt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(x) AS BIGINT) AS n_pass FROM it)
      SELECT n_items, CAST(200 AS BIGINT) AS n_reps,
        ((2 * n_pass * 1000000 + n_items) // (2 * n_items)) / 1000000.0
          AS pass_rate, lo95, hi95
      FROM pt, lo, hi"""))

  /** T164: Fleiss' kappa among THREE heuristic quality raters
    * ([[graft.datapipe.Preference.fleissKappa]], Fleiss 1971) — the
    * stopword-density gate, the lexical-diversity gate, and a
    * 20-word length floor. The oracle replays the vote counts, the
    * per-item agreement numerators, and the fixed IEEE readout tree.
    */
  private val prefFleiss = QueryDef(
    "pref_fleiss",
    (s, d) => {
      val ws = filter(split(TextAnalysis.normalize(col("text")), " "),
        t => length(t) > 0)
      val n = size(ws).cast("bigint")
      val v = size(array_distinct(ws)).cast("bigint")
      graft.datapipe.Preference.fleissKappa(
        Tables.documents(s, d),
        Seq(TextAnalysis.stopwordCount(col("text")) * 5 >= n,
          v * 10 >= n * 7,
          n >= 20),
        Seq("source"))
    },
    Some("""WITH t AS (SELECT source,
        (CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 5
            >= CAST(len(list_filter(string_split(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              x -> len(x) > 0)) AS BIGINT) THEN 1 ELSE 0 END)
        + (CASE WHEN CAST(len(list_distinct(list_filter(string_split(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              x -> len(x) > 0))) AS BIGINT) * 10
            >= CAST(len(list_filter(string_split(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              x -> len(x) > 0)) AS BIGINT) * 7 THEN 1 ELSE 0 END)
        + (CASE WHEN CAST(len(list_filter(string_split(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              x -> len(x) > 0)) AS BIGINT) >= 20 THEN 1 ELSE 0 END)
          AS v
        FROM documents),
      g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(v) AS BIGINT) AS sv,
          CAST(SUM(v * (v - 1) + (3 - v) * (3 - v - 1)) AS BIGINT)
            AS sagree
        FROM t GROUP BY 1)
      SELECT source, n_items, CAST(3 AS BIGINT) AS m_raters,
        round(CAST(sagree AS DOUBLE)
          / (CAST(n_items AS DOUBLE) * 6.0), 6) AS p_bar,
        round((CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
            * (CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
          + (1.0 - CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
            * (1.0 - CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0)),
          6) AS p_e,
        CASE WHEN 1.0 - ((CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
              * (CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
            + (1.0 - CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
              * (1.0 - CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))) > 0
          THEN round((CAST(sagree AS DOUBLE)
              / (CAST(n_items AS DOUBLE) * 6.0)
            - ((CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
              * (CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
            + (1.0 - CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
              * (1.0 - CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))))
            / (1.0 - ((CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
              * (CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
            + (1.0 - CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
              * (1.0 - CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0)))),
            6)
        END AS kappa
      FROM g"""))

  /** T163: split-leakage audit
    * ([[graft.datapipe.Sampling.splitLeakage]]) over a corpus with
    * planted exact copies (every 3rd document re-ingested under a
    * shifted id): id-hash splitting leaks duplicate pairs across the
    * train/eval boundary; content-fingerprint splitting reads
    * exactly 0 — the certificate behind `contentSplit`. The oracle
    * replays both hash assignments and the pair arithmetic.
    */
  private val splitLeakage = QueryDef(
    "split_leakage",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id").as("id"), col("text"))
      val planted = docs.unionByName(docs.filter(col("id") % 3 === 0)
        .select((col("id") + 1000000).as("id"), col("text")))
      graft.datapipe.Sampling.splitLeakage(planted, "id", "text",
        trainPct = 90)
    },
    Some("""WITH d2 AS (SELECT doc_id AS id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS id, text FROM documents
        WHERE doc_id % 3 = 0),
      r AS (SELECT
        ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fp,
        CASE WHEN ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
          THEN 1 ELSE 0 END AS t_id
        FROM d2),
      r2 AS (SELECT fp, t_id,
        CASE WHEN ('0x' || substr(md5(CAST(fp AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
          THEN 1 ELSE 0 END AS t_fp
        FROM r),
      g AS MATERIALIZED (SELECT fp, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(t_id) AS BIGINT) AS nt_id,
          CAST(SUM(t_fp) AS BIGINT) AS nt_fp
        FROM r2 GROUP BY 1),
      s1 AS (SELECT 'id_hash' AS strategy,
          CAST(SUM(n) AS BIGINT) AS n_docs,
          CAST(SUM(nt_id) AS BIGINT) AS n_train,
          CAST(SUM(n - nt_id) AS BIGINT) AS n_eval,
          CAST(SUM(n * (n - 1)) // 2 AS BIGINT) AS n_dup_pairs,
          CAST(SUM(nt_id * (n - nt_id)) AS BIGINT) AS n_leak_pairs
        FROM g
        UNION ALL
        SELECT 'content_hash',
          CAST(SUM(n) AS BIGINT), CAST(SUM(nt_fp) AS BIGINT),
          CAST(SUM(n - nt_fp) AS BIGINT),
          CAST(SUM(n * (n - 1)) // 2 AS BIGINT),
          CAST(SUM(nt_fp * (n - nt_fp)) AS BIGINT)
        FROM g)
      SELECT strategy, n_docs, n_train, n_eval, n_dup_pairs,
        n_leak_pairs,
        CASE WHEN n_dup_pairs > 0 THEN
          ((2 * n_leak_pairs * 1000000 + n_dup_pairs) // (2 * n_dup_pairs))
            / 1000000.0 END AS leak_frac
      FROM s1"""))

  /** T165: data-constrained epoch schedule
    * ([[graft.datapipe.Sampling.epochSchedule]], Muennighoff et al.
    * 2023) — equal budget shares per source, epochs forced, and the
    * repeated-token decay-law value D′. The oracle replays the token
    * rollup, the integer share, the exact epoch ratio, and the IEEE
    * decay chain.
    */
  private val mixEpochSchedule = QueryDef(
    "mix_epoch_schedule",
    (s, d) => graft.datapipe.Sampling.epochSchedule(
      Tables.documents(s, d), "source",
      TextAnalysis.tokenCount(col("text")), budgetTokens = 3000000L),
    Some("""WITH t AS (SELECT source,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tk
        FROM documents),
      u AS MATERIALIZED (SELECT source, CAST(SUM(tk) AS BIGINT) AS u
        FROM t GROUP BY 1 HAVING SUM(tk) > 0),
      k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM u),
      e AS (SELECT source, u, (3000000 - 3000000 % k) // k AS share,
          ((2 * ((3000000 - 3000000 % k) // k) * 1000000 + u) // (2 * u))
            / 1000000.0 AS epochs
        FROM u, k),
      f AS (SELECT source, u, share, epochs,
          GREATEST(epochs - 1.0, 0.0) AS repeats,
          round(exp(-(GREATEST(epochs - 1.0, 0.0) / 15.39)), 6) AS decay
        FROM e)
      SELECT source, u AS u_tokens, CAST(share AS BIGINT) AS share_tokens,
        epochs, repeats,
        round(LEAST(CAST(share AS DOUBLE), CAST(u AS DOUBLE))
          + CAST(u AS DOUBLE) * 15.39 * (1.0 - decay), 2) AS eff_tokens,
        CASE WHEN share > 0 THEN
          round((LEAST(CAST(share AS DOUBLE), CAST(u AS DOUBLE))
            + CAST(u AS DOUBLE) * 15.39 * (1.0 - decay))
            / CAST(share AS DOUBLE), 6) END AS eff_frac
      FROM f"""))

  /** T166: prefix-cache savings sweep
    * ([[graft.datapipe.Packing.prefixCacheSavings]]) — per prefix
    * width k, the tokens an exact-prefix-sharing KV cache saves on
    * this corpus. The oracle replays the eligibility rule, the
    * prefix grouping, and the savings arithmetic, LEFT-joined from
    * the k table so a width with no eligible documents still reads
    * its zero row.
    */
  private val packPrefixCache = QueryDef(
    "pack_prefix_cache",
    (s, d) => graft.datapipe.Packing.prefixCacheSavings(
      Tables.documents(s, d), "text", Seq(1, 2, 4)),
    Some("""WITH dd AS (SELECT list_filter(string_split(trim(
          regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
          x -> len(x) > 0) AS w
        FROM documents),
      t AS MATERIALIZED (SELECT CAST(len(w) AS BIGINT) AS n, w FROM dd),
      pk AS (SELECT kk.k AS k, n,
          array_to_string(w[1:kk.k], ' ') AS pfx
        FROM t, (SELECT UNNEST([1, 2, 4]) AS k) kk WHERE n >= kk.k),
      g AS (SELECT k, pfx, CAST(COUNT(*) AS BIGINT) AS gn,
          CAST(SUM(n) AS BIGINT) AS gtok
        FROM pk GROUP BY 1, 2),
      a AS (SELECT kk.k,
          CAST(COALESCE(SUM(gn), 0) AS BIGINT) AS n_docs,
          CAST(COUNT(g.pfx) AS BIGINT) AS n_groups,
          CAST(COALESCE(SUM(CASE WHEN gn >= 2 THEN gn ELSE 0 END), 0)
            AS BIGINT) AS shared_docs,
          CAST(COALESCE(SUM((gn - 1) * g.k), 0) AS BIGINT)
            AS saved_tokens,
          CAST(COALESCE(SUM(gtok), 0) AS BIGINT) AS total_tokens
        FROM (SELECT UNNEST([1, 2, 4]) AS k) kk
        LEFT JOIN g ON g.k = kk.k GROUP BY 1)
      SELECT CAST(k AS BIGINT) AS k, n_docs, n_groups, shared_docs,
        saved_tokens, total_tokens,
        CASE WHEN total_tokens > 0 THEN
          ((2 * saved_tokens * 1000000 + total_tokens)
            // (2 * total_tokens)) / 1000000.0 END AS saved_frac
      FROM a"""))

  /** T167: majority-vote label aggregation + per-rater accuracy
    * ([[graft.datapipe.Preference.majorityVote]], the one-step
    * Dawid–Skene readout) over the same three heuristic raters as
    * `pref_fleiss`. The oracle replays the strict majority, the
    * tie-to-false rule, and every agreement counter.
    */
  private val prefMajority = QueryDef(
    "pref_majority",
    (s, d) => {
      val ws = filter(split(TextAnalysis.normalize(col("text")), " "),
        t => length(t) > 0)
      val n = size(ws).cast("bigint")
      val v = size(array_distinct(ws)).cast("bigint")
      graft.datapipe.Preference.majorityVote(
        Tables.documents(s, d),
        Seq(
          "stopword" -> (TextAnalysis.stopwordCount(col("text")) * 5 >= n),
          "ttr" -> (v * 10 >= n * 7),
          "len20" -> (n >= 20)),
        Seq("source"))
    },
    Some("""WITH t AS (SELECT source,
        (CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 5
            >= CAST(len(list_filter(string_split(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              x -> len(x) > 0)) AS BIGINT) THEN 1 ELSE 0 END) AS va,
        (CASE WHEN CAST(len(list_distinct(list_filter(string_split(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              x -> len(x) > 0))) AS BIGINT) * 10
            >= CAST(len(list_filter(string_split(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              x -> len(x) > 0)) AS BIGINT) * 7 THEN 1 ELSE 0 END) AS vb,
        (CASE WHEN CAST(len(list_filter(string_split(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              x -> len(x) > 0)) AS BIGINT) >= 20 THEN 1 ELSE 0 END) AS vc
        FROM documents),
      s2 AS (SELECT source, va, vb, vc,
          (va + vb + vc) * 2 > 3 AS maj FROM t),
      g AS MATERIALIZED (SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(CASE WHEN maj THEN 1 ELSE 0 END) AS BIGINT)
            AS n_majority_true,
          CAST(SUM(CASE WHEN (va = 1) = maj THEN 1 ELSE 0 END) AS BIGINT)
            AS aa,
          CAST(SUM(CASE WHEN (vb = 1) = maj THEN 1 ELSE 0 END) AS BIGINT)
            AS ab,
          CAST(SUM(CASE WHEN (vc = 1) = maj THEN 1 ELSE 0 END) AS BIGINT)
            AS ac
        FROM s2 GROUP BY 1)
      SELECT source, 'stopword' AS rater, n_items, n_majority_true,
        aa AS n_agree,
        ((2 * aa * 1000000 + n_items) // (2 * n_items)) / 1000000.0
          AS accuracy FROM g
      UNION ALL
      SELECT source, 'ttr', n_items, n_majority_true, ab,
        ((2 * ab * 1000000 + n_items) // (2 * n_items)) / 1000000.0
        FROM g
      UNION ALL
      SELECT source, 'len20', n_items, n_majority_true, ac,
        ((2 * ac * 1000000 + n_items) // (2 * n_items)) / 1000000.0
        FROM g"""))

  /** T173: Krippendorff's alpha on the SAME three-rater panel as
    * pref_fleiss ([[graft.datapipe.Preference.krippendorffAlpha]],
    * Krippendorff 2004) — the standard cross-check that an
    * agreement readout is not a coefficient artifact: alpha differs
    * from Fleiss exactly by the N(N−1) pair-based chance model. The
    * oracle replays the vote counts, both disagreement readouts,
    * and the exact-integer alpha tree.
    */
  private val prefKrippendorff = QueryDef(
    "pref_krippendorff",
    (s, d) => {
      val ws = filter(split(TextAnalysis.normalize(col("text")), " "),
        t => length(t) > 0)
      val n = size(ws).cast("bigint")
      val v = size(array_distinct(ws)).cast("bigint")
      graft.datapipe.Preference.krippendorffAlpha(
        Tables.documents(s, d),
        Seq(TextAnalysis.stopwordCount(col("text")) * 5 >= n,
          v * 10 >= n * 7,
          n >= 20),
        Seq("source"))
    },
    Some("""WITH t AS (SELECT source,
        (CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 5
            >= CAST(len(list_filter(string_split(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              x -> len(x) > 0)) AS BIGINT) THEN 1 ELSE 0 END)
        + (CASE WHEN CAST(len(list_distinct(list_filter(string_split(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              x -> len(x) > 0))) AS BIGINT) * 10
            >= CAST(len(list_filter(string_split(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              x -> len(x) > 0)) AS BIGINT) * 7 THEN 1 ELSE 0 END)
        + (CASE WHEN CAST(len(list_filter(string_split(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              x -> len(x) > 0)) AS BIGINT) >= 20 THEN 1 ELSE 0 END)
          AS v
        FROM documents),
      g AS MATERIALIZED (SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(v) AS BIGINT) AS n1,
          CAST(SUM(v * (3 - v)) AS BIGINT) AS s
        FROM t GROUP BY 1)
      SELECT source, n_items, CAST(3 AS BIGINT) AS m_raters,
        round((2.0 * CAST(s AS DOUBLE))
          / ((CAST(n_items AS DOUBLE) * 3.0) * 2.0), 6) AS d_o,
        round(((2.0 * (CAST(n_items AS DOUBLE) * 3.0 - CAST(n1 AS DOUBLE)))
            * CAST(n1 AS DOUBLE))
          / ((CAST(n_items AS DOUBLE) * 3.0)
            * (CAST(n_items AS DOUBLE) * 3.0 - 1.0)), 6) AS d_e,
        CASE WHEN n1 > 0 AND n1 < n_items * 3 THEN
          round(1.0 - ((CAST(n_items AS DOUBLE) * 3.0 - 1.0)
              * CAST(s AS DOUBLE))
            / ((2.0 * (CAST(n_items AS DOUBLE) * 3.0 - CAST(n1 AS DOUBLE)))
              * CAST(n1 AS DOUBLE)), 6)
        END AS alpha
      FROM g"""))

  /** T169: McNemar's paired comparison
    * ([[graft.datapipe.Relevance.mcnemar]]) of two language-ID
    * heuristics against the fixture's lang label — the
    * model-comparison significance readout (continuity-corrected
    * χ² on the discordant pairs only). The oracle replays all four
    * cells, both exact accuracies, and the χ² tree.
    */
  private val evalMcnemar = QueryDef(
    "eval_mcnemar",
    (s, d) => {
      val ws = filter(split(TextAnalysis.normalize(col("text")), " "),
        t => length(t) > 0)
      val n = size(ws).cast("bigint")
      graft.datapipe.Relevance.mcnemar(
        Tables.documents(s, d),
        col("lang") === "en",
        TextAnalysis.stopwordCount(col("text")) * 5 >= n,
        lower(col("text")).rlike("\\bthe\\b"),
        Seq("source"))
    },
    Some("""WITH t AS (SELECT source,
        ((CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 5
            >= CAST(len(list_filter(string_split(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              x -> len(x) > 0)) AS BIGINT) THEN 1 ELSE 0 END)
          = (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)) AS ca,
        (regexp_matches(lower(text), '\bthe\b')
          = (lang = 'en')) AS cb
        FROM documents),
      g AS MATERIALIZED (SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(CASE WHEN ca AND cb THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
          CAST(SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
          CAST(SUM(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b,
          CAST(SUM(CASE WHEN NOT ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
        FROM t GROUP BY 1)
      SELECT source, n_items, n_both, n_only_a, n_only_b, n_neither,
        ((2 * (n_both + n_only_a) * 1000000 + n_items) // (2 * n_items))
          / 1000000.0 AS acc_a,
        ((2 * (n_both + n_only_b) * 1000000 + n_items) // (2 * n_items))
          / 1000000.0 AS acc_b,
        CASE WHEN n_only_a + n_only_b > 0 THEN
          round((GREATEST(abs(CAST(n_only_a AS DOUBLE)
                - CAST(n_only_b AS DOUBLE)) - 1.0, 0.0)
              * GREATEST(abs(CAST(n_only_a AS DOUBLE)
                - CAST(n_only_b AS DOUBLE)) - 1.0, 0.0))
            / (CAST(n_only_a AS DOUBLE) + CAST(n_only_b AS DOUBLE)), 6)
        END AS chi2
      FROM g"""))

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
      val ws = filter(split(TextAnalysis.normalize(col("text")), " "),
        t => length(t) > 0)
      graft.datapipe.TextAnalysis.spearman(
        Tables.documents(s, d),
        size(ws).cast("bigint"),
        TextAnalysis.stopwordCount(col("text")),
        "source")
    },
    Some("""WITH base AS MATERIALIZED (SELECT source AS grp,
        CAST(len(list_filter(string_split(trim(
          regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
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
    Some("""WITH base AS (SELECT source AS grp,
        CAST(len(list_filter(string_split(trim(
          regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
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
    Some("""WITH tok AS (SELECT source,
        UNNEST(list_filter(string_split(trim(
          regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
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

  /** T171: Brier score with the Murphy decomposition of the NB
    * quality scorer ([[graft.datapipe.Classifier.brierDecomposition]])
    * — the same binning as clf_calibration, answering WHY the score
    * is what it is (reliability − resolution + uncertainty). The
    * oracle replays the bins, every 8-dp term, and all four readout
    * trees.
    */
  private val clfBrier = QueryDef(
    "clf_brier",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val scored = graft.datapipe.Classifier.naiveBayes(
          docs, "doc_id", "text", nbLabel, buckets = 256)
        .select(col("doc_id"), col("score"))
      val labeled = docs.select(col("doc_id"), nbLabel.as("is_pos"))
      graft.datapipe.Classifier.brierDecomposition(
        scored.join(labeled, Seq("doc_id")), "score", "is_pos", bins = 10)
    },
    Some(s"""WITH $nbLabelCtes,
      sco AS MATERIALIZED (SELECT t.doc_id, lab.is_pos,
          CAST(round(CAST(prior AS DECIMAL(28,8))
            + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) AS score
        FROM toks t LEFT JOIN ssum USING (doc_id)
        JOIN lab ON lab.doc_id = t.doc_id, pri),
      pb AS MATERIALIZED (SELECT
          LEAST(CAST(floor(p * 10) AS BIGINT), 9) AS bin, p, is_pos
        FROM (SELECT round(1 / (1 + exp(-score)), 6) AS p, is_pos FROM sco)),
      agg AS MATERIALIZED (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(COUNT(*) FILTER (WHERE is_pos) AS BIGINT) AS n_pos,
          CAST(SUM(CAST(p AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS psum,
          CAST(SUM(CAST(round((p - CASE WHEN is_pos THEN 1.0 ELSE 0.0 END)
              * (p - CASE WHEN is_pos THEN 1.0 ELSE 0.0 END), 8)
            AS DECIMAL(28,8))) AS DECIMAL(28,8)) AS bsum
        FROM pb GROUP BY 1),
      cal AS MATERIALIZED (SELECT bin, n, n_pos, bsum,
          round(CAST(psum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS conf,
          ((2 * n_pos * 1000000 + n) // (2 * n)) / 1000000.0 AS acc
        FROM agg),
      gl AS (SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
          CAST(SUM(n_pos) AS BIGINT) AS np,
          CAST(SUM(bsum) AS DECIMAL(28,8)) AS bsum_tot FROM cal),
      gb AS (SELECT n_docs, bsum_tot,
          ((2 * np * 1000000 + n_docs) // (2 * n_docs)) / 1000000.0
            AS base_rate FROM gl),
      su AS (SELECT n_docs, base_rate, bsum_tot,
          CAST(SUM(CAST(round(CAST(n AS DOUBLE) * (conf - acc)
              * (conf - acc), 8) AS DECIMAL(28,8))) AS DECIMAL(28,8))
            AS rel_sum,
          CAST(SUM(CAST(round(CAST(n AS DOUBLE) * (acc - base_rate)
              * (acc - base_rate), 8) AS DECIMAL(28,8))) AS DECIMAL(28,8))
            AS res_sum
        FROM cal, gb GROUP BY 1, 2, 3)
      SELECT n_docs, base_rate,
        round(CAST(bsum_tot AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
          AS brier,
        round(CAST(rel_sum AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
          AS reliability,
        round(CAST(res_sum AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
          AS resolution,
        round(base_rate * (1.0 - base_rate), 6) AS uncertainty
      FROM su"""))

  /** T177: Neyman-optimal labeling-budget allocation across sources
    * ([[graft.datapipe.Sampling.neymanAllocation]], Neyman 1934) —
    * n_h ∝ N_h·S_h over the token-count signal, seats by floor +
    * largest remainder so Σ alloc == budget exactly. The oracle
    * replays the exact moments, the IEEE sd/weight/share trees, and
    * the remainder ranking.
    */
  private val sampleNeyman = QueryDef(
    "sample_neyman",
    (s, d) => {
      val ws = filter(split(TextAnalysis.normalize(col("text")), " "),
        t => length(t) > 0)
      graft.datapipe.Sampling.neymanAllocation(
        Tables.documents(s, d), size(ws).cast("bigint"), "source",
        budget = 1000L)
    },
    Some("""WITH base AS (SELECT source AS stratum,
        CAST(len(list_filter(string_split(trim(
          regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
          x -> len(x) > 0)) AS BIGINT) AS v
        FROM documents),
      m AS MATERIALIZED (SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_pop,
          SUM(v) AS sv, SUM(v * v) AS svv
        FROM base GROUP BY 1),
      wt AS MATERIALIZED (SELECT stratum, n_pop,
          round(sqrt((CAST(n_pop AS DOUBLE) * CAST(svv AS DOUBLE)
              - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
            / (CAST(n_pop AS DOUBLE) * CAST(n_pop AS DOUBLE))), 6) AS sd
        FROM m),
      w2 AS MATERIALIZED (SELECT stratum, n_pop, sd,
          round(CAST(n_pop AS DOUBLE) * sd, 8) AS w FROM wt),
      tot AS (SELECT CAST(SUM(CAST(w AS DECIMAL(28,8))) AS DECIMAL(28,8))
          AS wsum FROM w2),
      sh AS MATERIALIZED (SELECT stratum, n_pop, sd,
          CASE WHEN wsum > 0 THEN
            round(1000.0 * w / CAST(wsum AS DOUBLE), 6)
          ELSE 0.0 END AS alloc_raw
        FROM w2, tot),
      b2 AS MATERIALIZED (SELECT stratum, n_pop, sd, alloc_raw,
          CAST(floor(alloc_raw) AS BIGINT) AS base,
          alloc_raw - CAST(CAST(floor(alloc_raw) AS BIGINT) AS DOUBLE)
            AS rem
        FROM sh),
      lv AS (SELECT 1000 - CAST(SUM(base) AS BIGINT) AS leftover FROM b2),
      rk AS (SELECT b2.*, CAST(row_number() OVER
          (ORDER BY rem DESC, stratum) AS BIGINT) AS rnk FROM b2)
      SELECT stratum, n_pop, sd, alloc_raw,
        CAST(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
          AS alloc
      FROM rk, lv"""))

  /** T178: paired Poisson-bootstrap comparison
    * ([[graft.datapipe.Relevance.pairedBootstrap]], Koehn 2004) of
    * the SAME two language-ID heuristics eval_mcnemar tests — the
    * resampling significance readout next to the exact-count one.
    * The oracle replays the salted weights, every per-rep delta,
    * the effective-count percentile ranks, and the sign fraction.
    */
  private val evalPairedBootstrap = QueryDef(
    "eval_paired_bootstrap",
    (s, d) => {
      val ws = filter(split(TextAnalysis.normalize(col("text")), " "),
        t => length(t) > 0)
      val n = size(ws).cast("bigint")
      val gold = col("lang") === "en"
      graft.datapipe.Relevance.pairedBootstrap(
        Tables.documents(s, d), "doc_id",
        (TextAnalysis.stopwordCount(col("text")) * 5 >= n) === gold,
        lower(col("text")).rlike("\\bthe\\b") === gold,
        reps = 200)
    },
    Some("""WITH it AS MATERIALIZED (SELECT doc_id,
        CASE WHEN (CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 5
            >= CAST(len(list_filter(string_split(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              x -> len(x) > 0)) AS BIGINT) THEN 1 ELSE 0 END)
          = (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) THEN 1 ELSE 0 END AS a,
        CASE WHEN regexp_matches(lower(text), '\bthe\b') = (lang = 'en')
          THEN 1 ELSE 0 END AS b
        FROM documents),
      dr AS (SELECT g.r AS rep, a, b,
          ('0x' || substr(md5('pboot:' || CAST(g.r AS VARCHAR) || ':'
            || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS h
        FROM it, generate_series(0, 199) AS g(r)),
      dw AS (SELECT rep, a, b,
          CASE WHEN h < 367879 THEN 0 WHEN h < 735759 THEN 1
               WHEN h < 919699 THEN 2 WHEN h < 981012 THEN 3
               WHEN h < 996340 THEN 4 WHEN h < 999406 THEN 5
               WHEN h < 999917 THEN 6 WHEN h < 999990 THEN 7
               WHEN h < 999999 THEN 8 ELSE 9 END AS w
        FROM dr),
      pr AS MATERIALIZED (SELECT rep, CAST(SUM(w) AS BIGINT) AS den,
          CAST(SUM(w * a) AS BIGINT) AS na,
          CAST(SUM(w * b) AS BIGINT) AS nb
        FROM dw GROUP BY 1),
      est AS MATERIALIZED (SELECT rep,
          ((2 * na * 1000000 + den) // (2 * den)) / 1000000.0
            - ((2 * nb * 1000000 + den) // (2 * den)) / 1000000.0 AS delta
        FROM pr WHERE den > 0),
      rk AS (SELECT rep, delta, CAST(row_number() OVER
          (ORDER BY delta, rep) AS BIGINT) AS rn,
          CAST(COUNT(*) OVER () AS BIGINT) AS cnt FROM est),
      lo AS (SELECT delta AS lo95 FROM rk
        WHERE rn = (25 * cnt + 999) // 1000),
      hi AS (SELECT delta AS hi95 FROM rk
        WHERE rn = (975 * cnt + 999) // 1000),
      sg AS (SELECT ((2 * COUNT(*) FILTER (WHERE delta <= 0) * 1000000
            + COUNT(*)) // (2 * COUNT(*))) / 1000000.0 AS frac_b_ge_a
        FROM est),
      pt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(a) AS BIGINT) AS pa, CAST(SUM(b) AS BIGINT) AS pb
        FROM it)
      SELECT n_items, CAST(200 AS BIGINT) AS n_reps,
        ((2 * pa * 1000000 + n_items) // (2 * n_items)) / 1000000.0
          AS acc_a,
        ((2 * pb * 1000000 + n_items) // (2 * n_items)) / 1000000.0
          AS acc_b,
        ((2 * pa * 1000000 + n_items) // (2 * n_items)) / 1000000.0
          - ((2 * pb * 1000000 + n_items) // (2 * n_items)) / 1000000.0
          AS delta,
        lo95, hi95, frac_b_ge_a
      FROM pt, lo, hi, sg"""))

  /** T179: chat-markup structure validator
    * ([[graft.datapipe.SftPrep.validateConversations]]) over
    * conversations with PLANTED violations (the T142 canary
    * pattern): every %7 doc breaks role alternation, every %11 doc
    * loses its final eot sentinel (unparseable — and it wins
    * precedence on %77 docs), every %13 doc gains a legal system
    * preamble. The oracle replays the construction, the corruption,
    * and all three rules with the stated precedence.
    */
  private val sftValidate = QueryDef(
    "sft_validate",
    (s, d) => {
      val ws = filter(split(TextAnalysis.normalize(col("text")), " "),
        t => length(t) > 0)
      val t1 = array_join(slice(ws, 1, 4), " ")
      val t2 = array_join(slice(ws, 5, 4), " ")
      val role2 = when(col("doc_id") % 7 === 0, lit("user"))
        .otherwise(lit("assistant"))
      val msg0 = concat(
        lit("<|user|> "), t1, lit(" <|eot|>\n"),
        lit("<|"), role2, lit("|> "), t2, lit(" <|eot|>"))
      val msg1 = when(col("doc_id") % 13 === 0,
        concat(lit("<|system|> sys <|eot|>\n"), msg0)).otherwise(msg0)
      val msg = when(col("doc_id") % 11 === 0,
        msg1.substr(lit(1), length(msg1) - lit(8))).otherwise(msg1)
      graft.datapipe.SftPrep.validateConversations(
        Tables.documents(s, d).select(col("doc_id"), msg.as("conv")),
        "doc_id", "conv")
    },
    Some("""WITH w0 AS (SELECT doc_id,
        list_filter(string_split(trim(regexp_replace(lower(text),
          '\s+', ' ', 'g')), ' '), x -> len(x) > 0) AS w
        FROM documents),
      built AS (SELECT doc_id,
          '<|user|> ' || array_to_string(w[1:4], ' ') || ' <|eot|>' ||
          chr(10) || '<|' ||
          (CASE WHEN doc_id % 7 = 0 THEN 'user' ELSE 'assistant' END) ||
          '|> ' || array_to_string(w[5:8], ' ') || ' <|eot|>' AS m0
        FROM w0),
      built2 AS (SELECT doc_id,
          CASE WHEN doc_id % 13 = 0
            THEN '<|system|> sys <|eot|>' || chr(10) || m0 ELSE m0 END AS m1
        FROM built),
      conv AS MATERIALIZED (SELECT doc_id,
          CASE WHEN doc_id % 11 = 0
            THEN substr(m1, 1, len(m1) - 8) ELSE m1 END AS c
        FROM built2),
      v AS MATERIALIZED (SELECT doc_id,
          string_split(c, chr(10)) AS lines,
          list_transform(string_split(c, chr(10)), l ->
            regexp_extract(l, '^<\|(system|user|assistant)\|> ', 1))
            AS roles
        FROM conv),
      flags AS MATERIALIZED (SELECT doc_id,
          CAST(len(lines) AS BIGINT) AS n_turns,
          len(list_filter(lines, l -> NOT regexp_matches(l,
            '^<\|(system|user|assistant)\|> .* <\|eot\|>$'))) = 0
            AS parse_ok,
          roles[1] <> 'assistant' AS first_ok,
          CASE WHEN roles[1] = 'system' THEN 1 ELSE 0 END AS off,
          roles, roles[len(roles)] = 'assistant' AS ends_on_assistant
        FROM v),
      rr AS (SELECT doc_id, g.i AS i, roles[g.i] AS r, off
        FROM flags, UNNEST(generate_series(1, len(roles))) AS g(i)),
      ab AS (SELECT doc_id, CAST(COUNT(*) FILTER (WHERE i > off
          AND r <> CASE WHEN (i - off) % 2 = 1 THEN 'user'
            ELSE 'assistant' END) AS BIGINT) AS nbad
        FROM rr GROUP BY 1)
      SELECT f.doc_id, f.n_turns,
        (CASE WHEN NOT parse_ok THEN 'unparseable'
              WHEN NOT first_ok THEN 'bad_first_role'
              WHEN nbad > 0 THEN 'role_alternation' END) IS NULL AS valid,
        CASE WHEN NOT parse_ok THEN 'unparseable'
             WHEN NOT first_ok THEN 'bad_first_role'
             WHEN nbad > 0 THEN 'role_alternation' END AS reason,
        ends_on_assistant
      FROM flags f JOIN ab USING (doc_id)"""))

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

  /** Shared BLEU fixture: candidate = the reference itself for %10=0
    * docs (bleu 1.0), the token-REVERSED text for %10=5 (unigram
    * precision 1, bigram ~0 → the unsmoothed zero gate fires), the
    * drop-last-token twin otherwise (high but sub-1 precisions and a
    * real brevity penalty). Reference = the original text.
    */
  private def bleuPairs(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame = {
    val toks = split(TextAnalysis.normalize(col("text")), " ")
    Tables.documents(s, d).select(col("doc_id"), col("source"),
      when(col("doc_id") % 10 === 0, col("text"))
        .when(col("doc_id") % 10 === 5, array_join(reverse(toks), " "))
        .otherwise(array_join(slice(toks, lit(1), size(toks) - 1), " "))
        .as("cand"),
      col("text").as("ref"))
  }

  private val bleuPairsSql = """tok0 AS (SELECT doc_id, source, text,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      pairs AS (SELECT doc_id, source,
        CASE WHEN doc_id % 10 = 0 THEN text
             WHEN doc_id % 10 = 5 THEN array_to_string(list_reverse(w), ' ')
             ELSE array_to_string(w[1:len(w)-1], ' ') END AS cand,
        text AS ref FROM tok0),
      tk AS MATERIALIZED (SELECT doc_id, source,
        list_filter(string_split(trim(regexp_replace(lower(cand), '\s+', ' ', 'g')), ' '), x -> len(x) > 0) AS ct,
        list_filter(string_split(trim(regexp_replace(lower(ref), '\s+', ' ', 'g')), ' '), x -> len(x) > 0) AS rt
        FROM pairs),
      cg AS (SELECT doc_id, n.n, array_to_string(ct[i:i+n.n-1], chr(1)) AS g
        FROM tk, (SELECT UNNEST([1,2,3,4]) AS n) n,
             UNNEST(generate_series(1, GREATEST(len(ct)-n.n+1, 0))) t(i)),
      ccnt AS (SELECT doc_id, n, g, COUNT(*) AS cc FROM cg GROUP BY 1,2,3),
      rg AS (SELECT doc_id, n.n, array_to_string(rt[i:i+n.n-1], chr(1)) AS g
        FROM tk, (SELECT UNNEST([1,2,3,4]) AS n) n,
             UNNEST(generate_series(1, GREATEST(len(rt)-n.n+1, 0))) t(i)),
      rcnt AS (SELECT doc_id, n, g, COUNT(*) AS rc FROM rg GROUP BY 1,2,3),
      mm AS (SELECT c.doc_id, c.n,
          SUM(LEAST(c.cc, COALESCE(r.rc, 0))) AS m
        FROM ccnt c LEFT JOIN rcnt r
          ON r.doc_id = c.doc_id AND r.n = c.n AND r.g = c.g
        GROUP BY 1, 2),
      piv AS (SELECT doc_id,
          COALESCE(SUM(CASE WHEN n = 1 THEN m END), 0) AS m1,
          COALESCE(SUM(CASE WHEN n = 2 THEN m END), 0) AS m2,
          COALESCE(SUM(CASE WHEN n = 3 THEN m END), 0) AS m3,
          COALESCE(SUM(CASE WHEN n = 4 THEN m END), 0) AS m4
        FROM mm GROUP BY 1),
      lens AS (SELECT doc_id, source,
          CAST(len(ct) AS BIGINT) AS c_len, CAST(len(rt) AS BIGINT) AS r_len
        FROM tk),
      jb AS (SELECT l.doc_id, l.source, c_len, r_len,
          COALESCE(m1, 0) AS m1, COALESCE(m2, 0) AS m2,
          COALESCE(m3, 0) AS m3, COALESCE(m4, 0) AS m4,
          GREATEST(c_len, 0) AS t1, GREATEST(c_len - 1, 0) AS t2,
          GREATEST(c_len - 2, 0) AS t3, GREATEST(c_len - 3, 0) AS t4,
          GREATEST(r_len, 0) AS u1, GREATEST(r_len - 1, 0) AS u2
        FROM lens l LEFT JOIN piv USING (doc_id))"""

  /** T189: sentence BLEU-4 + ROUGE-1/2
    * ([[graft.datapipe.Relevance.bleuRouge]]) over the planted
    * candidate/reference pairs — the oracle replays the shingle
    * multisets, per-pair clipping, exact-ratio precisions/recalls,
    * the rounded-log geometric mean, the brevity penalty, and the
    * unsmoothed zero gate.
    */
  private val evalBleu = QueryDef(
    "eval_bleu",
    (s, d) => Relevance.bleuRouge(bleuPairs(s, d), "doc_id", "cand", "ref"),
    Some(s"""WITH $bleuPairsSql
      SELECT doc_id, c_len, r_len,
        CASE WHEN t1 > 0 THEN ((2*m1*1000000 + t1) // (2*t1)) / 1000000.0 END AS p1,
        CASE WHEN t2 > 0 THEN ((2*m2*1000000 + t2) // (2*t2)) / 1000000.0 END AS p2,
        CASE WHEN t3 > 0 THEN ((2*m3*1000000 + t3) // (2*t3)) / 1000000.0 END AS p3,
        CASE WHEN t4 > 0 THEN ((2*m4*1000000 + t4) // (2*t4)) / 1000000.0 END AS p4,
        CASE WHEN u1 > 0 THEN ((2*m1*1000000 + u1) // (2*u1)) / 1000000.0 END AS rouge1,
        CASE WHEN u2 > 0 THEN ((2*m2*1000000 + u2) // (2*u2)) / 1000000.0 END AS rouge2,
        CASE WHEN c_len = 0 THEN 0.0 WHEN c_len >= r_len THEN 1.0
             ELSE round(exp(1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE)), 6) END
          AS brevity_penalty,
        CASE WHEN m1 = 0 OR t1 = 0 OR m2 = 0 OR t2 = 0
               OR m3 = 0 OR t3 = 0 OR m4 = 0 OR t4 = 0 THEN 0.0
             ELSE round(
               (CASE WHEN c_len >= r_len THEN 1.0
                     ELSE round(exp(1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE)), 6) END)
               * exp((round(ln(((2*m1*1000000 + t1) // (2*t1)) / 1000000.0), 8)
                    + round(ln(((2*m2*1000000 + t2) // (2*t2)) / 1000000.0), 8)
                    + round(ln(((2*m3*1000000 + t3) // (2*t3)) / 1000000.0), 8)
                    + round(ln(((2*m4*1000000 + t4) // (2*t4)) / 1000000.0), 8)) / 4.0), 4)
        END AS bleu
      FROM jb"""))

  /** T190: corpus BLEU per source
    * ([[graft.datapipe.Relevance.bleuCorpus]]) — clipped counts
    * aggregated over each source's pairs before the precision/BP
    * arithmetic, the statistic MT/distillation reports publish.
    */
  private val evalBleuCorpus = QueryDef(
    "eval_bleu_corpus",
    (s, d) => Relevance.bleuCorpus(bleuPairs(s, d), "doc_id", "source",
      "cand", "ref"),
    Some(s"""WITH $bleuPairsSql,
      gagg AS (SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(SUM(c_len) AS BIGINT) AS c_tokens,
          CAST(SUM(r_len) AS BIGINT) AS r_tokens,
          CAST(SUM(m1) AS BIGINT) AS m1, CAST(SUM(m2) AS BIGINT) AS m2,
          CAST(SUM(m3) AS BIGINT) AS m3, CAST(SUM(m4) AS BIGINT) AS m4,
          CAST(SUM(t1) AS BIGINT) AS t1, CAST(SUM(t2) AS BIGINT) AS t2,
          CAST(SUM(t3) AS BIGINT) AS t3, CAST(SUM(t4) AS BIGINT) AS t4
        FROM jb GROUP BY 1)
      SELECT source, n_pairs, c_tokens, r_tokens,
        CASE WHEN t1 > 0 THEN ((2*m1*1000000 + t1) // (2*t1)) / 1000000.0 END AS p1,
        CASE WHEN t2 > 0 THEN ((2*m2*1000000 + t2) // (2*t2)) / 1000000.0 END AS p2,
        CASE WHEN t3 > 0 THEN ((2*m3*1000000 + t3) // (2*t3)) / 1000000.0 END AS p3,
        CASE WHEN t4 > 0 THEN ((2*m4*1000000 + t4) // (2*t4)) / 1000000.0 END AS p4,
        CASE WHEN c_tokens = 0 THEN 0.0 WHEN c_tokens >= r_tokens THEN 1.0
             ELSE round(exp(1.0 - CAST(r_tokens AS DOUBLE) / CAST(c_tokens AS DOUBLE)), 6) END
          AS brevity_penalty,
        CASE WHEN m1 = 0 OR t1 = 0 OR m2 = 0 OR t2 = 0
               OR m3 = 0 OR t3 = 0 OR m4 = 0 OR t4 = 0 THEN 0.0
             ELSE round(
               (CASE WHEN c_tokens >= r_tokens THEN 1.0
                     ELSE round(exp(1.0 - CAST(r_tokens AS DOUBLE) / CAST(c_tokens AS DOUBLE)), 6) END)
               * exp((round(ln(((2*m1*1000000 + t1) // (2*t1)) / 1000000.0), 8)
                    + round(ln(((2*m2*1000000 + t2) // (2*t2)) / 1000000.0), 8)
                    + round(ln(((2*m3*1000000 + t3) // (2*t3)) / 1000000.0), 8)
                    + round(ln(((2*m4*1000000 + t4) // (2*t4)) / 1000000.0), 8)) / 4.0), 4)
        END AS bleu
      FROM gagg"""))

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
    Some("""WITH base AS MATERIALIZED (SELECT doc_id AS id,
        list_filter(string_split(trim(regexp_replace(lower(text),
          '\s+', ' ', 'g')), ' '), x -> len(x) > 0) AS w
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

  /** T182: minimum detectable accuracy delta per source
    * ([[graft.datapipe.Relevance.minDetectableDelta]]) for the
    * stopword language-ID gate — the noise floor under the
    * eval_mcnemar / eval_paired_bootstrap readouts. The oracle
    * replays the exact base rate and the one-sqrt IEEE tree.
    */
  private val evalMde = QueryDef(
    "eval_mde",
    (s, d) => {
      val ws = filter(split(TextAnalysis.normalize(col("text")), " "),
        t => length(t) > 0)
      val n = size(ws).cast("bigint")
      graft.datapipe.Relevance.minDetectableDelta(
        Tables.documents(s, d),
        (TextAnalysis.stopwordCount(col("text")) * 5 >= n) ===
          (col("lang") === "en"),
        Seq("source"))
    },
    Some("""WITH t AS (SELECT source,
        CASE WHEN (CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 5
            >= CAST(len(list_filter(string_split(trim(
              regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
              x -> len(x) > 0)) AS BIGINT) THEN 1 ELSE 0 END)
          = (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) THEN 1 ELSE 0 END
          AS x
        FROM documents),
      g AS MATERIALIZED (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(x) AS BIGINT) AS np FROM t GROUP BY 1),
      b AS (SELECT source, n_items,
          ((2 * np * 1000000 + n_items) // (2 * n_items)) / 1000000.0
            AS base_rate FROM g)
      SELECT source, n_items, base_rate,
        round((CAST(1.96 AS DOUBLE) + CAST(0.8416 AS DOUBLE))
          * sqrt(CAST(2.0 AS DOUBLE) * base_rate
            * (CAST(1.0 AS DOUBLE) - base_rate)
            / CAST(n_items AS DOUBLE)), 6) AS mde
      FROM b"""))

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
    Some("""WITH tok AS (SELECT doc_id,
        UNNEST(list_filter(string_split(trim(
          regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
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

  /** T145: GRPO-style group-relative advantage
    * ([[graft.datapipe.Preference.groupAdvantage]]) — standardize
    * the distinct-token reward within each source group via the
    * rewrite (n·r − Σr)/√(n·Σr² − (Σr)²), products formed in double
    * (exact to 2^53, no 2^63 wrap). The oracle replays the rollup
    * and the one-sqrt expression with the same casts.
    */
  private val rlAdvantage = QueryDef(
    "rl_advantage",
    (s, d) => {
      val toks = split(TextAnalysis.normalize(col("text")), " ")
      val scored = Tables.documents(s, d).select(
        col("doc_id"), col("source"),
        size(array_distinct(toks)).cast("bigint").as("reward"))
      graft.datapipe.Preference.groupAdvantage(
        scored, "doc_id", col("reward"), Seq("source"))
    },
    Some("""WITH t AS (SELECT doc_id, source,
        CAST(len(list_distinct(string_split(trim(
          regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT)
          AS reward
        FROM documents),
      st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_group,
          CAST(SUM(reward) AS BIGINT) AS s1,
          CAST(SUM(reward * reward) AS BIGINT) AS s2
        FROM t GROUP BY 1)
      SELECT doc_id, source, reward, n_group,
        CASE WHEN CAST(n_group AS DOUBLE) * CAST(s2 AS DOUBLE)
            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) > 0 THEN
          round((CAST(n_group AS DOUBLE) * CAST(reward AS DOUBLE)
              - CAST(s1 AS DOUBLE))
            / sqrt(CAST(n_group AS DOUBLE) * CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)), 6)
        ELSE NULL END AS advantage
      FROM t JOIN st USING (source)"""))

  /** T151: best-of-n rejection sampling over the same per-source
    * distinct-token reward as `rl_advantage`
    * ([[graft.datapipe.Preference.bestOfN]]). The oracle replays the
    * argmax with the (reward desc, id asc) tie-break and the
    * runner-up margin via a rank window.
    */
  private val prefBestOfN = QueryDef(
    "pref_best_of_n",
    (s, d) => {
      val toks = split(TextAnalysis.normalize(col("text")), " ")
      val scored = Tables.documents(s, d).select(
        col("doc_id"), col("source"),
        size(array_distinct(toks)).cast("bigint").as("reward"))
      graft.datapipe.Preference.bestOfN(
        scored, "doc_id", col("reward"), Seq("source"))
    },
    Some("""WITH t AS (SELECT doc_id AS cand_id, source,
        CAST(len(list_distinct(string_split(trim(
          regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT)
          AS reward
        FROM documents),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY reward DESC, cand_id ASC) AS rn FROM t),
      b AS (SELECT source, cand_id AS best_id, reward AS best_reward
        FROM r WHERE rn = 1),
      s2 AS (SELECT source, reward AS second_reward FROM r WHERE rn = 2),
      nn AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_candidates
        FROM t GROUP BY 1)
      SELECT nn.source, n_candidates, best_id, best_reward, second_reward,
        best_reward - second_reward AS margin
      FROM nn JOIN b USING (source) LEFT JOIN s2 USING (source)"""))

  /** T150: fill-in-the-middle transform
    * ([[graft.datapipe.SftPrep.fimTransform]], Bavarian et al. 2022)
    * — PSM/SPM sentinel rewrites at salted-hash character cuts, 50%
    * FIM rate. The oracle replays the id hashing, the cut
    * arithmetic, both sentinel layouts, and the byte-contract md5.
    */
  private val sftFim = QueryDef(
    "sft_fim",
    (s, d) => graft.datapipe.SftPrep.fimTransform(
      Tables.documents(s, d), "doc_id", "text"),
    Some("""WITH f AS (SELECT doc_id, text,
        CAST(length(text) AS BIGINT) AS n,
        ('0x' || substr(md5('fim_m:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 4 AS m0,
        ('0x' || substr(md5('fim_a:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS ha,
        ('0x' || substr(md5('fim_b:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hb
        FROM documents),
      g AS (SELECT doc_id, text, n, m0,
        CASE WHEN n > 0 THEN 1 + (ha % n) END AS a,
        CASE WHEN n > 0 THEN 1 + (hb % n) END AS b FROM f),
      h AS (SELECT doc_id, text, n, m0,
        LEAST(a, b) AS lo, GREATEST(a, b) AS hi FROM g),
      i AS (SELECT doc_id, text, n, lo, hi,
        CASE WHEN n IS NULL OR n = 0 OR m0 < 2 THEN 'orig'
             WHEN m0 = 2 THEN 'psm' ELSE 'spm' END AS mode,
        substr(text, 1, lo - 1) AS pre,
        substr(text, lo, hi - lo) AS mid,
        substr(text, hi, n - hi + 1) AS suf FROM h),
      o AS (SELECT doc_id, mode,
        CASE WHEN mode = 'orig' THEN 0 ELSE lo - 1 END AS n_prefix,
        CASE WHEN mode = 'orig' THEN 0 ELSE hi - lo END AS n_middle,
        CASE WHEN mode = 'orig' THEN 0 ELSE n - hi + 1 END AS n_suffix,
        CASE WHEN mode = 'psm' THEN '<PRE>' || pre || '<SUF>' || suf || '<MID>' || mid
             WHEN mode = 'spm' THEN '<SUF>' || suf || '<PRE>' || pre || '<MID>' || mid
             ELSE text END AS ot
        FROM i)
      SELECT doc_id, mode,
        CAST(n_prefix AS BIGINT) AS n_prefix,
        CAST(n_middle AS BIGINT) AS n_middle,
        CAST(n_suffix AS BIGINT) AS n_suffix,
        CAST(length(ot) AS BIGINT) AS fim_len,
        md5(ot) AS fim_md5
      FROM o"""))

  /** T158: per-turn loss-mask span table
    * ([[graft.datapipe.SftPrep.lossMaskSpans]]) — the (char_start,
    * char_end, trains) offsets a training loader consumes. The
    * oracle rebuilds every turn render, its length, and the prefix
    * sums via a window over the exploded turn index.
    */
  private val sftLossMask = QueryDef(
    "sft_loss_mask",
    (s, d) => graft.datapipe.SftPrep.lossMaskSpans(
      Tables.documents(s, d), "doc_id", "text"),
    Some("""WITH d AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      base AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n,
        (CAST(len(w) AS BIGINT) + 7) // 8 AS nt FROM d),
      turns AS (SELECT doc_id, CAST(t.i AS BIGINT) AS turn_idx,
        CASE WHEN t.i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        CAST(length('<|' ||
          (CASE WHEN t.i % 2 = 0 THEN 'user' ELSE 'assistant' END) ||
          '|> ' ||
          array_to_string(list_slice(w, t.i * 8 + 1,
            least((t.i + 1) * 8, n)), ' ') || ' <|eot|>') AS BIGINT)
          AS span_chars,
        (t.i % 2 = 1) AS trains
        FROM base, UNNEST(generate_series(0, nt - 1)) AS t(i)),
      o AS (SELECT doc_id, turn_idx, role, span_chars, trains,
        turn_idx + 1 + CAST(COALESCE(SUM(span_chars) OVER (
          PARTITION BY doc_id ORDER BY turn_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS BIGINT) AS char_start
        FROM turns)
      SELECT doc_id, turn_idx, role, char_start,
        char_start + span_chars - 1 AS char_end, span_chars, trains
      FROM o"""))

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
    Some("""WITH tk AS (SELECT source,
        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
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
    Some("""WITH tk AS (SELECT source AS grp,
        CAST(len(list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
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

  /** T156: verbosity-bias diagnosis
    * ([[graft.datapipe.Preference.lengthBias]]) over the same
    * distinct-token reward as `rl_advantage`, with character length
    * as the length signal. The oracle replays the five-sum rollup
    * and the double-product closed forms.
    */
  private val prefLengthBias = QueryDef(
    "pref_length_bias",
    (s, d) => {
      val toks = split(TextAnalysis.normalize(col("text")), " ")
      graft.datapipe.Preference.lengthBias(
        Tables.documents(s, d).select(col("source"),
          size(array_distinct(toks)).cast("bigint").as("reward"),
          length(col("text")).cast("bigint").as("len")),
        col("reward"), col("len"), Seq("source"))
    },
    Some("""WITH t AS (SELECT source,
        CAST(len(list_distinct(string_split(trim(
          regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT)
          AS r,
        CAST(length(text) AS BIGINT) AS l
        FROM documents),
      a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(SUM(r) AS BIGINT) AS sr, CAST(SUM(l) AS BIGINT) AS sl,
          CAST(SUM(r * l) AS BIGINT) AS srl,
          CAST(SUM(r * r) AS BIGINT) AS srr,
          CAST(SUM(l * l) AS BIGINT) AS sll
        FROM t GROUP BY 1)
      SELECT source, n_pairs,
        CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(srr AS DOUBLE)
                - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) > 0
            AND CAST(n_pairs AS DOUBLE) * CAST(sll AS DOUBLE)
                - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) > 0
          THEN round((CAST(n_pairs AS DOUBLE) * CAST(srl AS DOUBLE)
                - CAST(sr AS DOUBLE) * CAST(sl AS DOUBLE))
              / sqrt((CAST(n_pairs AS DOUBLE) * CAST(srr AS DOUBLE)
                  - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
                * (CAST(n_pairs AS DOUBLE) * CAST(sll AS DOUBLE)
                  - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE))), 6)
        END AS corr,
        CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(sll AS DOUBLE)
                - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) > 0
          THEN round((CAST(n_pairs AS DOUBLE) * CAST(srl AS DOUBLE)
                - CAST(sr AS DOUBLE) * CAST(sl AS DOUBLE))
              / (CAST(n_pairs AS DOUBLE) * CAST(sll AS DOUBLE)
                - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)), 6)
        END AS slope,
        CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(sll AS DOUBLE)
                - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) > 0
          THEN round((CAST(sr AS DOUBLE) * CAST(sll AS DOUBLE)
                - CAST(sl AS DOUBLE) * CAST(srl AS DOUBLE))
              / (CAST(n_pairs AS DOUBLE) * CAST(sll AS DOUBLE)
                - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)), 6)
        END AS intercept
      FROM a"""))

  /** T157: Cohen's kappa between two heuristic quality raters
    * ([[graft.datapipe.Preference.cohenKappa]]) — rater A the
    * stopword-density gate (5·stopword_hits ≥ words), rater B the
    * lexical-diversity gate (10·distinct ≥ 7·words). The oracle
    * replays the four counters and the all-integer-counts kappa.
    */
  private val prefKappa = QueryDef(
    "pref_kappa",
    (s, d) => {
      val ws = filter(split(TextAnalysis.normalize(col("text")), " "),
        t => length(t) > 0)
      val n = size(ws).cast("bigint")
      val v = size(array_distinct(ws)).cast("bigint")
      graft.datapipe.Preference.cohenKappa(
        Tables.documents(s, d),
        TextAnalysis.stopwordCount(col("text")) * 5 >= n,
        v * 10 >= n * 7,
        Seq("source"))
    },
    Some("""WITH t AS (SELECT source,
        (CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 5
          >= CAST(len(list_filter(string_split(trim(
            regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
            x -> len(x) > 0)) AS BIGINT)) AS a,
        (CAST(len(list_distinct(list_filter(string_split(trim(
            regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
            x -> len(x) > 0))) AS BIGINT) * 10
          >= CAST(len(list_filter(string_split(trim(
            regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
            x -> len(x) > 0)) AS BIGINT) * 7) AS b
        FROM documents),
      g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
          CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS a1,
          CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS b1
        FROM t GROUP BY 1)
      SELECT source, n_items, n_agree,
        ((2 * n_agree * 1000000 + n_items) // (2 * n_items)) / 1000000.0
          AS po,
        round((CAST(a1 AS DOUBLE) * CAST(b1 AS DOUBLE)
            + (CAST(n_items AS DOUBLE) - CAST(a1 AS DOUBLE))
              * (CAST(n_items AS DOUBLE) - CAST(b1 AS DOUBLE)))
          / (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)), 6) AS pe,
        CASE WHEN CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)
            - (CAST(a1 AS DOUBLE) * CAST(b1 AS DOUBLE)
              + (CAST(n_items AS DOUBLE) - CAST(a1 AS DOUBLE))
                * (CAST(n_items AS DOUBLE) - CAST(b1 AS DOUBLE))) > 0
          THEN round((CAST(n_items AS DOUBLE) * CAST(n_agree AS DOUBLE)
              - (CAST(a1 AS DOUBLE) * CAST(b1 AS DOUBLE)
                + (CAST(n_items AS DOUBLE) - CAST(a1 AS DOUBLE))
                  * (CAST(n_items AS DOUBLE) - CAST(b1 AS DOUBLE))))
            / (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)
              - (CAST(a1 AS DOUBLE) * CAST(b1 AS DOUBLE)
                + (CAST(n_items AS DOUBLE) - CAST(a1 AS DOUBLE))
                  * (CAST(n_items AS DOUBLE) - CAST(b1 AS DOUBLE)))), 6)
        END AS kappa
      FROM g"""))

  /** Token Shannon entropy per document: the fold runs over per-row
    * sorted runs, the oracle over a count groupBy — the exact
    * decimal-sum convention makes the two term orders land on the
    * identical double.
    */
  private val textEntropy = QueryDef(
    "text_entropy",
    (s, d) => TextAnalysis.entropy(Tables.documents(s, d), "doc_id", "text"),
    Some("""WITH toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
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

  /** Trained multiclass language ID: the 5-language NB argmax over
    * hashed-token buckets — the learned sibling of text_langid's
    * stopword heuristic. The oracle retrains the dense L×B model,
    * replays the per-class exact-decimal folds, and re-runs the
    * argmax over the same (score desc, lang) order, so a hash match
    * certifies counts, smoothing, priors, fold, and tie-break.
    */
  private val textLangIdNb = QueryDef(
    "text_langid_nb",
    (s, d) => graft.datapipe.Classifier.naiveBayesMulti(
      Tables.documents(s, d), "doc_id", "text", "lang", buckets = 64)
      .select(col("doc_id"), col("label").as("lang"),
        col("predicted").as("predicted_lang"), col("score")),
    Some(s"""WITH $langidNbCtes,
      top AS (SELECT doc_id, lang AS predicted_lang, score,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, lang) AS rn
        FROM allp)
      SELECT d.doc_id, d.lang, top.predicted_lang, top.score
      FROM documents d JOIN top ON top.doc_id = d.doc_id AND top.rn = 1"""))

  /** T121: language-ID confidence margin
    * ([[graft.datapipe.Classifier.naiveBayesMultiMargin]], τ = 1.0) —
    * the abstain signal next to the argmax. Oracle = the same
    * retrained multiclass chain, ranked to rn ≤ 2, margin re-rounded
    * identically.
    */
  private val textLangIdMargin = QueryDef(
    "text_langid_margin",
    (s, d) => graft.datapipe.Classifier.naiveBayesMultiMargin(
      Tables.documents(s, d), "doc_id", "text", "lang", buckets = 64,
      tau = 1.0),
    Some(s"""WITH $langidNbCtes,
      top AS (SELECT doc_id, lang, score,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, lang) AS rn
        FROM allp),
      t1 AS (SELECT doc_id, lang AS predicted, score FROM top WHERE rn = 1),
      t2 AS (SELECT doc_id, score AS second FROM top WHERE rn = 2)
      SELECT t1.doc_id, t1.predicted, t1.score,
        CAST(round(t1.score - t2.second, 4) AS DOUBLE) AS margin,
        (round(t1.score - t2.second, 4) >= 1.0) AS confident
      FROM t1 LEFT JOIN t2 ON t1.doc_id = t2.doc_id"""))

  /** The shared multiclass-langid oracle chain (train counts, dense
    * grid model, priors, per-(doc, lang) scores `allp`) — consumed by
    * `text_langid_nb` and `text_langid_margin`. A def (not a val):
    * both consumers initialize before this point in the file. */
  private def langidNbCtes = """toks AS (SELECT doc_id, lang,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      tkl AS (SELECT t.doc_id, t.lang,
          CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT) % 64 AS b
        FROM toks t, UNNEST(generate_series(1, len(w))) AS g(i)),
      cls AS (SELECT lang, b, COUNT(*) AS n FROM tkl GROUP BY 1, 2),
      tot AS (SELECT lang, SUM(n) AS tc FROM cls GROUP BY 1),
      grid AS (SELECT l.lang, g.b
        FROM (SELECT DISTINCT lang FROM documents) l,
             (SELECT UNNEST(generate_series(0, 63)) AS b) g),
      model AS (SELECT grid.lang, grid.b,
          round(ln(CAST(COALESCE(cls.n, 0) + 1 AS DOUBLE)
            / CAST(COALESCE(tot.tc, 0) + 64 AS DOUBLE)), 8) AS lp
        FROM grid
        LEFT JOIN cls ON cls.lang = grid.lang AND cls.b = grid.b
        LEFT JOIN tot ON tot.lang = grid.lang),
      pri AS (SELECT dc.lang,
          round(ln(CAST(dc.dc + 1 AS DOUBLE)
            / CAST(dl.d + dl.l AS DOUBLE)), 8) AS prior
        FROM (SELECT lang, COUNT(*) AS dc FROM documents GROUP BY 1) dc,
             (SELECT COUNT(*) AS d, COUNT(DISTINCT lang) AS l
              FROM documents) dl),
      sc AS (SELECT tkl.doc_id, m.lang,
          SUM(CAST(lp AS DECIMAL(28,8))) AS s
        FROM tkl JOIN model m ON m.b = tkl.b GROUP BY 1, 2),
      allp AS (SELECT t.doc_id, p.lang,
          CAST(round(CAST(p.prior AS DECIMAL(28,8))
            + COALESCE(sc.s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE)
            AS score
        FROM (SELECT doc_id FROM documents) t CROSS JOIN pri p
        LEFT JOIN sc ON sc.doc_id = t.doc_id AND sc.lang = p.lang)"""

  /** Classifier quality readout — the confusion matrix + derived
    * precision/recall every trained quality filter ships with: the NB
    * classifier's predictions against its own training labels (the
    * resubstitution view; a held-out split is the same query over a
    * hash-split corpus). One row: exact integer confusion counts plus
    * two divisions rounded 6 dp. The oracle retrains the classifier
    * (same CTE chain as text_classifier) and recomputes the matrix.
    */
  private val textClassifierEval = QueryDef(
    "text_classifier_eval",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val scored = graft.datapipe.Classifier.naiveBayes(
        docs, "doc_id", "text", nbLabel, buckets = 256)
      val labeled = docs.select(col("doc_id"), nbLabel.as("is_pos"))
      scored.join(labeled, "doc_id")
        .agg(
          count(when(col("predicted") && col("is_pos"), 1)).as("tp"),
          count(when(col("predicted") && !col("is_pos"), 1)).as("fp"),
          count(when(!col("predicted") && col("is_pos"), 1)).as("fn"),
          count(when(!col("predicted") && !col("is_pos"), 1)).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          round(col("tp").cast("double") / (col("tp") + col("fp")), 6)
            .as("precision"),
          round(col("tp").cast("double") / (col("tp") + col("fn")), 6)
            .as("recall"))
    },
    Some(s"""WITH $nbLabelCtes,
      pred AS (SELECT t.doc_id,
          (CAST(round(CAST(prior AS DECIMAL(28,8))
            + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) > 0)
            AS predicted
        FROM toks t LEFT JOIN ssum USING (doc_id), pri),
      cm AS (SELECT
          COUNT(*) FILTER (WHERE predicted AND is_pos) AS tp,
          COUNT(*) FILTER (WHERE predicted AND NOT is_pos) AS fp,
          COUNT(*) FILTER (WHERE NOT predicted AND is_pos) AS fn,
          COUNT(*) FILTER (WHERE NOT predicted AND NOT is_pos) AS tn
        FROM pred JOIN lab USING (doc_id))
      SELECT tp, fp, fn, tn,
        round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
        round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall
      FROM cm"""))

  /** Classifier calibration readout — the reliability histogram next
    * to [[textClassifierEval]]'s confusion matrix: documents bucketed
    * by clamped integer score bin, with the empirical positive rate
    * per bin. Fixed bins keep this scale-honest (zero shuffle until
    * the ≤11-row groupBy — a global ntile would sort the corpus);
    * rates are exact counts divided once.
    */
  private val textClassifierCalibration = QueryDef(
    "text_classifier_calibration",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val scored = graft.datapipe.Classifier.naiveBayes(
        docs, "doc_id", "text", nbLabel, buckets = 256)
      val labeled = docs.select(col("doc_id"), nbLabel.as("is_pos"))
      scored.join(labeled, "doc_id")
        .withColumn("bin",
          least(lit(5L), greatest(lit(-5L), floor(col("score")))))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          count(when(col("is_pos"), 1)).as("n_pos"))
        .withColumn("pos_rate",
          round(col("n_pos").cast("double") / col("n").cast("double"), 6))
    },
    Some(s"""WITH $nbLabelCtes,
      pred AS (SELECT t.doc_id,
          CAST(round(CAST(prior AS DECIMAL(28,8))
            + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) AS score
        FROM toks t LEFT JOIN ssum USING (doc_id), pri),
      binned AS (SELECT LEAST(CAST(5 AS BIGINT), GREATEST(CAST(-5 AS BIGINT),
          CAST(FLOOR(score) AS BIGINT))) AS bin, is_pos
        FROM pred JOIN lab USING (doc_id))
      SELECT bin, COUNT(*) AS n,
        COUNT(*) FILTER (WHERE is_pos) AS n_pos,
        round(CAST(COUNT(*) FILTER (WHERE is_pos) AS DOUBLE) / COUNT(*), 6)
          AS pos_rate
      FROM binned GROUP BY bin"""))

  /** Quality-vs-quantity selection curve — the readout a data-budget
    * decision reads before picking a classifier threshold: per
    * clamped integer score bin, the docs/tokens in the bin plus the
    * CUMULATIVE docs/tokens a threshold at that bin floor would
    * keep. The cumsum window is global but runs over ≤ 11 bin rows
    * (the corpus was already reduced by the groupBy), so the
    * single-partition sort is a non-issue at any scale.
    */
  private val textSelectionCurve = QueryDef(
    "text_selection_curve",
    (s, d) => {
      val scored = graft.datapipe.Classifier.naiveBayes(
        Tables.documents(s, d), "doc_id", "text", nbLabel, buckets = 256)
      val binned = scored
        .withColumn("bin",
          least(lit(5L), greatest(lit(-5L), floor(col("score")))))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("bin").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      binned.select(col("bin"), col("n_docs"), col("n_tokens"),
        sum(col("n_docs")).over(w).as("cum_docs"),
        sum(col("n_tokens")).over(w).as("cum_tokens"))
    },
    Some(s"""WITH $nbLabelCtes,
      sc AS (SELECT t.doc_id,
          CAST(round(CAST(prior AS DECIMAL(28,8))
            + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) AS score,
          COALESCE(ssum.n_tokens, 0) AS n_tokens
        FROM toks t LEFT JOIN ssum USING (doc_id), pri),
      b AS (SELECT LEAST(CAST(5 AS BIGINT), GREATEST(CAST(-5 AS BIGINT),
          CAST(FLOOR(score) AS BIGINT))) AS bin,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        FROM sc GROUP BY 1)
      SELECT bin, n_docs, n_tokens,
        CAST(SUM(n_docs) OVER (ORDER BY bin DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_docs,
        CAST(SUM(n_tokens) OVER (ORDER BY bin DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_tokens
      FROM b"""))

  /** Active-learning selection: the 50 MOST UNCERTAIN documents by
    * classifier margin (|score| nearest 0) — the batch a labeling
    * loop sends for annotation. orderBy+limit plans as
    * TakeOrderedAndProject; ties break on doc_id so the cut is
    * engine-portable.
    */
  private val textClassifierUncertain = QueryDef(
    "text_classifier_uncertain",
    (s, d) => graft.datapipe.Classifier.naiveBayes(
        Tables.documents(s, d), "doc_id", "text", nbLabel, buckets = 256)
      .select(col("doc_id"), col("score"), abs(col("score")).as("margin"))
      .orderBy(col("margin").asc, col("doc_id").asc).limit(50),
    Some(s"""WITH $nbLabelCtes,
      pred AS (SELECT t.doc_id,
          CAST(round(CAST(prior AS DECIMAL(28,8))
            + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) AS score
        FROM toks t LEFT JOIN ssum USING (doc_id), pri)
      SELECT doc_id, score, abs(score) AS margin FROM pred
      ORDER BY margin, doc_id LIMIT 50"""))

  /** The train-offline/score-inline twin of text_classifier: the
    * B+2-number model extracts to the driver and every document is
    * scored by one pure-Column fold (no UDF, no shuffle) — the same
    * retrain oracle certifies that frozen == batch on the training
    * corpus.
    */
  private val textClassifierInline = QueryDef(
    "text_classifier_inline",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.datapipe.Classifier.nbScore(docs, "doc_id", "text",
        graft.datapipe.Classifier.nbModel(docs, "text", nbLabel, 256))
    },
    Some(s"WITH $nbLabelSql"))

  /** The composed frozen-model STREAM GATE ([[graft.datapipe.StreamGate]]):
    * all three trained quality models — NB classifier, bigram-LM
    * perplexity, DSIR importance — scoring every document in ONE
    * stateless projection and deciding keep/drop together, the
    * composition an ingest pipeline actually deploys (each model solo
    * is certified by text_classifier_inline / text_perplexity_inline /
    * the StreamingSpec importance twin; this entry certifies the
    * COMPOSITION). The oracle retrains all three models in SQL and
    * replays the decision, so one hash covers every stage boundary.
    * Run on the training corpus the frozen scorers must reproduce the
    * batch retrains bit-for-bit.
    */
  private val e2eStreamGate = QueryDef(
    "e2e_stream_gate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val nb = graft.datapipe.Classifier.nbModel(docs, "text", nbLabel, 256)
      val lm = LanguageModel.bigramLm(docs, "text")
      val ratios = LanguageModel.bucketRatios(docs, "doc_id", "text",
        col("lang") === "en", 64)
      graft.datapipe.StreamGate.score(docs, "doc_id", "text", nb, lm, ratios,
        maxPpl = 30.0, minWeight = 0.0)
    },
    Some("""WITH toks AS (SELECT doc_id, lang,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      ls AS (SELECT doc_id,
        len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS s_en,
        len(regexp_extract_all(lower(text), '\b(el|la|de|que|y)\b')) AS s_es,
        len(regexp_extract_all(lower(text), '\b(le|la|de|et|les)\b')) AS s_fr,
        len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS s_de
        FROM documents),
      lab AS (SELECT doc_id,
        COALESCE(s_en > 0 AND s_en >= greatest(s_en, s_es, s_fr, s_de),
          FALSE) AS is_pos
        FROM ls),
      ntk AS (SELECT t.doc_id, lab.is_pos,
          CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT) % 256 AS b
        FROM toks t JOIN lab USING (doc_id),
             UNNEST(generate_series(1, len(w))) AS g(i)),
      ncls AS (SELECT b,
          COUNT(*) FILTER (WHERE is_pos) AS np,
          COUNT(*) FILTER (WHERE NOT is_pos) AS nn
        FROM ntk GROUP BY b),
      ntot AS (SELECT COALESCE(SUM(np), 0) AS tp,
                      COALESCE(SUM(nn), 0) AS tn FROM ncls),
      nlrs AS (SELECT b,
          round(ln(CAST(np + 1 AS DOUBLE) / CAST(tp + 256 AS DOUBLE))
              - ln(CAST(nn + 1 AS DOUBLE) / CAST(tn + 256 AS DOUBLE)), 8) AS lr
        FROM ncls, ntot),
      npri AS (SELECT round(
          ln(CAST(dp + 1 AS DOUBLE) / CAST(dp + dn + 2 AS DOUBLE))
        - ln(CAST(dn + 1 AS DOUBLE) / CAST(dp + dn + 2 AS DOUBLE)), 8) AS prior
        FROM (SELECT COUNT(*) FILTER (WHERE is_pos) AS dp,
                     COUNT(*) FILTER (WHERE NOT is_pos) AS dn FROM lab)),
      nsum AS (SELECT doc_id, SUM(CAST(lr AS DECIMAL(28,8))) AS s
        FROM ntk JOIN nlrs USING (b) GROUP BY doc_id),
      nbsc AS (SELECT t.doc_id,
          CAST(round(CAST(prior AS DECIMAL(28,8))
            + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) AS nb_score
        FROM toks t LEFT JOIN nsum USING (doc_id), npri),
      bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
             FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
             WHERE len(w) >= 2),
      c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
      vc AS (SELECT COUNT(DISTINCT u.tk) AS v FROM toks, UNNEST(w) AS u(tk)),
      lps AS (SELECT doc_id,
          round(ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + vc.v AS DOUBLE)), 8) AS lp
        FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), vc),
      psum AS (SELECT doc_id,
          SUM(CAST(lp AS DECIMAL(28,8))) AS slp, COUNT(*) AS nb
        FROM lps GROUP BY doc_id),
      pscore AS (SELECT t.doc_id,
          CAST(COALESCE(psum.nb, 0) AS BIGINT) AS n_bigrams,
          round(exp(-CAST(slp AS DOUBLE) / psum.nb), 4) AS ppl
        FROM toks t LEFT JOIN psum USING (doc_id)),
      itk AS (SELECT doc_id, lang,
          CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT) % 64 AS b
        FROM toks, UNNEST(generate_series(1, len(w))) AS t(i)),
      rawc AS (SELECT b, COUNT(*) AS cr FROM itk GROUP BY 1),
      tgtc AS (SELECT b, COUNT(*) AS ct FROM itk WHERE lang = 'en' GROUP BY 1),
      itot AS (SELECT (SELECT SUM(cr) FROM rawc) AS tr,
                     COALESCE((SELECT SUM(ct) FROM tgtc), 0) AS tt),
      ilrs AS (SELECT rawc.b,
          round(ln(CAST(COALESCE(tgtc.ct, 0) + 1 AS DOUBLE) / CAST(itot.tt + 64 AS DOUBLE))
              - ln(CAST(rawc.cr + 1 AS DOUBLE) / CAST(itot.tr + 64 AS DOUBLE)), 8) AS lr
        FROM rawc LEFT JOIN tgtc USING (b), itot),
      wsum AS (SELECT doc_id,
          CAST(round(SUM(CAST(lr AS DECIMAL(28,8))), 4) AS DOUBLE) AS wt
        FROM itk JOIN ilrs USING (b) GROUP BY doc_id),
      iw AS (SELECT t.doc_id, COALESCE(wt, 0.0) AS weight
        FROM toks t LEFT JOIN wsum USING (doc_id))
      SELECT t.doc_id, CAST(COALESCE(len(w), 0) AS BIGINT) AS n_tokens,
        nb_score, n_bigrams, ppl, weight,
        (nb_score > 0 AND COALESCE(ppl <= 30.0, FALSE) AND weight >= 0.0)
          AS kept
      FROM toks t JOIN nbsc USING (doc_id) JOIN pscore USING (doc_id)
        JOIN iw USING (doc_id)"""))

  // --- BPE tokenizer training -------------------------------------

  private val bpeM = 10

  /** One unrolled BPE training round as DuckDB CTEs: weighted pair
    * counts from the round's vocab, argmax with the engine's exact
    * tie-break, and the same greedy left-to-right merge fold
    * (list_reduce over chr(1)-separated symbols). An empty round
    * (vocabulary fully merged) carries the vocab forward unchanged
    * via the LEFT JOIN's null pair.
    */
  private def bpeRound(r: Int, pfx: String = ""): String = s"""
    ${pfx}p$r AS MATERIALIZED (SELECT arr[i] AS a, arr[i+1] AS b, SUM(cnt) AS c
      FROM (SELECT cnt, string_split(syms, chr(1)) AS arr FROM ${pfx}v$r) t,
           UNNEST(generate_series(1, len(arr) - 1)) AS g(i)
      GROUP BY 1, 2),
    ${pfx}m$r AS MATERIALIZED (SELECT a, b FROM ${pfx}p$r ORDER BY c DESC, a, b LIMIT 1),
    ${pfx}v${r + 1} AS MATERIALIZED (SELECT v.w, v.cnt,
      CASE WHEN m.a IS NULL THEN v.syms ELSE
        list_reduce(string_split(v.syms, chr(1)), (acc, x) ->
          CASE WHEN (acc = m.a OR ends_with(acc, chr(1) || m.a)) AND x = m.b
               THEN acc || m.b ELSE acc || chr(1) || x END) END AS syms
      FROM ${pfx}v$r v LEFT JOIN ${pfx}m$r m ON TRUE)"""

  private def bpeTrainCtes: String = s"""toks AS (SELECT doc_id,
      string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents),
    tok AS MATERIALIZED (SELECT doc_id, u.t AS w
      FROM toks, UNNEST(w) AS u(t) WHERE len(u.t) > 0),
    v0 AS MATERIALIZED (SELECT w, COUNT(*) AS cnt,
        array_to_string(list_transform(generate_series(1, len(w)),
          i -> substr(w, i, 1)), chr(1)) || chr(2) AS syms
      FROM tok GROUP BY w),
    ${(0 until bpeM).map(bpeRound(_)).mkString(",")}"""

  private val bpeMerges = QueryDef(
    "bpe_merges",
    (s, d) => BpeTokenizer.mergeTable(Tables.documents(s, d), "text", bpeM),
    Some(s"""WITH $bpeTrainCtes
      SELECT * FROM (${(0 until bpeM).map(r =>
        s"SELECT CAST(${r + 1} AS BIGINT) AS merge_rank, a AS lhs, b AS rhs FROM m$r")
        .mkString(" UNION ALL ")})"""))

  private val bpeEncode = QueryDef(
    "bpe_encode",
    (s, d) => BpeTokenizer.trainAndEncode(
      Tables.documents(s, d), "doc_id", "text", bpeM),
    Some(s"""WITH $bpeTrainCtes,
      enc AS MATERIALIZED (SELECT w,
          CAST(len(string_split(syms, chr(1))) AS BIGINT) AS n_sym
        FROM v$bpeM),
      agg AS (SELECT tok.doc_id, COUNT(*) AS n_words, SUM(e.n_sym) AS n_bpe
        FROM tok JOIN enc e USING (w) GROUP BY tok.doc_id)
      SELECT t.doc_id, CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
        CAST(COALESCE(a.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
      FROM toks t LEFT JOIN agg a USING (doc_id)"""))

  /** Tokenizer DECODE round-trip ([[BpeTokenizer.decodeVocab]]): the
    * detokenization certificate — every vocabulary word's symbol
    * sequence, decoded (separators and the end-of-word marker
    * stripped), must reproduce the word exactly. The oracle replays
    * training and the same strip, so a fold corruption on either
    * engine reads as round_trip = false AND a hash mismatch.
    */
  private val bpeDecode = QueryDef(
    "bpe_decode",
    (s, d) => BpeTokenizer.decodeVocab(
      BpeTokenizer.train(Tables.documents(s, d), "text", bpeM)),
    Some(s"""WITH $bpeTrainCtes
      SELECT w, CAST(len(string_split(syms, chr(1))) AS BIGINT) AS n_sym,
        replace(replace(syms, chr(1), ' '), chr(2), '') AS segmentation,
        replace(replace(syms, chr(1), ''), chr(2), '') = w AS round_trip
      FROM v$bpeM"""))

  /** Tokenizer fertility (BPE tokens per word) by language — the
    * standard tokenizer-quality readout: a tokenizer trained on the
    * corpus fragments under-represented languages into more pieces.
    * Exact integer sums; one division per language, rounded 6 dp.
    */
  private val bpeFertility = QueryDef(
    "bpe_fertility",
    (s, d) => {
      import s.implicits._
      // plant a language whose only document tokenizes to ZERO words:
      // the zero-word aggregation path (n_words 0, fertility NULL) is
      // exercised and hash-checked on both engines, instead of being
      // an unreachable edge the two sides silently disagree on
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
      // a sentinel colliding with a real id would fan out the per-doc
      // join below and double-count that document's tokens — reject
      // loudly (one pushed-filter scan of the id column)
      require(docs.filter(col("doc_id") === 9000000L).isEmpty,
        "bpe_fertility sentinel doc_id 9000000 collides with the corpus")
      // train on bare `documents` — textually identical to the
      // oracle's training input; the planted row joins ONLY the
      // per-language aggregation via the left join's zero-fill
      val enc = BpeTokenizer.trainAndEncode(docs, "doc_id", "text", bpeM)
      docs.select(col("doc_id"), col("lang"))
        .unionByName(Seq((9000000L, "zz")).toDF("doc_id", "lang"))
        .join(enc, Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(sum(coalesce(col("n_words"), lit(0L))).as("n_words"),
          sum(coalesce(col("n_bpe_tokens"), lit(0L))).as("n_bpe_tokens"))
        .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
          when(col("n_words") === 0, lit(null).cast("double"))
            .otherwise(round(col("n_bpe_tokens").cast("double") /
              col("n_words").cast("double"), 6)).as("fertility"))
    },
    // the planted doc contributes no words, so the TRAINING chain
    // (v0..vN) over `documents` is untouched; only the per-language
    // aggregation unions it in, via a per-doc LEFT JOIN that emits
    // zero-count rows exactly like the engine's encode coalesce
    Some(s"""WITH $bpeTrainCtes,
      enc AS MATERIALIZED (SELECT w,
          CAST(len(string_split(syms, chr(1))) AS BIGINT) AS n_sym
        FROM v$bpeM),
      d2 AS (SELECT doc_id, lang FROM documents
             UNION ALL SELECT 9000000, 'zz'),
      agg AS (SELECT t.doc_id, COUNT(*) AS n_words, SUM(e.n_sym) AS n_bpe
        FROM tok t JOIN enc e USING (w) GROUP BY t.doc_id),
      ag AS (SELECT d.lang,
          SUM(COALESCE(a.n_words, 0)) AS n_words,
          SUM(COALESCE(a.n_bpe, 0)) AS n_bpe
        FROM d2 d LEFT JOIN agg a USING (doc_id)
        GROUP BY d.lang)
      SELECT lang, CAST(n_words AS BIGINT) AS n_words,
        CAST(n_bpe AS BIGINT) AS n_bpe_tokens,
        CASE WHEN n_words = 0 THEN NULL
             ELSE round(CAST(n_bpe AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
        END AS fertility
      FROM ag"""))

  // --- dedup ------------------------------------------------------

  private val dedupExact = QueryDef(
    "dedup_exact",
    (s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), col("text"), col("doc_id")),
    Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
      min(doc_id) AS keeper_doc_id, COUNT(*) AS n_dups
      FROM documents GROUP BY 1"""))

  /** Soft dedup ([[Dedup.softDedupWeights]]): down-weight duplicate
    * content instead of dropping it. The corpus has no exact
    * duplicates, so the entry plants them deterministically: every
    * doc_id % 5 == 0 document gets an identical copy at id+2000000,
    * every doc_id % 10 == 0 a second at id+3000000 — multiplicities
    * 1, 2, and 3 all exercised. The oracle replays the planting, the
    * fingerprint rollup, and the exact 1/n weight.
    */
  private val dedupSoftWeights = QueryDef(
    "dedup_soft_weights",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val planted = docs
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
      Dedup.softDedupWeights(planted, "doc_id", col("text"))
    },
    Some("""WITH planted AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 3000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
      f AS (SELECT doc_id,
        ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fp
        FROM planted),
      m AS (SELECT fp, COUNT(*) AS n_copies FROM f GROUP BY fp)
      SELECT doc_id, n_copies,
        ((2 * 1000000 + n_copies) // (2 * n_copies)) / 1000000.0 AS weight
      FROM f JOIN m USING (fp)"""))

  /** The test corpus has no near-duplicates, so the near-dup queries
    * manufacture them deterministically: every document gets a twin
    * (doc_id + 1000000) with its last word dropped. Both engines
    * build the same twins, so the verified-Jaccard pairs match.
    */
  private def withTwins(s: org.apache.spark.sql.SparkSession, d: String) = {
    // The test corpus is a single small parquet split; real corpora
    // arrive in thousands of splits. Repartition so the per-document
    // shingle/hash work uses the full parallelism (at 100 TB the scan
    // itself provides this and the repartition is a no-op to remove).
    val docs = Tables.documents(s, d).select(col("doc_id").as("id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
    val toks = split(TextAnalysis.normalize(col("text")), " ")
    val truncated = array_join(slice(toks, lit(1), size(toks) - 1), " ")
    docs.unionByName(
      docs.select((col("id") + 1000000).as("id"), truncated.as("text")))
  }

  private val twinsSqlCte =
    """docs2 AS (
        SELECT doc_id AS id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS id, array_to_string(w[1:len(w)-1], ' ') AS text
        FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
              FROM documents))"""

  /** Incremental-crawl dedup: new batch = doc_id % 13 == 0, corpus =
    * everything else PLUS re-ingested copies of half the batch (the
    * % 26 == 0 docs under shifted ids) — so the operator must both
    * admit and reject. Spark prunes the corpus with a Bloom filter of
    * the batch's keys before the exact anti join; the result is
    * bloom-invisible (no false negatives), so the oracle is the plain
    * anti join on normalized text.
    */
  private val dedupIncremental = QueryDef(
    "dedup_incremental",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
      val fresh = docs.filter(col("doc_id") % 13 === 0)
      val corpus = docs.filter(col("doc_id") % 13 =!= 0)
        .unionByName(fresh.filter(col("doc_id") % 26 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      Dedup.bloomNewDocs(fresh, corpus, "doc_id", "text",
        expectedItems = 100000)
    },
    Some("""WITH nd AS (SELECT doc_id,
        trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        FROM documents WHERE doc_id % 13 = 0),
      corpus AS (
        SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        FROM documents WHERE doc_id % 13 <> 0
        UNION ALL
        SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        FROM documents WHERE doc_id % 26 = 0)
      SELECT doc_id FROM nd
      WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.t = nd.t)"""))

  /** Corpus-level duplicated-line removal over 4-token tumbling
    * "lines" (~6% of lines at the oracle SF are corpus-duplicated,
    * so the drop path genuinely fires). The oracle replays the line
    * build, the keep-first election over the same (doc_id, line_no)
    * order, and the in-order rebuild — the repaired text itself is
    * hash-checked.
    */
  private val dedupLines = QueryDef(
    "dedup_lines",
    (s, d) => Dedup.dedupLines(Tables.documents(s, d), "doc_id", "text",
      w = 4),
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
          x -> len(x) > 0) AS w
        FROM documents),
      ln AS (SELECT doc_id, CAST((i - 1) // 4 AS BIGINT) AS line_no,
          string_agg(w[i], ' ' ORDER BY i) AS line
        FROM toks, UNNEST(generate_series(1, len(w))) t(i)
        GROUP BY doc_id, (i - 1) // 4),
      k AS (SELECT doc_id, line_no, line, row_number() OVER (
          PARTITION BY ('0x' || substr(md5(line), 1, 15))::BIGINT
          ORDER BY doc_id, line_no) AS rn
        FROM ln),
      agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          string_agg(CASE WHEN rn = 1 THEN line END, ' ' ORDER BY line_no)
            AS text_kept
        FROM k GROUP BY doc_id)
      SELECT t.doc_id,
        CAST(COALESCE(agg.n_lines, 0) AS BIGINT) AS n_lines,
        CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
        COALESCE(agg.text_kept, '') AS text_kept
      FROM toks t LEFT JOIN agg USING (doc_id)"""))

  /** Boilerplate-density readout ([[Dedup.boilerplateStats]]): per
    * doc, how many of its 4-token lines have corpus document
    * frequency ≥ 3 and the exact common fraction — the measurement
    * run before committing to dedup_lines' removal threshold. The
    * oracle replays line building, the distinct-doc df, and the
    * exact ratio.
    */
  private val textBoilerplate = QueryDef(
    "text_boilerplate",
    (s, d) => Dedup.boilerplateStats(Tables.documents(s, d),
      "doc_id", "text", w = 4, minDf = 3),
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
          x -> len(x) > 0) AS w
        FROM documents),
      ln AS (SELECT doc_id, CAST((i - 1) // 4 AS BIGINT) AS line_no,
          string_agg(w[i], ' ' ORDER BY i) AS line
        FROM toks, UNNEST(generate_series(1, len(w))) t(i)
        GROUP BY doc_id, (i - 1) // 4),
      lh AS (SELECT doc_id, line_no,
          ('0x' || substr(md5(line), 1, 15))::BIGINT AS lh FROM ln),
      df AS (SELECT lh, COUNT(*) AS df FROM
             (SELECT DISTINCT doc_id, lh FROM lh) GROUP BY lh)
      SELECT doc_id, COUNT(*) AS n_lines,
        CAST(SUM(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
        ((2 * SUM(CASE WHEN df >= 3 THEN 1 ELSE 0 END) * 1000000 + COUNT(*))
          // (2 * COUNT(*))) / 1000000.0 AS common_frac
      FROM lh JOIN df USING (lh)
      GROUP BY doc_id"""))

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

  /** Content-addressed snapshot diff between two id-slice "corpus
    * versions" (old = doc_id%4≠0, new = doc_id%4≠3, so all three
    * statuses fire: %4∈{1,2} unchanged, 3 removed, 0 added). The
    * oracle replays both fingerprint rollups and the full-outer
    * classification.
    */
  private val corpusDiff = QueryDef(
    "corpus_diff",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.snapshotDiff(
        docs.filter(col("doc_id") % 4 =!= 0),
        docs.filter(col("doc_id") % 4 =!= 3),
        "doc_id", "text")
    },
    Some("""WITH f AS (SELECT doc_id,
        ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fingerprint
        FROM documents),
      o AS (SELECT fingerprint, MIN(doc_id) AS old_id,
          CAST(COUNT(*) AS BIGINT) AS n_old
        FROM f WHERE doc_id % 4 <> 0 GROUP BY 1),
      n AS (SELECT fingerprint, MIN(doc_id) AS new_id,
          CAST(COUNT(*) AS BIGINT) AS n_new
        FROM f WHERE doc_id % 4 <> 3 GROUP BY 1)
      SELECT COALESCE(o.fingerprint, n.fingerprint) AS fingerprint,
        CASE WHEN o.fingerprint IS NULL THEN 'added'
             WHEN n.fingerprint IS NULL THEN 'removed'
             ELSE 'unchanged' END AS status,
        o.old_id, n.new_id,
        CAST(COALESCE(o.n_old, 0) AS BIGINT) AS n_old,
        CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new
      FROM o FULL OUTER JOIN n ON o.fingerprint = n.fingerprint"""))

  /** Maximal shared token runs over the twin corpus: each truncated
    * twin shares its full (len-1)-token prefix with its original, so
    * every twin pair must surface as one long diagonal-0 span (unless
    * a > maxDf window splits it — the oracle replays the cap, so both
    * engines split identically).
    *
    * Window size: the minimum reportable span is minWindows + k − 1
    * tokens, so (k=5, minWindows=2) detects the same ≥6-token runs as
    * (k=3, minWindows=4) — but 5-gram windows are combinatorially
    * rarer, so the window-hash self-join's fan-out collapses (the
    * k=3 parameterization was this engine's slowest query at sf0.1:
    * the synthetic 30-word vocabulary makes trigrams hot). Longer
    * anchors = sparser postings is the same lever PPJoin's prefix
    * filter pulls.
    */
  private val dedupSpans = QueryDef(
    "dedup_spans",
    (s, d) => Dedup.sharedSpans(withTwins(s, d), "id", "text",
      k = 5, minWindows = 2, maxDf = 50),
    Some(s"""WITH $twinsSqlCte,
      toks AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w FROM docs2),
      win AS (SELECT id, i - 1 AS pos, array_to_string(w[i:i+4], ' ') AS sh
              FROM toks, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
              WHERE len(w) >= 5),
      keep AS (SELECT sh FROM win GROUP BY sh
        HAVING COUNT(DISTINCT id) <= 50 AND COUNT(*) <= 1000),
      w2 AS (SELECT win.* FROM win JOIN keep USING (sh)),
      m AS (SELECT a.id AS a_id, b.id AS b_id, a.pos AS pa, b.pos AS pb
            FROM w2 a JOIN w2 b ON a.sh = b.sh AND a.id < b.id),
      isl AS (SELECT a_id, b_id, pa - pb AS d, pa, pb,
          pa - row_number() OVER (PARTITION BY a_id, b_id, pa - pb ORDER BY pa) AS g
        FROM m),
      sp AS (SELECT a_id, b_id, d, MIN(pa) AS a_start, MIN(pb) AS b_start,
          COUNT(*) AS n_windows
        FROM isl GROUP BY a_id, b_id, d, g)
      SELECT a_id, b_id, CAST(a_start AS BIGINT) AS a_start,
        CAST(b_start AS BIGINT) AS b_start, n_windows,
        n_windows + 4 AS span_tokens
      FROM sp WHERE n_windows >= 2"""))

  /** Intra-document repeated blocks over a corpus with planted
    * self-repeats: each doc gets its own first 10 normalized tokens
    * appended, so every long-enough document must report (at least)
    * the planted block at diagonal len(original tokens).
    */
  private val dedupSelfSpans = QueryDef(
    "dedup_self_spans",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
      val toks = split(TextAnalysis.normalize(col("text")), " ")
      val planted = docs.select(col("doc_id"),
        concat_ws(" ", col("text"),
          array_join(slice(toks, 1, 10), " ")).as("text"))
      Dedup.selfSpans(planted, "doc_id", "text", k = 5, minWindows = 2)
    },
    Some("""WITH base AS (SELECT doc_id, text,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      docs3 AS (SELECT doc_id,
        text || ' ' || array_to_string(w[1:10], ' ') AS text FROM base),
      toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM docs3),
      win AS (SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+4], ' ') AS sh
              FROM toks, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
              WHERE len(w) >= 5),
      m AS (SELECT a.doc_id, a.pos AS pa, b.pos AS pb
            FROM win a JOIN win b
            ON a.sh = b.sh AND a.doc_id = b.doc_id AND a.pos < b.pos),
      isl AS (SELECT doc_id, pb - pa AS d, pa, pb,
          pa - row_number() OVER (PARTITION BY doc_id, pb - pa ORDER BY pa) AS g
        FROM m),
      sp AS (SELECT doc_id, d, MIN(pa) AS a_start, MIN(pb) AS b_start,
          COUNT(*) AS n_windows
        FROM isl GROUP BY doc_id, d, g)
      SELECT doc_id, CAST(a_start AS BIGINT) AS a_start,
        CAST(b_start AS BIGINT) AS b_start, n_windows,
        n_windows + 4 AS span_tokens
      FROM sp WHERE n_windows >= 2"""))

  /** Trim the planted self-repeats back out: the oracle replays span
    * detection, the interval union over later occurrences, and the
    * token-level rebuild — the repaired text itself is hash-checked.
    */
  private val dedupTrimSpans = QueryDef(
    "dedup_trim_spans",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
      val toks = split(TextAnalysis.normalize(col("text")), " ")
      val planted = docs.select(col("doc_id"),
        concat_ws(" ", col("text"),
          array_join(slice(toks, 1, 10), " ")).as("text"))
      Dedup.trimSelfSpans(planted, "doc_id", "text", k = 5, minWindows = 2)
    },
    Some("""WITH base AS (SELECT doc_id, text,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      docs3 AS (SELECT doc_id,
        text || ' ' || array_to_string(w[1:10], ' ') AS text FROM base),
      toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM docs3),
      win AS (SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+4], ' ') AS sh
              FROM toks, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
              WHERE len(w) >= 5),
      m AS (SELECT a.doc_id, a.pos AS pa, b.pos AS pb
            FROM win a JOIN win b
            ON a.sh = b.sh AND a.doc_id = b.doc_id AND a.pos < b.pos),
      isl AS (SELECT doc_id, pb - pa AS d, pa, pb,
          pa - row_number() OVER (PARTITION BY doc_id, pb - pa ORDER BY pa) AS g
        FROM m),
      sp AS (SELECT doc_id, d, MIN(pa) AS a_start, MIN(pb) AS b_start,
          COUNT(*) AS n_windows
        FROM isl GROUP BY doc_id, d, g),
      spans AS (SELECT doc_id, b_start, n_windows + 4 AS span_tokens
        FROM sp WHERE n_windows >= 2),
      rem AS (SELECT DISTINCT doc_id, CAST(u.p AS BIGINT) AS pos
        FROM spans,
             UNNEST(generate_series(b_start, b_start + span_tokens - 1)) u(p)),
      tk AS (SELECT doc_id, len(w) AS n_tokens, i - 1 AS pos, w[i] AS tok
        FROM toks, UNNEST(generate_series(1, len(w))) g(i)),
      kept AS (SELECT t.doc_id, t.n_tokens, t.pos, t.tok
        FROM tk t LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.pos = r.pos
        WHERE r.doc_id IS NULL),
      agg AS (SELECT doc_id, CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
        CAST(MAX(n_tokens) - COUNT(*) AS BIGINT) AS n_removed,
        array_to_string(LIST(tok ORDER BY pos), ' ') AS trimmed_text
      FROM kept GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(a.n_tokens, 0) AS n_tokens,
        COALESCE(a.n_removed, 0) AS n_removed, a.trimmed_text
      FROM docs3 d LEFT JOIN agg a USING (doc_id)"""))

  private val dedupNgramJaccard = QueryDef(
    "dedup_ngram_jaccard",
    (s, d) => Dedup.ngramJaccardPairs(withTwins(s, d), "id", "text",
      k = 3, threshold = 0.5),
    Some(s"""WITH $twinsSqlCte,
      toks AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w FROM docs2),
      sh AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
             FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
      common AS (SELECT x.id AS a_id, y.id AS b_id, COUNT(*) AS n_common
                 FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
                 GROUP BY 1, 2)
      SELECT a_id, b_id, n_common,
        CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
      FROM common
      JOIN sizes sa ON sa.id = a_id JOIN sizes sb ON sb.id = b_id
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5"""))

  /** Dedup threshold sweep — the tuning readout run before committing
    * to a near-dup threshold: pair count and distinct-documents-
    * involved at each candidate Jaccard cutoff, from ONE pass of the
    * exact pair generator at the loosest threshold. The pair table is
    * dup-pairs-sized (never the corpus), so the 5× threshold explode
    * is bounded; thresholds with no qualifying pair still emit a zero
    * row via the left join from the literal threshold dimension.
    * Comparisons are IEEE-identical in both engines (exact integer
    * quotients vs exact double literals), so the hash certifies the
    * whole curve.
    */
  private val dedupThresholdCurve = QueryDef(
    "dedup_threshold_curve",
    (s, d) => {
      import graft.datapipe.Staging.Staged
      val ts = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
      val pairs = Dedup.ngramJaccardPairs(withTwins(s, d), "id", "text",
        k = 3, threshold = 0.5).stage()
      val perT = pairs
        .select(explode(array(ts.map(lit): _*)).as("threshold"),
          col("a_id"), col("b_id"), col("jaccard"))
        .filter(col("jaccard") >= col("threshold"))
        .stage()
      val nPairs = perT.groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_pairs"))
      val nDocs = perT
        .select(col("threshold"),
          explode(array(col("a_id"), col("b_id"))).as("id"))
        .distinct()
        .groupBy(col("threshold")).agg(count(lit(1)).as("n_dup_docs"))
      val tdim = s.range(1)
        .select(explode(array(ts.map(lit): _*)).as("threshold"))
      tdim.join(nPairs, Seq("threshold"), "left")
        .join(nDocs, Seq("threshold"), "left")
        .select(col("threshold"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
    },
    Some(s"""WITH $twinsSqlCte,
      toks AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w FROM docs2),
      sh AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
             FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
      common AS (SELECT x.id AS a_id, y.id AS b_id, COUNT(*) AS n_common
                 FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
                 GROUP BY 1, 2),
      pr AS (SELECT a_id, b_id,
               CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
             FROM common
             JOIN sizes sa ON sa.id = a_id JOIN sizes sb ON sb.id = b_id
             WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5),
      tdim AS (SELECT CAST(t.threshold AS DOUBLE) AS threshold
               FROM (VALUES (0.5), (0.6), (0.7), (0.8), (0.9)) t(threshold)),
      perT AS (SELECT t.threshold, p.a_id, p.b_id
               FROM tdim t JOIN pr p ON p.jaccard >= t.threshold),
      np AS (SELECT threshold, COUNT(*) AS n_pairs FROM perT GROUP BY 1),
      nd AS (SELECT threshold, COUNT(*) AS n_dup_docs FROM
               (SELECT DISTINCT threshold, id FROM
                 (SELECT threshold, a_id AS id FROM perT
                  UNION ALL SELECT threshold, b_id FROM perT))
             GROUP BY 1)
      SELECT t.threshold, COALESCE(np.n_pairs, 0) AS n_pairs,
        COALESCE(nd.n_dup_docs, 0) AS n_dup_docs
      FROM tdim t LEFT JOIN np USING (threshold)
      LEFT JOIN nd USING (threshold)"""))

  /** LSH banding (32 bands × 2 rows) makes recall misses vanishingly
    * unlikely at the query threshold 0.8 — per-pair miss probability
    * (1-j²)³² < 1e-14 at j ≥ 0.8 (at lower thresholds, e.g. 0.5, it
    * degrades to ~1e-4 per pair and an exact oracle would be
    * corpus-dependent) — and the emitted jaccard is the exact set
    * Jaccard, so the whole operator is checkable against the
    * all-pairs exact oracle, not just rows-only.
    */
  private val dedupMinhashLsh = QueryDef(
    "dedup_minhash_lsh",
    (s, d) => Dedup.minhashPairs(withTwins(s, d), "id", "text",
      numHashes = 64, bands = 32, threshold = 0.8)
      .select(col("a_id"), col("b_id"), col("jaccard")),
    Some(s"""WITH $twinsSqlCte,
      toks AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w FROM docs2),
      sh AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
             FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
      common AS (SELECT x.id AS a_id, y.id AS b_id, COUNT(*) AS n_common
                 FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
                 GROUP BY 1, 2)
      SELECT a_id, b_id,
        CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
      FROM common
      JOIN sizes sa ON sa.id = a_id JOIN sizes sb ON sb.id = b_id
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.8"""))

  /** Incremental near-dup probe: the twins corpus split as "index =
    * originals, delta = twins" — every delta doc is a near-dup of
    * exactly its source (plus whatever the corpus happens to
    * contain), so the probe must find the cross pairs WITHOUT
    * pairing the index against itself. Same exact-Jaccard oracle
    * shape as dedup_minhash_lsh restricted to cross pairs; the same
    * 32×2 banding recall argument makes the exact oracle valid.
    */
  private val dedupMinhashProbe = QueryDef(
    "dedup_minhash_probe",
    (s, d) => {
      val both = withTwins(s, d)
      Dedup.minhashProbe(
        both.filter(col("id") < 1000000),
        both.filter(col("id") >= 1000000),
        "id", "text", numHashes = 64, bands = 32, threshold = 0.8)
        .select(col("delta_id"), col("index_id"), col("jaccard"))
    },
    Some(s"""WITH $twinsSqlCte,
      toks AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w FROM docs2),
      sh AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
             FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
      common AS (SELECT d.id AS delta_id, i.id AS index_id, COUNT(*) AS n_common
                 FROM sh d JOIN sh i ON d.shingle = i.shingle
                 WHERE d.id >= 1000000 AND i.id < 1000000
                 GROUP BY 1, 2)
      SELECT delta_id, index_id,
        CAST(n_common AS DOUBLE) / (sd.n_sh + si.n_sh - n_common) AS jaccard
      FROM common
      JOIN sizes sd ON sd.id = delta_id JOIN sizes si ON si.id = index_id
      WHERE CAST(n_common AS DOUBLE) / (sd.n_sh + si.n_sh - n_common) >= 0.8"""))

  /** T175: edit-distance verification of minhash candidates over the
    * twins corpus ([[graft.datapipe.Dedup.editVerifyPairs]]) —
    * Levenshtein is the classic unit-cost char distance in both
    * engines, so the oracle replays the exact all-pairs candidate
    * set (the 32×2 banding recall argument at j ≥ 0.8), the
    * distances, the exact relative ratio, and the confirmation
    * gate.
    */
  private val dedupEditVerify = QueryDef(
    "dedup_edit_verify",
    (s, d) => Dedup.editVerifyPairs(withTwins(s, d), "id", "text",
      numHashes = 64, bands = 32, candidateThreshold = 0.8,
      maxRel = 0.2),
    Some(s"""WITH $twinsSqlCte,
      toks AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w FROM docs2),
      sh AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
             FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
      common AS (SELECT x.id AS a_id, y.id AS b_id, COUNT(*) AS n_common
                 FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
                 GROUP BY 1, 2),
      pr AS MATERIALIZED (SELECT a_id, b_id,
          CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
            AS jaccard
        FROM common
        JOIN sizes sa ON sa.id = a_id JOIN sizes sb ON sb.id = b_id
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
          >= 0.8),
      nt AS MATERIALIZED (SELECT id,
          trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
        FROM docs2),
      ed AS (SELECT p.a_id, p.b_id, p.jaccard,
          CAST(levenshtein(ta.t, tb.t) AS BIGINT) AS df,
          CAST(GREATEST(len(ta.t), len(tb.t)) AS BIGINT) AS ml
        FROM pr p JOIN nt ta ON ta.id = p.a_id
        JOIN nt tb ON tb.id = p.b_id),
      bd AS (SELECT a_id, b_id, jaccard, df, ml,
          CAST(floor(CAST(0.2 AS DOUBLE) * CAST(ml AS DOUBLE)) AS BIGINT)
            AS k
        FROM ed)
      SELECT a_id, b_id, jaccard,
        CASE WHEN df <= k THEN df END AS dist,
        CASE WHEN df <= k THEN
          ((2 * df * 1000000 + ml) // (2 * ml)) / 1000000.0 END AS rel_dist,
        df <= k AS edit_confirmed
      FROM bd"""))

  /** Steady-state incremental probe: the SAME semantics as
    * dedup_minhash_probe but against a MATERIALIZED signature/band
    * table ([[Dedup.minhashIndexTable]] written to parquet once per
    * fixture, keyed by a content fingerprint of the source files so
    * a regenerated fixture can never hit a stale index). This is the
    * production recrawl shape the round-13 fixed-delta SCALE wave
    * showed was hidden by the in-query rebuild (index re-hashing at
    * corpus exponent 0.40): here only the delta is hashed per run
    * and the index contributes a scan of the prebuilt table. The
    * oracle is the same exact cross-pair Jaccard as the rebuild
    * form — materialization must be invisible in the output.
    */
  /** Version of what a cached index holds: its table layout and the
    * hashing that fills it (shingles, MinHash signature, band keys).
    * Bump it with any change to them, so no run probes a cache that
    * older code wrote.
    */
  private[graft] val MinhashIndexFormat = 1
  private val MinhashIndexHashes = 64
  private val MinhashIndexBands = 32
  private val MinhashIndexPrefix = "graft_minhash_index_"
  /** Marker file naming the format of the cache directory it sits in. */
  private val MinhashIndexFormatFile = "FORMAT"

  /** Cache directory of the fixture's base index: keyed on the format
    * version, the signature and band sizes, and the documents' paths,
    * sizes and mtimes, so a regenerated fixture or a new format never
    * hits a stale index.
    */
  private[graft] def minhashIndexCachePath(d: String,
      format: Int = MinhashIndexFormat, numHashes: Int = MinhashIndexHashes,
      bands: Int = MinhashIndexBands): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
          .flatMap(walk)
      else Seq(f)
    val src = walk(new java.io.File(d, "documents.parquet"))
      .sortBy(_.getPath)
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}")
      .mkString("|")
    val key = s"v$format|h$numHashes|b$bands|$d|$src"
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    s"${sys.props("java.io.tmpdir")}/$MinhashIndexPrefix$h"
  }

  /** Delete the index caches under `root` that another format version
    * wrote (a missing or different FORMAT marker); caches of this
    * version, for any fixture, stay.
    */
  private[graft] def removeOtherMinhashIndexFormats(root: java.io.File): Unit =
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith(MinhashIndexPrefix))
      .filterNot { dir =>
        val marker = new java.io.File(dir, MinhashIndexFormatFile).toPath
        java.nio.file.Files.isRegularFile(marker) &&
          new String(java.nio.file.Files.readAllBytes(marker),
            java.nio.charset.StandardCharsets.UTF_8).trim == MinhashIndexFormat.toString
      }
      .foreach(dir => org.apache.commons.io.FileUtils.deleteQuietly(dir))

  /** Build-or-reuse the content-keyed materialized index of the
    * fixture's BASE documents (ids < 1000000): signature table at
    * `<path>/hh`, pre-exploded buckets at `<path>/bb`. Shared by the
    * prebuilt-probe and append-chain entries — the base index is
    * identical in both, so one build amortizes across entries AND
    * bench reps. Only a build, never a reuse, sweeps the caches of
    * other format versions out of the temp directory.
    */
  private def ensureMinhashIndexCached(
      s: org.apache.spark.sql.SparkSession, d: String): String = {
    val path = minhashIndexCachePath(d)
    if (!new java.io.File(s"$path/hh", "_SUCCESS").exists() ||
      !new java.io.File(s"$path/bb", "_SUCCESS").exists()) {
      val dir = new java.io.File(path)
      dir.mkdirs()
      java.nio.file.Files.write(new java.io.File(dir, MinhashIndexFormatFile).toPath,
        MinhashIndexFormat.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      removeOtherMinhashIndexFormats(dir.getParentFile)
      val docs = Tables.documents(s, d)
        .select(col("doc_id").as("id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
      Dedup.minhashIndexWrite(docs, "id", "text", path,
        numHashes = MinhashIndexHashes, bands = MinhashIndexBands)
    }
    path
  }

  private val dedupProbeMaterialized = QueryDef(
    "dedup_probe_materialized",
    (s, d) => {
      val both = withTwins(s, d)
      val path = ensureMinhashIndexCached(s, d)
      Dedup.minhashProbePrebuilt(Dedup.readIndexTable(s, s"$path/hh"),
        Dedup.readBucketsTable(s, s"$path/bb"),
        both.filter(col("id") >= 1000000),
        "id", "text", numHashes = MinhashIndexHashes, bands = MinhashIndexBands, threshold = 0.8)
        .select(col("delta_id"), col("index_id"), col("jaccard"))
    },
    Some(s"""WITH $twinsSqlCte,
      toks AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w FROM docs2),
      sh AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
             FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
      common AS (SELECT d.id AS delta_id, i.id AS index_id, COUNT(*) AS n_common
                 FROM sh d JOIN sh i ON d.shingle = i.shingle
                 WHERE d.id >= 1000000 AND i.id < 1000000
                 GROUP BY 1, 2)
      SELECT delta_id, index_id,
        CAST(n_common AS DOUBLE) / (sd.n_sh + si.n_sh - n_common) AS jaccard
      FROM common
      JOIN sizes sd ON sd.id = delta_id JOIN sizes si ON si.id = index_id
      WHERE CAST(n_common AS DOUBLE) / (sd.n_sh + si.n_sh - n_common) >= 0.8"""))

  /** Two-day incremental chain over the materialized index — the
    * loop-closing APPEND shape ([[Dedup.minhashIndexAppend]]):
    * day 1 probes twins of the EVEN docs against the base index,
    * then the day-1 delta is appended to the signature and bucket
    * tables; day 2 probes identical copies of day 1's delta (ids
    * +2000000) plus twins of the ODD docs (ids +3000000). The day-2
    * verdicts MUST contain (day2_id, day1_id) j=1.0 pairs — those
    * index entries exist only via the append (the base index never
    * held ids ≥ 1000000), so the entry certifies that an appended
    * probe is indistinguishable from a from-scratch rebuild over
    * index ∪ delta. Day-1 verdicts are written out before the append
    * (the production ledger order); laziness can therefore never
    * read day-1 results through the mutated table. The oracle
    * replays both days as exact cross-pair Jaccard, day 2 against
    * base ∪ day-1.
    *
    * With `compact`, the day-1 append is COMPACTED into a fresh index
    * version ([[Dedup.minhashIndexCompact]]: MANIFEST swap, no
    * re-hashing) before day 2 probes, so day 2 reads ONE rewritten
    * root instead of base + delta dirs. Both forms share the oracle:
    * compaction must be invisible in every output row.
    */
  private def probeChain(s: org.apache.spark.sql.SparkSession, d: String,
                         compact: Boolean): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id").as("id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
    val toks = split(TextAnalysis.normalize(col("text")), " ")
    val twin = array_join(slice(toks, lit(1), size(toks) - 1), " ")
    val day1 = docs.filter(col("id") % 2 === 0)
      .select((col("id") + 1000000).as("id"), twin.as("text"))
    val day2 = docs.filter(col("id") % 2 === 0)
      .select((col("id") + 2000000).as("id"), twin.as("text"))
      .unionByName(docs.filter(col("id") % 2 === 1)
        .select((col("id") + 3000000).as("id"), twin.as("text")))
    // the base index is the content-keyed cache dedup_probe_
    // materialized maintains; each run APPENDS, so it works on a
    // file-level COPY — append idempotency is the caller's contract
    // and a re-run must start from the un-appended base
    val cached = ensureMinhashIndexCached(s, d)
    val path = ScratchDirs.freshAppendScratch(
      if (compact) "graft_probe_compact" else "graft_probe_append")
    ScratchDirs.copyDir(s"$cached/hh", s"$path/hh")
    ScratchDirs.copyDir(s"$cached/bb", s"$path/bb")
    // the index is re-read per probe: day 2 must see the append (and,
    // after a compaction, the MANIFEST's new version)
    def probe(delta: org.apache.spark.sql.DataFrame) = {
      val (hh, bb) = Dedup.readIndexTables(s, path)
      Dedup.minhashProbePrebuilt(hh, bb, delta, "id", "text",
        numHashes = MinhashIndexHashes, bands = MinhashIndexBands, threshold = 0.8)
    }
    // day-1 verdicts published BEFORE the append mutates the index
    probe(day1).write.mode("overwrite").parquet(s"$path/verdicts1")
    Dedup.minhashIndexAppend(day1, "id", "text",
      s"$path/hh", s"$path/bb", numHashes = MinhashIndexHashes, bands = MinhashIndexBands)
    if (compact) Dedup.minhashIndexCompact(s, path)
    s.read.parquet(s"$path/verdicts1")
      .select(lit(1L).as("day"), col("delta_id"), col("index_id"),
        col("jaccard"))
      .unionByName(probe(day2)
        .select(lit(2L).as("day"), col("delta_id"), col("index_id"),
          col("jaccard")))
  }

  private val probeChainOracle = """WITH docs0 AS (SELECT doc_id AS id, text FROM documents),
      tok AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM docs0),
      tw AS (SELECT id, array_to_string(w[1:len(w)-1], ' ') AS text FROM tok),
      day1 AS (SELECT id + 1000000 AS id, text FROM tw WHERE id % 2 = 0),
      day2 AS (SELECT id + 2000000 AS id, text FROM tw WHERE id % 2 = 0
               UNION ALL
               SELECT id + 3000000 AS id, text FROM tw WHERE id % 2 = 1),
      idx2 AS (SELECT id, text FROM docs0 UNION ALL SELECT id, text FROM day1),
      shB AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
              FROM tok, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      tokI2 AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM idx2),
      shI2 AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
               FROM tokI2, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      tokD1 AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM day1),
      shD1 AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
               FROM tokD1, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      tokD2 AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM day2),
      shD2 AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
               FROM tokD2, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      szB AS (SELECT id, COUNT(*) AS n_sh FROM shB GROUP BY id),
      szI2 AS (SELECT id, COUNT(*) AS n_sh FROM shI2 GROUP BY id),
      szD1 AS (SELECT id, COUNT(*) AS n_sh FROM shD1 GROUP BY id),
      szD2 AS (SELECT id, COUNT(*) AS n_sh FROM shD2 GROUP BY id),
      c1 AS (SELECT d.id AS delta_id, i.id AS index_id, COUNT(*) AS n_common
             FROM shD1 d JOIN shB i ON d.shingle = i.shingle GROUP BY 1, 2),
      c2 AS (SELECT d.id AS delta_id, i.id AS index_id, COUNT(*) AS n_common
             FROM shD2 d JOIN shI2 i ON d.shingle = i.shingle GROUP BY 1, 2),
      v1 AS (SELECT CAST(1 AS BIGINT) AS day, delta_id, index_id,
               CAST(n_common AS DOUBLE) / (sd.n_sh + si.n_sh - n_common) AS jaccard
             FROM c1 JOIN szD1 sd ON sd.id = delta_id
             JOIN szB si ON si.id = index_id
             WHERE CAST(n_common AS DOUBLE) / (sd.n_sh + si.n_sh - n_common) >= 0.8),
      v2 AS (SELECT CAST(2 AS BIGINT) AS day, delta_id, index_id,
               CAST(n_common AS DOUBLE) / (sd.n_sh + si.n_sh - n_common) AS jaccard
             FROM c2 JOIN szD2 sd ON sd.id = delta_id
             JOIN szI2 si ON si.id = index_id
             WHERE CAST(n_common AS DOUBLE) / (sd.n_sh + si.n_sh - n_common) >= 0.8)
      SELECT * FROM v1 UNION ALL SELECT * FROM v2"""

  private val e2eProbeAppend = QueryDef(
    "e2e_probe_append",
    (s, d) => probeChain(s, d, compact = false),
    Some(probeChainOracle))

  private val e2eProbeCompact = QueryDef(
    "e2e_probe_compact",
    (s, d) => probeChain(s, d, compact = true),
    Some(probeChainOracle))

  /** Ingest-churn verdicts: delta = near-dup twins of every doc +
    * identical copies of the %7 docs + fully-rewritten (every token
    * suffixed) %11 docs — so all three categories fire and the
    * exact>near precedence is exercised (identical copies are also
    * j=1.0 near pairs but must report exact_dup). The oracle replays
    * the planting, both fingerprint legs, and the exact cross-pair
    * Jaccard near leg.
    */
  /** Minhash index-health readout ([[Dedup.dedupIndexStats]]) after
    * one appended day — the COMPACT-scheduling twin of
    * sim_index_stats: per table, the served row count (base +
    * committed deltas) and the committed delta-dir count. The append
    * goes through the root-resolving overload
    * ([[Dedup.minhashIndexAppendRoot]]) — the API a versioned root
    * requires — and the oracle derives the row counts from the
    * corpus construction (one signature row per doc, `bands` = 32
    * bucket rows per doc; every fixture doc has ≥ 3 tokens, so no
    * doc is shingle-less) and the delta count from the single
    * commit. `n_files` stays a function-level readout (asserted in
    * the ops spec): base file counts depend on the cache writer's
    * partitioning, which is not a corpus-derivable quantity.
    */
  private val dedupIndexStatsQ = QueryDef(
    "dedup_index_stats",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id").as("id"), col("text"))
      val toks = split(TextAnalysis.normalize(col("text")), " ")
      val day1 = docs.filter(col("id") % 2 === 0)
        .select((col("id") + 1000000).as("id"),
          array_join(slice(toks, lit(1), size(toks) - 1), " ").as("text"))
      val cached = ensureMinhashIndexCached(s, d)
      val path = ScratchDirs.freshAppendScratch("graft_dedup_stats")
      ScratchDirs.copyDir(s"$cached/hh", s"$path/hh")
      ScratchDirs.copyDir(s"$cached/bb", s"$path/bb")
      Dedup.minhashIndexAppendRoot(day1, "id", "text", path,
        numHashes = MinhashIndexHashes, bands = MinhashIndexBands, commitId = Some("day-1"))
      Dedup.dedupIndexStats(s, path)
        .select(col("tbl"), col("n_rows"), col("n_deltas"))
    },
    Some("""WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
      d1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1 FROM documents
             WHERE doc_id % 2 = 0)
      SELECT 'hh' AS tbl, nd + n1 AS n_rows, CAST(1 AS BIGINT) AS n_deltas
      FROM n, d1
      UNION ALL
      SELECT 'bb' AS tbl, 32 * (nd + n1) AS n_rows,
        CAST(1 AS BIGINT) AS n_deltas
      FROM n, d1"""))

  private val e2eIngestChurn = QueryDef(
    "e2e_ingest_churn",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id").as("id"), col("text"))
      val toks = split(TextAnalysis.normalize(col("text")), " ")
      val delta = docs
        .select((col("id") + 1000000).as("id"),
          array_join(slice(toks, lit(1), size(toks) - 1), " ").as("text"))
        .unionByName(docs.filter(col("id") % 7 === 0)
          .select((col("id") + 2000000).as("id"), col("text")))
        .unionByName(docs.filter(col("id") % 11 === 0)
          .select((col("id") + 3000000).as("id"),
            array_join(transform(toks, w => concat(w, lit("x"))), " ")
              .as("text")))
      Dedup.ingestChurn(docs, delta, "id", "text")
    },
    Some("""WITH docs0 AS (SELECT doc_id AS id, text FROM documents),
      tok AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM docs0),
      delta AS (
        SELECT id + 1000000 AS id, array_to_string(w[1:len(w)-1], ' ') AS text FROM tok
        UNION ALL
        SELECT id + 2000000 AS id, text FROM docs0 WHERE id % 7 = 0
        UNION ALL
        SELECT id + 3000000 AS id,
          array_to_string(list_transform(w, x -> x || 'x'), ' ') AS text
        FROM tok WHERE id % 11 = 0),
      fidx AS (SELECT ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fp FROM docs0),
      fdl AS (SELECT id, ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fp FROM delta),
      ex AS (SELECT DISTINCT d.id FROM fdl d JOIN fidx i USING (fp)),
      shI AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
              FROM tok, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      tokD AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM delta),
      shD AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
              FROM tokD, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      szI AS (SELECT id, COUNT(*) AS n_sh FROM shI GROUP BY id),
      szD AS (SELECT id, COUNT(*) AS n_sh FROM shD GROUP BY id),
      common AS (SELECT d.id AS delta_id, i.id AS index_id, COUNT(*) AS n_common
                 FROM shD d JOIN shI i ON d.shingle = i.shingle GROUP BY 1, 2),
      near AS (SELECT DISTINCT delta_id AS id
               FROM common JOIN szD sd ON sd.id = delta_id
               JOIN szI si ON si.id = index_id
               WHERE CAST(n_common AS DOUBLE) / (sd.n_sh + si.n_sh - n_common) >= 0.8)
      SELECT d.id AS delta_id,
        CASE WHEN ex.id IS NOT NULL THEN 'exact_dup'
             WHEN near.id IS NOT NULL THEN 'near_dup'
             ELSE 'novel' END AS category
      FROM delta d LEFT JOIN ex ON ex.id = d.id
      LEFT JOIN near ON near.id = d.id"""))

  /** SimHash near-dup pairs over the twins corpus, oracle-checked
    * END-TO-END: the catalog entry hashes shingles with the
    * engine-portable md5-derived 60-bit hash
    * ([[Dedup.shingleHashesPortable]]) so DuckDB can rebuild the
    * exact same codes — token hash → ±1 bit votes → code — and then
    * enumerate all-pairs hamming ≤ 7 by brute force. The banded
    * Spark plan must emit exactly that set (pigeonhole: 8 bands of 8
    * bits catch every pair with < 8 differing bits), so this checks
    * the hash, the vote fold, the band join, AND the verification in
    * one hash-equality. The xxhash64 fast path stays the library
    * default and keeps its exactness assertion in SimHashSpec.
    */
  private val dedupSimhash = QueryDef(
    "dedup_simhash",
    (s, d) => Dedup.simhashPairs(withTwins(s, d), "id", "text",
      k = 3, bands = 8, maxHamming = 7,
      hashPipeline = (t, kk) => Dedup.shingleHashesPortable(Dedup.shingles(t, kk)))
      .select(col("a_id"), col("b_id"),
        col("hamming").cast("bigint").as("hamming")),
    Some(s"""WITH $twinsSqlCte,
      toks AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w FROM docs2),
      sh AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS s
             FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      th AS (SELECT id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
      votes AS (SELECT id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
                FROM th, UNNEST(generate_series(0, 59)) AS t(b) GROUP BY 1, 2),
      code AS (SELECT id, COALESCE(SUM(CASE WHEN v > 0 THEN 1::BIGINT << b END), 0) AS c
               FROM votes GROUP BY 1)
      SELECT a.id AS a_id, b.id AS b_id,
        CAST(bit_count(xor(a.c, b.c)) AS BIGINT) AS hamming
      FROM code a JOIN code b ON a.id < b.id
      WHERE bit_count(xor(a.c, b.c)) <= 7"""))

  /** Near-dup detector quality certification — the dedup analogue of
    * `sim_ivf_recall`: precision/recall of the SimHash detector
    * (hamming ≤ 7 over 60-bit codes) against the exact-Jaccard ≥ 0.8
    * ground truth, on the twins corpus. One summary row; the pair
    * join is dup-pairs-bounded; ratios engine-exact. The oracle
    * replays BOTH detector chains (shingle sets shared in one CTE)
    * and the full-outer hit join, so the hash certifies the
    * measurement, not just the counts.
    */
  private val dedupPairQuality = QueryDef(
    "dedup_pair_quality",
    (s, d) => {
      val truth = Dedup.ngramJaccardPairs(withTwins(s, d), "id", "text",
        k = 3, threshold = 0.8)
        .select(col("a_id"), col("b_id"), lit(1).as("t"))
      val found = Dedup.simhashPairs(withTwins(s, d), "id", "text",
        k = 3, bands = 8, maxHamming = 7,
        hashPipeline = (t, kk) => Dedup.shingleHashesPortable(Dedup.shingles(t, kk)))
        .select(col("a_id"), col("b_id"), lit(1).as("f"))
      truth.join(found, Seq("a_id", "b_id"), "full_outer")
        .agg(count(col("t")).as("n_truth"), count(col("f")).as("n_found"),
          count(when(col("t").isNotNull && col("f").isNotNull, 1))
            .as("n_hit"))
        .select(col("n_truth"), col("n_found"), col("n_hit"),
          graft.functions.ExactRound.ratio6(col("n_hit"), col("n_found"))
            .as("precision"),
          graft.functions.ExactRound.ratio6(col("n_hit"), col("n_truth"))
            .as("recall"))
    },
    Some(s"""WITH $twinsSqlCte,
      toks AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w FROM docs2),
      sh AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
             FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
      common AS (SELECT x.id AS a_id, y.id AS b_id, COUNT(*) AS n_common
                 FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
                 GROUP BY 1, 2),
      truth AS (SELECT a_id, b_id FROM common
                JOIN sizes sa ON sa.id = a_id JOIN sizes sb ON sb.id = b_id
                WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.8),
      th AS (SELECT id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
      votes AS (SELECT id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
                FROM th, UNNEST(generate_series(0, 59)) AS t(b) GROUP BY 1, 2),
      code AS (SELECT id, COALESCE(SUM(CASE WHEN v > 0 THEN 1::BIGINT << b END), 0) AS c
               FROM votes GROUP BY 1),
      found AS (SELECT a.id AS a_id, b.id AS b_id
                FROM code a JOIN code b ON a.id < b.id
                WHERE bit_count(xor(a.c, b.c)) <= 7),
      j AS (SELECT COUNT(t.a_id) AS n_truth, COUNT(f.a_id) AS n_found,
              COUNT(CASE WHEN t.a_id IS NOT NULL AND f.a_id IS NOT NULL
                    THEN 1 END) AS n_hit
            FROM truth t FULL OUTER JOIN found f
              ON t.a_id = f.a_id AND t.b_id = f.b_id)
      SELECT n_truth, n_found, n_hit,
        ((2 * n_hit * 1000000 + n_found) // (2 * n_found)) / 1000000.0 AS precision,
        ((2 * n_hit * 1000000 + n_truth) // (2 * n_truth)) / 1000000.0 AS recall
      FROM j"""))

  /** Content-defined chunking for passage-level dedup: the chunk
    * BOUNDARIES come from a rolling hash (not SQL-expressible), so
    * the oracle checks the invariant it can — per-document chunk
    * bytes must reassemble to exactly the document's bytes — while
    * ChunkerSpec asserts byte-exact reassembly, length bounds, and
    * boundary resynchronization after edits. */
  private val dedupCdcChunks = QueryDef(
    "dedup_cdc_chunks",
    (s, d) => graft.datapipe.Chunker.chunkTable(s, Tables.documents(s, d))
      .groupBy(col("doc_id"))
      .agg(sum(col("chunk_len")).as("total_chunk_bytes"),
        countDistinct(col("chunk_md5")).as("n_distinct_chunks"))
      .select(col("doc_id"), col("total_chunk_bytes")),
    Some("""SELECT doc_id,
      CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT)
        AS total_chunk_bytes
      FROM documents"""))

  /** Mixture tuning: keep all of src0, 10% of src1, 40% elsewhere —
    * decided by a stable per-doc hash, so the same rows survive on
    * any cluster layout (df.sample's per-partition RNG does not). */
  private val sampleStratified = QueryDef(
    "sample_stratified",
    (s, d) => Sampling.stratifiedSample(
      Tables.documents(s, d), col("doc_id"), col("source"),
      Map("src0" -> 100, "src1" -> 10), defaultPercent = 40)
      .select(col("doc_id"), col("source")),
    Some("""SELECT doc_id, source FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
        < CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 10 ELSE 40 END"""))

  /** Same counters as a1 via the two-stage salted aggregate — the
    * skew path for when one key dominates (the oracle proves the
    * partial/re-aggregate split loses nothing). */
  private val a1Salted = QueryDef(
    "a1_salted_counters",
    (s, d) => Sampling.saltedCounts(
      Tables.events(s, d), col("event_type"), 32, col("event_id")),
    Some("""SELECT event_type AS key, COUNT(*) AS n
      FROM events GROUP BY event_type"""))

  /** Shared CTE chain: exact all-pairs jaccard >= 0.8 over the twins
    * corpus (the dedup_minhash_lsh oracle), reduced to a pair list. */
  private val exactPairsCte =
    s"""$twinsSqlCte,
      toks AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w FROM docs2),
      sh AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
             FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
      common AS (SELECT x.id AS a_id, y.id AS b_id, COUNT(*) AS n_common
                 FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
                 GROUP BY 1, 2),
      pairs AS (SELECT a_id, b_id FROM common
        JOIN sizes sa ON sa.id = a_id JOIN sizes sb ON sb.id = b_id
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.8),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                UNION ALL SELECT b_id, a_id FROM pairs),
      reach(id, r) AS (SELECT id, id FROM docs2
        UNION
        SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id)"""

  /** The minhash pair table (64 hashes, 32 bands, jaccard ≥ 0.8)
    * behind the three cluster-family entries below. Built per entry:
    * every harness drops caches between entries, so a shared copy
    * would never be reused, and [[Dedup.clusters]], the one consumer,
    * already persists the edges it derives from the pairs.
    */
  private def clusterPairs(s: org.apache.spark.sql.SparkSession,
                           d: String): DataFrame =
    Dedup.minhashPairs(withTwins(s, d), "id", "text", 64, 32, 0.8)

  /** Near-dup clusters = connected components over the minhash pair
    * list; the oracle replays the closure with a recursive CTE over
    * the exact pair set (recall argument as in dedup_minhash_lsh). */
  private val dedupClusters = QueryDef(
    "dedup_clusters",
    (s, d) => {
      val corpus = withTwins(s, d)
      Dedup.clusters(corpus, "id", clusterPairs(s, d))
    },
    Some(s"""WITH RECURSIVE $exactPairsCte
      SELECT id, min(r) AS cluster_id FROM reach GROUP BY id"""))

  /** Cluster-size histogram over the near-dup graph — the dedup
    * observability readout next to [[dedupStats]]: how many clusters
    * of each size exist (size 1 = unique docs). Composition over the
    * certified T5 clustering: two further bounded aggregations; the
    * oracle reuses the same reachability CTE.
    */
  private val dedupClusterSizes = QueryDef(
    "dedup_cluster_sizes",
    (s, d) => {
      val corpus = withTwins(s, d)
      Dedup.clusters(corpus, "id", clusterPairs(s, d))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
    },
    Some(s"""WITH RECURSIVE $exactPairsCte,
      cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
      szs AS (SELECT cluster_id, COUNT(*) AS sz FROM cl GROUP BY 1)
      SELECT sz AS cluster_size, COUNT(*) AS n_clusters
      FROM szs GROUP BY sz"""))

  /** The dedup SELECT itself: one representative per cluster. */
  private val dedupKeepOne = QueryDef(
    "dedup_keep_one",
    (s, d) => {
      val corpus = withTwins(s, d)
      Dedup.keepOne(corpus, "id", clusterPairs(s, d))
    },
    Some(s"""WITH RECURSIVE $exactPairsCte
      SELECT id, min(r) AS cluster_id, id = min(r) AS keep
      FROM reach GROUP BY id"""))

  /** Concat-and-chunk sequence packing (whitespace token counts,
    * capacity 512). The oracle's single-partition window running sum
    * is the SEMANTIC spec; the Spark side computes the same prefix
    * sum with the two-pass distributed scan in [[Packing]] — the
    * oracle proving the distributed offsets equal the sequential
    * ones is the whole point of the entry.
    */
  private val packChunks = QueryDef(
    "pack_chunks",
    (s, d) => Packing.packChunks(Tables.documents(s, d), col("doc_id"),
      TextAnalysis.tokenCount(col("text")), capacity = 512),
    Some("""WITH t AS (SELECT doc_id AS id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
        FROM documents),
      c AS (SELECT id, n,
        COALESCE(SUM(n) OVER (ORDER BY id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
        FROM t WHERE n > 0)
      SELECT id AS doc_id, b AS chunk_id,
        CAST(least(s + n, (b + 1) * 512) - greatest(s, b * 512) AS BIGINT)
          AS n_tokens
      FROM c, UNNEST(generate_series(CAST(s // 512 AS BIGINT),
        CAST((s + n - 1) // 512 AS BIGINT))) AS u(b)"""))

  /** Length-bucketed inference batches of 8 same-bucket sequences;
    * the oracle replays the CASE bucket chain, the per-bucket
    * row_number batching, and the padding arithmetic.
    */
  private val packLengthBuckets = QueryDef(
    "pack_length_buckets",
    (s, d) => Packing.lengthBuckets(Tables.documents(s, d), col("doc_id"),
      TextAnalysis.tokenCount(col("text")), batchSize = 8),
    Some("""WITH t AS (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents),
      b AS (SELECT doc_id, n_tokens,
        CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
             WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
             WHEN n_tokens <= 256 THEN 256 ELSE 512 END AS bucket
        FROM t WHERE n_tokens > 0)
      SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket,
        CAST((row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 8
          AS BIGINT) AS batch_id,
        CAST(greatest(bucket - n_tokens, 0) AS BIGINT) AS pad
      FROM b"""))

  /** Packing-strategy efficiency readout (T102): concat-and-chunk vs
    * length-bucketed padding waste on the same corpus, both replayed
    * end-to-end by the oracle (the prefix-sum chunking AND the
    * bucket/batch chain feed the two waste fractions), so the hash
    * certifies the full comparison a batch-assembler decision reads.
    */
  private val packEfficiency = QueryDef(
    "pack_efficiency",
    (s, d) => Packing.packEfficiency(Tables.documents(s, d), col("doc_id"),
      TextAnalysis.tokenCount(col("text")), capacity = 512, batchSize = 8),
    Some("""WITH t AS (SELECT doc_id AS id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
        FROM documents),
      c AS (SELECT id, n,
        COALESCE(SUM(n) OVER (ORDER BY id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
        FROM t WHERE n > 0),
      ch AS (SELECT id, b,
        least(s + n, (b + 1) * 512) - greatest(s, b * 512) AS tok
        FROM c, UNNEST(generate_series(CAST(s // 512 AS BIGINT),
          CAST((s + n - 1) // 512 AS BIGINT))) AS u(b)),
      cc AS (SELECT CAST(MAX(b) + 1 AS BIGINT) AS n_bins,
        CAST(SUM(tok) AS BIGINT) AS used FROM ch),
      bb AS (SELECT id, n, bucket,
        (row_number() OVER (PARTITION BY bucket ORDER BY id) - 1) // 8
          AS batch
        FROM (SELECT id, n,
          CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
               WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
               WHEN n <= 256 THEN 256 ELSE 512 END AS bucket
          FROM t WHERE n > 0)),
      lb AS (SELECT
        CAST(COUNT(DISTINCT bucket * 1000000 + batch) AS BIGINT) AS n_bins,
        CAST(SUM(least(n, bucket)) AS BIGINT) AS used,
        CAST(SUM(bucket) AS BIGINT) AS cap,
        CAST(SUM(greatest(bucket - n, 0)) AS BIGINT) AS padding FROM bb)
      SELECT 'concat_chunk' AS strategy, n_bins,
        n_bins * 512 AS capacity_tokens, used AS used_tokens,
        ((2 * (n_bins * 512 - used) * 1000000 + n_bins * 512)
          // (2 * n_bins * 512)) / 1000000.0 AS waste_frac
      FROM cc
      UNION ALL
      SELECT 'length_bucket', n_bins, cap, used,
        ((2 * padding * 1000000 + cap) // (2 * cap)) / 1000000.0
      FROM lb"""))

  /** Inter-source 3-gram overlap matrix (Jaccard over distinct gram
    * sets, zero-intersection pairs absent). The oracle rebuilds
    * every source's gram set from strings and replays intersection,
    * union, and the division.
    */
  private val sourceOverlap = QueryDef(
    "source_overlap",
    (s, d) => Dedup.sourceOverlap(Tables.documents(s, d),
      "text", "source", k = 3),
    Some("""WITH toks AS (SELECT source,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      sg AS (SELECT DISTINCT source, array_to_string(w[i:i+2], ' ') AS g
        FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3),
      sizes AS (SELECT source, COUNT(*) AS n FROM sg GROUP BY source),
      inter AS (SELECT a.source AS src_a, b.source AS src_b,
          CAST(COUNT(*) AS BIGINT) AS inter
        FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2)
      SELECT src_a, src_b, inter,
        CAST(sa.n + sb.n - inter AS BIGINT) AS union_n,
        ((2 * inter * 1000000 + (sa.n + sb.n - inter))
          // (2 * (sa.n + sb.n - inter))) / 1000000.0 AS jaccard
      FROM inter
      JOIN sizes sa ON sa.source = src_a
      JOIN sizes sb ON sb.source = src_b"""))

  /** Benchmark decontamination: docs with doc_id % 17 == 0 play the
    * benchmark corpus, the rest are training docs scored by shared
    * k-shingle fraction. Spark joins on xxhash64 longs, the oracle
    * on the shingle strings — equal counts under the same
    * collision-free assumption the ngram/minhash oracles use.
    */
  private val decontaminate = QueryDef(
    "decontaminate",
    (s, d) => {
      // Same rationale as withTwins: the test corpus is one parquet
      // split; real corpora arrive in thousands. Repartition so the
      // per-document shingle work uses the full parallelism.
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
      Contamination.score(
        docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", k = 3)
    },
    Some("""WITH toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
             FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0),
      tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 <> 0),
      sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY 1),
      shared AS (SELECT tr.doc_id, COUNT(*) AS n_shared
                 FROM tr JOIN b USING (shingle) GROUP BY 1)
      SELECT d.doc_id, COALESCE(n_shared, 0) AS n_shared,
        COALESCE(n_shingles, 0) AS n_shingles,
        CASE WHEN COALESCE(n_shingles, 0) = 0 THEN NULL
          ELSE CAST(COALESCE(n_shared, 0) AS DOUBLE) / n_shingles END
          AS contamination
      FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
      LEFT JOIN sizes z ON d.doc_id = z.doc_id
      LEFT JOIN shared ON d.doc_id = shared.doc_id"""))

  /** The split-hygiene audit a pretraining pipeline runs after
    * carving train/validation/test: for every TRAIN document, the
    * fraction of its shingles appearing anywhere in the held-out
    * splits — [[Sampling.splitTag]] feeding
    * [[Contamination.scoreShuffled]], the shuffle-join variant,
    * because at 100 TB the held-out side is itself far past any
    * broadcast or Bloom budget. Runs over the twins corpus so
    * near-duplicates (different fingerprints → possibly different
    * splits) create real cross-split leakage for the score to find.
    * The oracle replays fingerprint, bucket, split CASE, shingle
    * sets, and the join in one chain — the hash certifies the stage
    * boundary.
    */
  private val e2eSplitDecontam = QueryDef(
    "e2e_split_decontam",
    (s, d) => {
      import graft.datapipe.Staging.Staged
      val tagged = withTwins(s, d)
        .withColumn("split", Sampling.splitTag(col("text"), 90, 5))
        .stage()
      Contamination.scoreShuffled(
        tagged.filter(col("split") === "train"),
        tagged.filter(col("split") =!= "train"),
        "id", "text", k = 3)
    },
    Some(s"""WITH $twinsSqlCte,
      tag AS (SELECT id, text,
        ('0x' || substr(md5('split:' || CAST(
          ('0x' || substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 15))::BIGINT
          AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        FROM docs2),
      sp AS (SELECT id, text,
        CASE WHEN bucket < 90 THEN 'train'
             WHEN bucket < 95 THEN 'validation'
             ELSE 'test' END AS split FROM tag),
      toks AS (SELECT id, split,
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w FROM sp),
      sh AS (SELECT DISTINCT id, split, array_to_string(w[i:i+2], ' ') AS shingle
             FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      b AS (SELECT DISTINCT shingle FROM sh WHERE split <> 'train'),
      tr AS (SELECT id, shingle FROM sh WHERE split = 'train'),
      sizes AS (SELECT id, COUNT(*) AS n_shingles FROM tr GROUP BY 1),
      shared AS (SELECT tr.id, COUNT(*) AS n_shared
                 FROM tr JOIN b USING (shingle) GROUP BY 1)
      SELECT d.id AS doc_id, COALESCE(n_shared, 0) AS n_shared,
        COALESCE(n_shingles, 0) AS n_shingles,
        CASE WHEN COALESCE(n_shingles, 0) = 0 THEN NULL
          ELSE CAST(COALESCE(n_shared, 0) AS DOUBLE) / n_shingles END
          AS contamination
      FROM (SELECT id FROM sp WHERE split = 'train') d
      LEFT JOIN sizes z ON d.id = z.id
      LEFT JOIN shared ON d.id = shared.id"""))

  /** Span-level decontamination over PLANTED contamination: training
    * docs with doc_id % 5 == 1 get the first 10 normalized tokens of
    * a deterministically-chosen benchmark doc (id 17·((doc_id % 13)+1),
    * when it exists) appended, so [[Dedup.contaminationSpans]] must
    * report each planted (train, bench) span at the train doc's end
    * and the bench doc's start — plus any natural overlaps. The
    * oracle replays the planting join, the union'd df/occurrence
    * caps, the two-sided window join, and the islands, so positions
    * and lengths are hash-checked.
    */
  /** The planted-contamination fixture shared by the spans and trim
    * entries: training docs with doc_id % 5 == 1 get the first 10
    * normalized tokens of bench doc 17·((doc_id % 13)+1) appended
    * (when that bench doc exists).
    */
  private def contamFixture(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import graft.datapipe.Staging.Staged
    val docs = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
    val toksDf = docs.select(col("doc_id"),
      split(TextAnalysis.normalize(col("text")), " ").as("w"))
    val bench = toksDf.filter(col("doc_id") % 17 === 0)
    val bsel = bench.select(col("doc_id").as("bid"),
      slice(col("w"), 1, 10).as("bw"))
    val train = toksDf.filter(col("doc_id") % 17 =!= 0)
      .join(broadcast(bsel),
        col("bid") === lit(17) * ((col("doc_id") % 13) + 1), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 1 && col("bid").isNotNull,
          concat(col("w"), col("bw"))).otherwise(col("w")).as("w"))
    // stage(): the operators under test consume each side 2-3× (the
    // window table, the trim-side posexplode, the id-preserving
    // join-back) — unstaged, the normalize + planting-join +
    // array_join fixture pipeline re-ran per consumer and dominated
    // the stage profile (`graft.Probe profile`; r19: the two hottest
    // stages were BOTH fixture recomputes, 22 s + 11 s summed
    // executor time).
    (train.select(col("doc_id"), array_join(col("w"), " ").as("text")).stage(),
      bench.select(col("doc_id"), array_join(col("w"), " ").as("text")).stage())
  }

  /** The oracle CTE chain for the planted fixture through the span
    * table `sp` — shared by decontaminate_spans and decontaminate_trim.
    */
  private val contamSpanCtes = """toks0 AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      bsel AS (SELECT doc_id AS bid, w FROM toks0 WHERE doc_id % 17 = 0),
      tr AS (SELECT t.doc_id,
          CASE WHEN t.doc_id % 5 = 1 AND b.bid IS NOT NULL
               THEN t.w || b.w[1:10] ELSE t.w END AS w
        FROM toks0 t LEFT JOIN bsel b ON b.bid = 17 * ((t.doc_id % 13) + 1)
        WHERE t.doc_id % 17 <> 0),
      be AS (SELECT doc_id, w FROM toks0 WHERE doc_id % 17 = 0),
      wint AS (SELECT doc_id AS id, i - 1 AS pos,
          array_to_string(w[i:i+4], ' ') AS sh
        FROM tr, UNNEST(generate_series(1, len(w) - 4)) AS g(i)
        WHERE len(w) >= 5),
      winb AS (SELECT doc_id AS id, i - 1 AS pos,
          array_to_string(w[i:i+4], ' ') AS sh
        FROM be, UNNEST(generate_series(1, len(w) - 4)) AS g(i)
        WHERE len(w) >= 5),
      keep AS (SELECT sh FROM
        (SELECT sh, COUNT(DISTINCT id) AS df, COUNT(*) AS occ
         FROM (SELECT * FROM wint UNION ALL SELECT * FROM winb)
         GROUP BY sh)
        WHERE df <= 50 AND occ <= 1000),
      m AS (SELECT a.id AS train_id, b.id AS bench_id,
            a.pos AS pt, b.pos AS pb
        FROM wint a JOIN keep USING (sh) JOIN winb b ON a.sh = b.sh),
      isl AS (SELECT train_id, bench_id, pt - pb AS d, pt, pb,
          pt - row_number() OVER (PARTITION BY train_id, bench_id, pt - pb
            ORDER BY pt) AS g
        FROM m),
      sp AS (SELECT train_id, bench_id, d, MIN(pt) AS t0, MIN(pb) AS b0,
          COUNT(*) AS n_windows
        FROM isl GROUP BY train_id, bench_id, d, g)"""

  private val decontaminateSpans = QueryDef(
    "decontaminate_spans",
    (s, d) => {
      val (train, bench) = contamFixture(s, d)
      Dedup.contaminationSpans(train, bench, "doc_id", "text",
        k = 5, minWindows = 2)
    },
    Some(s"""WITH $contamSpanCtes
      SELECT train_id, bench_id, CAST(t0 AS BIGINT) AS train_start,
        CAST(b0 AS BIGINT) AS bench_start, n_windows,
        n_windows + 4 AS span_tokens
      FROM sp WHERE n_windows >= 2"""))

  /** Repair mode: the planted benchmark prefixes are CUT back out of
    * the training docs — the repaired text itself is hash-checked, so
    * the interval union and the token-level rebuild replay exactly
    * (the cross-corpus sibling of dedup_trim_spans).
    */
  private val decontaminateTrim = QueryDef(
    "decontaminate_trim",
    (s, d) => {
      val (train, bench) = contamFixture(s, d)
      Dedup.trimContamination(train, bench, "doc_id", "text",
        k = 5, minWindows = 2)
    },
    Some(s"""WITH $contamSpanCtes,
      spans AS (SELECT train_id AS doc_id, t0 AS a_start,
          n_windows + 4 AS span_tokens
        FROM sp WHERE n_windows >= 2),
      rem AS (SELECT DISTINCT doc_id, CAST(u.p AS BIGINT) AS pos
        FROM spans,
             UNNEST(generate_series(a_start, a_start + span_tokens - 1)) u(p)),
      tk AS (SELECT doc_id, len(w) AS n_tokens, i - 1 AS pos, w[i] AS tok
        FROM tr, UNNEST(generate_series(1, len(w))) g(i)),
      kept AS (SELECT t.doc_id, t.n_tokens, t.pos, t.tok
        FROM tk t LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.pos = r.pos
        WHERE r.doc_id IS NULL),
      agg AS (SELECT doc_id, CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
        CAST(MAX(n_tokens) - COUNT(*) AS BIGINT) AS n_removed,
        array_to_string(LIST(tok ORDER BY pos), ' ') AS trimmed_text
      FROM kept GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(a.n_tokens, 0) AS n_tokens,
        COALESCE(a.n_removed, 0) AS n_removed, a.trimmed_text
      FROM (SELECT doc_id FROM tr) d LEFT JOIN agg a USING (doc_id)"""))

  /** T13's scale pre-filter: probe every training 3-shingle against
    * a Bloom filter of the benchmark shingles (k=3, m=32768 bits —
    * kilobytes broadcast, vs the full distinct-hash set the exact
    * scorer ships). No false negatives: every truly-shared shingle
    * is flagged, so filtering on flag_frac=0 is SAFE and only the
    * flagged survivors need the exact [[Contamination.score]] pass.
    * The oracle rebuilds the filter bit-for-bit from the md5
    * contract and replays the all-k-positions membership rule.
    */
  private val decontaminateBloom = QueryDef(
    "decontaminate_bloom",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
      val train = docs.filter(col("doc_id") % 17 =!= 0)
      val bench = docs.filter(col("doc_id") % 17 === 0)
      val bits = graft.datapipe.Sketches.bloomBits(
        bench.select(explode(Dedup.shingles(col("text"), 3)).as("gm")),
        "gm", k = 3, mBits = 32768)
      val probes = train.select(col("doc_id"),
        explode(Dedup.shingles(col("text"), 3)).as("gm"))
      val per = graft.datapipe.Sketches.bloomProbe(bits, probes, "gm",
        k = 3, mBits = 32768)
      val agg = per.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          count(when(col("member"), 1)).as("n_flagged"))
      train.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
          when(coalesce(col("n_shingles"), lit(0L)) === 0,
            lit(null).cast("double"))
            .otherwise(round(col("n_flagged").cast("double") /
              col("n_shingles").cast("double"), 6)).as("flag_frac"))
    },
    Some("""WITH toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      g0 AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS gm
          FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
          WHERE len(w) >= 3
        UNION ALL
        SELECT doc_id, array_to_string(w, ' ') AS gm FROM toks
          WHERE len(w) < 3),
      g AS (SELECT DISTINCT doc_id, gm FROM g0),
      bits AS (SELECT DISTINCT
          ('0x' || substr(md5('bloom:' || i || ':' || gm), 1, 15))::BIGINT
            % 32768 AS bit
        FROM (SELECT DISTINCT gm FROM g WHERE doc_id % 17 = 0),
             UNNEST(generate_series(0, 2)) AS t(i)),
      probe AS (SELECT doc_id, gm, COUNT(b.bit) AS nbits
        FROM (SELECT doc_id, gm,
            ('0x' || substr(md5('bloom:' || i || ':' || gm), 1, 15))::BIGINT
              % 32768 AS bit
          FROM g, UNNEST(generate_series(0, 2)) AS t(i)
          WHERE doc_id % 17 <> 0) p
        LEFT JOIN bits b USING (bit) GROUP BY doc_id, gm),
      agg AS (SELECT doc_id, COUNT(*) AS n_shingles,
          COUNT(*) FILTER (WHERE nbits = 3) AS n_flagged
        FROM probe GROUP BY doc_id)
      SELECT d.doc_id, CAST(COALESCE(n_shingles, 0) AS BIGINT) AS n_shingles,
        CAST(COALESCE(n_flagged, 0) AS BIGINT) AS n_flagged,
        CASE WHEN n_shingles IS NULL THEN NULL
             ELSE round(CAST(n_flagged AS DOUBLE) / n_shingles, 6)
        END AS flag_frac
      FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
      LEFT JOIN agg USING (doc_id)"""))

  /** Bloom seen-before gate, batch certificate ([[graft.streaming
    * .Streams.bloomSeenStream]] is the stateful twin): in doc_id
    * order within 4 sharded filters (k=3, m=4096 bits), flag every
    * doc whose content-hash bits were all set by an earlier doc.
    * Integer-only md5 contract — the oracle replay is exact.
    */
  private val dedupBloomSeen = QueryDef(
    "dedup_bloom_seen",
    (s, d) => graft.datapipe.Sketches.bloomSeenScores(
      Tables.documents(s, d), "doc_id", "text",
      k = 3, mBits = 4096, shards = 4),
    Some("""WITH fp AS (SELECT doc_id,
        CAST(('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT
          AS VARCHAR) AS fp
        FROM documents),
      keyed AS (SELECT doc_id,
          ('0x' || substr(md5('shard:' || fp), 1, 15))::BIGINT % 4 AS shard,
          ('0x' || substr(md5('bloom:' || i || ':' || fp), 1, 15))::BIGINT
            % 4096 AS bit
        FROM fp, UNNEST(generate_series(0, 2)) AS t(i)),
      first AS (SELECT shard, bit, MIN(doc_id) AS first_doc
        FROM keyed GROUP BY shard, bit)
      SELECT k.doc_id, k.shard,
        (MAX(f.first_doc) < k.doc_id) AS seen_before
      FROM keyed k JOIN first f USING (shard, bit)
      GROUP BY k.doc_id, k.shard"""))

  /** Mixture replication: src0 2.5 epochs, src1 0.3 epochs, 1.0
    * elsewhere — floor(w) copies each plus a hash-chosen fractional
    * extra, numbered so replicas stay distinguishable. */
  private val mixtureUpsample = QueryDef(
    "mixture_upsample",
    (s, d) => Sampling.upsample(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      col("doc_id"), col("source"),
      Map("src0" -> 2.5, "src1" -> 0.3), defaultWeight = 1.0),
    Some("""WITH wts AS (SELECT doc_id, source,
        CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.3 ELSE 1.0 END AS w,
        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        FROM documents),
      n AS (SELECT doc_id, source,
        CAST(FLOOR(w) AS BIGINT) +
          CASE WHEN b < CAST(ROUND((w - FLOOR(w)) * 100) AS BIGINT)
               THEN 1 ELSE 0 END AS n_copies
        FROM wts)
      SELECT doc_id, source, u.copy
      FROM n, UNNEST(generate_series(1::BIGINT, n_copies)) u(copy)
      WHERE n_copies > 0"""))

  /** Temperature-scaled mixture weights at α=0.7: under-represented
    * sources get boost > 1, over-represented < 1. The oracle replays
    * exp/ln with the 8-dp quantization and exact-decimal normalizer.
    */
  private val mixtureTemperature = QueryDef(
    "mixture_temperature",
    (s, d) => Sampling.temperatureWeights(
      Tables.documents(s, d), col("source"), alpha = 0.7),
    Some("""WITH c AS (SELECT source, COUNT(*) AS n_docs
        FROM documents GROUP BY source),
      p AS (SELECT source, n_docs,
        round(exp(0.7 * ln(CAST(n_docs AS DOUBLE))), 8) AS na FROM c),
      t AS (SELECT SUM(CAST(na AS DECIMAL(28,8))) AS z,
        SUM(n_docs) AS n_total FROM p)
      SELECT source, n_docs,
        ((2 * n_docs * 1000000 + n_total) // (2 * n_total)) / 1000000.0 AS p_raw,
        round(na / CAST(z AS DOUBLE), 6) AS p_temp,
        round((na / CAST(z AS DOUBLE)) /
          (CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)), 6) AS boost
      FROM p, t"""))

  /** UniMax token-budget allocation at epoch cap 2 over the corpus'
    * own token total (scale-free budget): the closed-form
    * water-filling in [[Sampling.unimaxAllocation]]. The oracle
    * replays the ascending-cap ranking, the pure-BIGINT cappedness
    * test, both full-frame mass windows, and the two engine-exact
    * ratio roundings — the hash certifies every source's allocation
    * and epoch count.
    */
  private val mixtureUnimax = QueryDef(
    "mixture_unimax",
    (s, d) => Sampling.unimaxAllocation(
      Tables.documents(s, d), col("source"),
      TextAnalysis.tokenCount(col("text")), epochCap = 2),
    Some("""WITH c AS (SELECT source,
        SUM(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))::BIGINT AS n_tokens
        FROM documents GROUP BY source),
      t AS (SELECT SUM(n_tokens)::BIGINT AS budget, COUNT(*) AS n_sources FROM c),
      r AS (SELECT source, n_tokens, n_tokens * 2 AS cap, budget, n_sources,
          ROW_NUMBER() OVER (ORDER BY n_tokens * 2 ASC, source ASC) AS idx,
          SUM(n_tokens * 2) OVER (ORDER BY n_tokens * 2 ASC, source ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cumcap
        FROM c, t),
      f AS (SELECT *,
          cap * (n_sources - idx + 1) <= budget - (cumcap - cap) AS capped
        FROM r),
      l AS (SELECT *,
          SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER ()::BIGINT AS n_capped,
          SUM(CASE WHEN capped THEN cap ELSE 0 END) OVER ()::BIGINT AS cap_mass
        FROM f)
      SELECT source, n_tokens, cap, capped,
        CASE WHEN capped THEN CAST(cap AS DOUBLE)
             ELSE ((2 * (budget - cap_mass) * 1000000 + (n_sources - n_capped))
               // (2 * (n_sources - n_capped))) / 1000000.0
        END AS alloc_tokens,
        CASE WHEN capped THEN 2.0
             ELSE ((2 * (budget - cap_mass) * 1000000
                 + (n_sources - n_capped) * n_tokens)
               // (2 * (n_sources - n_capped) * n_tokens)) / 1000000.0
        END AS epochs_used
      FROM l"""))

  /** The UniMax allocation driving an actual replication plan:
    * [[Sampling.unimaxAllocation]]'s per-source epochs_used feeds
    * [[Sampling.upsampleWeighted]] as the fractional replication
    * weight — capped sources repeat exactly epochCap times, uncapped
    * sources get the common water-level epoch count. The oracle
    * replays the closed-form water-filling AND the md5-coin
    * fractional replication in one chain, certifying the stage
    * boundary the same way `e2e_mixture` does for temperature
    * weights.
    */
  private val e2eUnimaxMixture = QueryDef(
    "e2e_unimax_mixture",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val wts = Sampling.unimaxAllocation(
        Tables.documents(s, d), col("source"),
        TextAnalysis.tokenCount(col("text")), epochCap = 2)
        .select(col("source"), col("epochs_used").as("boost"))
      Sampling.upsampleWeighted(docs, col("doc_id"), col("source"), wts)
    },
    Some("""WITH c AS (SELECT source,
        SUM(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))::BIGINT AS n_tokens
        FROM documents GROUP BY source),
      t AS (SELECT SUM(n_tokens)::BIGINT AS budget, COUNT(*) AS n_sources FROM c),
      r AS (SELECT source, n_tokens, n_tokens * 2 AS cap, budget, n_sources,
          ROW_NUMBER() OVER (ORDER BY n_tokens * 2 ASC, source ASC) AS idx,
          SUM(n_tokens * 2) OVER (ORDER BY n_tokens * 2 ASC, source ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cumcap
        FROM c, t),
      f AS (SELECT *,
          cap * (n_sources - idx + 1) <= budget - (cumcap - cap) AS capped
        FROM r),
      l AS (SELECT *,
          SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER ()::BIGINT AS n_capped,
          SUM(CASE WHEN capped THEN cap ELSE 0 END) OVER ()::BIGINT AS cap_mass
        FROM f),
      wts AS (SELECT source,
          CASE WHEN capped THEN 2.0
               ELSE ((2 * (budget - cap_mass) * 1000000
                   + (n_sources - n_capped) * n_tokens)
                 // (2 * (n_sources - n_capped) * n_tokens)) / 1000000.0
          END AS w
        FROM l),
      j AS (SELECT d.doc_id, d.source, w.w,
        ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        FROM documents d JOIN wts w USING (source)),
      n AS (SELECT doc_id, source,
        CAST(FLOOR(w) AS BIGINT) +
          CASE WHEN b < CAST(ROUND((w - FLOOR(w)) * 100) AS BIGINT)
               THEN 1 ELSE 0 END AS n_copies
        FROM j)
      SELECT doc_id, source, u.copy
      FROM n, UNNEST(generate_series(1::BIGINT, n_copies)) u(copy)
      WHERE n_copies > 0"""))

  /** The composed mixture pipeline a pretraining run actually
    * executes: temperature-scaled source weights (α=0.7) drive
    * fractional per-source replication — [[Sampling.temperatureWeights]]'
    * (source, boost) rows feed [[Sampling.upsampleWeighted]]'s
    * broadcast weight join, no driver round-trip. The oracle replays
    * the α-normalizer, the per-source boost, and the deterministic
    * md5-bucket fractional replication in one SQL chain, so the
    * composition's hash certifies the stage boundary: which boost
    * each source got AND which documents drew the extra copy.
    */
  private val e2eMixture = QueryDef(
    "e2e_mixture",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val wts = Sampling.temperatureWeights(
        Tables.documents(s, d), col("source"), alpha = 0.7)
        .select(col("source"), col("boost"))
      Sampling.upsampleWeighted(docs, col("doc_id"), col("source"), wts)
    },
    Some("""WITH c AS (SELECT source, COUNT(*) AS n_docs
        FROM documents GROUP BY source),
      p AS (SELECT source, n_docs,
        round(exp(0.7 * ln(CAST(n_docs AS DOUBLE))), 8) AS na FROM c),
      t AS (SELECT SUM(CAST(na AS DECIMAL(28,8))) AS z,
        SUM(n_docs) AS n_total FROM p),
      wts AS (SELECT source,
        round((na / CAST(z AS DOUBLE)) /
          (CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)), 6) AS w
        FROM p, t),
      j AS (SELECT d.doc_id, d.source, w.w,
        ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        FROM documents d JOIN wts w USING (source)),
      n AS (SELECT doc_id, source,
        CAST(FLOOR(w) AS BIGINT) +
          CASE WHEN b < CAST(ROUND((w - FLOOR(w)) * 100) AS BIGINT)
               THEN 1 ELSE 0 END AS n_copies
        FROM j)
      SELECT doc_id, source, u.copy
      FROM n, UNNEST(generate_series(1::BIGINT, n_copies)) u(copy)
      WHERE n_copies > 0"""))

  /** The token-BUDGETED mixture composition: temperature weights
    * (α=0.5) allocate a 10k-token global budget across sources
    * (budget_s = round(total · p_temp)), then each source's greedy
    * quality-ranked prefix is selected under its own allocation —
    * [[Sampling.temperatureWeights]] feeding
    * [[Sampling.tokenBudgetWeighted]]'s broadcast budget join. The
    * oracle replays normalizer, allocation rounding, ranking, and
    * the per-source cumulative cut in one chain, so the hash
    * certifies both stage boundaries.
    */
  private val e2eTokenMixture = QueryDef(
    "e2e_token_mixture",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val budgets = Sampling.temperatureWeights(docs, col("source"), alpha = 0.5)
        .select(col("source"),
          round(lit(10000.0) * col("p_temp")).cast("long").as("budget"))
      // integer-exact 6-dp priority before ordering — see
      // sample_token_budget
      Sampling.tokenBudgetWeighted(docs, "doc_id", "source",
        TextAnalysis.tokenCount(col("text")),
        exactRatio6(TextAnalysis.stopwordCount(col("text")),
          TextAnalysis.tokenCount(col("text"))),
        budgets)
    },
    Some("""WITH c AS (SELECT source, COUNT(*) AS n_docs
        FROM documents GROUP BY source),
      p AS (SELECT source, n_docs,
        round(exp(0.5 * ln(CAST(n_docs AS DOUBLE))), 8) AS na FROM c),
      t AS (SELECT SUM(CAST(na AS DECIMAL(28,8))) AS z FROM p),
      bud AS (SELECT source,
        CAST(ROUND(10000 * round(na / CAST(z AS DOUBLE), 6)) AS BIGINT) AS budget
        FROM p, t),
      dtok AS (SELECT doc_id, source,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        ((2 * CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 1000000
            + CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))
          // (2 * CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))) / 1000000.0 AS priority
        FROM documents),
      j AS (SELECT d.*, b.budget FROM dtok d JOIN bud b USING (source)),
      cum AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source
          ORDER BY priority DESC NULLS LAST, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM j)
      SELECT doc_id, source, n_tokens, priority, budget, cum_tokens
      FROM cum WHERE cum_tokens <= budget"""))

  /** The four-stage training-prep composition a pretraining run
    * actually executes end-to-end: Gopher rule gate → exact-dedup
    * keep-one (min doc_id per fingerprint) → temperature-budgeted
    * per-source selection (α=0.7, 5k-token global budget) → capacity-
    * 256 sequence packing. Every stage boundary is replayed by the
    * oracle in one SQL chain, so the final chunk table's hash
    * certifies gate decisions, dedup survivors, budget allocations,
    * the greedy cuts, AND the distributed prefix-sum offsets at
    * once. Each stage is the already-certified operator — this entry
    * pins their composition.
    */
  private val e2eTrainPrep = QueryDef(
    "e2e_train_prep",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val kept = TextAnalysis.gopherRules(docs, "doc_id", "text")
        .filter(col("keep")).select(col("doc_id"))
      val gated = docs.join(kept, Seq("doc_id"))
      val uniqIds = gated
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val survivors = gated.join(uniqIds, Seq("doc_id"))
      val budgets = Sampling
        .temperatureWeights(survivors, col("source"), alpha = 0.7)
        .select(col("source"),
          round(lit(5000.0) * col("p_temp")).cast("long").as("budget"))
      val sel = Sampling.tokenBudgetWeighted(survivors, "doc_id", "source",
        TextAnalysis.tokenCount(col("text")),
        TextAnalysis.stopwordCount(col("text")).cast("double") /
          TextAnalysis.tokenCount(col("text")).cast("double"),
        budgets)
      Packing.packChunks(sel, col("doc_id"), col("n_tokens"), capacity = 256)
    },
    Some("""WITH t0 AS (SELECT doc_id, text, source,
        trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
      f0 AS (SELECT doc_id,
        CAST(len(list_filter(string_split(norm, ' '), x -> len(x) > 0)) AS BIGINT) AS n_words,
        length(replace(norm, ' ', '')) AS n_wchars,
        len(list_filter(string_split(norm, ' '),
          x -> len(x) > 0 AND regexp_matches(x, '[a-z]'))) AS n_alpha,
        CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) AS sw,
        length(text) - length(replace(text, '#', ''))
          + len(regexp_extract_all(text, '\.\.\.')) AS n_symbols
      FROM t0),
      keepids AS (SELECT doc_id FROM f0 WHERE
        (n_words >= 50 AND n_words <= 100000)
        AND (CASE WHEN n_words > 0 THEN CAST(n_wchars AS DOUBLE) / n_words END
          BETWEEN 3.0 AND 10.0)
        AND (CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words END) >= 0.8
        AND sw >= 2
        AND (CASE WHEN n_words > 0 THEN CAST(n_symbols AS DOUBLE) / n_words END) < 0.1),
      gated AS (SELECT d.* FROM documents d JOIN keepids USING (doc_id)),
      uq AS (SELECT MIN(doc_id) AS doc_id FROM (SELECT doc_id,
          ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fp
        FROM gated) GROUP BY fp),
      sv AS (SELECT g.* FROM gated g JOIN uq USING (doc_id)),
      c AS (SELECT source, COUNT(*) AS n_docs FROM sv GROUP BY source),
      p AS (SELECT source, n_docs,
        round(exp(0.7 * ln(CAST(n_docs AS DOUBLE))), 8) AS na FROM c),
      tz AS (SELECT SUM(CAST(na AS DECIMAL(28,8))) AS z FROM p),
      bud AS (SELECT source,
        CAST(ROUND(5000 * round(na / CAST(z AS DOUBLE), 6)) AS BIGINT) AS budget
        FROM p, tz),
      dtok AS (SELECT doc_id, source,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE)
          / len(regexp_split_to_array(trim(text), '\s+')) AS priority
        FROM sv),
      j AS (SELECT d.*, b.budget FROM dtok d JOIN bud b USING (source)),
      cum AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY source
          ORDER BY priority DESC NULLS LAST, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        FROM j),
      selq AS (SELECT doc_id, n_tokens FROM cum WHERE cum_tokens <= budget),
      pk AS (SELECT doc_id, n_tokens AS n,
        COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
        FROM selq WHERE n_tokens > 0)
      SELECT doc_id, b AS chunk_id,
        CAST(least(s + n, (b + 1) * 256) - greatest(s, b * 256) AS BIGINT)
          AS n_tokens
      FROM pk, UNNEST(generate_series(CAST(s // 256 AS BIGINT),
        CAST((s + n - 1) // 256 AS BIGINT))) AS u(b)"""))

  /** Sliding-window samples at window=64, stride=48 (overlapping):
    * every row's chunk text rides the compare, so window arithmetic,
    * slicing, and the short-final-window rule are all hash-checked.
    */
  private val chunkSliding = QueryDef(
    "chunk_sliding",
    (s, d) => Chunker.slidingWindows(Tables.documents(s, d),
      "doc_id", "text", window = 64, stride = 48),
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
          t -> len(t) > 0) AS w
        FROM documents)
      SELECT doc_id, CAST(i AS BIGINT) AS win_id,
        CAST(i * 48 AS BIGINT) AS start_tok,
        CAST(LEAST(64, len(w) - i * 48) AS BIGINT) AS n_tokens,
        array_to_string(w[i * 48 + 1 : i * 48 + LEAST(64, len(w) - i * 48)], ' ')
          AS chunk
      FROM toks, UNNEST(generate_series(0, (len(w) - 1) // 48)) AS g(i)
      WHERE len(w) > 0"""))

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

  /** Epoch-order shuffle: the oracle's single-partition ROW_NUMBER
    * window is the semantic spec; the Spark side materializes the
    * same ranks via the distributed prefix sum over md5-key order.
    */
  private val shuffleRank = QueryDef(
    "shuffle_rank",
    (s, d) => graft.datapipe.ShuffleOrder.shuffleRank(
      Tables.documents(s, d), col("doc_id")),
    Some("""SELECT doc_id,
      ROW_NUMBER() OVER (ORDER BY
        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        doc_id) - 1 AS shuffle_rank
      FROM documents"""))

  /** Token-balanced shard writeout ([[ShuffleOrder.shardAssign]]):
    * 16 contiguous shards of near-equal token mass over the
    * pseudorandom epoch order. The oracle replays the md5 order, the
    * exclusive token cumsum the distributed prefix sum materializes,
    * and the pure-integer floor(start·S/total) boundary rule — the
    * hash certifies every document's shard.
    */
  private val shardAssign = QueryDef(
    "shard_assign",
    (s, d) => graft.datapipe.ShuffleOrder.shardAssign(
      Tables.documents(s, d), col("doc_id"),
      TextAnalysis.tokenCount(col("text")), nShards = 16),
    Some("""WITH t AS (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        ('0x' || substr(md5('sd:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hk
        FROM documents),
      f AS (SELECT * FROM t WHERE n_tokens > 0),
      c AS (SELECT doc_id, n_tokens,
        COALESCE(SUM(n_tokens) OVER (ORDER BY hk, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
          AS global_start,
        SUM(n_tokens) OVER ()::BIGINT AS total FROM f)
      SELECT doc_id, n_tokens, global_start,
        (global_start * 16) // total AS shard_id
      FROM c"""))

  /** The shard writeout's observability readout (the `dedup_stats`
    * analogue for T89): per-shard document count, token mass, and
    * start offset — what a training job's manifest records per output
    * file. One bounded aggregation (16 groups) over the certified
    * shard assignment; the hash re-certifies the boundary rule from
    * the aggregate side.
    */
  private val shardManifest = QueryDef(
    "shard_manifest",
    (s, d) => graft.datapipe.ShuffleOrder.shardAssign(
      Tables.documents(s, d), col("doc_id"),
      TextAnalysis.tokenCount(col("text")), nShards = 16)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("global_start")).as("start_offset")),
    Some("""WITH t AS (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        ('0x' || substr(md5('sd:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hk
        FROM documents),
      f AS (SELECT * FROM t WHERE n_tokens > 0),
      c AS (SELECT doc_id, n_tokens,
        COALESCE(SUM(n_tokens) OVER (ORDER BY hk, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
          AS global_start,
        SUM(n_tokens) OVER ()::BIGINT AS total FROM f)
      SELECT (global_start * 16) // total AS shard_id,
        COUNT(*) AS n_docs, SUM(n_tokens)::BIGINT AS n_tokens,
        MIN(global_start) AS start_offset
      FROM c GROUP BY 1"""))

  /** Source-interleaved epoch order ([[ShuffleOrder.interleaveRank]]):
    * round-robin across sources by pseudorandom within-source rank,
    * so training positions cycle through the mixture. The oracle
    * replays the md5 within-source ranking, the name-ordered source
    * index, and the global (within_rank, src_idx) ordering the
    * distributed prefix sum materializes.
    */
  private val shuffleInterleave = QueryDef(
    "shuffle_interleave",
    (s, d) => graft.datapipe.ShuffleOrder.interleaveRank(
      Tables.documents(s, d), col("doc_id"), col("source")),
    Some("""WITH r AS (SELECT doc_id, source,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY
          ('0x' || substr(md5('il:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
          doc_id) - 1 AS within_rank,
        DENSE_RANK() OVER (ORDER BY source) - 1 AS src_idx
        FROM documents)
      SELECT doc_id, source, within_rank,
        ROW_NUMBER() OVER (ORDER BY within_rank, src_idx) - 1
          AS interleave_rank
      FROM r"""))

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
    Some("""WITH f AS (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS q_words,
        CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE)
          / len(regexp_split_to_array(trim(text), '\s+')) AS q_stopword_ratio
        FROM documents),
      ls AS (SELECT doc_id,
        len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS s_en,
        len(regexp_extract_all(lower(text), '\b(el|la|de|que|y)\b')) AS s_es,
        len(regexp_extract_all(lower(text), '\b(le|la|de|et|les)\b')) AS s_fr,
        len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS s_de
        FROM documents),
      l AS (SELECT doc_id,
        CASE WHEN s_en > 0 AND s_en >= greatest(s_en, s_es, s_fr, s_de) THEN 'en'
             WHEN s_es > 0 AND s_es >= greatest(s_en, s_es, s_fr, s_de) THEN 'es'
             WHEN s_fr > 0 AND s_fr >= greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
             WHEN s_de > 0 AND s_de >= greatest(s_en, s_es, s_fr, s_de) THEN 'de'
             ELSE 'und' END AS lang_pred
        FROM ls),
      toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
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

  private val e2eDataPipeline = QueryDef(
    "e2e_data_pipeline",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
      val keepers = Dedup.keepOne(docs, "doc_id",
        Dedup.minhashPairs(docs, "doc_id", "text", 64, 32, 0.8))
        .filter(col("keep")).select(col("id").as("doc_id"))
      val bench = docs.filter(col("doc_id") % 17 === 0)
      val train = docs.join(keepers, "doc_id")
        .filter(col("doc_id") % 17 =!= 0)
      val clean = Contamination.score(train, bench, "doc_id", "text", k = 3)
        .filter(col("n_shared") === 0).select("doc_id")
      Packing.packChunks(docs.join(clean, "doc_id"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")), capacity = 256)
    },
    Some("""WITH RECURSIVE
      toks AS (SELECT doc_id AS id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      sh AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
             FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
      common AS (SELECT x.id AS a_id, y.id AS b_id, COUNT(*) AS n_common
                 FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
                 GROUP BY 1, 2),
      pairs AS (SELECT a_id, b_id FROM common
        JOIN sizes sa ON sa.id = a_id JOIN sizes sb ON sb.id = b_id
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.8),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                UNION ALL SELECT b_id, a_id FROM pairs),
      reach(id, r) AS (SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id),
      keepers AS (SELECT id AS doc_id FROM
        (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        WHERE id = cluster_id),
      bsh AS (SELECT DISTINCT shingle FROM sh WHERE id % 17 = 0),
      train AS (SELECT doc_id FROM keepers WHERE doc_id % 17 <> 0),
      contaminated AS (SELECT DISTINCT sh.id FROM sh
        JOIN train ON sh.id = train.doc_id
        JOIN bsh USING (shingle)),
      clean AS (SELECT doc_id FROM train
        WHERE doc_id NOT IN (SELECT id FROM contaminated)),
      t AS (SELECT doc_id AS id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
        FROM documents JOIN clean USING (doc_id)),
      c AS (SELECT id, n,
        COALESCE(SUM(n) OVER (ORDER BY id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
        FROM t WHERE n > 0)
      SELECT id AS doc_id, b AS chunk_id,
        CAST(least(s + n, (b + 1) * 256) - greatest(s, b * 256) AS BIGINT)
          AS n_tokens
      FROM c, UNNEST(generate_series(CAST(s // 256 AS BIGINT),
        CAST((s + n - 1) // 256 AS BIGINT))) AS u(b)"""))

  /** Composed curation flow over the NEW model-based operators — the
    * "shrink a raw corpus to a training set" pipeline: LM-perplexity
    * gate (keep ppl <= 30, the CCNet head/middle cut on this data's
    * 26–37 range) → DSIR top-100 selection toward the English slice,
    * with the importance model RETRAINED on the gated corpus → BPE
    * tokenizer trained on the 100 selected documents and their
    * encoded token counts reported. The oracle replays all three
    * stages — LM training, both bucket distributions, 6 unrolled
    * merge rounds — in one SQL chain, so the composition's hash
    * certifies every stage boundary (which docs passed the gate,
    * which were selected, and their exact token counts).
    */
  private val e2eCuration = QueryDef(
    "e2e_curation",
    (s, d) => {
      import graft.datapipe.Staging.Staged
      val docs = Tables.documents(s, d)
      // stage each stage's surviving ID SET (skinny: one long per
      // row): the downstream stage reads its predecessor many times
      // (BPE alone scans its corpus 3-4x), and without the barrier
      // every read re-runs the whole upstream model pipeline
      val keptIds = LanguageModel.perplexity(docs, "doc_id", "text")
        .filter(col("ppl").isNotNull && col("ppl") <= 30.0)
        .select(col("doc_id")).stage()
      // only the skinny ID SETS stage between stages: caching the
      // joined text slices was measured slower (wide-row cache writes
      // cost more than re-planning the cheap id join per action)
      val kept = docs.join(keptIds, Seq("doc_id"))
      val selIds = LanguageModel.importanceWeights(kept, "doc_id", "text",
          col("lang") === "en", buckets = 64, topN = 100)
        .filter(col("selected")).select(col("doc_id")).stage()
      BpeTokenizer.trainAndEncode(docs.join(selIds, Seq("doc_id")),
        "doc_id", "text", 6)
    },
    Some(s"""WITH toks AS (SELECT doc_id, lang,
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
             FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
             WHERE len(w) >= 2),
      c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
      vc AS (SELECT COUNT(DISTINCT u.tk) AS v FROM toks, UNNEST(w) AS u(tk)),
      lps AS (SELECT doc_id,
          round(ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + vc.v AS DOUBLE)), 8) AS lp
        FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), vc),
      psum AS (SELECT doc_id,
          SUM(CAST(lp AS DECIMAL(28,8))) AS slp,
          COUNT(*) AS nb
        FROM lps GROUP BY doc_id),
      kept AS MATERIALIZED (SELECT doc_id FROM psum
        WHERE round(exp(-CAST(slp AS DOUBLE) / nb), 4) <= 30.0),
      ktok AS MATERIALIZED (SELECT t.doc_id, t.lang,
          CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT) % 64 AS b
        FROM toks t JOIN kept USING (doc_id),
             UNNEST(generate_series(1, len(w))) AS g(i)),
      rawc AS (SELECT b, COUNT(*) AS cr FROM ktok GROUP BY 1),
      tgtc AS (SELECT b, COUNT(*) AS ct FROM ktok WHERE lang = 'en' GROUP BY 1),
      tot AS (SELECT (SELECT SUM(cr) FROM rawc) AS tr,
                     COALESCE((SELECT SUM(ct) FROM tgtc), 0) AS tt),
      lrs AS (SELECT rawc.b,
          round(ln(CAST(COALESCE(tgtc.ct, 0) + 1 AS DOUBLE) / CAST(tot.tt + 64 AS DOUBLE))
              - ln(CAST(rawc.cr + 1 AS DOUBLE) / CAST(tot.tr + 64 AS DOUBLE)), 8) AS lr
        FROM rawc LEFT JOIN tgtc USING (b), tot),
      wsum AS (SELECT doc_id,
          CAST(round(SUM(CAST(lr AS DECIMAL(28,8))), 4) AS DOUBLE) AS wt
        FROM ktok JOIN lrs USING (b) GROUP BY doc_id),
      allw AS (SELECT k.doc_id, COALESCE(wt, 0.0) AS weight
        FROM kept k LEFT JOIN wsum USING (doc_id)),
      sel AS MATERIALIZED (SELECT doc_id FROM allw
        ORDER BY weight DESC, doc_id LIMIT 100),
      ctok AS MATERIALIZED (SELECT t.doc_id, u.t AS w
        FROM toks t JOIN sel USING (doc_id), UNNEST(w) AS u(t)
        WHERE len(u.t) > 0),
      cv0 AS MATERIALIZED (SELECT w, COUNT(*) AS cnt,
          array_to_string(list_transform(generate_series(1, len(w)),
            i -> substr(w, i, 1)), chr(1)) || chr(2) AS syms
        FROM ctok GROUP BY w),
      ${(0 until 6).map(bpeRound(_, "c")).mkString(",")},
      cenc AS MATERIALIZED (SELECT w,
          CAST(len(string_split(syms, chr(1))) AS BIGINT) AS n_sym
        FROM cv6),
      cagg AS (SELECT ctok.doc_id, COUNT(*) AS n_words, SUM(e.n_sym) AS n_bpe
        FROM ctok JOIN cenc e USING (w) GROUP BY ctok.doc_id)
      SELECT s.doc_id, CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
        CAST(COALESCE(a.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
      FROM sel s LEFT JOIN cagg a USING (doc_id)"""))

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
    Some("""WITH base AS (SELECT doc_id,
        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
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

  /** T110: keep-BEST exact dedup ([[Dedup.keepBest]]) — per planted
    * duplicate group (the soft-weights planting: multiplicities 1, 2,
    * 3), survive the copy with the highest deterministic
    * "extraction quality" (md5-derived per-copy, so copies of the
    * SAME content genuinely differ — a content-derived score would
    * degenerate to keep-min-id). The oracle replays the planting, the
    * fingerprint, the per-copy priority, and the (priority desc,
    * doc_id) pick.
    */
  private val dedupKeepBest = QueryDef(
    "dedup_keep_best",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val planted = docs
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
      Dedup.keepBest(planted, "doc_id", col("text"),
        (TextAnalysis.md5Long60(concat(lit("pq:"),
          col("doc_id").cast("string"))) % 1000L).cast("double") / lit(1000.0))
    },
    Some("""WITH planted AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 3000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
      f AS (SELECT doc_id,
        ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fp,
        (('0x' || substr(md5('pq:' || doc_id), 1, 15))::BIGINT % 1000) / 1000.0 AS priority
        FROM planted),
      m AS (SELECT fp, COUNT(*) AS n_copies FROM f GROUP BY fp),
      r AS (SELECT doc_id, fp, priority,
        row_number() OVER (PARTITION BY fp
          ORDER BY priority DESC NULLS LAST, doc_id) AS rn FROM f)
      SELECT r.doc_id, m.n_copies, r.priority, (r.rn = 1) AS keep
      FROM r JOIN m USING (fp)"""))

  /** T111: top discriminative terms
    * ([[graft.datapipe.Classifier.discriminativeTerms]]) of the
    * English-vs-rest corpus — the interpretation readout the hashed
    * NB classifier can't give. The oracle retrains the per-TERM
    * class counts, the (V, tp, tn) scalars, the 8-dp log-odds, and
    * the |lr|-descending cut.
    */
  private val textClassifierTerms = QueryDef(
    "text_classifier_terms",
    (s, d) => graft.datapipe.Classifier.discriminativeTerms(
      Tables.documents(s, d), "text", nbLabel, k = 50, minCount = 5L),
    Some("""WITH ls AS (SELECT doc_id,
        len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS s_en,
        len(regexp_extract_all(lower(text), '\b(el|la|de|que|y)\b')) AS s_es,
        len(regexp_extract_all(lower(text), '\b(le|la|de|et|les)\b')) AS s_fr,
        len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS s_de
        FROM documents),
      lab AS (SELECT doc_id,
        COALESCE(s_en > 0 AND s_en >= greatest(s_en, s_es, s_fr, s_de),
          FALSE) AS is_pos
        FROM ls),
      tw AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      tk AS (SELECT lab.is_pos, u.t
        FROM tw JOIN lab USING (doc_id), UNNEST(w) AS u(t)),
      cls AS (SELECT t,
          COUNT(*) FILTER (WHERE is_pos) AS np,
          COUNT(*) FILTER (WHERE NOT is_pos) AS nn
        FROM tk GROUP BY t),
      sc AS (SELECT COUNT(*) AS v,
          COALESCE(SUM(CAST(np AS BIGINT)), 0) AS tp,
          COALESCE(SUM(CAST(nn AS BIGINT)), 0) AS tn FROM cls)
      SELECT t AS term, np, nn,
        round(ln(CAST(np + 1 AS DOUBLE) / CAST(tp + v AS DOUBLE))
          - ln(CAST(nn + 1 AS DOUBLE) / CAST(tn + v AS DOUBLE)), 8) AS lr
      FROM cls, sc WHERE np + nn >= 5
      ORDER BY round(abs(round(ln(CAST(np + 1 AS DOUBLE) / CAST(tp + v AS DOUBLE))
          - ln(CAST(nn + 1 AS DOUBLE) / CAST(tn + v AS DOUBLE)), 8)), 8) DESC,
        term LIMIT 50"""))

  /** T112: top-k n-gram table ([[TextAnalysis.topNgrams]], n ∈ {2,3},
    * k = 20) — the dataset-card "top bigrams/trigrams" block. The
    * oracle regenerates the windows by list slicing, recounts, and
    * replays both deterministic cuts.
    */
  private val corpusNgramStats = QueryDef(
    "corpus_ngram_stats",
    (s, d) => TextAnalysis.topNgrams(Tables.documents(s, d), "text",
      Seq(2, 3), k = 20),
    Some("""WITH base AS (SELECT
        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
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

  /** T113: winnowing fingerprints ([[Dedup.winnowing]], MOSS —
    * Schleimer et al. 2003; k = 3, window = 4). The oracle replays
    * the md5-derived gram hashes, the sliding window minima (as a
    * per-doc ROWS-frame window), the full-window guard, the
    * short-document global-min guarantee, and the distinct collapse.
    */
  private val textWinnowing = QueryDef(
    "text_winnowing",
    (s, d) => Dedup.winnowing(Tables.documents(s, d), "doc_id", "text",
      k = 3, window = 4),
    Some("""WITH toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      sh AS (SELECT doc_id, i,
        ('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT AS h
        FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      win AS (SELECT doc_id, i,
        min(h) OVER (PARTITION BY doc_id ORDER BY i
          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
        COUNT(*) OVER (PARTITION BY doc_id) AS ng
        FROM sh),
      selq AS (SELECT DISTINCT doc_id, mh AS fp FROM win WHERE i + 3 <= ng),
      short AS (SELECT doc_id, MIN(h) AS fp FROM sh
        GROUP BY doc_id HAVING COUNT(*) < 4)
      SELECT doc_id, fp FROM selq
      UNION ALL SELECT doc_id, fp FROM short"""))

  /** T114: asymmetric containment pairs ([[Dedup.containmentPairs]],
    * threshold 0.8) on the twins corpus — every twin (the document
    * minus its last word) is CONTAINED in its original at
    * containment 1.0 while the reverse direction scores just below,
    * so both the symmetric-Jaccard blind spot and the direction
    * asymmetry are exercised. The oracle recomputes every direction
    * from the distinct string-shingle sets WITHOUT the hot-hash cap,
    * so the entry passes maxDocFreq = 1000: the twins corpus' max
    * shingle df is 50 at sf0.1 (measured), so no hash is ever capped
    * at certification scale and the oracle's exact all-pairs recall
    * equals Spark's by construction (the production default 100 is a
    * RECALL knob a real corpus tunes; certifying it would need the
    * cap mirrored over an engine-portable hash order, which xxhash
    * postings don't give DuckDB).
    */
  private val dedupContainment = QueryDef(
    "dedup_containment",
    (s, d) => Dedup.containmentPairs(withTwins(s, d), "id", "text",
      k = 3, threshold = 0.8, maxDocFreq = 1000),
    Some(s"""WITH $twinsSqlCte,
      toks AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w FROM docs2),
      sh AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
             FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
      common AS (SELECT x.id AS a_id, y.id AS b_id, COUNT(*) AS n_common
                 FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id <> y.id
                 GROUP BY 1, 2)
      SELECT a_id, b_id, n_common,
        CAST(n_common AS DOUBLE) / sa.n_sh AS containment
      FROM common JOIN sizes sa ON sa.id = a_id
      WHERE CAST(n_common AS DOUBLE) / sa.n_sh >= 0.8"""))

  /** T115: interpolated Kneser–Ney bigram perplexity
    * ([[LanguageModel.perplexityKneserNey]], D = 0.75, add-one
    * continuation floor) with the held-out split of the backoff
    * entry (train = doc_id % 7 ≠ 0, score everything — ~1/7 of
    * documents exercise the unseen branches). The oracle retrains
    * every count table (bigram, left-context, continuation), the
    * scalars, and replays the pinned IEEE probability chain
    * term-for-term.
    */
  private val textPerplexityKn = QueryDef(
    "text_perplexity_kn",
    (s, d) => {
      val docs = Tables.documents(s, d)
      LanguageModel.perplexityKneserNey(
        docs.filter(col("doc_id") % 7 =!= 0), docs, "doc_id", "text")
    },
    Some("""WITH toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      tr AS (SELECT w FROM toks WHERE doc_id % 7 <> 0),
      tb AS (SELECT w[i] AS w1, w[i+1] AS w2
        FROM (SELECT w FROM tr WHERE len(w) >= 2),
          UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
      c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM tb GROUP BY 1, 2),
      lft AS (SELECT w1, COUNT(*) AS cu, COUNT(DISTINCT w2) AS n1l
        FROM tb GROUP BY 1),
      rgt AS (SELECT w2, COUNT(*) AS n1r FROM c2 GROUP BY 1),
      sca AS (SELECT (SELECT COUNT(*) FROM c2) AS nn,
        (SELECT COUNT(DISTINCT u.t) FROM tr, UNNEST(w) AS u(t)) AS v),
      pos AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        FROM (SELECT doc_id, w FROM toks WHERE len(w) >= 2),
          UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
      sc AS (SELECT doc_id, round(ln(
          CASE WHEN cu IS NOT NULL THEN
            (greatest(CAST(COALESCE(c2, 0) AS DOUBLE) - 0.75, 0.0)
              + 0.75 * CAST(n1l AS DOUBLE)
                * (CAST(COALESCE(n1r, 0) + 1 AS DOUBLE)
                  / CAST(nn + v AS DOUBLE)))
            / CAST(cu AS DOUBLE)
          ELSE CAST(COALESCE(n1r, 0) + 1 AS DOUBLE)
            / CAST(nn + v AS DOUBLE) END), 8) AS lp
        FROM pos LEFT JOIN c2 USING (w1, w2)
          LEFT JOIN lft USING (w1) LEFT JOIN rgt USING (w2), sca),
      agg AS (SELECT doc_id, SUM(CAST(lp AS DECIMAL(28,8))) AS slp,
        COUNT(*) AS nb FROM sc GROUP BY 1)
      SELECT t.doc_id, CAST(COALESCE(nb, 0) AS BIGINT) AS n_bigrams,
        CAST(round(exp(-CAST(slp AS DOUBLE) / nb), 4) AS DOUBLE) AS ppl
      FROM toks t LEFT JOIN agg USING (doc_id)"""))

  /** T116: winnowing match report ([[Dedup.winnowMatches]]) — the
    * MOSS report shape over the twins corpus: pairs sharing ≥ 2
    * selected fingerprints after the hot-fingerprint boilerplate cap
    * (df > 100 excluded, mirrored in the oracle). Every twin pairs
    * with its original; the oracle replays the full chain — winnow
    * selection, cap, self-join, and the min-shared cut.
    */
  private val dedupWinnowMatch = QueryDef(
    "dedup_winnow_match",
    (s, d) => Dedup.winnowMatches(withTwins(s, d), "id", "text",
      k = 3, window = 4, minShared = 2, maxDocFreq = 100),
    Some(s"""WITH $twinsSqlCte,
      toks AS (SELECT id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w FROM docs2),
      sh AS (SELECT id, i,
        ('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT AS h
        FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      win AS (SELECT id, i,
        min(h) OVER (PARTITION BY id ORDER BY i
          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
        COUNT(*) OVER (PARTITION BY id) AS ng FROM sh),
      wfp AS (SELECT DISTINCT id, mh AS fp FROM win WHERE i + 3 <= ng
        UNION ALL
        SELECT id, MIN(h) AS fp FROM sh GROUP BY id HAVING COUNT(*) < 4),
      hot AS (SELECT fp FROM wfp GROUP BY fp HAVING COUNT(*) > 100),
      pr AS (SELECT id, fp FROM wfp
        WHERE fp NOT IN (SELECT fp FROM hot)),
      j AS (SELECT x.id AS a_id, y.id AS b_id, COUNT(*) AS n_shared_fps
        FROM pr x JOIN pr y ON x.fp = y.fp AND x.id < y.id GROUP BY 1, 2)
      SELECT a_id, b_id, n_shared_fps FROM j WHERE n_shared_fps >= 2"""))

  /** T117: per-source contamination rollup — "which sources leak the
    * benchmark" for mixture design: per source, flagged-doc count
    * (> 10% shared shingles, pure integer rule) and the
    * MICRO-averaged contamination Σshared/Σshingles (exact integer
    * sums, one [[graft.functions.ExactRound]] division — never a
    * mean of per-doc doubles). Composes the certified T13 scorer
    * with one dimension-sized rollup.
    */
  private val decontamBySource = QueryDef(
    "decontam_by_source",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
      Contamination.score(
          docs.filter(col("doc_id") % 17 =!= 0),
          docs.filter(col("doc_id") % 17 === 0),
          "doc_id", "text", k = 3)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("n_shared") * 10 > col("n_shingles"), 1))
            .as("n_flagged"),
          sum(col("n_shared")).cast("bigint").as("n_shared"),
          sum(col("n_shingles")).cast("bigint").as("n_shingles"))
        .select(col("source"), col("n_docs"), col("n_flagged"),
          col("n_shared"), col("n_shingles"),
          graft.functions.ExactRound.ratio6(col("n_shared"),
            col("n_shingles")).as("contamination"))
    },
    Some("""WITH toks AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
             FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0),
      tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 <> 0),
      sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY 1),
      shared AS (SELECT tr.doc_id, COUNT(*) AS n_shared
                 FROM tr JOIN b USING (shingle) GROUP BY 1),
      doc AS (SELECT d.doc_id, d.source,
          COALESCE(sh2.n_shared, 0) AS n_shared,
          COALESCE(z.n_shingles, 0) AS n_shingles
        FROM (SELECT doc_id, source FROM documents WHERE doc_id % 17 <> 0) d
        LEFT JOIN sizes z ON d.doc_id = z.doc_id
        LEFT JOIN shared sh2 ON d.doc_id = sh2.doc_id)
      SELECT source, COUNT(*) AS n_docs,
        CAST(COUNT(*) FILTER (WHERE n_shared * 10 > n_shingles) AS BIGINT)
          AS n_flagged,
        CAST(SUM(n_shared) AS BIGINT) AS n_shared,
        CAST(SUM(n_shingles) AS BIGINT) AS n_shingles,
        CASE WHEN SUM(n_shingles) = 0 THEN NULL
          ELSE ((2 * SUM(n_shared) * 1000000 + SUM(n_shingles))
            // (2 * SUM(n_shingles))) / 1000000.0 END AS contamination
      FROM doc GROUP BY source"""))

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

  /** T119: curriculum ordering ([[Sampling.curriculumOrder]]) —
    * difficulty = the 10⁶-scaled non-stopword token fraction (harder
    * documents use fewer function words), stages cut at exact token
    * thirds. The oracle replays the scaled-integer difficulty, the
    * (difficulty, doc_id) running sum (proving the distributed
    * prefix scan equals the sequential window), the total, and the
    * integer stage rule.
    */
  private val sampleCurriculum = QueryDef(
    "sample_curriculum",
    (s, d) => {
      val er = graft.functions.ExactRound
      val nTok = TextAnalysis.tokenCount(col("text"))
      Sampling.curriculumOrder(Tables.documents(s, d), "doc_id", nTok,
        er.ratioScaled(nTok - TextAnalysis.stopwordCount(col("text")),
          nTok, 6))
    },
    Some("""WITH t AS (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) AS sw
        FROM documents),
      d AS (SELECT doc_id, n_tokens,
        ((2 * (n_tokens - sw) * 1000000 + n_tokens) // (2 * n_tokens))
          AS difficulty
        FROM t WHERE n_tokens > 0),
      c AS (SELECT doc_id, difficulty, n_tokens,
        CAST(SUM(n_tokens) OVER (ORDER BY difficulty, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_tokens
        FROM d),
      tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM d)
      SELECT doc_id, difficulty, n_tokens, cum_tokens,
        CASE WHEN 3 * cum_tokens <= total THEN 'warmup'
             WHEN 3 * cum_tokens <= 2 * total THEN 'main'
             ELSE 'anneal' END AS stage
      FROM c, tot"""))

  /** T120: epoch assembly ([[graft.datapipe.ShuffleOrder.shuffleRank]]
    * feeding [[Packing.packChunks]] as its order key) — the
    * composition the T17 scaladoc promises: pack the corpus into
    * 512-token chunks IN THE EPOCH'S pseudorandom order, so the
    * emitted chunk stream is what a data loader reads for one epoch.
    * Both legs ride certified operators; the rank→pack join keys on
    * the rank (unique by construction). The oracle replays the md5
    * order, the rank-ordered exclusive cumsum, and the chunk
    * explode — certifying the distributed prefix sum composes.
    */
  private val packEpoch = QueryDef(
    "pack_epoch",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val ranked = graft.datapipe.ShuffleOrder.shuffleRank(docs,
        col("doc_id"))
      val withToks = ranked.join(docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n")), Seq("doc_id"))
      Packing.packChunks(withToks, col("shuffle_rank"), col("n"),
          capacity = 512)
        .select(col("doc_id").as("shuffle_rank"), col("chunk_id"),
          col("n_tokens"))
        .join(ranked, Seq("shuffle_rank"))
        .select(col("doc_id"), col("shuffle_rank"), col("chunk_id"),
          col("n_tokens"))
    },
    Some("""WITH t AS (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n,
        ROW_NUMBER() OVER (ORDER BY
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
          doc_id) - 1 AS rk
        FROM documents),
      c AS (SELECT doc_id, rk, n,
        COALESCE(CAST(SUM(n) OVER (ORDER BY rk
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
          AS s
        FROM t WHERE n > 0)
      SELECT doc_id, rk AS shuffle_rank, b AS chunk_id,
        CAST(least(s + n, (b + 1) * 512) - greatest(s, b * 512) AS BIGINT)
          AS n_tokens
      FROM c, UNNEST(generate_series(CAST(s // 512 AS BIGINT),
        CAST((s + n - 1) // 512 AS BIGINT))) AS u(b)"""))

  /** T122: split report card — per (split, source): document and
    * token mass plus the realized split fraction in exact 6-dp
    * integer rounding, against the content-keyed splitter's 90/5/5
    * targets. The hash-bucket split only hits its targets in
    * expectation; this is the report a release pipeline publishes so
    * drift (skewed sources, duplicate-heavy content collapsing into
    * one bucket) is visible. Composes the certified T86 splitter with
    * a dimension-sized rollup; realized fraction is docs-based,
    * Σ per-source numerators over the source total.
    */
  private val splitReport = QueryDef(
    "split_report",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val er = graft.functions.ExactRound
      Sampling.contentSplit(docs, "doc_id", col("text"),
          trainPct = 90, valPct = 5)
        .join(docs.select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n")), Seq("doc_id"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).cast("bigint").as("n_tokens"))
        .withColumn("src_docs",
          sum(col("n_docs")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("source"))).cast("bigint"))
        .select(col("split"), col("source"), col("n_docs"),
          col("n_tokens"),
          er.ratio6(col("n_docs"), col("src_docs")).as("doc_frac"))
    },
    Some("""WITH f AS (SELECT doc_id,
        ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fingerprint
        FROM documents),
      b AS (SELECT doc_id,
        ('0x' || substr(md5('split:' || CAST(fingerprint AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        FROM f),
      sp AS (SELECT doc_id,
        CASE WHEN bucket < 90 THEN 'train'
             WHEN bucket < 95 THEN 'validation'
             ELSE 'test' END AS split
        FROM b),
      t AS (SELECT d.doc_id, d.source, sp.split,
        CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS BIGINT) AS n
        FROM documents d JOIN sp ON d.doc_id = sp.doc_id),
      g AS (SELECT split, source, COUNT(*) AS n_docs,
        CAST(SUM(n) AS BIGINT) AS n_tokens
        FROM t GROUP BY 1, 2),
      sd AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS src_docs
        FROM g GROUP BY 1)
      SELECT g.split, g.source, g.n_docs, g.n_tokens,
        ((2 * g.n_docs * 1000000 + sd.src_docs) // (2 * sd.src_docs))
          / 1000000.0 AS doc_frac
      FROM g JOIN sd ON g.source = sd.source"""))

  /** T123: sentence-boundary chunking
    * ([[graft.datapipe.Chunker.sentenceChunks]], maxTokens 50) — the
    * corpus is terminator-free word salad, so sentence structure is
    * PLANTED deterministically ('.' appended to every 7th token,
    * identical in both engines, the C4-entry pattern). The oracle
    * replays the planting, the capture-group sentence split, the
    * per-doc exclusive cumsum, and the cumulative-bin chunk rule.
    */
  private val chunkSentences = QueryDef(
    "chunk_sentences",
    (s, d) => {
      val w = filter(split(TextAnalysis.normalize(col("text")), " "),
        t => length(t) > 0)
      val planted = Tables.documents(s, d)
        .select(col("doc_id"), w.as("w"))
        .filter(size(col("w")) > 0)
        .select(col("doc_id"),
          array_join(transform(sequence(lit(1), size(col("w"))),
            i => when(i % 7 === 0,
              concat(element_at(col("w"), i), lit(".")))
              .otherwise(element_at(col("w"), i))), " ").as("text"))
      graft.datapipe.Chunker.sentenceChunks(planted, "doc_id", "text",
        maxTokens = 50)
    },
    Some("""WITH base AS (SELECT doc_id,
        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
          t -> len(t) > 0) AS w
        FROM documents),
      planted AS (SELECT doc_id,
        array_to_string(list_transform(generate_series(1, len(w)), i ->
          CASE WHEN i % 7 = 0 THEN w[i] || '.' ELSE w[i] END), ' ') AS text
        FROM base WHERE len(w) > 0),
      m AS (SELECT doc_id,
        string_split(regexp_replace(
          regexp_replace(text, chr(1), '', 'g'),
          '([.!?]) ', '\1' || chr(1), 'g'), chr(1)) AS ss
        FROM planted),
      s AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS sent_idx,
        ss[i] AS sentence,
        CAST(len(list_filter(string_split(ss[i], ' '), t -> len(t) > 0))
          AS BIGINT) AS n_tokens
        FROM m, UNNEST(generate_series(1, len(ss))) AS u(i)),
      f AS (SELECT * FROM s WHERE n_tokens > 0),
      c AS (SELECT doc_id, sent_idx, sentence, n_tokens,
        CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY doc_id
          ORDER BY sent_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS cum
        FROM f)
      SELECT doc_id, sent_idx, cum // 50 AS chunk_id, n_tokens, sentence
      FROM c"""))

  val defs: Seq[QueryDef] = Seq(
    textBlocklist, dedupKeepBest, textClassifierTerms, corpusNgramStats,
    textWinnowing, dedupContainment, textPerplexityKn,
    dedupWinnowMatch, decontamBySource, e2eIngestGate, sampleCurriculum,
    packEpoch, splitReport, chunkSentences,
    a2PromHistogram, q6PayloadHeatmap, corpusStats,
    textTokens, textQuality, textLangId, textFingerprint, textBm25,
    textBm25Queries, retrievalEval, sftRender, preferencePairs,
    layoutCompaction, sftSpanCorrupt,
    prefWinrate, prefBtSources, canaryAudit, mixAblationKl,
    clfCalibration, rlAdvantage, dedupSentences, sourceReport,
    evalPassAtK,
    sftFim, prefBestOfN, mixDoremi, mixDoremiIter, clfTemperature,
    sftLossMask, vocabHeaps, textRobustOutliers, prefLengthBias,
    prefKappa, textCollocations, clfLabelNoise, evalBootstrapCi,
    prefFleiss, splitLeakage, mixEpochSchedule,
    packPrefixCache, prefMajority,
    prefKrippendorff, evalMcnemar, qualitySpearman, corpusKsDrift,
    textSimpson, clfBrier, dedupEditVerify, sampleNeyman,
    evalPairedBootstrap, evalBleu, evalBleuCorpus, sftValidate,
    textPiiStats, e2eRedactionAudit,
    vocabGrowth,
    evalMde, textBurstiness,
    textKeywords, textTtr, vocabGoodTuring, corpusPsi, vocabCoverage,
    chunkTruncation, dedupQualityMix, textC4Rules, textMojibake,
    textRepetition, textGopherRules, textDupNgrams, textNovelty,
    textReadability, corpusZipf, corpusLengthQuantiles,
    textVocab, textPerplexity,
    textPerplexityInline, textPerplexityBackoff,
    textClassifier, textClassifierInline, textClassifierEval, textLangIdNb,
    textLangIdMargin,
    textClassifierCalibration, textClassifierUncertain, textSelectionCurve,
    textEntropy, textHeavyHitters,
    textDistinctHll, textSourceKl, qualityRankFusion,
    sampleImportance,
    sampleImportanceSoft, sampleTokenBudget, samplePplBuckets,
    sampleWeighted,
    bpeMerges, bpeEncode, bpeDecode, bpeFertility,
    wordPieceVocab, wordPieceEncode, wordPieceDecode, wordPieceCoverage,
    unigramEncode, unigramDecode,
    dedupStats,
    dedupExact, dedupNgramJaccard, dedupThresholdCurve, dedupPairQuality,
    dedupMinhashLsh, dedupMinhashProbe, dedupProbeMaterialized,
    e2eProbeAppend, e2eProbeCompact, dedupIndexStatsQ, e2eIngestChurn,
    dedupSimhash,
    dedupClusters, dedupClusterSizes, dedupKeepOne, dedupCdcChunks,
    dedupIncremental,
    dedupLines, textBoilerplate, textExtractHtml, textNormalizeUnicode,
    corpusDiff,
    dedupSpans, dedupSelfSpans, dedupTrimSpans, sampleStratified, a1Salted,
    packChunks, packLengthBuckets, packEfficiency, sourceOverlap,
    decontaminate, decontaminateSpans, e2eSplitDecontam,
    decontaminateTrim, decontaminateBloom, dedupBloomSeen,
    mixtureUpsample, mixtureTemperature, mixtureUnimax, corpusReport,
    sampleSplit, dedupSoftWeights, shuffleInterleave, e2eWeightedSelect,
    e2eMixture, e2eTokenMixture, e2eUnimaxMixture, e2eTrainPrep,
    chunkSliding, shuffleRank, shardAssign, shardManifest,
    textRedact, e2eDataPipeline, e2eQualityGate, e2eCuration,
    e2eStreamGate)
}
