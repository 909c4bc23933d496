package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.datapipe.BpeTokenizer
import graft.functions.ExactRound

/** Tokenizer queries: BPE training, encode/decode and fertility,
  * WordPiece vocabulary and greedy encoding, and UnigramLM Viterbi
  * encode/decode.
  */
object TokenizerQueries {
  import SqlFragments.{DocWords, Words}

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
        list_filter($Words,
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
          ExactRound.ratio6(col("n_pieces"), col("n_words")).as("fertility"))
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
    Some(raw"""WITH RECURSIVE toks AS (SELECT doc_id,
        $Words AS w0
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
    Some(raw"""WITH RECURSIVE toks AS (SELECT doc_id,
        $Words AS w0
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

  private val bpeM = 10

  /** One unrolled BPE training round as DuckDB CTEs: weighted pair
    * counts from the round's vocab, argmax with the engine's exact
    * tie-break, and the same greedy left-to-right merge fold
    * (list_reduce over chr(1)-separated symbols). An empty round
    * (vocabulary fully merged) carries the vocab forward unchanged
    * via the LEFT JOIN's null pair.
    */
  private[queries] def bpeRound(r: Int, pfx: String = ""): String = s"""
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

  private def bpeTrainCtes: String = s"""$DocWords,
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

  val defs: Seq[QueryDef] = Seq(
    wordPieceVocab, wordPieceEncode, wordPieceDecode, wordPieceCoverage,
    unigramEncode, unigramDecode, bpeMerges, bpeEncode, bpeDecode,
    bpeFertility)
}
