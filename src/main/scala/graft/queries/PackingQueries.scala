package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.datapipe.{Chunker, Contamination, Dedup, Packing, Sampling, TextAnalysis}

/** Packing, SFT and chunking queries: sequence packing, SFT rendering
  * and loss masks, FIM and span corruption, sliding/sentence/CDC chunking
  * and the train-prep compositions that end in a pack.
  */
object PackingQueries {
  import SqlFragments.{Shingles3, Words, WordsWrapped}

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
    Some(raw"""WITH t AS (SELECT doc_id,
        $Words AS w
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
    Some(raw"""WITH t AS (SELECT doc_id,
        $Words AS w
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
    Some(raw"""WITH dd AS (SELECT list_filter($WordsWrapped,
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
      val ws = filter(TextAnalysis.words(col("text")),
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
    Some(raw"""WITH w0 AS (SELECT doc_id,
        list_filter($Words, x -> len(x) > 0) AS w
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
            '^<\|(system|user|assistant)\|> .* <\|eot\|>$$'))) = 0
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
    Some(raw"""WITH d AS (SELECT doc_id,
        $Words AS w
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
    Some(raw"""WITH toks AS (SELECT doc_id,
        list_filter($Words,
          t -> len(t) > 0) AS w
        FROM documents)
      SELECT doc_id, CAST(i AS BIGINT) AS win_id,
        CAST(i * 48 AS BIGINT) AS start_tok,
        CAST(LEAST(64, len(w) - i * 48) AS BIGINT) AS n_tokens,
        array_to_string(w[i * 48 + 1 : i * 48 + LEAST(64, len(w) - i * 48)], ' ')
          AS chunk
      FROM toks, UNNEST(generate_series(0, (len(w) - 1) // 48)) AS g(i)
      WHERE len(w) > 0"""))

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
    Some(raw"""WITH RECURSIVE
      toks AS (SELECT doc_id AS id,
        $Words AS w
        FROM documents),
      $Shingles3,
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
      val w = filter(TextAnalysis.words(col("text")),
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
    Some(raw"""WITH base AS (SELECT doc_id,
        list_filter($Words,
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
    chunkTruncation, sftRender, sftSpanCorrupt, packPrefixCache,
    sftValidate, sftFim, sftLossMask, dedupCdcChunks, packChunks,
    packLengthBuckets, packEfficiency, e2eTrainPrep, chunkSliding,
    e2eDataPipeline, packEpoch, chunkSentences)
}
