package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.datapipe.{Audit, Contamination, Dedup, Sampling, TextAnalysis}

/** Deduplication and contamination queries: exact, line, span, n-gram,
  * MinHash-LSH, SimHash and winnowing dedup, the materialized MinHash
  * index and its append chain, cluster labelling, and benchmark
  * decontamination and canary audits.
  */
object DedupQueries {
  import SqlFragments.{DocWords, Shingles3, Words}

  /** The documents plus exact re-ingested copies: every 5th under
    * doc_id + 2000000 and every 10th again under doc_id + 3000000, so
    * content groups of 1, 2 and 3 copies all occur.
    */
  private def plantedCopies(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs
      .unionByName(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
  }

  /** Oracle twin of [[plantedCopies]]: `planted(doc_id, text)`. */
  private val plantedSql = """planted AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 3000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)"""

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
    Some(raw"""WITH $DocWords,
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
    Some(raw"""WITH $DocWords,
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

  /** Quality-by-multiplicity (T106) over the planted-duplicates
    * corpus (the dedup_soft_weights planting: multiplicities 1/2/3).
    * The oracle replays the planting, the fingerprint rollup, each
    * document's scaled-integer quality, and the exact mean division
    * — certifying the whole crawl-bias chain.
    */
  private val dedupQualityMix = QueryDef(
    "dedup_quality_mix",
    (s, d) => {
      val planted = plantedCopies(s, d)
      Dedup.qualityByMultiplicity(planted, "doc_id", col("text"))
    },
    Some(raw"""WITH $plantedSql,
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
      val w = filter(TextAnalysis.words(col("text")),
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
    Some(raw"""WITH base AS (SELECT doc_id,
        list_filter($Words,
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
      val planted = plantedCopies(s, d)
      Dedup.softDedupWeights(planted, "doc_id", col("text"))
    },
    Some(raw"""WITH $plantedSql,
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
    val toks = TextAnalysis.words(col("text"))
    val truncated = array_join(slice(toks, lit(1), size(toks) - 1), " ")
    docs.unionByName(
      docs.select((col("id") + 1000000).as("id"), truncated.as("text")))
  }

  private val twinsSqlCte =
    raw"""docs2 AS (
        SELECT doc_id AS id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS id, array_to_string(w[1:len(w)-1], ' ') AS text
        FROM (SELECT doc_id, $Words AS w
              FROM documents))"""

  /** `common(a_id, b_id, n_common)`: the shared word 3-gram shingles
    * of every pair of the twin-planted corpus, over `sh`/`sizes`.
    */
  private val twinOverlapCtes = s"""$twinsSqlCte,
      toks AS (SELECT id, $Words AS w FROM docs2),
      $Shingles3,
      common AS (SELECT x.id AS a_id, y.id AS b_id, COUNT(*) AS n_common
                 FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
                 GROUP BY 1, 2)"""

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
    Some(raw"""WITH toks AS (SELECT doc_id,
        list_filter($Words,
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
    Some(raw"""WITH toks AS (SELECT doc_id,
        list_filter($Words,
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
      toks AS (SELECT id, $Words AS w FROM docs2),
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
      val toks = TextAnalysis.words(col("text"))
      val planted = docs.select(col("doc_id"),
        concat_ws(" ", col("text"),
          array_join(slice(toks, 1, 10), " ")).as("text"))
      Dedup.selfSpans(planted, "doc_id", "text", k = 5, minWindows = 2)
    },
    Some(raw"""WITH base AS (SELECT doc_id, text,
        $Words AS w
        FROM documents),
      docs3 AS (SELECT doc_id,
        text || ' ' || array_to_string(w[1:10], ' ') AS text FROM base),
      toks AS (SELECT doc_id,
        $Words AS w
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
      val toks = TextAnalysis.words(col("text"))
      val planted = docs.select(col("doc_id"),
        concat_ws(" ", col("text"),
          array_join(slice(toks, 1, 10), " ")).as("text"))
      Dedup.trimSelfSpans(planted, "doc_id", "text", k = 5, minWindows = 2)
    },
    Some(raw"""WITH base AS (SELECT doc_id, text,
        $Words AS w
        FROM documents),
      docs3 AS (SELECT doc_id,
        text || ' ' || array_to_string(w[1:10], ' ') AS text FROM base),
      toks AS (SELECT doc_id,
        $Words AS w
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
    Some(s"""WITH $twinOverlapCtes
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
    Some(s"""WITH $twinOverlapCtes,
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
    Some(s"""WITH $twinOverlapCtes
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
      toks AS (SELECT id, $Words AS w FROM docs2),
      $Shingles3,
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
    Some(s"""WITH $twinOverlapCtes,
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

  private val MinhashIndexHashes = 64
  private val MinhashIndexBands = 32

  /** Cache directory of the fixture's base MinHash index. */
  private[graft] def minhashIndexCachePath(d: String,
      kind: IndexCache.Kind = IndexCache.Minhash,
      numHashes: Int = MinhashIndexHashes,
      bands: Int = MinhashIndexBands): String =
    IndexCache.path(kind, d, Seq("documents"), Seq(s"h$numHashes", s"b$bands"))

  /** Build-or-reuse the cached materialized index of the fixture's
    * BASE documents (ids < 1000000): signature table at `<path>/hh`,
    * pre-exploded buckets at `<path>/bb`. Shared by the
    * prebuilt-probe and append-chain entries — the base index is
    * identical in both, so one build amortizes across entries AND
    * bench reps.
    */
  private def ensureMinhashIndexCached(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    IndexCache.ensure(IndexCache.Minhash, minhashIndexCachePath(d), Seq("hh", "bb")) { path =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id").as("id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
      Dedup.minhashIndexWrite(docs, "id", "text", path,
        numHashes = MinhashIndexHashes, bands = MinhashIndexBands)
    }

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
      toks AS (SELECT id, $Words AS w FROM docs2),
      $Shingles3,
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
    val toks = TextAnalysis.words(col("text"))
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
    val path = IndexCache.scratchCopy(
      if (compact) "probe_compact" else "probe_append", cached, Seq("hh", "bb"))
    // the index is re-read per probe: day 2 must see the append (and,
    // after a compaction, the MANIFEST's new version)
    def probe(delta: org.apache.spark.sql.DataFrame) = {
      val (hh, bb) = Dedup.readIndexTables(s, path)
      Dedup.minhashProbePrebuilt(hh, bb, delta, "id", "text",
        numHashes = MinhashIndexHashes, bands = MinhashIndexBands, threshold = 0.8)
    }
    // day-1 verdicts published BEFORE the append mutates the index
    probe(day1).write.mode("overwrite").parquet(s"$path/verdicts1")
    Dedup.minhashIndexAppendRoot(day1, "id", "text", path,
      numHashes = MinhashIndexHashes, bands = MinhashIndexBands)
    if (compact) Dedup.minhashIndexCompact(s, path)
    s.read.parquet(s"$path/verdicts1")
      .select(lit(1L).as("day"), col("delta_id"), col("index_id"),
        col("jaccard"))
      .unionByName(probe(day2)
        .select(lit(2L).as("day"), col("delta_id"), col("index_id"),
          col("jaccard")))
  }

  private val probeChainOracle = raw"""WITH docs0 AS (SELECT doc_id AS id, text FROM documents),
      tok AS (SELECT id, $Words AS w FROM docs0),
      tw AS (SELECT id, array_to_string(w[1:len(w)-1], ' ') AS text FROM tok),
      day1 AS (SELECT id + 1000000 AS id, text FROM tw WHERE id % 2 = 0),
      day2 AS (SELECT id + 2000000 AS id, text FROM tw WHERE id % 2 = 0
               UNION ALL
               SELECT id + 3000000 AS id, text FROM tw WHERE id % 2 = 1),
      idx2 AS (SELECT id, text FROM docs0 UNION ALL SELECT id, text FROM day1),
      shB AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
              FROM tok, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      tokI2 AS (SELECT id, $Words AS w FROM idx2),
      shI2 AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
               FROM tokI2, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      tokD1 AS (SELECT id, $Words AS w FROM day1),
      shD1 AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
               FROM tokD1, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      tokD2 AS (SELECT id, $Words AS w FROM day2),
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
      val toks = TextAnalysis.words(col("text"))
      val day1 = docs.filter(col("id") % 2 === 0)
        .select((col("id") + 1000000).as("id"),
          array_join(slice(toks, lit(1), size(toks) - 1), " ").as("text"))
      val cached = ensureMinhashIndexCached(s, d)
      val path = IndexCache.scratchCopy("dedup_stats", cached, Seq("hh", "bb"))
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
      val toks = TextAnalysis.words(col("text"))
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
    Some(raw"""WITH docs0 AS (SELECT doc_id AS id, text FROM documents),
      tok AS (SELECT id, $Words AS w FROM docs0),
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
      tokD AS (SELECT id, $Words AS w FROM delta),
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
      toks AS (SELECT id, $Words AS w FROM docs2),
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
    Some(s"""WITH $twinOverlapCtes,
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

  /** Shared CTE chain: exact all-pairs jaccard >= 0.8 over the twins
    * corpus (the dedup_minhash_lsh oracle), reduced to a pair list. */
  private val exactPairsCte =
    s"""$twinOverlapCtes,
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

  /** Inter-source 3-gram overlap matrix (Jaccard over distinct gram
    * sets, zero-intersection pairs absent). The oracle rebuilds
    * every source's gram set from strings and replays intersection,
    * union, and the division.
    */
  private val sourceOverlap = QueryDef(
    "source_overlap",
    (s, d) => Dedup.sourceOverlap(Tables.documents(s, d),
      "text", "source", k = 3),
    Some(raw"""WITH toks AS (SELECT source,
        $Words AS w
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
    Some(raw"""WITH $DocWords,
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
        $Words AS w FROM sp),
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
      TextAnalysis.words(col("text")).as("w"))
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
  private val contamSpanCtes = raw"""toks0 AS (SELECT doc_id,
        $Words AS w
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
    Some(raw"""WITH $DocWords,
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
      val planted = plantedCopies(s, d)
      Dedup.keepBest(planted, "doc_id", col("text"),
        (TextAnalysis.md5Long60(concat(lit("pq:"),
          col("doc_id").cast("string"))) % 1000L).cast("double") / lit(1000.0))
    },
    Some(raw"""WITH $plantedSql,
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
    Some(raw"""WITH $DocWords,
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
      toks AS (SELECT id, $Words AS w FROM docs2),
      $Shingles3,
      common AS (SELECT x.id AS a_id, y.id AS b_id, COUNT(*) AS n_common
                 FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id <> y.id
                 GROUP BY 1, 2)
      SELECT a_id, b_id, n_common,
        CAST(n_common AS DOUBLE) / sa.n_sh AS containment
      FROM common JOIN sizes sa ON sa.id = a_id
      WHERE CAST(n_common AS DOUBLE) / sa.n_sh >= 0.8"""))

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
      toks AS (SELECT id, $Words AS w FROM docs2),
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
    Some(raw"""WITH $DocWords,
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

  val defs: Seq[QueryDef] = Seq(
    textDupNgrams, textNovelty, dedupQualityMix, canaryAudit,
    dedupSentences, dedupExact, dedupSoftWeights, dedupIncremental,
    dedupLines, textBoilerplate, corpusDiff, dedupSpans, dedupSelfSpans,
    dedupTrimSpans, dedupNgramJaccard, dedupThresholdCurve, dedupMinhashLsh,
    dedupMinhashProbe, dedupEditVerify, dedupProbeMaterialized,
    e2eProbeAppend, e2eProbeCompact, dedupIndexStatsQ, e2eIngestChurn,
    dedupSimhash, dedupPairQuality, dedupClusters, dedupClusterSizes,
    dedupKeepOne, sourceOverlap, decontaminate, e2eSplitDecontam,
    decontaminateSpans, decontaminateTrim, decontaminateBloom,
    dedupBloomSeen, dedupKeepBest, textWinnowing, dedupContainment,
    dedupWinnowMatch, decontamBySource)
}
