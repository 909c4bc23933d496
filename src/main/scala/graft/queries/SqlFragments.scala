package graft.queries

/** DuckDB oracle fragments that several query families splice in.
  * Plain strings with no reference back into a query object, so any
  * family can read them while it initialises.
  *
  * Splice with `+` or into a `raw"""…"""` / `s"""…"""` oracle. Never
  * turn a plain `"""` oracle into `s"""` to splice: `s` reads the
  * `\b` of the word-boundary regexes as a backspace, where `raw`
  * keeps every backslash as written.
  */
private[queries] object SqlFragments {

  /** The lower-cased, whitespace-collapsed word list of `text`: the
    * oracle twin of [[graft.datapipe.TextAnalysis.words]].
    */
  val Words: String =
    raw"string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"

  /** [[Words]] as the oracles that wrapped it after `trim(` print it
    * (one space after `trim(`). Same list; kept apart so those
    * oracles' SQL text stays as it was.
    */
  val WordsWrapped: String =
    raw"string_split(trim( regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"

  /** `toks(doc_id, w)`: the [[Words]] of every document. */
  val DocWords: String = s"toks AS (SELECT doc_id, $Words AS w FROM documents)"

  /** The four language-id keyword scores `s_en`, `s_es`, `s_fr`, `s_de`
    * of `text`, the oracle twin of
    * [[graft.datapipe.TextAnalysis.predictLang]]'s counts.
    */
  val LangScores: String =
    raw"""len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS s_en,
        len(regexp_extract_all(lower(text), '\b(el|la|de|que|y)\b')) AS s_es,
        len(regexp_extract_all(lower(text), '\b(le|la|de|et|les)\b')) AS s_fr,
        len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS s_de"""

  /** Add-one bigram log-probabilities over `toks(doc_id, w)`: the
    * bigrams `bg`, their counts `c2`/`c1`, the vocabulary size `vc`,
    * and one 8-dp log-probability `lps(doc_id, lp)` per bigram.
    */
  val BigramLogProbs: String =
    """bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
             FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
             WHERE len(w) >= 2),
      c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
      vc AS (SELECT COUNT(DISTINCT u.tk) AS v FROM toks, UNNEST(w) AS u(tk)),
      lps AS (SELECT doc_id,
          round(ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + vc.v AS DOUBLE)), 8) AS lp
        FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), vc)"""

  /** BM25 (k1 = 1.2, b = 0.75) of the query terms `q(q_id, term)` over
    * `toks(doc_id, w)`: 8-dp decimal term weights summed to a 4-dp
    * `sc(q_id, doc_id, score)`.
    */
  val Bm25Scores: String =
    """base AS (SELECT doc_id, len(w) AS dl, w FROM toks),
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
        FROM wts JOIN q USING (term) GROUP BY 1, 2)"""

  /** Distinct word 3-gram shingles `sh(id, shingle)` of
    * `toks(id, w)`, and each id's shingle count `sizes(id, n_sh)`.
    */
  val Shingles3: String =
    """sh AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
             FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
      sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id)"""

  /** `embeddings.embedding` as a DOUBLE list named `emb`. */
  val EmbCast: String =
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb"

  /** The top-5 tail of a nearest-neighbour oracle: rank the
    * `(q_id, vec_id, score)` rows of `from` per query by score, then
    * vec_id, and keep ranks 1..5.
    */
  def top5(from: String): String =
    s"""ranked AS MATERIALIZED (SELECT q_id, vec_id, score,
          CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
        FROM $from)
      SELECT q_id, rnk, vec_id, score FROM ranked WHERE rnk <= 5"""
}
