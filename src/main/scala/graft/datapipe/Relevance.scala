package graft.datapipe

import graft.datapipe.Staging.Staged

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level relevance scoring (BM25) — the ranking half of a
  * training-data pipeline's quality/retrieval tooling: score every
  * document against a fixed query-term set for retrieval-based data
  * selection ("keep documents relevant to these seed topics").
  *
  * BM25 (Robertson/Spärck Jones, the Lucene `k1`/`b` variant):
  *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *   idf(t)   = ln(1 + (N − df + 0.5) / (df + 0.5))
  *
  * Scale shape: one token-explode pass filtered to the query terms
  * (map-side — the non-matching token stream never shuffles), one
  * groupBy (doc, term) for tf, and two tiny broadcast sides: per-term
  * document frequencies (|terms| rows) and the global (N, avgdl)
  * pair. The 100 TB corpus is shuffled only as (doc_id, term, tf)
  * rows for matching terms.
  *
  * Engine portability: every aggregate feeding the formula is exact
  * (counts, and avgdl = Σdl/N — one IEEE division of exact longs), so
  * the float pipeline is a fixed expression tree over identical
  * inputs in any engine. Per-term weights are combined as pivoted
  * columns added in literal term order — NOT a float `sum()` whose
  * partial-aggregation order Spark does not define — so the total is
  * bit-reproducible; the oracle replays the same left-to-right sum.
  */
object Relevance {

  /** (doc_id, score) for every document (0.0 when no term matches),
    * rounded to 4 dp. `terms` must be distinct lowercase tokens; the
    * scoring order is the Seq order, which the oracle must mirror.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      s"terms must be non-empty and distinct: $terms")
    val toks = split(TextAnalysis.normalize(col(textCol)), " ")
    val base = docs.select(col(idCol).as("doc_id"), toks.as("w"))
    // dl must count ALL tokens (BM25's length normalization), so it
    // rides the explode row alongside each matched term.
    // persist(): matched feeds BOTH the weighting join and the df
    // aggregation below — without it Catalyst plans the scan + explode
    // + filter pipeline twice (DataFrame reuse is logical, not
    // physical). Post-aggregation it is skinny (≤ |terms| rows per
    // doc), so the cache is bounded; session-scoped like the other
    // dedup staging tables (Bench/tests clear caches between queries).
    val matched = base
      .select(col("doc_id"), size(col("w")).as("dl"), explode(col("w")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"))
      .stage()
    val dfs = matched.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(size(col("w"))).as("sum_dl"))
    val weighted = matched
      .join(broadcast(dfs), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("wt",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    // Pivot to fixed columns, then add left-to-right in term order:
    // at most one `wt` row exists per (doc, term), so each max() is
    // exact and the sum order is literal, not shuffle-dependent.
    val aggs = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === lit(t), col("wt"))).as(s"w_$i")
    }
    val perTerm = weighted.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
    val total = terms.indices
      .map(i => coalesce(col(s"w_$i"), lit(0.0)))
      .reduce(_ + _)
    base.select(col("doc_id"))
      .join(perTerm, Seq("doc_id"), "left")
      .select(col("doc_id"), round(total, 4).as("score"))
  }

  /** Per-document TF-IDF keyword extraction: the top-k terms of every
    * document by tf·ln(N/df), the topic-tagging/selection signal next
    * to [[bm25]]'s fixed-query scoring. Unlike BM25 the full token
    * stream is the subject, so the tf table (doc, term, count) is the
    * one corpus-scale shuffle, with map-side partial counts; document
    * frequency is a window count over the term partitioning (no
    * second table, no join), and the final ranking windows per doc —
    * groups are per-doc vocabularies, so no corpus-wide partition
    * exists at any scale. Ranking compares the 4-dp ROUNDED score
    * (ties on term asc), making the cut deterministic and
    * engine-portable; idf is one exact-long division + ln. Word-camp
    * tokenization (zero-length tokens are not words).
    */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = filter(split(TextAnalysis.normalize(col(textCol)), " "),
      w => length(w) > 0)
    val tf = docs.select(col(idCol).as("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(n))
      .withColumn("score", round(col("tf").cast("double") *
        log(col("n_docs").cast("double") / col("df").cast("double")), 4))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term").asc)).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("score"))
  }

  /** Top-n ranked list of one quality signal: the global cut runs as
    * TakeOrderedAndProject (per-partition top-n, merged on the
    * driver), and only the n SURVIVORS see a window — so the
    * single-partition row_number is bounded by n, never the corpus.
    * NULL scores sort last; doc-id tie-break pins every rank.
    * Output: (idCol, r) with r in 1..n as bigint.
    */
  def topRanks(scored: DataFrame, idCol: String, scoreCol: String,
               ascending: Boolean, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord =
      if (ascending) Seq(col(scoreCol).asc_nulls_last, col(idCol).asc)
      else Seq(col(scoreCol).desc_nulls_last, col(idCol).asc)
    // single-partition window is BOUNDED: its input is the limit(n)
    // above, at most n rows at any corpus size
    scored.orderBy(ord: _*).limit(n)
      .select(col(idCol),
        row_number().over(Window.orderBy(ord: _*)).cast("bigint").as("r"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) of
    * top-n lists: rrf(d) = Σ_lists 1/(k + r_list(d)), contributions
    * from lists that did not retrieve d are 0. The curation ensemble
    * an ingest pipeline runs over its quality signals — rank-space
    * fusion needs no score calibration across signals.
    *
    * Scale shape: every input is already a bounded n-row list, so the
    * union, the rank pivot, and the fusion arithmetic all run over at
    * most |lists|·n rows. Portability: ranks are exact integers and
    * the fusion sum is a FIXED-ORDER chain of |lists| double terms
    * (written identically in the oracle), rounded to 6 dp.
    *
    * Output: (idCol, r_<name>… nullable bigint, rrf).
    */
  def rrfFuse(lists: Seq[(String, DataFrame)], idCol: String,
              k: Int): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one list")
    require(lists.map(_._1).distinct.size == lists.size,
      s"rrfFuse list names must be unique (duplicate r_<name> columns " +
        s"fail analysis far from here); got ${lists.map(_._1).mkString(", ")}")
    val tagged = lists.map { case (nm, df) =>
      df.select(col(idCol), lit(nm).as("sig"), col("r"))
    }.reduce(_ unionByName _)
    val rankCols = lists.map { case (nm, _) =>
      min(when(col("sig") === nm, col("r"))).as(s"r_$nm")
    }
    val pivoted = tagged.groupBy(col(idCol))
      .agg(rankCols.head, rankCols.tail: _*)
    val rrf = lists.map { case (nm, _) =>
      coalesce(lit(1.0) / (lit(k.toDouble) + col(s"r_$nm").cast("double")),
        lit(0.0))
    }.reduce(_ + _)
    pivoted.withColumn("rrf", round(rrf, 6))
  }

  /** Per-QUERY BM25 top-n retrieval — [[bm25]] generalized from one
    * fixed term set scoring the whole corpus to a query TABLE
    * (q_id, q_terms array<string>), each query retrieving its own
    * ranked candidate list. This is the lexical half of a retrieval
    * serving/selection stack (the other half is the dense ANN
    * family); only documents matching ≥ 1 query term are retrieved —
    * the zero-score corpus remainder is never emitted.
    *
    * Scale shape: the query table is broadcast-small by construction
    * (a serving batch, not a corpus). The corpus is tokenized ONCE
    * and pruned map-side to the distinct term union via a broadcast
    * semi join — the non-matching token stream never shuffles; tf
    * then shuffles as (doc, term) rows for matching terms only,
    * SHARED across all queries. Per-term df and the (N, avgdl) pair
    * are term-set/one-row bounded broadcasts; the query fan-out joins
    * the skinny weight table to the broadcast (q_id, term) pairs; the
    * final cut is the two-stage TopK heap — no corpus sort, no
    * per-query window over unbounded candidates.
    *
    * Portability: per-(doc, term) weights follow [[bm25]]'s exact
    * feeding aggregates; the per-query sum has no literal column
    * order (term sets vary per query), so instead of the pivot trick
    * each weight is rounded to 8 dp and accumulated as
    * DECIMAL(28,8) — an order-independent EXACT sum both engines
    * replay — then the total rounds to 4 dp on the decimal.
    * Duplicate terms within one query count once (distinct pairs).
    *
    * Output: (q_id, rnk 1..n, doc_id, score) best-first, doc_id
    * tie-break on the rounded score.
    */
  def bm25PerQuery(docs: DataFrame, idCol: String, textCol: String,
                   queries: DataFrame, n: Int,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import graft.functions.TopK
    val qt = queries
      .select(col("q_id"), explode(col("q_terms")).as("term")).distinct()
    val terms = qt.select(col("term")).distinct()
    val toks = split(TextAnalysis.normalize(col(textCol)), " ")
    // Staged so normalize+split runs ONE pass over the corpus: both
    // the matched-tf subtree and the (n_docs, sum_dl) stats subtree
    // read the materialized token arrays — without the stage they
    // are independent subtrees and each would re-tokenize every
    // document (the dominant cost at serving scale).
    val base = docs.select(col(idCol).as("doc_id"), toks.as("w")).stage()
    val matched = base
      .select(col("doc_id"), size(col("w")).as("dl"),
        explode(col("w")).as("term"))
      .join(broadcast(terms), Seq("term"), "left_semi")
      .groupBy(col("doc_id"), col("term"))
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"))
      .stage()
    val dfs = matched.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(size(col("w"))).as("sum_dl"))
    val wts = matched
      .join(broadcast(dfs), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("wt8",
        round(col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))), 8)
          .cast("decimal(28,8)"))
    val perQueryDoc = wts
      .join(broadcast(qt), Seq("term"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("wt8")).as("sdec"))
      .select(col("q_id"), col("doc_id"),
        round(col("sdec"), 4).cast("double").as("score"))
    perQueryDoc.groupBy(col("q_id"))
      .agg(TopK.topK(n)(col("doc_id"), col("score")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("bigint").as("rnk"),
        col("col.item").as("doc_id"), col("col.score").as("score"))
  }

  /** Exact boolean-AND containment qrels: for each query, the
    * documents whose (normalized, distinct) token set contains EVERY
    * distinct query term. This is the deterministic ground-truth a
    * retrieval-metric harness ([[retrievalEval]]) can certify against
    * without human judgments — the all-terms-present predicate is the
    * strictest lexical relevance definition, and both engines replay
    * it exactly (no scores, no floats). A query's source document
    * always contains its own terms, so every query has ≥ 1 relevant
    * document by construction.
    *
    * Scale shape: one distinct-token explode pass over the corpus,
    * pruned map-side by the broadcast (q_id, term) pairs — only
    * tokens matching SOME query term shuffle, keyed (q_id, doc_id)
    * with map-side partial counts; the per-query term counts
    * broadcast. The corpus text is never shuffled.
    */
  def containmentQrels(docs: DataFrame, idCol: String, textCol: String,
                       queries: DataFrame): DataFrame = {
    val qt = queries
      .select(col("q_id"), explode(col("q_terms")).as("term")).distinct()
    val qn = qt.groupBy(col("q_id")).agg(count(lit(1)).as("n_terms"))
    val toks = split(TextAnalysis.normalize(col(textCol)), " ")
    docs
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(toks)).as("term"))
      .join(broadcast(qt), Seq("term"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit"))
      .join(broadcast(qn), Seq("q_id"))
      .filter(col("n_hit") === col("n_terms"))
      .select(col("q_id"), col("doc_id"))
  }

  /** Retrieval evaluation harness: Recall@k, MRR@k, and binary-gain
    * nDCG@k per query — the metric row a retrieval stack publishes
    * for every ranker it compares (the retrieval sibling of the
    * classifier's confusion-matrix eval). `retrieved` is a ranked
    * list (q_id, rnk, doc_id) (rows with rnk > k are ignored);
    * `qrels` is the relevant set (q_id, doc_id). Every query with
    * ≥ 1 relevant document emits a row — a ranker that retrieved
    * nothing for a judged query scores 0, not absent.
    *
    * Portability: every metric is exact-integer arithmetic
    * ([[graft.functions.ExactRound]]). The one transcendental — the
    * DCG gain 1/log2(r+1) — is rounded to 8 dp per RANK and summed
    * as DECIMAL(18,8)→(28,8) (order-independent), then nDCG divides
    * the two gain sums as 10^8-scaled exact integers. MRR is the
    * exact ratio 1/first_rank (0.0 when no relevant doc was
    * retrieved); Recall@k = hits/|rel| (NOT capped at k — the
    * standard definition, so recall < 1 is reachable whenever
    * |rel| > k).
    *
    * Scale shape: qrels may be corpus-sized (an exhaustive judgment
    * set); it is reduced per query with map-side partial counts
    * before any join. Everything downstream is |queries|-row tables
    * joined broadcast-free (tiny both sides) plus one ≤ k-row
    * explode per query for the ideal-DCG ladder. The retrieved side
    * is |queries|·k by construction.
    *
    * Output: (q_id, n_rel, n_ret, hits, first_rank nullable bigint,
    * recall_k, mrr, ndcg_k).
    */
  def retrievalEval(retrieved: DataFrame, qrels: DataFrame,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val er = graft.functions.ExactRound
    // per-rank DCG gain, engine-exact: 8-dp round of one IEEE
    // quotient, accumulated as exact decimal
    def gain(r: Column): Column =
      round(lit(1.0) / log2(r.cast("double") + lit(1.0)), 8)
        .cast("decimal(18,8)")
    // a 10^8-scaled exact integer from a (28,8) gain sum; values are
    // ≤ k, so the widened decimal product stays far from precision 38
    // (the decimal-overflow scale-drop trap)
    def e8(c: Column): Column =
      (c.cast("decimal(20,8)") * lit(100000000L)).cast("long")
    val ret = retrieved.filter(col("rnk") <= k)
    val rel = qrels.select(col("q_id"), col("doc_id"))
    val nRel = rel.groupBy(col("q_id")).agg(count(lit(1)).as("n_rel"))
    val nRet = ret.groupBy(col("q_id")).agg(count(lit(1)).as("n_ret"))
    val hitAgg = ret
      .join(rel, Seq("q_id", "doc_id"), "left_semi")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("hits"), min(col("rnk")).as("first_rank"),
        sum(gain(col("rnk"))).as("dcg"))
    val idcg = nRel
      .select(col("q_id"),
        explode(sequence(lit(1L), least(col("n_rel"), lit(k.toLong))))
          .as("r"))
      .groupBy(col("q_id")).agg(sum(gain(col("r"))).as("idcg"))
    nRel
      .join(nRet, Seq("q_id"), "left")
      .join(hitAgg, Seq("q_id"), "left")
      .join(idcg, Seq("q_id"))
      .select(col("q_id"), col("n_rel"),
        coalesce(col("n_ret"), lit(0L)).as("n_ret"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        col("first_rank").cast("bigint").as("first_rank"),
        er.ratio6(coalesce(col("hits"), lit(0L)), col("n_rel"))
          .as("recall_k"),
        coalesce(er.ratio6(lit(1L), col("first_rank")), lit(0.0)).as("mrr"),
        er.ratio6(e8(coalesce(col("dcg"), lit(0).cast("decimal(18,8)"))),
          e8(col("idcg"))).as("ndcg_k"))
  }

  /** Per-query reciprocal-rank fusion — [[rrfFuse]] keyed by
    * (q_id, doc_id): the HYBRID-RETRIEVAL merge that combines a
    * dense (embedding ANN) ranked list with a lexical
    * ([[bm25PerQuery]]) ranked list per query without score
    * calibration — the standard two-tower serving shape.
    *
    * Scale shape: every input list is top-n bounded PER QUERY, so
    * the fused candidate set is ≤ |lists|·n rows per query; the
    * re-rank window partitions by q_id over that bounded set — never
    * over a corpus-sized group. Portability: rrf is a FIXED-ORDER
    * chain of |lists| IEEE terms over exact integer ranks, rounded
    * to 6 dp; the final rank orders on the ROUNDED rrf with doc_id
    * tie-break.
    *
    * Output: (q_id, rnk 1..n, doc_id, r_<name>… nullable bigint, rrf).
    */
  def rrfFuseQueries(lists: Seq[(String, DataFrame)], n: Int,
                     k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(lists.nonEmpty, "rrfFuseQueries needs at least one list")
    require(lists.map(_._1).distinct.size == lists.size,
      s"rrfFuseQueries list names must be unique (duplicate r_<name> columns " +
        s"fail analysis far from here); got ${lists.map(_._1).mkString(", ")}")
    val tagged = lists.map { case (nm, df) =>
      df.select(col("q_id"), col("doc_id"), lit(nm).as("sig"), col("rnk"))
    }.reduce(_ unionByName _)
    val rankCols = lists.map { case (nm, _) =>
      min(when(col("sig") === nm, col("rnk"))).as(s"r_$nm")
    }
    val pivoted = tagged.groupBy(col("q_id"), col("doc_id"))
      .agg(rankCols.head, rankCols.tail: _*)
    val rrf = lists.map { case (nm, _) =>
      coalesce(lit(1.0) / (lit(k.toDouble) + col(s"r_$nm").cast("double")),
        lit(0.0))
    }.reduce(_ + _)
    pivoted.withColumn("rrf", round(rrf, 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("rrf").desc, col("doc_id").asc)).cast("bigint"))
      .filter(col("rnk") <= n)
      .select(Seq(col("q_id"), col("rnk"), col("doc_id")) ++
        lists.map { case (nm, _) => col(s"r_$nm") } :+ col("rrf"): _*)
  }

  /** The unbiased pass@k estimator (Chen et al. 2021, Codex,
    * arXiv:2107.03374 §2.1): per group (all samples of one prompt;
    * here any caller-chosen stratum) with n samples of which c are
    * correct,
    *
    *   pass@k = 1 − C(n−c, k)/C(n, k)
    *          = 1 − Π_{i=0..k−1} (n−c−i)/(n−i)
    *
    * — the probability at least one of k drawn samples is correct,
    * computed by the numerically-stable ordered product (never the
    * naive 1−(1−c/n)^k, which is biased). Every factor is an exact
    * integer ratio; the product folds LEFT-TO-RIGHT over
    * i = 0..k−1 in both engines (Spark `aggregate` over `sequence`,
    * DuckDB `list_reduce` over `generate_series` — identical IEEE
    * grouping), so the doubles agree exactly; the readout rounds to
    * 6 dp. k > n reads NULL (undefined); n−c < k reads exactly 1.0
    * (every size-k draw must contain a correct sample).
    *
    * Scale shape: one map-side-combined rollup to (group, n, c),
    * then a groups × |ks| per-row expression — nothing else touches
    * the corpus.
    *
    * Output: (groupCols…, n, c, k, pass_at_k).
    */
  def passAtK(samples: DataFrame, groupCols: Seq[String], correct: Column,
              ks: Seq[Int]): DataFrame = {
    require(groupCols.nonEmpty, "passAtK needs >= 1 group column")
    require(ks.nonEmpty && ks.forall(_ >= 1),
      s"ks must be >= 1, got ${ks.mkString(",")}")
    val grp = groupCols.map(col)
    val stats = samples.groupBy(grp: _*).agg(
      count(lit(1)).as("n"),
      sum(when(correct, lit(1L)).otherwise(lit(0L))).as("c"))
    val prod = aggregate(
      sequence(lit(0L), col("k") - 1),
      lit(1.0),
      (acc, i) => acc * ((col("n") - col("c") - i).cast("double")
        / (col("n") - i).cast("double")))
    stats
      .select(grp :+ col("n") :+ col("c") :+
        explode(array(ks.map(k => lit(k.toLong)): _*)).as("k"): _*)
      .select(grp ++ Seq(col("n"), col("c"), col("k"),
        when(col("k") > col("n"), lit(null).cast("double"))
          .when(col("n") - col("c") < col("k"), lit(1.0))
          .otherwise(round(lit(1.0) - prod, 6))
          .as("pass_at_k")): _*)
  }

  /** Cumulative Poisson(1) pmf × 10⁶, rounded — the weight lookup
    * for [[bootstrapCI]]'s Poisson bootstrap. A 60-bit hash mod 10⁶
    * below `PoissonCum(k)` entries means weight k; the tail (≥ all
    * nine) reads weight 9 (P ≈ 1.1e−6, the truncation is stated).
    */
  val PoissonCum: Seq[Long] = Seq(
    367879L, 735759L, 919699L, 981012L, 996340L,
    999406L, 999917L, 999990L, 999999L)

  /** T162: Poisson-bootstrap confidence interval (Efron 1979 via the
    * Poisson approximation — Chamandy et al. 2012, "Estimating
    * Uncertainty for Massive Data Streams", the shuffle-free
    * bootstrap production systems run because true resampling needs
    * a global index): the 95% CI on a boolean eval metric's pass
    * rate. Each (rep, item) pair draws a deterministic Poisson(1)
    * weight from a salted md5 of (rep, id) against the [[PoissonCum]]
    * table, so rep r's estimate is Σ w·x / Σ w — an exact integer
    * ratio — and the whole procedure replays bit-for-bit in any
    * engine: no RNG state, no sampling order, no global index.
    *
    * CI bounds are the type-1 (lower-value) empirical percentiles of
    * the B rep estimates: the values at sorted 1-based positions
    * ⌈0.025·B⌉ and ⌈0.975·B⌉, ties broken by rep id — integer
    * arithmetic end-to-end. B here is the EFFECTIVE rep count: a rep
    * whose Poisson weights all landed zero (probability ~e^-n) is a
    * degenerate resample and is excluded from the ranking; n_reps in
    * the readout still reports the REQUESTED rep count.
    *
    * Scale shape: corpus × B rows through ONE map-side-combined
    * rollup to B rows (the per-rep Σw/Σwx partials combine inside
    * each scan task); everything after is B-sized — the rank window
    * runs over B rows, the readout is a one-row broadcast
    * composition. B is a bounded literal.
    *
    * Output: one row — (n_items, n_reps, pass_rate, lo95, hi95).
    */
  def bootstrapCI(items: DataFrame, idCol: String, correct: Column,
                  reps: Int = 200): DataFrame = {
    require(reps >= 40, s"need >= 40 reps for a 95% CI, got $reps")
    import org.apache.spark.sql.expressions.Window
    // h is materialized as its own projection so the md5 runs ONCE
    // per (rep, item) — embedded in a higher-order filter lambda it
    // would re-evaluate per array element (9× the hashes, measured
    // ~15× slower end-to-end); the weight lookup is a codegen'd
    // when-chain over the literal cumulative pmf
    val h = graft.datapipe.TextAnalysis.md5Long60(concat(
      lit("boot:"), col("rep").cast("string"), lit(":"),
      col("__id").cast("string"))) % 1000000L
    val w = PoissonCum.zipWithIndex.foldRight(
        lit(PoissonCum.length.toLong)) { case ((t, k), rest) =>
      when(col("h") < t, k.toLong).otherwise(rest)
    }
    val drawn = items
      .select(col(idCol).cast("string").as("__id"),
        when(correct, 1L).otherwise(0L).as("__x"))
      .select(col("__x"), col("__id"),
        explode(sequence(lit(0L), lit(reps.toLong - 1))).as("rep"))
      .select(col("rep"), col("__x"), h.as("h"))
      .select(col("rep"), col("__x"), w.cast("bigint").as("w"))
    val perRep = drawn.groupBy(col("rep"))
      .agg(sum(col("w")).as("den"), sum(col("w") * col("__x")).as("num"))
      // a rep whose Poisson weights are ALL zero (probability ~e^-n
      // per rep) carries no resample: its est would be NULL (num/0)
      // and ascending Window.orderBy ranks NULLs FIRST, silently
      // shifting every percentile position (the r13 advice finding)
      // — drop it, and derive the percentile positions from the
      // EFFECTIVE rep count so the type-1 ranks stay well-defined;
      // with zero degenerate reps (every real corpus) the positions
      // equal the old literal-B ones bit-for-bit
      .filter(col("den") > 0)
      .select(col("rep"),
        graft.functions.ExactRound.ratio6(col("num"), col("den"))
          .as("est"))
      // single-partition windows are BOUNDED: `perRep` is grouped by
      // rep, drawn from sequence(0, reps - 1), so at most `reps` rows
      .withColumn("rn", row_number().over(
        Window.orderBy(col("est").asc, col("rep").asc)).cast("bigint"))
      .withColumn("nb", count(lit(1)).over(
        Window.partitionBy(lit(1))).cast("bigint"))
    // ceil(q/1000 · nb) in exact integer arithmetic over the
    // effective count; the double division is exact below 2^53
    def pctPos(q: Int): Column =
      ((lit(q.toLong) * col("nb") + lit(999L)) / lit(1000L)).cast("bigint")
    val lo = perRep.filter(col("rn") === pctPos(25))
      .select(col("est").as("lo95"))
    val hi = perRep.filter(col("rn") === pctPos(975))
      .select(col("est").as("hi95"))
    val point = items.agg(
      count(lit(1)).as("n_items"),
      sum(when(correct, 1L).otherwise(0L)).as("n_pass"))
      .select(col("n_items"),
        lit(reps.toLong).as("n_reps"),
        graft.functions.ExactRound.ratio6(col("n_pass"), col("n_items"))
          .as("pass_rate"))
    point.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
  }

  /** T182: minimum detectable accuracy delta (eval power analysis,
    * normal approximation): MDE = (z_{α/2} + z_{power}) ·
    * √(2p(1−p)/n) at the conventional α = 0.05 two-sided / 80 %
    * power (1.96 + 0.8416) — the eval-PLANNING readout that belongs
    * next to [[mcnemar]] and [[pairedBootstrap]]: before arguing
    * about a 0.8-point gap, check whether this suite could even see
    * it (an n = 500 suite at p = 0.7 cannot detect < 5.7 points).
    * Per group, so a per-category eval table gets a per-category
    * noise floor.
    *
    * Exactness: n and the base rate are exact (HALF_UP ratio); the
    * MDE is one fixed IEEE tree over them + 6-dp round; z literals
    * are double-cast constants. Normal approximation (stated) — the
    * paired tests measure actual significance; this PLANS sample
    * sizes.
    *
    * Scale shape: ONE map-side-combined rollup to the group
    * dimension; no joins, no windows.
    *
    * Output: (groupCols…, n_items, base_rate, mde).
    */
  def minDetectableDelta(items: DataFrame, correct: Column,
                         groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "minDetectableDelta needs >= 1 group column")
    val grp = groupCols.map(col)
    val agg = items
      .select(when(correct, 1L).otherwise(0L).as("__x") +: grp: _*)
      .groupBy(grp: _*)
      .agg(count(lit(1)).as("n_items"), sum(col("__x")).as("n_pass"))
      .select(grp ++ Seq(col("n_items"),
        graft.functions.ExactRound.ratio6(col("n_pass"), col("n_items"))
          .as("base_rate")): _*)
    agg.select(grp ++ Seq(col("n_items"), col("base_rate"),
      round((lit(1.96) + lit(0.8416)) *
        sqrt(lit(2.0) * col("base_rate") * (lit(1.0) - col("base_rate")) /
          col("n_items").cast("double")), 6).as("mde")): _*)
  }

  /** T178: paired Poisson-bootstrap comparison of two systems on the
    * SAME items — the resampling companion to [[mcnemar]] (Koehn
    * 2004's paired bootstrap, the standard "is A really better than
    * B" test for eval suites): both systems' pass indicators ride
    * the SAME deterministic Poisson(1) weight per (rep, item), so
    * each rep resamples the ITEM SET once and scores both systems
    * on it — the item-difficulty correlation that unpaired
    * intervals throw away is preserved in every rep's delta.
    *
    * Determinism: the weight is the same salted-hash draw as
    * [[bootstrapCI]] (salt `pboot:`); per-rep accuracies are exact
    * HALF_UP ratios and the rep delta is their difference (exact at
    * 1e-6 granularity in double); degenerate all-zero-weight reps
    * drop, with percentile positions over the effective count (the
    * bootstrapCI convention). `frac_b_ge_a` — the fraction of reps
    * where A fails to beat B — is the one-sided significance
    * readout (≤ 0.025 ⇒ A better at the usual level).
    *
    * Scale shape: corpus × B rows through ONE map-side-combined
    * rollup to B rows; the rank window runs over B rows and the
    * readout is broadcast scalars. B is a bounded literal.
    *
    * Output: one row — (n_items, n_reps, acc_a, acc_b, delta,
    * lo95, hi95, frac_b_ge_a).
    */
  def pairedBootstrap(items: DataFrame, idCol: String,
                      correctA: Column, correctB: Column,
                      reps: Int = 200): DataFrame = {
    require(reps >= 40, s"need >= 40 reps for a 95% CI, got $reps")
    import org.apache.spark.sql.expressions.Window
    val h = graft.datapipe.TextAnalysis.md5Long60(concat(
      lit("pboot:"), col("rep").cast("string"), lit(":"),
      col("__id").cast("string"))) % 1000000L
    val w = PoissonCum.zipWithIndex.foldRight(
        lit(PoissonCum.length.toLong)) { case ((t, k), rest) =>
      when(col("h") < t, k.toLong).otherwise(rest)
    }
    val drawn = items
      .select(col(idCol).cast("string").as("__id"),
        when(correctA, 1L).otherwise(0L).as("__a"),
        when(correctB, 1L).otherwise(0L).as("__b"))
      .select(col("__a"), col("__b"), col("__id"),
        explode(sequence(lit(0L), lit(reps.toLong - 1))).as("rep"))
      .select(col("rep"), col("__a"), col("__b"), h.as("h"))
      .select(col("rep"), col("__a"), col("__b"), w.cast("bigint").as("w"))
    val perRep = drawn.groupBy(col("rep"))
      .agg(sum(col("w")).as("den"),
        sum(col("w") * col("__a")).as("na"),
        sum(col("w") * col("__b")).as("nb"))
      .filter(col("den") > 0)
      .select(col("rep"),
        (graft.functions.ExactRound.ratio6(col("na"), col("den")) -
          graft.functions.ExactRound.ratio6(col("nb"), col("den")))
          .as("delta"))
      // single-partition windows are BOUNDED: at most `reps` rows, one
      // per bootstrap replicate (grouped by rep, as above)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("delta").asc, col("rep").asc)).cast("bigint"))
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy(lit(1))).cast("bigint"))
    def pctPos(q: Int): Column =
      ((lit(q.toLong) * col("cnt") + lit(999L)) / lit(1000L)).cast("bigint")
    val lo = perRep.filter(col("rn") === pctPos(25))
      .select(col("delta").as("lo95"))
    val hi = perRep.filter(col("rn") === pctPos(975))
      .select(col("delta").as("hi95"))
    val sig = perRep.agg(
      graft.functions.ExactRound.ratio6(
        count(when(col("delta") <= 0, 1)), count(lit(1)))
        .as("frac_b_ge_a"))
    val point = items.agg(
      count(lit(1)).as("n_items"),
      sum(when(correctA, 1L).otherwise(0L)).as("pa"),
      sum(when(correctB, 1L).otherwise(0L)).as("pb"))
      .select(col("n_items"), lit(reps.toLong).as("n_reps"),
        graft.functions.ExactRound.ratio6(col("pa"), col("n_items"))
          .as("acc_a"),
        graft.functions.ExactRound.ratio6(col("pb"), col("n_items"))
          .as("acc_b"))
      .withColumn("delta", col("acc_a") - col("acc_b"))
    point.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
      .crossJoin(broadcast(sig))
  }

  /** T169: McNemar's paired test (McNemar 1947) — is classifier A
    * actually better than classifier B on the SAME items, or is the
    * accuracy gap within paired noise? The eval-harness reflex every
    * model-comparison table needs: unpaired accuracy deltas
    * overstate significance because both models face the same hard
    * items; McNemar conditions on the DISCORDANT pairs only (b = A
    * right & B wrong, c = A wrong & B right) — the concordant
    * counts cancel out of the hypothesis entirely.
    *
    * Statistic: the continuity-corrected χ² = (|b−c|−1)²/(b+c)
    * (Edwards 1948; 1 df, χ² > 3.841 ⇒ p < 0.05), NULL when
    * b + c = 0 (no discordant pairs — the test is undefined, not
    * "significant"). |b−c| ≤ 1 reads exactly 0 (the correction
    * floors at zero, it never goes negative).
    *
    * Exactness: all four cell counts are exact integers from ONE
    * map-side-combined rollup; accuracies are exact HALF_UP ratios;
    * the statistic is one fixed IEEE tree over exact integers,
    * rounded 6 dp.
    *
    * Scale shape: per-row boolean arithmetic + one rollup to the
    * group dimension; no joins, no windows.
    *
    * Output: (groupCols…, n_items, n_both, n_only_a, n_only_b,
    * n_neither, acc_a, acc_b, chi2).
    */
  def mcnemar(items: DataFrame, gold: Column, predA: Column,
              predB: Column, groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "mcnemar needs >= 1 group column")
    val grp = groupCols.map(col)
    val scored = items.select(
      (predA.cast("boolean") === gold.cast("boolean")).as("ca") +:
        (predB.cast("boolean") === gold.cast("boolean")).as("cb") +:
        grp: _*)
    val agg = scored.groupBy(grp: _*).agg(
      count(lit(1)).as("n_items"),
      sum(when(col("ca") && col("cb"), 1L).otherwise(0L)).as("n_both"),
      sum(when(col("ca") && !col("cb"), 1L).otherwise(0L)).as("n_only_a"),
      sum(when(!col("ca") && col("cb"), 1L).otherwise(0L)).as("n_only_b"),
      sum(when(!col("ca") && !col("cb"), 1L).otherwise(0L)).as("n_neither"))
    def d(c: String): Column = col(c).cast("double")
    val b = d("n_only_a")
    val c = d("n_only_b")
    val corr = greatest(abs(b - c) - lit(1.0), lit(0.0))
    agg.select(grp ++ Seq(
      col("n_items"), col("n_both"), col("n_only_a"), col("n_only_b"),
      col("n_neither"),
      graft.functions.ExactRound.ratio6(
        col("n_both") + col("n_only_a"), col("n_items")).as("acc_a"),
      graft.functions.ExactRound.ratio6(
        col("n_both") + col("n_only_b"), col("n_items")).as("acc_b"),
      when(col("n_only_a") + col("n_only_b") > 0,
        round(corr * corr / (b + c), 6))
        .otherwise(lit(null).cast("double")).as("chi2")): _*)
  }

  // --- BLEU / ROUGE n-gram overlap (T189/T190) --------------------

  /** Word tokens under THE tokenization convention (word-level
    * family: zero-length tokens filtered).
    */
  private def overlapToks(c: Column): Column =
    filter(split(TextAnalysis.normalize(c), " "), t => length(t) > 0)

  /** Per-(pair, n) CLIPPED n-gram match counts m_n =
    * Σ_g min(count_cand(g), count_ref(g)) for n = 1..maxN — the
    * shared kernel of sentence and corpus BLEU (clipping is always
    * per pair, Papineni 2002 §2.1).
    */
  /** Per-token 64-bit hashes — the gram-identity proxy
    * [[clippedMatches]] counts on. Computed ONCE per row; gram
    * hashes then derive by a rolling polynomial fold over long
    * windows, so no n-gram STRING is ever materialized (the r19
    * profile: building ~2 M `concat_ws(slice(...))` gram strings +
    * string agg/join keys cost ~50 s of executor time at sf0.1 —
    * ~25 µs/gram — all constant-factor allocation churn).
    */
  private def tokHashes(tok: Column): Column =
    transform(tok, t => xxhash64(t))

  /** Gram-hash array for window size n over the per-token hash
    * array: gh_i = fold(h_i..h_{i+n-1}; a = xxhash64(a, x)) — hash
    * chaining instead of a polynomial fold because ANSI mode (the
    * Spark 4 default) faults wrapping long multiplication. n = 1 is
    * the hash array itself. Same short-circuit guard as the old
    * string-gram builder: `sequence(1, stop)` DESCENDS for stop < 1.
    */
  private def gramHashesOf(h: Column, n: Int): Column =
    if (n == 1) h
    else when(size(h) >= n,
      transform(sequence(lit(1), size(h) - lit(n - 1)),
        i => aggregate(slice(h, i, lit(n)), lit(0L),
          (a, x) => xxhash64(a, x))))
      .otherwise(array().cast("array<bigint>"))

  /** Per-pair clipped n-gram match count m_n = Σ_g min(count_cand(g),
    * count_ref(g)) as a PURE PER-ROW column — no explode, no shuffle,
    * no join (r19 rewrite; guide §1.1 first-principles / §2.4 remove
    * shuffles outright). Clipping is per pair by definition (Papineni
    * 2002 §2.1), so the old shape — explode both sides to
    * (pid, n, gram) rows, count-aggregate each side (~2.2 M
    * mostly-UNIQUE keys at sf0.1, so the partial agg reduced nothing
    * and every row shuffled), equi-join cand↔ref, re-aggregate to
    * (pid, n) — paid two exchanges, two hash aggregations and a join
    * for a quantity computable where the row already is. Profiled:
    * those two side stages cost ~53 s of executor time at sf0.1; this
    * fold computes the same counts in one projection pass and scales
    * embarrassingly (zero shuffle bytes at any corpus size).
    *
    * Mechanics: side-tag each gram hash in its LOW BIT
    * (cand = 0, ref = 1), sort the combined array, then one
    * `aggregate` fold walks the runs of equal gram keys accumulating
    * min(cand_count, ref_count) per run — O(L log L) per row.
    *
    * Gram identity is the 64-bit chained hash, not the gram string:
    * two DISTINCT grams only miscount if they collide within one
    * (pid, n) pair (~hundreds of grams → P ≈ L²/2⁶⁴ per pair,
    * ~1e-12 corpus-wide), and the DuckDB oracle — which counts the
    * exact strings — certifies the equivalence on every tested SF.
    */
  private def clippedMatchCol(ch: Column, rh: Column, n: Int): Column = {
    val comb = array_sort(concat(
      transform(gramHashesOf(ch, n), x => shiftleft(x, 1)),
      transform(gramHashesOf(rh, n), x => shiftleft(x, 1).bitwiseOR(lit(1L)))))
    val zero = struct(lit(null).cast("bigint").as("prev"),
      lit(0L).as("ca"), lit(0L).as("cb"), lit(0L).as("m"))
    aggregate(comb, zero,
      (acc, e) => {
        val g = shiftright(e, 1)
        val isRef = e.bitwiseAND(lit(1L))
        val same = acc.getField("prev").isNotNull && acc.getField("prev") === g
        struct(g.as("prev"),
          when(same, acc.getField("ca") + (lit(1L) - isRef))
            .otherwise(lit(1L) - isRef).as("ca"),
          when(same, acc.getField("cb") + isRef)
            .otherwise(isRef).as("cb"),
          when(same, acc.getField("m"))
            .otherwise(acc.getField("m") +
              least(acc.getField("ca"), acc.getField("cb"))).as("m"))
      },
      acc => acc.getField("m") +
        least(acc.getField("ca"), acc.getField("cb")))
  }

  /** T189: sentence-level BLEU-4 + ROUGE-1/2 recall per
    * (candidate, reference) pair — the n-gram overlap scorer an
    * SFT/eval pipeline publishes next to pass@k (Papineni 2002;
    * Lin 2004 ROUGE-N). Unsmoothed by contract: any zero clipped
    * precision reads bleu = 0 (the Papineni definition — smoothing
    * variants are a caller-side choice this exact readout must not
    * bake in). All counts are exact integers; precisions and
    * recalls are [[graft.functions.ExactRound.ratio6]]; the
    * brevity penalty and geometric mean follow the catalog's ln/exp
    * convention (8-dp-rounded logs, final 4-dp round) so the oracle
    * replays the identical IEEE tree.
    *
    * Scale shape: one token projection, a (pid, n, gram)-keyed
    * count shuffle per side, one candidate↔reference equi-join on
    * the gram key, two bounded rollups to (pid, n) then pid. No
    * corpus windows, no cross-pair work — pairs scale embarrassingly.
    *
    * Output: (idCol, c_len, r_len, p1..p4, rouge1, rouge2,
    * brevity_penalty, bleu).
    */
  def bleuRouge(pairs: DataFrame, idCol: String, candCol: String,
                refCol: String): DataFrame = {
    val maxN = 4
    // One pass, zero shuffles beyond the parallelism spread: hash the
    // tokens once per row, then lengths and all four clipped counts
    // are per-row columns (see clippedMatchCol). No staging — nothing
    // is consumed twice anymore. The repartition exists because a
    // compact pairs file arrives as 1–4 scan splits and the per-row
    // fold work is compute-dense: spread it across cores (explicit
    // number so AQE never coalesces it back down; at cluster scale
    // the scan has real splits and this is a cheap metadata-sized
    // shuffle of hash arrays).
    val base = pairs.select(col(idCol).as("pid"),
        tokHashes(overlapToks(col(candCol))).as("ch"),
        tokHashes(overlapToks(col(refCol))).as("rh"))
      .repartition(pairs.sparkSession.sparkContext.defaultParallelism)
    val j = base.select(col("pid") +:
      size(col("ch")).cast("bigint").as("c_len") +:
      size(col("rh")).cast("bigint").as("r_len") +:
      (1 to maxN).map(n =>
        clippedMatchCol(col("ch"), col("rh"), n).as(s"m$n")): _*)
    def t(n: Int): Column = greatest(col("c_len") - lit(n - 1L), lit(0L))
    def u(n: Int): Column = greatest(col("r_len") - lit(n - 1L), lit(0L))
    def mm(n: Int): Column = coalesce(col(s"m$n"), lit(0L))
    def p(n: Int): Column = graft.functions.ExactRound.ratio6(mm(n), t(n))
    val bp = when(col("c_len") === 0, lit(0.0))
      .when(col("c_len") >= col("r_len"), lit(1.0))
      .otherwise(round(exp(lit(1.0) -
        col("r_len").cast("double") / col("c_len").cast("double")), 6))
    val zero = (1 to maxN).map(n => mm(n) === 0 || t(n) === 0)
      .reduce(_ || _)
    val meanLog = (1 to maxN).map(n => round(log(p(n)), 8))
      .reduce(_ + _) / lit(maxN.toDouble)
    j.select(col("pid").as(idCol), col("c_len"), col("r_len"),
      p(1).as("p1"), p(2).as("p2"), p(3).as("p3"), p(4).as("p4"),
      graft.functions.ExactRound.ratio6(mm(1), u(1)).as("rouge1"),
      graft.functions.ExactRound.ratio6(mm(2), u(2)).as("rouge2"),
      bp.as("brevity_penalty"),
      when(zero, lit(0.0)).otherwise(round(bp * exp(meanLog), 4))
        .as("bleu"))
  }

  /** T190: CORPUS-level BLEU per group — clipped counts aggregated
    * over all of a group's pairs before the precision/BP arithmetic
    * (the standard corpus statistic: long pairs weigh more, and a
    * single zero-precision pair no longer zeroes the score). Same
    * exactness conventions as [[bleuRouge]].
    *
    * Output: (groupCol, n_pairs, c_tokens, r_tokens, p1..p4,
    * brevity_penalty, bleu).
    */
  def bleuCorpus(pairs: DataFrame, idCol: String, groupCol: String,
                 candCol: String, refCol: String): DataFrame = {
    val maxN = 4
    // Same zero-shuffle per-row kernel as bleuRouge; the only
    // exchange left is the tiny per-group rollup.
    val base = pairs.select(col(idCol).as("pid"),
        col(groupCol).as("grp"),
        tokHashes(overlapToks(col(candCol))).as("ch"),
        tokHashes(overlapToks(col(refCol))).as("rh"))
      .repartition(pairs.sparkSession.sparkContext.defaultParallelism)
    val g = base.select(col("pid") +: col("grp") +:
      size(col("ch")).cast("bigint").as("cl") +:
      size(col("rh")).cast("bigint").as("rl") +:
      (1 to maxN).map(n =>
        clippedMatchCol(col("ch"), col("rh"), n).as(s"m$n")): _*)
    def tn(n: Int): Column = greatest(col("cl") - lit(n - 1L), lit(0L))
    val agg = g.groupBy(col("grp")).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("cl")).as("c_tokens"),
      sum(col("rl")).as("r_tokens"),
      sum(coalesce(col("m1"), lit(0L))).as("m1"),
      sum(coalesce(col("m2"), lit(0L))).as("m2"),
      sum(coalesce(col("m3"), lit(0L))).as("m3"),
      sum(coalesce(col("m4"), lit(0L))).as("m4"),
      sum(tn(1)).as("t1"), sum(tn(2)).as("t2"),
      sum(tn(3)).as("t3"), sum(tn(4)).as("t4"))
    def p(n: Int): Column =
      graft.functions.ExactRound.ratio6(col(s"m$n"), col(s"t$n"))
    val bp = when(col("c_tokens") === 0, lit(0.0))
      .when(col("c_tokens") >= col("r_tokens"), lit(1.0))
      .otherwise(round(exp(lit(1.0) -
        col("r_tokens").cast("double") / col("c_tokens").cast("double")),
        6))
    val zero = (1 to maxN)
      .map(n => col(s"m$n") === 0 || col(s"t$n") === 0).reduce(_ || _)
    val meanLog = (1 to maxN).map(n => round(log(p(n)), 8))
      .reduce(_ + _) / lit(maxN.toDouble)
    agg.select(col("grp").as(groupCol), col("n_pairs"), col("c_tokens"),
      col("r_tokens"),
      p(1).as("p1"), p(2).as("p2"), p(3).as("p3"), p(4).as("p4"),
      bp.as("brevity_penalty"),
      when(zero, lit(0.0)).otherwise(round(bp * exp(meanLog), 4))
        .as("bleu"))
  }
}
