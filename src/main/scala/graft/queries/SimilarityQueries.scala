package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.datapipe.{Multimodal, Relevance, Similarity, TextAnalysis}

/** Similarity-search and multimodal queries over the embeddings and
  * documents tables.
  */
object SimilarityQueries {
  import SqlFragments.{Bm25Scores, DocWords, EmbCast, WordsWrapped, top5}

  private[queries] def embDouble(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))

  /** DuckDB view matching embDouble. */
  private val embSqlCte =
    raw"""e AS MATERIALIZED (SELECT vec_id, label,
        $EmbCast
       FROM embeddings)"""

  private val simBruteForce = QueryDef(
    "sim_bruteforce_topk",
    (s, d) => {
      val e = embDouble(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      Similarity.bruteForceTopK(e, q, 5)
    },
    Some(s"""WITH $embSqlCte,
      q AS MATERIALIZED (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10),
      scored AS MATERIALIZED (SELECT q_id, vec_id,
          round(list_cosine_similarity(q_emb, emb), 4) AS score
        FROM q, e WHERE vec_id <> q_id),
      ${top5("scored")}"""))

  private val simIvf = QueryDef(
    "sim_ivf_topk",
    (s, d) => {
      val e = embDouble(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("emb").as("q_emb"))
      Similarity.ivfTopK(e, q, 5)
    },
    Some(s"""WITH $embSqlCte,
      q AS MATERIALIZED (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb
            FROM e WHERE vec_id < 10),
      scored AS MATERIALIZED (SELECT q_id, vec_id,
          round(list_cosine_similarity(q_emb, emb), 4) AS score
        FROM q JOIN e ON label = q_label AND vec_id <> q_id),
      ${top5("scored")}"""))

  /** Same results as sim_ivf_topk (same oracle), but the query cells
    * are pushed to the candidate scan — SimilaritySpec asserts the
    * label filter lands in the parquet PushedFilters. */
  private val simIvfPruned = QueryDef(
    "sim_ivf_topk_pruned",
    (s, d) => {
      val e = embDouble(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("emb").as("q_emb"))
      Similarity.ivfTopKPruned(e, q, 5)
    },
    Some(s"""WITH $embSqlCte,
      q AS MATERIALIZED (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb
            FROM e WHERE vec_id < 10),
      scored AS MATERIALIZED (SELECT q_id, vec_id,
          round(list_cosine_similarity(q_emb, emb), 4) AS score
        FROM q JOIN e ON label = q_label AND vec_id <> q_id),
      ${top5("scored")}"""))

  /** ANN quality certification: per-query recall@5 of the IVF index
    * against the brute-force ground truth — THE readout that decides
    * whether an approximate index is usable before pointing it at the
    * corpus. Pure composition of the two certified top-k operators;
    * the join is query-set-bounded (never corpus-scale), and the
    * recall ratio uses the engine-exact integer rounding. The oracle
    * replays BOTH ranking chains and the hit join, so the hash
    * certifies the measurement itself.
    */
  private val simIvfRecall = QueryDef(
    "sim_ivf_recall",
    (s, d) => {
      val e = embDouble(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("emb").as("q_emb"))
      val exact = Similarity.bruteForceTopK(
        e, q.select(col("q_id"), col("q_emb")), 5)
        .select(col("q_id"), col("vec_id"))
      val approx = Similarity.ivfTopK(e, q, 5)
        .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
      exact.join(approx, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("k"), count(col("hit")).as("n_hits"))
        .select(col("q_id"), col("n_hits"), col("k"),
          graft.functions.ExactRound.ratio6(col("n_hits"), col("k"))
            .as("recall"))
    },
    Some(s"""WITH $embSqlCte,
      q AS MATERIALIZED (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb
            FROM e WHERE vec_id < 10),
      bs AS MATERIALIZED (SELECT q_id, vec_id,
          round(list_cosine_similarity(q_emb, emb), 4) AS score
        FROM q, e WHERE vec_id <> q_id),
      br AS (SELECT q_id, vec_id,
          row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rnk
        FROM bs),
      exact AS (SELECT q_id, vec_id FROM br WHERE rnk <= 5),
      sc AS MATERIALIZED (SELECT q_id, vec_id,
          round(list_cosine_similarity(q_emb, emb), 4) AS score
        FROM q JOIN e ON label = q_label AND vec_id <> q_id),
      ir AS (SELECT q_id, vec_id,
          row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rnk
        FROM sc),
      approx AS (SELECT q_id, vec_id FROM ir WHERE rnk <= 5)
      SELECT x.q_id, COUNT(a.vec_id) AS n_hits, COUNT(*) AS k,
        ((2 * COUNT(a.vec_id) * 1000000 + COUNT(*)) // (2 * COUNT(*)))
          / 1000000.0 AS recall
      FROM exact x LEFT JOIN approx a
        ON x.q_id = a.q_id AND x.vec_id = a.vec_id
      GROUP BY x.q_id"""))

  /** The corpus has no true near-dup embeddings, so inject exact
    * twins (vec_id + 1000000) and find them back.
    */
  private val dedupEmbedding = QueryDef(
    "dedup_embedding_cosine",
    (s, d) => {
      // repartition: the test parquet is one split; see withTwins note
      val e = embDouble(s, d).repartition(s.sparkContext.defaultParallelism)
      val twins = e.select((col("vec_id") + 1000000).as("vec_id"),
        col("label"), col("emb"))
      Similarity.nearDupPairs(e.unionByName(twins), 0.999)
    },
    Some(s"""WITH $embSqlCte,
      e2 AS MATERIALIZED (SELECT vec_id, emb FROM e
             UNION ALL SELECT vec_id + 1000000, emb FROM e),
      pairs AS MATERIALIZED (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          round(list_cosine_similarity(a.emb, b.emb), 4) AS score
        FROM e2 a JOIN e2 b ON a.vec_id < b.vec_id)
      SELECT a_id, b_id, score FROM pairs WHERE score >= 0.999"""))

  /** Semantic decontamination ([[Similarity.decontaminateSemantic]]):
    * the eval set = +0.01-shifted copies of every %25 corpus vector
    * (cos ≈ 0.997 against the original — above the 0.995 gate, while
    * unrelated iid pairs top out near 0.5), so exactly the shifted
    * originals must read contaminated and every verdict's max cosine
    * is oracle-replayed. The corpus side never shuffles — the eval
    * set broadcasts, the production plan at any corpus scale.
    */
  private val decontamSemantic = QueryDef(
    "decontam_semantic",
    (s, d) => {
      val e = embDouble(s, d).select(col("vec_id"), col("emb"))
        .repartition(s.sparkContext.defaultParallelism)
      val evalSet = e.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 2000000).as("eval_id"),
          transform(col("emb"), x => x + lit(0.01)).as("eval_emb"))
      Similarity.decontaminateSemantic(e, evalSet, 0.995)
    },
    Some(s"""WITH $embSqlCte,
      q AS MATERIALIZED (SELECT vec_id + 2000000 AS eval_id,
          list_transform(emb, x -> x + 0.01) AS eval_emb
        FROM e WHERE vec_id % 25 = 0),
      sc AS (SELECT e.vec_id,
          round(list_cosine_similarity(e.emb, q.eval_emb), 4) AS score
        FROM e, q)
      SELECT e.vec_id, MAX(sc.score) AS max_eval_cos,
        COALESCE(MAX(sc.score) >= 0.995, FALSE) AS contaminated
      FROM e LEFT JOIN sc ON sc.vec_id = e.vec_id GROUP BY 1"""))

  /** SemDeDup end-to-end: coarse k-means clustering (the sim_ivf_kmeans
    * trainer, replayed in full by the oracle) + within-cell greedy
    * domination. Near-twins are planted by shifting every component
    * +0.01 (cosine ≈ 0.997 against the original on this data — above
    * the 0.995 threshold, while unrelated pairs top out near 0.51),
    * so every twin whose cell matches its original's must be dropped
    * and the oracle certifies training, assignment, AND the keep
    * decision in one hash.
    */
  private val dedupSemantic = QueryDef(
    "dedup_semantic",
    (s, d) => {
      // repartition: the test parquet is one split; see withTwins note
      val e = embDouble(s, d).select(col("vec_id"), col("emb"))
        .repartition(s.sparkContext.defaultParallelism)
      val twins = e.select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("emb"), x => x + lit(0.01)).as("emb"))
      Similarity.semanticDedup(e.unionByName(twins),
        k = 16, iters = 3, threshold = 0.995)
    },
    Some(s"""WITH eu AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        UNION ALL SELECT vec_id + 1000000,
          list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01)
        FROM embeddings),
      ${kmChainCtes("sv", "svseeds", "sd", "emb", 16, 3, 64, from = "eu")},
      ec AS MATERIALIZED (SELECT a.vec_id, a.cell, e.emb
        FROM sda3 a JOIN eu e USING (vec_id)),
      dup AS (SELECT DISTINCT a.vec_id FROM ec a JOIN ec b
        ON a.cell = b.cell AND b.vec_id < a.vec_id
        AND round(list_cosine_similarity(a.emb, b.emb), 4) >= 0.995)
      SELECT ec.vec_id, ec.cell, (dup.vec_id IS NULL) AS keep
      FROM ec LEFT JOIN dup ON ec.vec_id = dup.vec_id"""))

  /** DuckDB replay of the ENTIRE k-means trainer ([[Similarity
    * .kmeansCentroids]]): quantized vectors, md5-ranked seeds, and
    * `iters` unrolled Lloyd's rounds (assign by exact-integer
    * D/n² argmin, update by exact integer component sums, empty
    * cells carried). Pure integer arithmetic plus one IEEE division
    * per (vector, cell) makes every intermediate bit-identical to
    * the Spark side regardless of aggregation order.
    */
  private def kmeansOracleSql(k: Int, iters: Int, dim: Int): String = {
    def iterCte(i: Int) = s"""
      p$i AS MATERIALIZED (SELECT v.vec_id, v.q, c.cell,
         CAST(list_sum(list_transform(list_zip(v.q, c.s),
              z -> (c.n * z[1] - z[2]) * (c.n * z[1] - z[2]))) AS DOUBLE)
           / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE)) AS f
       FROM v, c${i - 1} c),
      a$i AS MATERIALIZED (SELECT vec_id, q, cell FROM (
         SELECT vec_id, q, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY f, cell) AS rn
         FROM p$i) t WHERE rn = 1),
      u$i AS MATERIALIZED (SELECT a.cell, g.i, SUM(a.q[g.i]) AS s_i, COUNT(*) AS cnt
       FROM a$i a, generate_series(1, $dim) AS g(i) GROUP BY a.cell, g.i),
      n$i AS MATERIALIZED (SELECT cell, LIST(s_i ORDER BY i) AS s, MAX(cnt) AS n
       FROM u$i GROUP BY cell),
      c$i AS MATERIALIZED (SELECT p.cell, COALESCE(n_.s, p.s) AS s, COALESCE(n_.n, p.n) AS n
       FROM c${i - 1} p LEFT JOIN n$i n_ ON p.cell = n_.cell)"""
    s"""WITH v AS (
        SELECT vec_id, list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        FROM embeddings),
      seeds AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
            AS cell, q
        FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k),
      c0 AS MATERIALIZED (SELECT cell, q AS s, CAST(1 AS BIGINT) AS n FROM seeds),
      ${(1 to iters).map(iterCte).mkString(",")}
      SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM a$iters"""
  }

  /** Scalar-quantized two-stage top-k: stage 1 ranks by approximate
    * cosine from exact integer sums over 8-bit codes and keeps
    * refine·k = 15 candidates, stage 2 rescores those with exact
    * cosine. The oracle replays BOTH stages — quantizer training
    * (global max-abs), code assignment, integer-sum approx ranking,
    * exact rescore — so a hash match certifies the full SQ pipeline,
    * not just the final list.
    */
  private val simSq8 = QueryDef(
    "sim_sq8_topk",
    (s, d) => {
      val e = embDouble(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      Similarity.sq8TopK(e, q, 5, refine = 3)
    },
    Some(s"""WITH $embSqlCte,
      m AS MATERIALIZED (SELECT MAX(list_max(list_transform(emb, x -> abs(x)))) AS mx
            FROM e),
      c AS MATERIALIZED (SELECT vec_id,
          list_transform(emb, x -> LEAST(CAST(127 AS BIGINT),
            GREATEST(CAST(-127 AS BIGINT),
              CAST(round(x * 127.0 / m.mx) AS BIGINT)))) AS code
        FROM e, m),
      c2 AS MATERIALIZED (SELECT vec_id, code,
          list_sum(list_transform(list_zip(code, code), z -> z[1] * z[2]))
            AS n2
        FROM c),
      q AS MATERIALIZED (SELECT vec_id AS q_id, code AS q_code, n2 AS na2 FROM c2
            WHERE vec_id < 10),
      ap AS MATERIALIZED (SELECT q_id, c2.vec_id,
          CASE WHEN na2 = 0 OR n2 = 0 THEN 0.0
               ELSE CAST(list_sum(list_transform(list_zip(c2.code, q.q_code),
                      z -> z[1] * z[2])) AS DOUBLE)
                    / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE)))
          END AS ascore
        FROM q, c2 WHERE c2.vec_id <> q_id),
      cand AS MATERIALIZED (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
            row_number() OVER (PARTITION BY q_id ORDER BY ascore DESC, vec_id) AS rn
          FROM ap) t WHERE rn <= 15),
      qq AS MATERIALIZED (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10),
      re AS MATERIALIZED (SELECT cand.q_id, cand.vec_id,
          round(list_cosine_similarity(q_emb, emb), 4) AS score
        FROM cand JOIN e USING (vec_id) JOIN qq ON cand.q_id = qq.q_id),
      ${top5("re")}"""))

  private val simIvfKmeans = QueryDef(
    "sim_ivf_kmeans",
    (s, d) => Similarity.kmeansAssign(
      embDouble(s, d).select(col("vec_id"), col("emb")), 8, 3),
    Some(kmeansOracleSql(8, 3, 64)))

  /** Random-projection two-stage top-k: the oracle regenerates the
    * ±1 sign matrix from the md5 string contract, projects the same
    * quantized integers, replays the integer-exact sketch scoring,
    * the refine·k candidate cut, and the exact rescore — a hash
    * match certifies the whole JL tier including the sign matrix
    * convention itself.
    */
  private val simRpTopK = QueryDef(
    "sim_rp_topk",
    (s, d) => {
      val e = embDouble(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      Similarity.rpTopK(e, q, 5, outDim = 16, refine = 4)
    },
    Some(s"""WITH $embSqlCte,
      qv AS MATERIALIZED (SELECT vec_id,
          list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        FROM embeddings),
      sgn AS MATERIALIZED (SELECT j.j, i.i,
          CASE WHEN substr(md5('rp:' || j.j || ':' || i.i), 1, 1) < '8'
               THEN 1 ELSE -1 END AS s
        FROM generate_series(0, 15) j(j), generate_series(1, 64) i(i)),
      rc AS MATERIALIZED (SELECT v.vec_id, sgn.j,
          CAST(SUM(sgn.s * v.q[sgn.i]) AS BIGINT) AS c
        FROM qv v, sgn GROUP BY v.vec_id, sgn.j),
      rcv AS MATERIALIZED (SELECT vec_id, LIST(c ORDER BY j) AS rc,
          CAST(SUM(c * c) AS BIGINT) AS n2
        FROM rc GROUP BY vec_id),
      qq AS MATERIALIZED (SELECT vec_id AS q_id, rc AS q_rc, n2 AS na2
            FROM rcv WHERE vec_id < 10),
      ap AS MATERIALIZED (SELECT q_id, r.vec_id,
          CASE WHEN na2 = 0 OR r.n2 = 0 THEN 0.0
               ELSE CAST(list_sum(list_transform(list_zip(r.rc, q.q_rc),
                      z -> z[1] * z[2])) AS DOUBLE)
                    / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(r.n2 AS DOUBLE)))
          END AS ascore
        FROM qq q, rcv r WHERE r.vec_id <> q_id),
      cand AS MATERIALIZED (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
            row_number() OVER (PARTITION BY q_id ORDER BY ascore DESC, vec_id) AS rn
          FROM ap) t WHERE rn <= 20),
      qe AS MATERIALIZED (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10),
      re AS MATERIALIZED (SELECT cand.q_id, cand.vec_id,
          round(list_cosine_similarity(q_emb, emb), 4) AS score
        FROM cand JOIN e USING (vec_id) JOIN qe ON cand.q_id = qe.q_id),
      ${top5("re")}"""))

  /** Corpus kNN graph: every vector's top-5 neighbours via inward
    * multi-probe IVF. The oracle replays the whole trainer
    * ([[kmChainCtes]]), the per-vector probe ranking (f, cell) from
    * the final objective rows, the cell-equi candidate join with
    * self-exclusion, the exact rescore, and the ranking — a hash
    * match certifies the graph edge set exactly, cell-boundary
    * recall trade included (recall itself is quantified in
    * SimilaritySpec against brute force).
    *
    * The entry (and its density/pagerank siblings) runs the AUTO
    * cell default (`Similarity.autoCells`): ⌈n/250⌉ clamps to
    * exactly the 8 cells this oracle unrolls at BOTH verification
    * scales (500 and 2 000 vectors), while at the 20 k sf1 board the
    * same entry self-sizes to 80 and stays in the join class — the
    * r15 sf1 wave measured the pinned cells=8 form at 33× the sf0.1
    * wall-clock (the per-cell quadratic), the auto form at ~4×.
    */
  /** The kNN-graph oracle chain through `ranked` — shared by the
    * graph entry and the density readout built on its edges.
    */
  private val knnRankedCtes =
    s"""${kmChainCtes("knv", "knseeds", "kn", "embedding", 8, 3, 64)},
      gcell AS MATERIALIZED (SELECT vec_id, cell FROM kna3),
      probes AS MATERIALIZED (SELECT q_id, cell FROM (
          SELECT vec_id AS q_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY f, cell) AS rn
          FROM knp3) t WHERE rn <= 2),
      e AS MATERIALIZED (SELECT vec_id,
          $EmbCast
        FROM embeddings),
      scored AS MATERIALIZED (SELECT pr.q_id, g.vec_id,
          round(list_cosine_similarity(qe.emb, ce.emb), 4) AS score
        FROM probes pr
        JOIN gcell g ON g.cell = pr.cell AND g.vec_id <> pr.q_id
        JOIN e qe ON qe.vec_id = pr.q_id
        JOIN e ce ON ce.vec_id = g.vec_id),
      ranked AS MATERIALIZED (SELECT q_id, vec_id, score,
          CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
        FROM scored)"""

  private val simKnnGraph = QueryDef(
    "sim_knn_graph",
    (s, d) => Similarity.knnGraph(
      embDouble(s, d).select(col("vec_id"), col("emb")),
      k = 5, iters = 3, nprobe = 2),
    Some(s"""WITH $knnRankedCtes
      SELECT q_id, rnk, vec_id, score FROM ranked WHERE rnk <= 5"""))

  /** kNN-density (prototypicality) readout over the graph edges: the
    * mean top-k neighbour cosine per vector, DECIMAL(28,8)-summed so
    * the mean is engine-portable. High density = redundant/prototype
    * region, low = outlier — both tails drive published curation.
    */
  private val simKnnDensity = QueryDef(
    "sim_knn_density",
    (s, d) => Similarity.knnDensity(
      embDouble(s, d).select(col("vec_id"), col("emb")),
      k = 5, iters = 3, nprobe = 2),
    Some(s"""WITH $knnRankedCtes
      SELECT q_id AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_edges,
        ((2 * SUM(CAST(round(score * 10000) AS BIGINT)) + COUNT(*))
          // (2 * COUNT(*))) / 10000.0 AS density
      FROM ranked WHERE rnk <= 5 GROUP BY q_id"""))

  /** PageRank centrality over the kNN graph's directed edges: 3
    * unrolled damped rounds from the uniform start. The oracle
    * rebuilds the graph (shared `knnRankedCtes` chain) and replays
    * every round's 8-dp contribution rounding, decimal sums, and the
    * (1−d) teleport EXPRESSION (1.0 − 0.85 computed in IEEE, not a
    * folded 0.15 literal — the two differ in the last ulp).
    */
  private val simGraphPagerank = QueryDef(
    "sim_graph_pagerank",
    (s, d) => {
      val emb = embDouble(s, d).select(col("vec_id"), col("emb"))
      val edges = Similarity.knnGraph(emb, k = 5, iters = 3,
        nprobe = 2).select(col("q_id").as("src"), col("vec_id").as("dst"))
      graft.datapipe.GraphOps.pagerank(
        emb.select(col("vec_id").as("vid")), edges, rounds = 3,
        damping = 0.85)
        .select(col("vid").as("vec_id"), col("out_deg"), col("pr"))
    },
    Some {
      def round_(i: Int) = s"""
      sm$i AS MATERIALIZED (SELECT eg.dst,
          SUM(CAST(round(p.r / CAST(dg.deg AS DOUBLE), 8)
            AS DECIMAL(28,8))) AS s
        FROM eg JOIN pr${i - 1} p ON p.vec_id = eg.src
        JOIN dg ON dg.src = eg.src GROUP BY eg.dst),
      pr$i AS MATERIALIZED (SELECT v.vec_id,
          round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
              / CAST(nn.n AS DOUBLE)
            + CAST(0.85 AS DOUBLE)
              * CAST(COALESCE(sm$i.s, CAST(0 AS DECIMAL(28,8)))
                AS DOUBLE), 8) AS r
        FROM vtx v LEFT JOIN sm$i ON sm$i.dst = v.vec_id, nn)"""
      s"""WITH $knnRankedCtes,
      vtx AS MATERIALIZED (SELECT vec_id FROM embeddings),
      nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vtx),
      eg AS MATERIALIZED (SELECT q_id AS src, vec_id AS dst
        FROM ranked WHERE rnk <= 5),
      dg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
        FROM eg GROUP BY 1),
      pr0 AS MATERIALIZED (SELECT vec_id,
          round(CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE), 8) AS r
        FROM vtx, nn),
      ${round_(1)}, ${round_(2)}, ${round_(3)}
      SELECT v.vec_id, CAST(COALESCE(dg.deg, 0) AS BIGINT) AS out_deg,
        round(pr3.r, 6) AS pr
      FROM vtx v LEFT JOIN dg ON dg.src = v.vec_id
      JOIN pr3 ON pr3.vec_id = v.vec_id"""
    })

  /** Cluster-balanced sampling: keep at most 40 vectors per k-means
    * cell (cells average ~60 at the oracle SF, so some cells cap and
    * some don't — both branches of the predicate are exercised). The
    * oracle replays training, assignment, and the md5-ordered
    * within-cell ranking.
    */
  private val sampleClusterCap = QueryDef(
    "sample_cluster_cap",
    (s, d) => Similarity.clusterCap(
      embDouble(s, d).select(col("vec_id"), col("emb")),
      k = 8, iters = 3, maxPerCell = 40),
    Some(s"""WITH ${kmChainCtes("ccv", "ccseeds", "cc", "embedding", 8, 3, 64)},
      ranked AS (SELECT vec_id, cell,
          row_number() OVER (PARTITION BY cell
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM cca3)
      SELECT vec_id, CAST(cell AS BIGINT) AS cell, (rn <= 40) AS keep
      FROM ranked"""))

  /** DuckDB replay of the ENTIRE PQ pipeline: per-subspace codebook
    * training (the [[kmeansOracleSql]] unrolling, once per subspace
    * over the sliced quantized vectors), code assignment, ADC scoring
    * via the per-(query, cell) objective table summed in literal
    * subspace order, candidate selection, and exact rescore. A hash
    * match certifies training, codes, LUTs, and both ranking stages.
    */
  /** One k-means training chain as CTEs: quantized vectors `$v`,
    * md5-ranked seeds `$seeds`, and `iters` unrolled Lloyd's rounds
    * named `${p}p/a/u/n/c$i` — the [[kmeansOracleSql]] unrolling with
    * parameterized names, so one query can carry several codebooks
    * (PQ subspaces, IVF-PQ's coarse + fine). All MATERIALIZED:
    * DuckDB 1.0 inlines CTEs by default and a multi-chain DAG makes
    * planning explode exponentially.
    */
  /** `kcSql` (optional): a scalar SELECT that derives the cell count
    * from the data — the oracle twin of `cells = 0` → autoCells. The
    * cell count enters the chain ONLY as the seeds LIMIT (iterations
    * are unrolled, cells are not), and DuckDB accepts a scalar
    * subquery there, so a `cells = 0` entry's oracle can self-size
    * exactly like the Spark side and stay valid at EVERY sf — no
    * fixture-size pin at all.
    */
  private[queries] def kmChainCtes(v: String, seeds: String, p: String,
                          sliceSql: String, kc: Int, iters: Int,
                          dim: Int, from: String = "embeddings",
                          kcSql: String = ""): String = {
    def iterCte(i: Int) = s"""
      ${p}p$i AS MATERIALIZED (SELECT v.vec_id, v.q, c.cell,
         CAST(list_sum(list_transform(list_zip(v.q, c.s),
              z -> (c.n * z[1] - z[2]) * (c.n * z[1] - z[2]))) AS DOUBLE)
           / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE)) AS f
       FROM $v v, ${p}c${i - 1} c),
      ${p}a$i AS MATERIALIZED (SELECT vec_id, q, cell FROM (
         SELECT vec_id, q, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY f, cell) AS rn
         FROM ${p}p$i) t WHERE rn = 1),
      ${p}u$i AS MATERIALIZED (SELECT a.cell, g.i, SUM(a.q[g.i]) AS s_i, COUNT(*) AS cnt
       FROM ${p}a$i a, generate_series(1, $dim) AS g(i) GROUP BY a.cell, g.i),
      ${p}n$i AS MATERIALIZED (SELECT cell, LIST(s_i ORDER BY i) AS s, MAX(cnt) AS n
       FROM ${p}u$i GROUP BY cell),
      ${p}c$i AS MATERIALIZED (SELECT pp.cell, COALESCE(n_.s, pp.s) AS s, COALESCE(n_.n, pp.n) AS n
       FROM ${p}c${i - 1} pp LEFT JOIN ${p}n$i n_ ON pp.cell = n_.cell)"""
    s"""$v AS MATERIALIZED (SELECT vec_id,
        list_transform($sliceSql,
          x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       FROM $from),
     $seeds AS MATERIALIZED (SELECT
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cell, q
       FROM $v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
       LIMIT ${if (kcSql.nonEmpty) s"($kcSql)" else s"$kc"}),
     ${p}c0 AS MATERIALIZED (SELECT cell, q AS s, CAST(1 AS BIGINT) AS n FROM $seeds),
     ${(1 to iters).map(iterCte).mkString(",")}"""
  }

  private[queries] def pqOracleSql(subspaces: Int, subDim: Int, kc: Int, iters: Int,
                          kTop: Int, refine: Int,
                          extraCtes: String = "",
                          codesRestrict: String = ""): String = {
    def subspaceCtes(s: Int) = {
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      kmChainCtes(s"v$s", s"seeds$s", s"s$s", s"embedding[$lo:$hi]",
        kc, iters, subDim)
    }
    val codesJoin = (1 until subspaces)
      .map(s => s"JOIN s${s}a$iters a$s USING (vec_id)").mkString(" ")
    val codeCols = (0 until subspaces).map(s => s"a$s.cell AS c$s").mkString(", ")
    val luts = (0 until subspaces).map(s =>
      s"lut$s AS MATERIALIZED (SELECT vec_id AS q_id, cell, f FROM s${s}p$iters WHERE vec_id < 10)")
      .mkString(",\n      ")
    val lutJoins = (0 until subspaces).map { s =>
      if (s == 0) s"JOIN lut0 l0 ON l0.cell = c.c0"
      else s"JOIN lut$s l$s ON l$s.q_id = l0.q_id AND l$s.cell = c.c$s"
    }.mkString(" ")
    val adistSum = (0 until subspaces).map(s => s"l$s.f").mkString(" + ")
    s"""WITH ${(0 until subspaces).map(subspaceCtes).mkString(",")}${
        if (extraCtes.nonEmpty) s",\n      $extraCtes" else ""},
      codes AS MATERIALIZED (SELECT a0.vec_id, $codeCols FROM s0a$iters a0 $codesJoin $codesRestrict),
      $luts,
      scored AS MATERIALIZED (SELECT l0.q_id, c.vec_id, $adistSum AS adist
        FROM codes c $lutJoins WHERE c.vec_id <> l0.q_id),
      cand AS MATERIALIZED (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
            row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
        FROM scored) t WHERE rn <= ${kTop * refine}),
      e AS MATERIALIZED (SELECT vec_id, $EmbCast
            FROM embeddings),
      qq AS MATERIALIZED (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10),
      re AS MATERIALIZED (SELECT cand.q_id, cand.vec_id,
          round(list_cosine_similarity(q_emb, emb), 4) AS score
        FROM cand JOIN e USING (vec_id) JOIN qq ON cand.q_id = qq.q_id),
      ranked AS MATERIALIZED (SELECT q_id, vec_id, score,
          CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
        FROM re)
      SELECT q_id, rnk, vec_id, score FROM ranked WHERE rnk <= $kTop"""
  }

  private val simPq = QueryDef(
    "sim_pq_topk",
    (s, d) => {
      val e = embDouble(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      Similarity.pqTopK(e, q, 5, subspaces = 8, kcents = 16, iters = 2,
        refine = 4)
    },
    Some(pqOracleSql(subspaces = 8, subDim = 8, kc = 16, iters = 2,
      kTop = 5, refine = 4)))

  /** IVF-PQ oracle: the coarse chain (full vectors) plus the 8 PQ
    * subspace chains, probes from the coarse objective rows ranked
    * (f, cell) per query, ADC only where the candidate's coarse cell
    * matches a probe, then the shared exact-rescore tail.
    */
  private[queries] def ivfPqOracleSql(coarseCells: Int, coarseIters: Int, nprobe: Int,
                             subspaces: Int, subDim: Int, kc: Int,
                             iters: Int, kTop: Int, refine: Int): String = {
    val dim = subspaces * subDim
    val chains = (0 until subspaces).map { s =>
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      kmChainCtes(s"v$s", s"seeds$s", s"s$s", s"embedding[$lo:$hi]",
        kc, iters, subDim)
    }.mkString(",")
    val coarseChain = kmChainCtes("gv", "gseeds", "g", "embedding",
      coarseCells, coarseIters, dim)
    val codesJoin = (1 until subspaces)
      .map(s => s"JOIN s${s}a$iters a$s USING (vec_id)").mkString(" ")
    val codeCols = (0 until subspaces).map(s => s"a$s.cell AS c$s").mkString(", ")
    val luts = (0 until subspaces).map(s =>
      s"lut$s AS MATERIALIZED (SELECT vec_id AS q_id, cell, f FROM s${s}p$iters WHERE vec_id < 10)")
      .mkString(",\n      ")
    val lutJoins = (0 until subspaces).map(s =>
      s"JOIN lut$s l$s ON l$s.q_id = pr.q_id AND l$s.cell = c.c$s").mkString(" ")
    val adistSum = (0 until subspaces).map(s => s"l$s.f").mkString(" + ")
    s"""WITH $coarseChain,
      $chains,
      gcell AS MATERIALIZED (SELECT vec_id, cell AS gc FROM ga$coarseIters),
      probes AS MATERIALIZED (SELECT q_id, cell FROM (
          SELECT vec_id AS q_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY f, cell) AS rn
          FROM gp$coarseIters WHERE vec_id < 10) t WHERE rn <= $nprobe),
      codes AS MATERIALIZED (SELECT a0.vec_id, $codeCols FROM s0a$iters a0 $codesJoin),
      $luts,
      scored AS MATERIALIZED (SELECT pr.q_id, c.vec_id, $adistSum AS adist
        FROM codes c
        JOIN gcell g ON g.vec_id = c.vec_id
        JOIN probes pr ON pr.cell = g.gc
        $lutJoins
        WHERE c.vec_id <> pr.q_id),
      cand AS MATERIALIZED (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
            row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
        FROM scored) t WHERE rn <= ${kTop * refine}),
      e AS MATERIALIZED (SELECT vec_id, $EmbCast
            FROM embeddings),
      qq AS MATERIALIZED (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10),
      re AS MATERIALIZED (SELECT cand.q_id, cand.vec_id,
          round(list_cosine_similarity(q_emb, emb), 4) AS score
        FROM cand JOIN e USING (vec_id) JOIN qq ON cand.q_id = qq.q_id),
      ranked AS MATERIALIZED (SELECT q_id, vec_id, score,
          CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
        FROM re)
      SELECT q_id, rnk, vec_id, score FROM ranked WHERE rnk <= $kTop"""
  }

  private val simIvfPq = QueryDef(
    "sim_ivfpq_topk",
    (s, d) => {
      val e = embDouble(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      Similarity.ivfPqTopK(e, q, 5)
    },
    Some(ivfPqOracleSql(coarseCells = 8, coarseIters = 3, nprobe = 3,
      subspaces = 8, subDim = 8, kc = 16, iters = 2, kTop = 5, refine = 4)))

  /** md5(text)-derived BMP dimensions, shared by every multimodal
    * oracle (mirrors [[Multimodal.dims]]). */
  private val dimsCte =
    """dims AS MATERIALIZED (SELECT doc_id,
        8 + ('0x' || substr(md5(text), 1, 4))::BIGINT % 24 AS w,
        8 + ('0x' || substr(md5(text), 5, 4))::BIGINT % 24 AS h
      FROM documents)"""

  /** The Spark side DECODES the real BMP bytes (javax.imageio); the
    * oracle replays the generation rule arithmetically — a match
    * proves the decoded header agrees with what was encoded. */
  private val multimodalDecode = QueryDef(
    "multimodal_decode",
    (s, d) => Multimodal.decodeMetadata(s, Tables.documents(s, d)),
    Some(s"""WITH $dimsCte
      SELECT doc_id, CAST(54 + h * ((3 * w + 3) // 4 * 4) AS BIGINT) AS n_bytes,
        w AS width, h AS height
      FROM dims"""))

  /** Channel means over the DECODED raster. Integer pixel sums are
    * exact in both engines; one final IEEE division each keeps the
    * doubles bit-identical. */
  private val multimodalFeatures = QueryDef(
    "multimodal_features",
    (s, d) => Multimodal.extractFeatures(s, Tables.documents(s, d)),
    Some(s"""WITH $dimsCte,
      px AS MATERIALIZED (SELECT doc_id, w, h, xx.x AS x, yy.y AS y
        FROM dims, UNNEST(generate_series(0, w - 1)) AS xx(x),
                   UNNEST(generate_series(0, h - 1)) AS yy(y)),
      sums AS MATERIALIZED (SELECT doc_id, w, h,
          SUM((x*31 + y*17 + doc_id*11) % 256) AS sr,
          SUM((x*13 + y*7 + doc_id*3) % 256) AS sg,
          SUM((x*5 + y*29 + doc_id*7) % 256) AS sb
        FROM px GROUP BY doc_id, w, h)
      SELECT doc_id,
        sr / (255.0 * (w * h)) AS f0,
        sg / (255.0 * (w * h)) AS f1,
        sb / (255.0 * (w * h)) AS f2,
        (sr + sg + sb) / (3.0 * 255.0 * (w * h)) AS f3
      FROM sums"""))

  /** The distributed frame fan-out is the thing under test; the frame
    * BYTES are asserted in MultimodalSpec (reassembly == payload),
    * the oracle checks the fan-out arithmetic over the real BMP
    * payload size. */
  private val multimodalFrames = QueryDef(
    "multimodal_frames",
    (s, d) => Multimodal.frameSample(s, Tables.documents(s, d), 1024)
      .select(col("doc_id"), col("frame_idx"),
        octet_length(col("frame")).cast("bigint").as("frame_bytes")),
    Some(s"""WITH $dimsCte,
      b AS MATERIALIZED (SELECT doc_id,
        CAST(54 + h * ((3 * w + 3) // 4 * 4) AS BIGINT) AS n FROM dims)
      SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        CASE WHEN (i + 1) * 1024 <= n THEN 1024 ELSE n - i * 1024 END
          AS frame_bytes
      FROM b, UNNEST(generate_series(0, CAST(ceil(n / 1024.0) AS BIGINT) - 1))
        AS t(i)"""))

  /** Real nearest-neighbour resize: decode → scale → re-encode, then
    * decode AGAIN via decodeStats. The oracle replays the source rule
    * through the same nearest-neighbour mapping — pix_sum matching
    * proves the full decode→resize→encode→decode roundtrip at pixel
    * level. */
  private val multimodalResize = QueryDef(
    "multimodal_resize",
    (s, d) => Multimodal.decodeStats(s,
      Multimodal.resize(s, Tables.documents(s, d), 16, 16)),
    Some(s"""WITH $dimsCte,
      px AS MATERIALIZED (SELECT doc_id, (xx.x * w) // 16 AS sx, (yy.y * h) // 16 AS sy
        FROM dims, UNNEST(generate_series(0, 15)) AS xx(x),
                   UNNEST(generate_series(0, 15)) AS yy(y)),
      s AS MATERIALIZED (SELECT doc_id,
          SUM((sx*31 + sy*17 + doc_id*11) % 256
            + (sx*13 + sy*7 + doc_id*3) % 256
            + (sx*5 + sy*29 + doc_id*7) % 256) AS ps
        FROM px GROUP BY doc_id)
      SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        CAST(54 + 16 * 48 AS BIGINT) AS n_bytes, CAST(ps AS BIGINT) AS pix_sum
      FROM s"""))

  /** Perceptual-hash image dedup — the multimodal member of the
    * near-dup family: every document's REAL decoded bitmap plus a
    * corner-perturbed twin ([[Multimodal.imageCorpusWithTwins]]) is
    * reduced to a 64-bit average-hash ([[Multimodal.aHash64]]:
    * 8×8 block means vs image mean, integer cross-multiplied), and
    * the generic banded-hamming join ([[Dedup.codePairs]], the
    * simhash machinery with a different code generator) surfaces
    * pairs within hamming 3 — twins measure 0-2, unrelated images
    * ~32. The oracle rebuilds both rasters arithmetically, replays
    * downscale+threshold+pack (as two 32-bit halves — DuckDB checks
    * 64-bit shift overflow), and brute-forces all pairs, so the hash
    * certifies decode, blocking, thresholding, AND the banded join's
    * pigeonhole completeness in one compare.
    */
  private val multimodalPhashPairs = QueryDef(
    "multimodal_phash_pairs",
    (s, d) => {
      // repartition: the test parquet is one split; see withTwins note
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
      val codes = Multimodal.aHashTable(s,
        Multimodal.imageCorpusWithTwins(s, docs))
      graft.datapipe.Dedup.codePairs(codes, bands = 4, maxHamming = 3)
        .select(col("a_id"), col("b_id"),
          col("hamming").cast("bigint").as("hamming"))
    },
    Some("""WITH m AS MATERIALIZED (
        SELECT doc_id AS id, doc_id AS seed, FALSE AS tweaked,
          8 + ('0x' || substr(md5(text), 1, 4))::BIGINT % 24 AS w,
          8 + ('0x' || substr(md5(text), 5, 4))::BIGINT % 24 AS h
        FROM documents
        UNION ALL
        SELECT doc_id + 1000000, doc_id, TRUE,
          8 + ('0x' || substr(md5(text), 1, 4))::BIGINT % 24,
          8 + ('0x' || substr(md5(text), 5, 4))::BIGINT % 24
        FROM documents),
      px AS MATERIALIZED (SELECT id,
          ((yy.y * 8) // h) * 8 + (xx.x * 8) // w AS cell,
          (CASE WHEN tweaked AND xx.x < 2 AND yy.y < 2
                THEN (xx.x*31 + yy.y*17 + seed*11 + 16) % 256
                ELSE (xx.x*31 + yy.y*17 + seed*11) % 256 END)
          + (xx.x*13 + yy.y*7 + seed*3) % 256
          + (xx.x*5 + yy.y*29 + seed*7) % 256 AS l
        FROM m, UNNEST(generate_series(0, w - 1)) AS xx(x),
                UNNEST(generate_series(0, h - 1)) AS yy(y)),
      cells AS MATERIALIZED (SELECT id, cell, SUM(l) AS cs, COUNT(*) AS cc
        FROM px GROUP BY id, cell),
      tot AS MATERIALIZED (SELECT id, SUM(cs) AS ts, SUM(cc) AS n
        FROM cells GROUP BY id),
      code AS MATERIALIZED (SELECT c.id,
          COALESCE(SUM(CASE WHEN c.cell < 32 AND c.cs * t.n > t.ts * c.cc
                            THEN 1::BIGINT << c.cell END), 0) AS lo,
          COALESCE(SUM(CASE WHEN c.cell >= 32 AND c.cs * t.n > t.ts * c.cc
                            THEN 1::BIGINT << (c.cell - 32) END), 0) AS hi
        FROM cells c JOIN tot t USING (id) GROUP BY c.id)
      SELECT a.id AS a_id, b.id AS b_id,
        CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT)
          AS hamming
      FROM code a JOIN code b ON a.id < b.id
      WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3"""))

  /** Audio path: the Spark side DECODES real PCM16 WAV bytes with the
    * JDK's actual audio reader (javax.sound.sampled) — rate from the
    * parsed header, samples from the decoded frames — while the
    * oracle replays the closed-form generation rule arithmetically.
    * Every stat is integer-exact (Σ s², sign changes, peak), so the
    * hash certifies the real decode at sample level.
    */
  private val multimodalAudioStats = QueryDef(
    "multimodal_audio_stats",
    (s, d) => Multimodal.audioStats(s,
      Multimodal.audioCorpus(s, Tables.documents(s, d))),
    Some("""WITH a AS MATERIALIZED (SELECT doc_id,
        800 + ('0x' || substr(md5(text), 9, 4))::BIGINT % 1600 AS n
        FROM documents),
      s AS MATERIALIZED (SELECT doc_id, n, g.i,
          ((g.i*37 + doc_id*11) % 4096) - 2048 AS v,
          CASE WHEN g.i > 0
               THEN (((g.i-1)*37 + doc_id*11) % 4096) - 2048 END AS pv
        FROM a, UNNEST(generate_series(0, n - 1)) AS g(i)),
      agg AS (SELECT doc_id, MAX(n) AS n, SUM(v*v) AS sum_sq,
          MAX(abs(v)) AS peak,
          SUM(CASE WHEN i > 0 AND ((v >= 0) <> (pv >= 0))
              THEN 1 ELSE 0 END) AS zc
        FROM s GROUP BY doc_id)
      SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        CAST(8000 AS BIGINT) AS sample_rate,
        CAST((n * 1000) // 8000 AS BIGINT) AS duration_ms,
        CAST(sum_sq AS BIGINT) AS sum_sq,
        CAST(zc AS BIGINT) AS zero_crossings,
        CAST(peak AS BIGINT) AS peak
      FROM agg"""))

  /** Decode → decimate by 2 → re-encode at half rate → decode AGAIN:
    * the stats of the resampled audio replay on v(2j), proving the
    * full roundtrip at sample level (the audio twin of
    * multimodal_resize).
    */
  private val multimodalAudioResample = QueryDef(
    "multimodal_audio_resample",
    (s, d) => Multimodal.audioStats(s, Multimodal.audioResample(s,
      Multimodal.audioCorpus(s, Tables.documents(s, d)), 2)),
    Some("""WITH a AS MATERIALIZED (SELECT doc_id,
        800 + ('0x' || substr(md5(text), 9, 4))::BIGINT % 1600 AS n
        FROM documents),
      d AS MATERIALIZED (SELECT doc_id, (n + 1) // 2 AS n2 FROM a),
      s AS MATERIALIZED (SELECT doc_id, n2, g.j,
          ((2*g.j*37 + doc_id*11) % 4096) - 2048 AS v,
          CASE WHEN g.j > 0
               THEN ((2*(g.j-1)*37 + doc_id*11) % 4096) - 2048 END AS pv
        FROM d, UNNEST(generate_series(0, n2 - 1)) AS g(j)),
      agg AS (SELECT doc_id, MAX(n2) AS n2, SUM(v*v) AS sum_sq,
          MAX(abs(v)) AS peak,
          SUM(CASE WHEN j > 0 AND ((v >= 0) <> (pv >= 0))
              THEN 1 ELSE 0 END) AS zc
        FROM s GROUP BY doc_id)
      SELECT doc_id, CAST(n2 AS BIGINT) AS n_samples,
        CAST(4000 AS BIGINT) AS sample_rate,
        CAST((n2 * 1000) // 4000 AS BIGINT) AS duration_ms,
        CAST(sum_sq AS BIGINT) AS sum_sq,
        CAST(zc AS BIGINT) AS zero_crossings,
        CAST(peak AS BIGINT) AS peak
      FROM agg"""))

  /** Margin-based bitext mining ([[Similarity.marginPairs]]): label-0
    * vectors play the source language, the rest (ids offset) the
    * target pool, and every 3rd source vector gets a planted
    * "translation" (+0.01 shift, cos ≈ 0.997) in the pool. With
    * simFloor 0.9 the mined set must be exactly the planted pairs —
    * unrelated iid vectors top out near 0.5 — and each survives the
    * margin test because its runner-up is unrelated. The oracle
    * replays scoring, the top-2 ranking with the vec_id tie-break,
    * the margin arithmetic, and both thresholds.
    */
  private val simBitextMargin = QueryDef(
    "sim_bitext_margin",
    (s, d) => {
      val e = embDouble(s, d)
      val src = e.filter(col("label") === 0)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val tgt = e.filter(col("label") =!= 0)
        .select((col("vec_id") + 2000000).as("vec_id"), col("emb"))
        .unionByName(e.filter(col("label") === 0 && col("vec_id") % 3 === 0)
          .select((col("vec_id") + 3000000).as("vec_id"),
            transform(col("emb"), x => x + lit(0.01)).as("emb")))
      Similarity.marginPairs(src, tgt, simFloor = 0.9, marginFloor = 0.1)
    },
    Some(s"""WITH $embSqlCte,
      src AS MATERIALIZED (SELECT vec_id AS q_id, emb AS q_emb
        FROM e WHERE label = 0),
      tgt AS MATERIALIZED (
        SELECT vec_id + 2000000 AS vec_id, emb FROM e WHERE label <> 0
        UNION ALL
        SELECT vec_id + 3000000, list_transform(emb, x -> x + 0.01)
        FROM e WHERE label = 0 AND vec_id % 3 = 0),
      scored AS MATERIALIZED (SELECT q_id, vec_id,
          round(list_cosine_similarity(q_emb, emb), 4) AS score
        FROM src, tgt),
      ranked AS (SELECT q_id, vec_id, score,
          row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id)
            AS rnk
        FROM scored),
      p AS (SELECT q_id,
          MAX(CASE WHEN rnk = 1 THEN vec_id END) AS tgt_id,
          MAX(CASE WHEN rnk = 1 THEN score END) AS score,
          MAX(CASE WHEN rnk = 2 THEN score END) AS score2
        FROM ranked WHERE rnk <= 2 GROUP BY q_id)
      SELECT q_id AS src_id, tgt_id, score,
        round(score - COALESCE(score2, -1.0), 4) AS margin
      FROM p WHERE score >= 0.9
        AND round(score - COALESCE(score2, -1.0), 4) >= 0.1"""))

  /** Composed CROSS-MODALITY curation gate: every document judged by
    * all three of its modalities at once — decoded image size (real
    * BMP header), decoded audio duration (real WAV header), and the
    * corpus-level text signals (duplicated-5-gram coverage + word
    * count) — with per-stage booleans carried so the oracle certifies
    * each modality's decision, not just the final AND. This is the
    * multimodal sibling of `e2e_quality_gate`/`e2e_stream_gate`: the
    * decision a multimodal corpus pipeline runs before any pairwise
    * dedup work is affordable.
    */
  private val e2eMultimodalGate = QueryDef(
    "e2e_multimodal_gate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val img = Multimodal.decodeMetadata(s, docs)
        .select(col("doc_id"), (col("width") * col("height")).as("n_pixels"))
      val aud = Multimodal.audioStats(s, Multimodal.audioCorpus(s, docs))
        .select(col("doc_id"), col("duration_ms"))
      val txt = graft.datapipe.Dedup.dupNgramCoverage(docs, "doc_id", "text", 5)
        .select(col("doc_id"), col("dup_frac"))
      val qw = graft.datapipe.TextAnalysis.qualityFeatures(docs, col("text"))
        .select(col("doc_id"), col("q_words"))
      img.join(aud, "doc_id").join(txt, "doc_id").join(qw, "doc_id")
        .select(col("doc_id"), col("n_pixels"), col("duration_ms"),
          col("dup_frac"), col("q_words"),
          (col("n_pixels") >= 200).as("kept_image"),
          (col("duration_ms") >= 150).as("kept_audio"),
          (coalesce(col("dup_frac") <= 0.5, lit(false)) &&
            col("q_words") >= 20).as("kept_text"))
        .withColumn("kept",
          col("kept_image") && col("kept_audio") && col("kept_text"))
    },
    Some(raw"""WITH dims AS (SELECT doc_id,
        8 + ('0x' || substr(md5(text), 1, 4))::BIGINT % 24 AS w,
        8 + ('0x' || substr(md5(text), 5, 4))::BIGINT % 24 AS h,
        800 + ('0x' || substr(md5(text), 9, 4))::BIGINT % 1600 AS n
        FROM documents),
      $DocWords,
      g AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS gm
            FROM toks, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
            WHERE len(w) >= 5),
      dup AS (SELECT gm FROM
        (SELECT gm, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gm)
        WHERE nd >= 2),
      cnt AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
      dcnt AS (SELECT doc_id, COUNT(*) AS n_dup
        FROM g JOIN dup USING (gm) GROUP BY doc_id),
      df AS (SELECT t.doc_id,
          CASE WHEN COALESCE(n_grams, 0) = 0 THEN NULL
               ELSE ((2 * COALESCE(n_dup, 0) * 1000000 + n_grams)
                 // (2 * n_grams)) / 1000000.0
          END AS dup_frac
        FROM toks t LEFT JOIN cnt USING (doc_id) LEFT JOIN dcnt USING (doc_id)),
      qw AS (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS q_words
        FROM documents)
      SELECT d.doc_id, CAST(d.w * d.h AS BIGINT) AS n_pixels,
        CAST((d.n * 1000) // 8000 AS BIGINT) AS duration_ms,
        df.dup_frac, qw.q_words,
        (d.w * d.h >= 200) AS kept_image,
        ((d.n * 1000) // 8000 >= 150) AS kept_audio,
        (COALESCE(df.dup_frac <= 0.5, FALSE) AND qw.q_words >= 20) AS kept_text,
        ((d.w * d.h >= 200) AND ((d.n * 1000) // 8000 >= 150)
          AND (COALESCE(df.dup_frac <= 0.5, FALSE) AND qw.q_words >= 20))
          AS kept
      FROM dims d JOIN df ON d.doc_id = df.doc_id
        JOIN qw ON d.doc_id = qw.doc_id"""))

  /** Metadata-filtered vector search: top-5 among the ENGLISH
    * documents' vectors only (the candidate restriction happens
    * pre-scoring — the vector-DB pre-filter shape). The lang
    * predicate is a pushed-down scan filter on the documents table
    * (plan-pinned); the oracle applies the same semi restriction.
    */
  private val simFilteredTopK = QueryDef(
    "sim_filtered_topk",
    (s, d) => {
      val e = embDouble(s, d)
      val allowed = Tables.documents(s, d)
        .filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      Similarity.filteredTopK(e, allowed, q, 5)
    },
    Some(s"""WITH $embSqlCte,
      allowed AS (SELECT doc_id AS vec_id FROM documents WHERE lang = 'en'),
      c AS MATERIALIZED (SELECT e.* FROM e JOIN allowed USING (vec_id)),
      q AS MATERIALIZED (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10),
      scored AS MATERIALIZED (SELECT q_id, vec_id,
          round(list_cosine_similarity(q_emb, emb), 4) AS score
        FROM q, c WHERE vec_id <> q_id),
      ranked AS (SELECT q_id, vec_id, score,
          CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
        FROM scored)
      SELECT q_id, rnk, vec_id, score FROM ranked WHERE rnk <= 5"""))

  /** Hybrid retrieval (the RAG/two-tower serving shape): per query,
    * the dense cosine top-10 (embeddings side, self excluded) and
    * the lexical BM25 top-10 (first-4-token term sets of docs 0–2)
    * fused by reciprocal-rank fusion (k=60) into one ranked list.
    * The asymmetry is intentional and certified: the lexical leg may
    * retrieve the query document itself while the dense leg excludes
    * it, and rrf handles one-sided candidates via the coalesced-0
    * contribution. The oracle replays both legs' full chains and the
    * fixed-order fusion arithmetic.
    */
  private val hybridRetrieval = QueryDef(
    "hybrid_retrieval",
    (s, d) => {
      val e = embDouble(s, d)
      val docs = Tables.documents(s, d)
      val qe = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val qt = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("q_id"),
          slice(TextAnalysis.words(col("text")), 1, 4)
            .as("q_terms"))
      val dense = Similarity.bruteForceTopK(e, qe, 10)
        .select(col("q_id"), col("vec_id").as("doc_id"), col("rnk"))
      val lex = Relevance.bm25PerQuery(docs, "doc_id", "text", qt, 10)
        .select(col("q_id"), col("doc_id"), col("rnk"))
      Relevance.rrfFuseQueries(Seq("dense" -> dense, "lex" -> lex), 10, 60)
    },
    Some(s"""WITH $embSqlCte,
      qe AS MATERIALIZED (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 3),
      dscored AS MATERIALIZED (SELECT q_id, vec_id,
          round(list_cosine_similarity(q_emb, emb), 4) AS score
        FROM qe, e WHERE vec_id <> q_id),
      dranked AS (SELECT q_id, vec_id AS doc_id,
          CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
        FROM dscored),
      dr AS (SELECT q_id, doc_id, rnk FROM dranked WHERE rnk <= 10),
      $DocWords,
      q AS (SELECT DISTINCT doc_id AS q_id, u.t AS term
            FROM toks, UNNEST(list_slice(w, 1, 4)) AS u(t)
            WHERE doc_id < 3),
      $Bm25Scores,
      lranked AS (SELECT q_id, doc_id,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
        FROM sc),
      lr AS (SELECT q_id, doc_id, rnk FROM lranked WHERE rnk <= 10),
      u AS (SELECT q_id, doc_id,
          MIN(CASE WHEN sig = 'dense' THEN rnk END) AS r_dense,
          MIN(CASE WHEN sig = 'lex' THEN rnk END) AS r_lex
        FROM (SELECT q_id, doc_id, 'dense' AS sig, rnk FROM dr
              UNION ALL
              SELECT q_id, doc_id, 'lex' AS sig, rnk FROM lr)
        GROUP BY 1, 2),
      f AS (SELECT q_id, doc_id, r_dense, r_lex,
          round(COALESCE(1.0 / (60.0 + CAST(r_dense AS DOUBLE)), 0.0) +
                COALESCE(1.0 / (60.0 + CAST(r_lex AS DOUBLE)), 0.0), 6) AS rrf
        FROM u),
      fr AS (SELECT q_id, doc_id, r_dense, r_lex, rrf,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk
        FROM f)
      SELECT q_id, rnk, doc_id, r_dense, r_lex, rrf
      FROM fr WHERE rnk <= 10"""))

  /** The oracle's unrolled MMR greedy: step t picks, per query, the
    * argmax of round(0.7·rel − 0.3·max-sim-to-picked, 6) over the
    * candidates steps 1..t−1 did not pick (vec_id tie-break) —
    * exactly [[graft.datapipe.Similarity.mmrRerank]]'s loop body,
    * replayed as chained CTEs because the pick count is a literal.
    */
  private def mmrPrev(t: Int): String =
    (1 until t).map(i => s"SELECT * FROM sel$i").mkString("(", " UNION ALL ", ")")

  private def mmrStepSql(t: Int): String =
    if (t == 1)
      """sel1 AS (SELECT q_id, vec_id, mmr FROM (
         SELECT q_id, vec_id, round(0.7 * rel, 6) AS mmr,
           row_number() OVER (PARTITION BY q_id
             ORDER BY round(0.7 * rel, 6) DESC, vec_id) AS rn
         FROM cand) t1 WHERE rn = 1)"""
    else
      s"""sel$t AS (SELECT q_id, vec_id, mmr FROM (
         SELECT c.q_id, c.vec_id,
           round(0.7 * c.rel - 0.3 * COALESCE(m.maxs, 0.0), 6) AS mmr,
           row_number() OVER (PARTITION BY c.q_id
             ORDER BY round(0.7 * c.rel - 0.3 * COALESCE(m.maxs, 0.0), 6) DESC,
               c.vec_id) AS rn
         FROM cand c
         LEFT JOIN (SELECT p.q_id, p.i AS vec_id, MAX(p.s) AS maxs
                    FROM pair p JOIN ${mmrPrev(t)} sp
                      ON p.q_id = sp.q_id AND p.j = sp.vec_id
                    GROUP BY 1, 2) m
           ON m.q_id = c.q_id AND m.vec_id = c.vec_id
         WHERE NOT EXISTS (SELECT 1 FROM ${mmrPrev(t)} sp2
            WHERE sp2.q_id = c.q_id AND sp2.vec_id = c.vec_id)
         ) t$t WHERE rn = 1)"""

  /** MMR diversified re-rank: each of 5 queries' dense top-10
    * greedily re-ranked to 5 picks with λ = 0.7. Engine-parity rests
    * on 4-dp rel/pairwise sims, the 6-dp per-step mmr, and the
    * vec_id tie-break — the greedy's every float is replayed.
    */
  private val simMmrRerank = QueryDef(
    "sim_mmr_rerank",
    (s, d) => {
      val e = embDouble(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      Similarity.mmrRerank(e, q, nCand = 10, kFinal = 5, lambda = 0.7)
    },
    Some(s"""WITH $embSqlCte,
      q AS MATERIALIZED (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 5),
      scored AS MATERIALIZED (SELECT q_id, vec_id,
          round(list_cosine_similarity(q_emb, emb), 4) AS score
        FROM q, e WHERE vec_id <> q_id),
      ranked AS (SELECT q_id, vec_id, score,
          CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
        FROM scored),
      cand AS MATERIALIZED (SELECT q_id, vec_id, score AS rel
        FROM ranked WHERE rnk <= 10),
      pair AS MATERIALIZED (SELECT a.q_id, a.vec_id AS i, b.vec_id AS j,
          round(list_cosine_similarity(ea.emb, eb.emb), 4) AS s
        FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id),
      ${(1 to 5).map(mmrStepSql).mkString(",\n      ")}
      ${(1 to 5).map(t =>
        s"SELECT q_id, CAST($t AS BIGINT) AS rnk, vec_id, mmr FROM sel$t")
        .mkString("\n      UNION ALL\n      ")}"""))

  /** Centroid-based silhouette over the 8-cell k-means clustering —
    * the oracle replays the ENTIRE trainer via the shared km chain
    * (seeds, 3 Lloyd's rounds) and then derives a/b from the same
    * per-(vector, cell) objective table the final assignment uses,
    * so one hash certifies trainer + assignment + the quality
    * readout together.
    */
  private val simSilhouette = QueryDef(
    "sim_kmeans_silhouette",
    // cells = 0 → autoCells (resolves to exactly 8 at both oracle
    // SFs — the unrolled 8-cell chain below matches ONLY while the
    // embeddings fixture stays ≤ 2000 rows; a bigger fixture flips
    // autoCells past 8 and this hash breaks FIRST, by design. At the
    // sf1 board the readout self-sizes with the corpus — the last
    // catalog-arg pin of the class the r15 sf1 wave caught)
    (s, d) => Similarity.silhouette(
      embDouble(s, d).select(col("vec_id"), col("emb")),
      cells = 0, iters = 3),
    Some(s"""WITH ${kmChainCtes("v", "seeds", "s", "embedding", 8, 3, 64)},
      own AS (SELECT vec_id, cell FROM sa3),
      ab AS (SELECT p.vec_id, o.cell,
          MAX(CASE WHEN p.cell = o.cell THEN p.f END) AS a,
          MIN(CASE WHEN p.cell <> o.cell THEN p.f END) AS b
        FROM sp3 p JOIN own o USING (vec_id) GROUP BY 1, 2)
      SELECT vec_id, CAST(cell AS BIGINT) AS cell,
        CASE WHEN greatest(a, b) = 0 THEN 0.0
             ELSE round((b - a) / greatest(a, b), 6) END AS silhouette
      FROM ab"""))

  /** Per-source centroid drift over the documents↔embeddings join
    * (vec_id == doc_id in the fixtures). The oracle replays the
    * quantization, both component-sum tables, the exact-numerator
    * distance expression, and the 8-dp/decimal fold.
    */
  private val simSourceDrift = QueryDef(
    "sim_source_drift",
    (s, d) => Similarity.sourceCentroidDrift(
      Tables.documents(s, d),
      embDouble(s, d).select(col("vec_id"), col("emb"))),
    Some("""WITH j AS (SELECT d.source,
        list_transform(e.embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      ps AS (SELECT source, g.i AS pos, SUM(q[g.i]) AS ss, COUNT(*) AS ns
             FROM j, generate_series(1, 64) AS g(i) GROUP BY 1, 2),
      gs AS (SELECT g.i AS pos, SUM(q[g.i]) AS sg, COUNT(*) AS ng
             FROM j, generate_series(1, 64) AS g(i) GROUP BY 1),
      xs AS (SELECT ps.source, ps.ns,
          (CAST(gs.ng AS DOUBLE) * CAST(ps.ss AS DOUBLE)
            - CAST(ps.ns AS DOUBLE) * CAST(gs.sg AS DOUBLE)) /
            (CAST(ps.ns AS DOUBLE) * CAST(gs.ng AS DOUBLE)) AS x
        FROM ps JOIN gs USING (pos)),
      t AS (SELECT source, ns,
          CAST(round(x * x, 8) AS DECIMAL(28,8)) AS term FROM xs)
      SELECT source, CAST(ns AS BIGINT) AS n_docs,
        CAST(round(SUM(term), 6) AS DOUBLE) AS drift2
      FROM t GROUP BY 1, 2"""))

  /** Hard-negative triplet mining over the labelled embeddings:
    * queries = vectors 0–9, positive = nearest same-label
    * neighbour, negatives = top-5 nearest different-label. The
    * oracle replays both ranked legs and the margin arithmetic.
    */
  private val simHardNegatives = QueryDef(
    "sim_hard_negatives",
    (s, d) => {
      val e = embDouble(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("emb").as("q_emb"))
      Similarity.mineTriplets(e, q, 5)
    },
    Some(s"""WITH $embSqlCte,
      q AS MATERIALIZED (SELECT vec_id AS q_id, label AS q_label,
          emb AS q_emb FROM e WHERE vec_id < 10),
      scored AS MATERIALIZED (SELECT q_id, q_label, vec_id, label,
          round(list_cosine_similarity(q_emb, emb), 4) AS score
        FROM q, e WHERE vec_id <> q_id),
      pos AS MATERIALIZED (SELECT q_id, vec_id AS pos_id, score AS pos_score,
          row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS pr
        FROM scored WHERE label = q_label),
      p1 AS (SELECT q_id, pos_id, pos_score FROM pos WHERE pr = 1),
      neg AS (SELECT q_id, vec_id, score,
          CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
        FROM scored WHERE label <> q_label)
      SELECT n.q_id, p.pos_id, p.pos_score, n.rnk, n.vec_id AS neg_id,
        n.score AS neg_score, round(p.pos_score - n.score, 4) AS margin
      FROM neg n JOIN p1 p USING (q_id) WHERE n.rnk <= 5"""))

  /** One unrolled power-iteration step: matrix-vector product with
    * the 8-dp/decimal fold, L2 norm via the same fold over squares,
    * 6-dp re-rounded iterate.
    */
  private def pcaStepSql(k: Int): String = {
    val pv = s"v${k - 1}"
    // MATERIALIZED throughout: inlined CTEs would re-expand the
    // whole chain per reference (≈2^iters covariance recomputes)
    s"""t$k AS MATERIALIZED (SELECT cov.i,
        CAST(SUM(CAST(round(cov.gv * v.v, 8) AS DECIMAL(28,8))) AS DOUBLE) AS t
      FROM cov JOIN $pv v ON v.j = cov.j GROUP BY 1),
      n$k AS MATERIALIZED (SELECT sqrt(CAST(SUM(CAST(round(t * t, 8) AS DECIMAL(28,8))) AS DOUBLE)) AS nrm FROM t$k),
      v$k AS MATERIALIZED (SELECT i AS j, round(t / nrm, 6) AS v FROM t$k, n$k)"""
  }

  /** Top principal component by 8 unrolled power-iteration steps —
    * the oracle replays the quantization, both moment tables, the
    * covariance assembly, every step's decimal fold + norm + 6-dp
    * iterate, and the Rayleigh/trace readout.
    */
  private val simPcaTop = QueryDef(
    "sim_pca_top",
    (s, d) => Similarity.pcaTop(
      embDouble(s, d).select(col("vec_id"), col("emb")), iters = 8),
    Some(s"""WITH q AS MATERIALIZED (SELECT list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        FROM embeddings),
      sm AS MATERIALIZED (SELECT gs.i AS i, SUM(q[gs.i]) AS s, COUNT(*) AS n
             FROM q, generate_series(1, 64) AS gs(i) GROUP BY 1),
      sp AS MATERIALIZED (SELECT gi.i AS i, gj.i AS j, SUM(q[gi.i] * q[gj.i]) AS sp
             FROM q, generate_series(1, 64) AS gi(i),
                  generate_series(1, 64) AS gj(i)
             GROUP BY 1, 2),
      cov AS MATERIALIZED (SELECT sp.i, sp.j,
          (CAST(si.n AS DOUBLE) * CAST(sp.sp AS DOUBLE)
            - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE)) /
          (CAST(si.n AS DOUBLE) * CAST(si.n AS DOUBLE) * 1e6) AS gv
        FROM sp JOIN sm si ON si.i = sp.i JOIN sm sj ON sj.i = sp.j),
      v0 AS MATERIALIZED (SELECT i AS j, CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END AS v
             FROM sm),
      ${(1 to 8).map(pcaStepSql).mkString(",\n      ")},
      gvf AS MATERIALIZED (SELECT cov.i,
          CAST(SUM(CAST(round(cov.gv * v.v, 8) AS DECIMAL(28,8))) AS DOUBLE) AS t
        FROM cov JOIN v8 v ON v.j = cov.j GROUP BY 1),
      lam AS (SELECT
          CAST(SUM(CAST(round(v.v * f.t, 8) AS DECIMAL(28,8))) AS DOUBLE) /
          CAST(SUM(CAST(round(v.v * v.v, 8) AS DECIMAL(28,8))) AS DOUBLE) AS eigval
        FROM gvf f JOIN v8 v ON v.j = f.i),
      tr AS (SELECT CAST(SUM(CAST(round(gv, 8) AS DECIMAL(28,8))) AS DOUBLE) AS tr
             FROM cov WHERE i = j)
      SELECT CAST(v.j AS BIGINT) AS dim, v.v AS loading,
        round(lam.eigval, 6) AS eigval,
        round(lam.eigval / tr.tr, 6) AS var_share
      FROM v8 v, lam, tr"""))

  /** One unrolled DEFLATED power-iteration step for the second
    * component: raw fold from the previous iterate, the v₁-dot as
    * the same decimal fold, the plain-IEEE orthogonalizing
    * correction, then norm + 6-dp re-round.
    */
  private def pcaStep2Sql(k: Int): String = {
    val pv = s"u${k - 1}"
    s"""tb$k AS MATERIALIZED (SELECT cov.i,
        CAST(SUM(CAST(round(cov.gv * v.v, 8) AS DECIMAL(28,8))) AS DOUBLE) AS t
      FROM cov JOIN $pv v ON v.j = cov.j GROUP BY 1),
      db$k AS MATERIALIZED (SELECT
        CAST(SUM(CAST(round(t.t * w.v, 8) AS DECIMAL(28,8))) AS DOUBLE) AS dot
      FROM tb$k t JOIN v8 w ON w.j = t.i),
      ud$k AS MATERIALIZED (SELECT t.i, t.t - d.dot * w.v AS t
        FROM tb$k t JOIN v8 w ON w.j = t.i, db$k d),
      nb$k AS MATERIALIZED (SELECT sqrt(CAST(SUM(CAST(round(t * t, 8) AS DECIMAL(28,8))) AS DOUBLE)) AS nrm FROM ud$k),
      u$k AS MATERIALIZED (SELECT i AS j, round(t / nrm, 6) AS v FROM ud$k, nb$k)"""
  }

  /** Second principal component + spectral gap: the oracle replays
    * chain 1 in full (the sim_pca_top CTEs), then the 8 deflated
    * steps, then both Rayleigh quotients and the λ₁/λ₂ ratio.
    */
  private val simPcaSpectrum = QueryDef(
    "sim_pca_spectrum",
    (s, d) => Similarity.pcaSpectrum(
      embDouble(s, d).select(col("vec_id"), col("emb")), iters = 8),
    Some(s"""WITH q AS MATERIALIZED (SELECT list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        FROM embeddings),
      sm AS MATERIALIZED (SELECT gs.i AS i, SUM(q[gs.i]) AS s, COUNT(*) AS n
             FROM q, generate_series(1, 64) AS gs(i) GROUP BY 1),
      sp AS MATERIALIZED (SELECT gi.i AS i, gj.i AS j, SUM(q[gi.i] * q[gj.i]) AS sp
             FROM q, generate_series(1, 64) AS gi(i),
                  generate_series(1, 64) AS gj(i)
             GROUP BY 1, 2),
      cov AS MATERIALIZED (SELECT sp.i, sp.j,
          (CAST(si.n AS DOUBLE) * CAST(sp.sp AS DOUBLE)
            - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE)) /
          (CAST(si.n AS DOUBLE) * CAST(si.n AS DOUBLE) * 1e6) AS gv
        FROM sp JOIN sm si ON si.i = sp.i JOIN sm sj ON sj.i = sp.j),
      v0 AS MATERIALIZED (SELECT i AS j, CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END AS v
             FROM sm),
      ${(1 to 8).map(pcaStepSql).mkString(",\n      ")},
      u0 AS MATERIALIZED (SELECT i AS j, CASE WHEN i = 2 THEN 1.0 ELSE 0.0 END AS v
             FROM sm),
      ${(1 to 8).map(pcaStep2Sql).mkString(",\n      ")},
      gvf AS MATERIALIZED (SELECT cov.i,
          CAST(SUM(CAST(round(cov.gv * v.v, 8) AS DECIMAL(28,8))) AS DOUBLE) AS t
        FROM cov JOIN v8 v ON v.j = cov.j GROUP BY 1),
      lam1 AS (SELECT
          CAST(SUM(CAST(round(v.v * f.t, 8) AS DECIMAL(28,8))) AS DOUBLE) /
          CAST(SUM(CAST(round(v.v * v.v, 8) AS DECIMAL(28,8))) AS DOUBLE) AS eigval
        FROM gvf f JOIN v8 v ON v.j = f.i),
      gv2 AS MATERIALIZED (SELECT cov.i,
          CAST(SUM(CAST(round(cov.gv * v.v, 8) AS DECIMAL(28,8))) AS DOUBLE) AS t
        FROM cov JOIN u8 v ON v.j = cov.j GROUP BY 1),
      lam2 AS (SELECT
          CAST(SUM(CAST(round(v.v * f.t, 8) AS DECIMAL(28,8))) AS DOUBLE) /
          CAST(SUM(CAST(round(v.v * v.v, 8) AS DECIMAL(28,8))) AS DOUBLE) AS eigval
        FROM gv2 f JOIN u8 v ON v.j = f.i)
      SELECT CAST(v.j AS BIGINT) AS dim, v.v AS loading2,
        round(l1.eigval, 6) AS eigval1, round(l2.eigval, 6) AS eigval2,
        round(l1.eigval / l2.eigval, 6) AS spectral_gap
      FROM u8 v, lam1 l1, lam2 l2"""))

  /** T146: cluster-coherent packing readout
    * ([[graft.datapipe.Packing.coherentPack]] over
    * [[Similarity.kmeansAssign]]) — the in-context-pretraining
    * ordering: k-means cluster first, id tie-break, 512-token packs
    * by the distributed prefix sum, per-pack coherence (clusters
    * mixed, top-cluster share). The oracle replays the whole k-means
    * chain, the ordered prefix sum, the exact div pack rule, and
    * both rollups.
    */
  private val packCoherent = QueryDef(
    "pack_coherent",
    (s, d) => {
      val asn = Similarity.kmeansAssign(
        embDouble(s, d).select(col("vec_id"), col("emb")), 8, 3)
      val toks = Tables.documents(s, d).select(col("doc_id"),
        size(TextAnalysis.words(col("text")))
          .cast("bigint").as("n_toks"))
      val sized = asn.join(toks, asn("vec_id") === toks("doc_id"))
        .select(col("cell"), col("doc_id"), col("n_toks"))
      graft.datapipe.Packing.coherentPack(
        sized, "cell", "doc_id", "n_toks", capacity = 512L)
    },
    Some(s"""WITH asn AS MATERIALIZED (${kmeansOracleSql(8, 3, 64)}),
      tok AS (SELECT doc_id, CAST(len($WordsWrapped) AS BIGINT)
          AS v
        FROM documents),
      j AS (SELECT a.cell, t.doc_id, t.v
        FROM asn a JOIN tok t ON t.doc_id = a.vec_id),
      o AS (SELECT cell, doc_id, v,
          COALESCE(CAST(SUM(v) OVER (ORDER BY cell, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
            0) AS strt
        FROM j),
      pc AS (SELECT strt // 512 AS pack_id, cell,
          CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(v) AS BIGINT) AS toks
        FROM o GROUP BY 1, 2)
      SELECT pack_id, CAST(SUM(cnt) AS BIGINT) AS n_docs,
        CAST(SUM(toks) AS BIGINT) AS n_tokens,
        CAST(COUNT(*) AS BIGINT) AS n_clusters,
        CAST(MAX(cnt) AS BIGINT) AS top_docs,
        ((2 * MAX(cnt) * 1000000 + SUM(cnt)) // (2 * SUM(cnt))) / 1000000.0
          AS top_share
      FROM pc GROUP BY 1"""))

  /** T159: Matryoshka truncation-quality profile
    * ([[graft.datapipe.Similarity.truncationProfile]]) — per
    * candidate prefix width, the cosine between every vector and its
    * zero-extended prefix (= the exact norm ratio). The oracle
    * replays the quantization, both integer norms, the IEEE
    * sqrt-of-ratio, and all three statistics.
    */
  private val simMatryoshka = QueryDef(
    "sim_matryoshka",
    (s, d) => Similarity.truncationProfile(
      embDouble(s, d), "emb", Seq(8, 16, 32)),
    Some(s"""WITH $embSqlCte,
      q AS (SELECT list_transform(emb,
          x -> CAST(round(x * 1000) AS BIGINT)) AS q FROM e),
      pd AS (SELECT CAST(d.dim AS BIGINT) AS dim,
          CAST(len(q) AS BIGINT) AS nd,
          list_sum(list_transform(q, x -> x * x)) AS sfull,
          list_sum(list_transform(list_slice(q, 1, d.dim),
            x -> x * x)) AS sd
        FROM q, (SELECT UNNEST([8, 16, 32]) AS dim) d),
      c AS (SELECT dim, CASE WHEN sfull > 0 AND dim <= nd THEN
          round(sqrt(CAST(sd AS DOUBLE) / CAST(sfull AS DOUBLE)), 6)
        END AS cos FROM pd)
      SELECT dim, CAST(COUNT(cos) AS BIGINT) AS n_vecs,
        round(CAST(SUM(CAST(cos AS DECIMAL(28,6))) AS DOUBLE)
          / CAST(COUNT(cos) AS DOUBLE), 6) AS mean_cos,
        MIN(cos) AS min_cos,
        ((2 * COUNT(*) FILTER (WHERE cos >= 0.95) * 1000000 + COUNT(cos))
          // (2 * COUNT(cos))) / 1000000.0 AS frac_ge95
      FROM c GROUP BY 1"""))

  /** T172: embedding-space anisotropy
    * ([[graft.datapipe.Similarity.anisotropy]]) — the mean-vector
    * share of the average squared norm, the third curation readout
    * over the same exact-integer rollups as drift/PCA. The oracle
    * replays the quantize, the component sums, the per-component
    * 8-dp mean-square terms, and all three readout trees. Its q CTE
    * filters NULL embeddings (Spark drops them before the rollup —
    * without the filter COUNT(*) counts rows list_sum skips) and
    * derives the component range from len(q) per row rather than a
    * hardcoded fixture dim (both r14 advice).
    */
  private val simAnisotropy = QueryDef(
    "sim_anisotropy",
    (s, d) => Similarity.anisotropy(
      embDouble(s, d).select(col("vec_id"), col("emb")), "emb"),
    Some("""WITH q AS MATERIALIZED (SELECT list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        FROM embeddings
        WHERE embedding IS NOT NULL),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(list_sum(list_transform(q, z -> z * z))) AS BIGINT)
            AS s2
        FROM q),
      sv AS (SELECT g.i AS pos, CAST(SUM(q[g.i]) AS BIGINT) AS s
        FROM q, UNNEST(generate_series(1, len(q))) AS g(i) GROUP BY 1),
      t AS (SELECT CAST(round((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 8)
          AS DECIMAL(28,8)) AS term
        FROM sv, tot),
      ts AS (SELECT CAST(SUM(term) AS DECIMAL(28,8)) AS tsum FROM t)
      SELECT n AS n_vecs,
        round(CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6)
          AS mean_sq_norm,
        round(CAST(tsum AS DOUBLE) / 1000000.0, 6) AS centroid_sq_norm,
        CASE WHEN s2 > 0 THEN
          round(CAST(tsum AS DOUBLE) * CAST(n AS DOUBLE)
            / CAST(s2 AS DOUBLE), 6)
        END AS anisotropy
      FROM tot, ts"""))

  val defs: Seq[QueryDef] = Seq(
    simBruteForce,
    simIvf,
    simIvfPruned,
    simIvfRecall,
    dedupEmbedding,
    decontamSemantic,
    dedupSemantic,
    simSq8,
    simIvfKmeans,
    simRpTopK,
    simKnnGraph,
    simKnnDensity,
    simGraphPagerank,
    sampleClusterCap,
    simPq,
    simIvfPq,
    multimodalDecode,
    multimodalFeatures,
    multimodalFrames,
    multimodalResize,
    multimodalPhashPairs,
    multimodalAudioStats,
    multimodalAudioResample,
    simBitextMargin,
    e2eMultimodalGate,
    simFilteredTopK,
    hybridRetrieval,
    simMmrRerank,
    simSilhouette,
    simSourceDrift,
    simHardNegatives,
    simPcaTop,
    simPcaSpectrum,
    packCoherent,
    simMatryoshka,
    simAnisotropy)
}
