package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.datapipe.{Relevance, Similarity, TextAnalysis}

/** Materialized vector-index queries: the stored IVF index, its append
  * and compaction chain, indexed probes (PQ, filtered, hybrid,
  * semantic decontamination) and the RAG serving composition.
  */
object VectorIndexQueries {
  import SqlFragments.{Bm25Scores, DocWords, EmbCast, Words, top5}
  import SimilarityQueries.{embDouble, ivfPqOracleSql, kmChainCtes, pqOracleSql}

  private val VecParts = Seq("centroids", "vectors")

  /** Cache directory of a materialized vector index built from the
    * fixture's `tables`; `params` names the build. The default is the
    * base index of the embeddings that the materialized-probe, append
    * and rebuild entries share.
    */
  private[graft] def vecIndexCachePath(d: String,
      kind: IndexCache.Kind = IndexCache.Vector,
      params: Seq[String] = Seq("base", "c0", "i3"),
      tables: Seq[String] = Seq("embeddings")): String =
    IndexCache.path(kind, d, tables, params)

  /** `da(vec_id, cell)`: each quantized delta vector `dv(vec_id, q)`
    * assigned to its nearest stored centroid of `c2(cell, s, n)` (the
    * k-means objective, ties to the lower cell).
    */
  private def deltaCells(c2: String): String =
    s"""dp AS MATERIALIZED (SELECT d.vec_id, c.cell,
          CAST(list_sum(list_transform(list_zip(d.q, c.s),
               z -> (c.n * z[1] - z[2]) * (c.n * z[1] - z[2]))) AS DOUBLE)
            / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE)) AS f
        FROM dv d, $c2 c),
      da AS MATERIALIZED (SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY f, cell) AS rn
          FROM dp) t WHERE rn = 1)"""

  private def ensureVecIndexCached(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    IndexCache.ensure(IndexCache.Vector, vecIndexCachePath(d), VecParts) { path =>
      graft.datapipe.VectorIndex.build(
        embDouble(s, d).select(col("vec_id"), col("emb")),
        path, cells = 0, iters = 3)
    }

  /** Stored-index serving ([[graft.datapipe.VectorIndex.probe]]):
    * top-5 over nprobe = 3 probed cells answered from the
    * MATERIALIZED index — no training job runs in the entry's query
    * path (the build amortizes in the content-keyed cache exactly
    * like the minhash index). The oracle replays the full trainer +
    * probe + rescore chain, so a hash match certifies that serving
    * from the stored (centroids, cell-partitioned vectors) parquet
    * is indistinguishable from the retrain path — materialization
    * must be invisible in the output (the dedup_probe_materialized
    * contract, vector edition).
    */
  private val simIndexMaterialized = QueryDef(
    "sim_index_materialized",
    (s, d) => {
      val path = ensureVecIndexCached(s, d)
      val q = embDouble(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      graft.datapipe.VectorIndex.probe(s, path, q, 5, nprobe = 3)
    },
    Some(s"""WITH ${kmChainCtes("miv", "miseeds", "mi", "embedding", 8, 3, 64)},
      micell AS MATERIALIZED (SELECT vec_id, cell FROM mia3),
      miprobes AS MATERIALIZED (SELECT q_id, cell FROM (
          SELECT vec_id AS q_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY f, cell) AS rn
          FROM mip3 WHERE vec_id < 10) t WHERE rn <= 3),
      e AS MATERIALIZED (SELECT vec_id,
          $EmbCast
        FROM embeddings),
      scored AS MATERIALIZED (SELECT pr.q_id, g.vec_id,
          round(list_cosine_similarity(qe.emb, ce.emb), 4) AS score
        FROM miprobes pr
        JOIN micell g ON g.cell = pr.cell AND g.vec_id <> pr.q_id
        JOIN e qe ON qe.vec_id = pr.q_id
        JOIN e ce ON ce.vec_id = g.vec_id),
      ${top5("scored")}"""))

  /** The APPEND leg of the stored-index lifecycle
    * ([[graft.datapipe.VectorIndex.append]]): +0.01-shifted twins of
    * every %5 vector (ids +1000000) fold into a COPY of the cached
    * index — assigned with the STORED centroids, no retrain — and
    * the probe then runs over base ∪ delta. Queries 0 and 5 MUST
    * retrieve their appended twins (cos ≈ 0.997, rank 1 — those
    * index entries exist only via the append), certifying that an
    * appended index is indistinguishable from a from-scratch build
    * over the union. The oracle replays the trainer, the delta's
    * stored-centroid assignment (objective vs the FINAL centroid
    * table), and the union-side probe/rescore.
    */
  private val simIndexAppend = QueryDef(
    "sim_index_append",
    (s, d) => {
      val cached = ensureVecIndexCached(s, d)
      val path = IndexCache.scratchCopy("vec_index_append", cached, VecParts)
      val e = embDouble(s, d)
      val delta = e.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("emb"), x => x + lit(0.01)).as("emb"))
      graft.datapipe.VectorIndex.append(s, path, delta)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      graft.datapipe.VectorIndex.probe(s, path, q, 5, nprobe = 3)
    },
    Some(s"""WITH ${kmChainCtes("iav", "iaseeds", "ia", "embedding", 8, 3, 64)},
      iacell AS MATERIALIZED (SELECT vec_id, cell FROM iaa3),
      dv AS MATERIALIZED (SELECT vec_id + 1000000 AS vec_id,
          list_transform(embedding,
            x -> CAST(round((CAST(x AS DOUBLE) + 0.01) * 1000) AS BIGINT)) AS q
        FROM embeddings WHERE vec_id % 5 = 0),
      ${deltaCells("iac2")},
      allcell AS MATERIALIZED (SELECT vec_id, cell FROM iacell
        UNION ALL SELECT vec_id, cell FROM da),
      e2 AS MATERIALIZED (SELECT vec_id,
          $EmbCast
        FROM embeddings
        UNION ALL SELECT vec_id + 1000000,
          list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.01)
        FROM embeddings WHERE vec_id % 5 = 0),
      probes AS MATERIALIZED (SELECT q_id, cell FROM (
          SELECT vec_id AS q_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY f, cell) AS rn
          FROM iap3 WHERE vec_id < 10) t WHERE rn <= 3),
      scored AS MATERIALIZED (SELECT pr.q_id, g.vec_id,
          round(list_cosine_similarity(qe.emb, ce.emb), 4) AS score
        FROM probes pr
        JOIN allcell g ON g.cell = pr.cell AND g.vec_id <> pr.q_id
        JOIN e2 qe ON qe.vec_id = pr.q_id
        JOIN e2 ce ON ce.vec_id = g.vec_id),
      ${top5("scored")}"""))

  /** The COMPACTION leg ([[graft.datapipe.VectorIndex.compact]]):
    * exactly sim_index_append's chain — append the +0.01 twins, then
    * probe — but with a compact() between them, folding the delta
    * directories into one fresh version (no retrain, quantizer
    * copied). The oracle is sim_index_append's VERBATIM: identical
    * results are the operator's whole contract (compaction must be
    * invisible in every output row), so a hash match certifies it
    * against the exact trainer + append + probe replay.
    */
  private val simIndexCompact = QueryDef(
    "sim_index_compact",
    (s, d) => {
      val cached = ensureVecIndexCached(s, d)
      val path = IndexCache.scratchCopy("vec_index_compact", cached, VecParts)
      val e = embDouble(s, d)
      val delta = e.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("emb"), x => x + lit(0.01)).as("emb"))
      graft.datapipe.VectorIndex.append(s, path, delta)
      graft.datapipe.VectorIndex.compact(s, path)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      graft.datapipe.VectorIndex.probe(s, path, q, 5, nprobe = 3)
    },
    Some(s"""WITH ${kmChainCtes("icv", "icseeds", "ic", "embedding", 8, 3, 64)},
      iccell AS MATERIALIZED (SELECT vec_id, cell FROM ica3),
      dv AS MATERIALIZED (SELECT vec_id + 1000000 AS vec_id,
          list_transform(embedding,
            x -> CAST(round((CAST(x AS DOUBLE) + 0.01) * 1000) AS BIGINT)) AS q
        FROM embeddings WHERE vec_id % 5 = 0),
      ${deltaCells("icc2")},
      allcell AS MATERIALIZED (SELECT vec_id, cell FROM iccell
        UNION ALL SELECT vec_id, cell FROM da),
      e2 AS MATERIALIZED (SELECT vec_id,
          $EmbCast
        FROM embeddings
        UNION ALL SELECT vec_id + 1000000,
          list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.01)
        FROM embeddings WHERE vec_id % 5 = 0),
      probes AS MATERIALIZED (SELECT q_id, cell FROM (
          SELECT vec_id AS q_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY f, cell) AS rn
          FROM icp3 WHERE vec_id < 10) t WHERE rn <= 3),
      scored AS MATERIALIZED (SELECT pr.q_id, g.vec_id,
          round(list_cosine_similarity(qe.emb, ce.emb), 4) AS score
        FROM probes pr
        JOIN allcell g ON g.cell = pr.cell AND g.vec_id <> pr.q_id
        JOIN e2 qe ON qe.vec_id = pr.q_id
        JOIN e2 ce ON ce.vec_id = g.vec_id),
      ${top5("scored")}"""))

  /** Decontamination against the INDEXED eval set
    * ([[graft.datapipe.VectorIndex.decontaminateIndexed]]) — the
    * T191 escape hatch made real: same planted eval set as
    * decontam_semantic, but served from a stored [[graft.datapipe
    * .VectorIndex]] over the EVAL vectors with nprobe = 3 of 8
    * cells. Verdicts are the IVF-approximate lower bound (a
    * neighbour in a non-probed cell is missed); the oracle replays
    * the eval-set trainer, the corpus-side probe ranking, and the
    * candidate-max with the same approximation, so the hash
    * certifies the approximate semantics exactly.
    */
  private val decontamSemanticIndexed = QueryDef(
    "decontam_semantic_indexed",
    (s, d) => {
      val e = embDouble(s, d).select(col("vec_id"), col("emb"))
        .repartition(s.sparkContext.defaultParallelism)
      val evalSet = e.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 2000000).as("vec_id"),
          transform(col("emb"), x => x + lit(0.01)).as("emb"))
      val path = IndexCache.ensure(IndexCache.Vector,
          vecIndexCachePath(d, params = Seq("evalidx", "c0", "i3")), VecParts) { p =>
        graft.datapipe.VectorIndex.build(evalSet, p, cells = 0, iters = 3)
      }
      graft.datapipe.VectorIndex.decontaminateIndexed(s, path, e, 0.995,
        nprobe = 3)
    },
    Some(s"""WITH ev AS MATERIALIZED (SELECT vec_id + 2000000 AS vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.01) AS emb
        FROM embeddings WHERE vec_id % 25 = 0),
      ${kmChainCtes("dxv", "dxseeds", "dx", "emb", 8, 3, 64, from = "ev")},
      cq AS MATERIALIZED (SELECT vec_id,
          list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q,
          $EmbCast
        FROM embeddings),
      cp AS MATERIALIZED (SELECT c.vec_id, cc.cell,
          CAST(list_sum(list_transform(list_zip(c.q, cc.s),
               z -> (cc.n * z[1] - z[2]) * (cc.n * z[1] - z[2]))) AS DOUBLE)
            / (CAST(cc.n AS DOUBLE) * CAST(cc.n AS DOUBLE)) AS f
        FROM cq c, dxc2 cc),
      probes AS MATERIALIZED (SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY f, cell) AS rn
          FROM cp) t WHERE rn <= 3),
      ecell AS MATERIALIZED (SELECT vec_id AS eval_id, cell FROM dxa3),
      ee AS MATERIALIZED (SELECT vec_id AS eval_id, emb AS eval_emb FROM ev),
      sc AS MATERIALIZED (SELECT p.vec_id,
          round(list_cosine_similarity(c.emb, ee.eval_emb), 4) AS score
        FROM probes p JOIN cq c USING (vec_id)
        JOIN ecell g ON g.cell = p.cell
        JOIN ee ON ee.eval_id = g.eval_id)
      SELECT q.vec_id, MAX(sc.score) AS max_eval_cos,
        COALESCE(MAX(sc.score) >= 0.995, FALSE) AS contaminated
      FROM cq q LEFT JOIN sc ON sc.vec_id = q.vec_id GROUP BY 1"""))

  /** Two-day incremental chain over the stored VECTOR index — the
    * loop-closing e2e of T192 (the vector edition of
    * e2e_probe_append): day 1 probes +0.01-twins of the %5 vectors
    * (ids +1000000, top-1, nprobe 3) against the BASE index and
    * PUBLISHES its verdicts before the append mutates the table
    * (the production ledger order — laziness must never read day-1
    * results through the appended index); day 1 then appends. Day 2
    * probes identical copies of day 1's delta (ids +2000000) plus
    * +0.01-twins of the %3==1 vectors (ids +3000000): the copies'
    * top-1 MUST be their day-1 twin at cos 1.0 — those index rows
    * exist only via the append — so the entry certifies that an
    * appended index serves like a from-scratch build over
    * base ∪ day1. The oracle replays both days: trainer, the
    * delta's stored-centroid assignment, day-1 probes against base
    * only, day-2 probes against the union.
    */
  private val e2eVecProbeAppend = QueryDef(
    "e2e_vec_probe_append",
    (s, d) => {
      val cached = ensureVecIndexCached(s, d)
      val path = IndexCache.scratchCopy("vec_e2e_append", cached, VecParts)
      val e = embDouble(s, d).select(col("vec_id"), col("emb"))
      val day1 = e.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("emb"), x => x + lit(0.01)).as("emb"))
      val day2 = day1.select((col("vec_id") + 1000000).as("vec_id"),
          col("emb"))
        .unionByName(e.filter(col("vec_id") % 3 === 1)
          .select((col("vec_id") + 3000000).as("vec_id"),
            transform(col("emb"), x => x + lit(0.01)).as("emb")))
      def probe(delta: org.apache.spark.sql.DataFrame) =
        graft.datapipe.VectorIndex.probe(s, path,
          delta.select(col("vec_id").as("q_id"), col("emb").as("q_emb")),
          k = 1, nprobe = 3)
      probe(day1).write.mode("overwrite").parquet(s"$path/verdicts1")
      graft.datapipe.VectorIndex.append(s, path, day1)
      s.read.parquet(s"$path/verdicts1")
        .select(lit(1L).as("day"), col("q_id"), col("vec_id"), col("score"))
        .unionByName(probe(day2)
          .select(lit(2L).as("day"), col("q_id"), col("vec_id"),
            col("score")))
    },
    Some(s"""WITH ${kmChainCtes("vxv", "vxseeds", "vx", "embedding", 8, 3, 64)},
      basecell AS MATERIALIZED (SELECT vec_id, cell FROM vxa3),
      e AS MATERIALIZED (SELECT vec_id,
          $EmbCast
        FROM embeddings),
      d1 AS MATERIALIZED (SELECT vec_id + 1000000 AS vec_id,
          list_transform(embedding,
            x -> CAST(round((CAST(x AS DOUBLE) + 0.01) * 1000) AS BIGINT)) AS q,
          list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.01) AS emb
        FROM embeddings WHERE vec_id % 5 = 0),
      d1p AS MATERIALIZED (SELECT d.vec_id, c.cell,
          CAST(list_sum(list_transform(list_zip(d.q, c.s),
               z -> (c.n * z[1] - z[2]) * (c.n * z[1] - z[2]))) AS DOUBLE)
            / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE)) AS f
        FROM d1 d, vxc2 c),
      d1a AS MATERIALIZED (SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY f, cell) AS rn
          FROM d1p) t WHERE rn = 1),
      d1probes AS MATERIALIZED (SELECT vec_id AS q_id, cell FROM (
          SELECT vec_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY f, cell) AS rn
          FROM d1p) t WHERE rn <= 3),
      day1 AS MATERIALIZED (SELECT q_id, vec_id, score FROM (
          SELECT pr.q_id, g.vec_id,
            round(list_cosine_similarity(qe.emb, ce.emb), 4) AS score,
            row_number() OVER (PARTITION BY pr.q_id
              ORDER BY round(list_cosine_similarity(qe.emb, ce.emb), 4) DESC,
                g.vec_id) AS rn
          FROM d1probes pr
          JOIN basecell g ON g.cell = pr.cell AND g.vec_id <> pr.q_id
          JOIN d1 qe ON qe.vec_id = pr.q_id
          JOIN e ce ON ce.vec_id = g.vec_id) t WHERE rn = 1),
      allcell AS MATERIALIZED (SELECT vec_id, cell FROM basecell
        UNION ALL SELECT vec_id, cell FROM d1a),
      e1 AS MATERIALIZED (SELECT vec_id, emb FROM e
        UNION ALL SELECT vec_id, emb FROM d1),
      d2 AS MATERIALIZED (SELECT vec_id + 1000000 AS vec_id, q, emb FROM d1
        UNION ALL
        SELECT vec_id + 3000000,
          list_transform(embedding,
            x -> CAST(round((CAST(x AS DOUBLE) + 0.01) * 1000) AS BIGINT)),
          list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.01)
        FROM embeddings WHERE vec_id % 3 = 1),
      d2p AS MATERIALIZED (SELECT d.vec_id, c.cell,
          CAST(list_sum(list_transform(list_zip(d.q, c.s),
               z -> (c.n * z[1] - z[2]) * (c.n * z[1] - z[2]))) AS DOUBLE)
            / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE)) AS f
        FROM d2 d, vxc2 c),
      d2probes AS MATERIALIZED (SELECT vec_id AS q_id, cell FROM (
          SELECT vec_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY f, cell) AS rn
          FROM d2p) t WHERE rn <= 3),
      day2 AS MATERIALIZED (SELECT q_id, vec_id, score FROM (
          SELECT pr.q_id, g.vec_id,
            round(list_cosine_similarity(qe.emb, ce.emb), 4) AS score,
            row_number() OVER (PARTITION BY pr.q_id
              ORDER BY round(list_cosine_similarity(qe.emb, ce.emb), 4) DESC,
                g.vec_id) AS rn
          FROM d2probes pr
          JOIN allcell g ON g.cell = pr.cell AND g.vec_id <> pr.q_id
          JOIN d2 qe ON qe.vec_id = pr.q_id
          JOIN e1 ce ON ce.vec_id = g.vec_id) t WHERE rn = 1)
      SELECT CAST(1 AS BIGINT) AS day, q_id, vec_id, score FROM day1
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS day, q_id, vec_id, score FROM day2"""))

  /** Index-health readout over the stored index
    * ([[graft.datapipe.VectorIndex.indexStats]]): per-cell
    * population, share, and skew — the rebuild trigger consulted
    * after sustained appends — plus the COMPACT triggers `n_deltas`
    * (committed delta-dir count; 0 here, the cached index has no
    * appends) and `n_files` (data files across committed roots; the
    * build's repartition-by-cell + partitionBy write bounds it to
    * one file per non-empty cell, so the oracle derives it as the
    * assignment's distinct-cell count — a layout change that breaks
    * that bound breaks this hash FIRST, by design). The oracle
    * replays the trainer and derives the same counts from the final
    * assignment, so a hash match certifies the stored cell layout
    * matches the training it claims.
    */
  private val simIndexStats = QueryDef(
    "sim_index_stats",
    (s, d) => graft.datapipe.VectorIndex.indexStats(
      s, ensureVecIndexCached(s, d)),
    Some(s"""WITH ${kmChainCtes("siv", "siseeds", "si", "embedding", 8, 3, 64)},
      g AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM sia3 GROUP BY 1),
      t AS (SELECT SUM(n_vecs) AS tot, CAST(COUNT(*) AS BIGINT) AS k FROM g)
      SELECT CAST(cell AS BIGINT) AS cell, n_vecs,
        ((2 * n_vecs * 1000000 + tot) // (2 * tot)) / 1000000.0 AS share,
        ((2 * n_vecs * k * 1000000 + tot) // (2 * tot)) / 1000000.0 AS skew,
        CAST(0 AS BIGINT) AS n_deltas, k AS n_files
      FROM g, t"""))

  /** IVF-PQ served from the STORED compressed index
    * ([[graft.datapipe.VectorIndex.probePq]]): centroids, codebooks,
    * and per-vector codes all come back from parquet — no quantizer
    * trains in the query path — and the result must be row-identical
    * to the in-query [[Similarity.ivfPqTopK]], so the oracle is
    * EXACTLY sim_ivfpq_topk's full-trainer replay: a hash match
    * certifies that the stored (centroids, codebooks, codes) are
    * bit-faithful artifacts of the training they claim to persist.
    */
  private val simIndexPqProbe = QueryDef(
    "sim_index_pq_probe",
    (s, d) => {
      val path = IndexCache.ensure(IndexCache.Vector,
          vecIndexCachePath(d, params = Seq("pq", "c0", "i3", "m8", "k16", "p2")),
          Seq("centroids", "codebooks", "vectors")) { p =>
        graft.datapipe.VectorIndex.buildPq(
          embDouble(s, d).select(col("vec_id"), col("emb")),
          p, cells = 0, iters = 3, subspaces = 8, kcents = 16,
          pqIters = 2)
      }
      val q = embDouble(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      graft.datapipe.VectorIndex.probePq(s, path, q, 5, nprobe = 3,
        refine = 4)
    },
    Some(ivfPqOracleSql(coarseCells = 8, coarseIters = 3, nprobe = 3,
      subspaces = 8, subDim = 8, kc = 16, iters = 2, kTop = 5,
      refine = 4)))

  /** Pre-filtered search over the PQ codes
    * ([[Similarity.filteredPqTopK]]): top-5 among the ENGLISH
    * documents' vectors, scored by ADC over codes trained on the
    * FULL corpus (the index predates the predicate), with the
    * metadata restriction semi-joined BEFORE scoring — no
    * post-filter recall hole. The oracle replays the full-corpus
    * codebook training, the candidate restriction, ADC, and the
    * exact rescore.
    */
  private val simFilteredPq = QueryDef(
    "sim_filtered_pq",
    (s, d) => {
      val e = embDouble(s, d)
      val allowed = Tables.documents(s, d)
        .filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      Similarity.filteredPqTopK(e, allowed, q, 5)
    },
    Some(pqOracleSql(subspaces = 8, subDim = 8, kc = 16, iters = 2,
      kTop = 5, refine = 4,
      extraCtes = """allowed AS MATERIALIZED (SELECT doc_id AS vec_id
        FROM documents WHERE lang = 'en')""",
      codesRestrict = "JOIN allowed USING (vec_id)")))

  /** Hybrid retrieval SERVED FROM THE STORED INDEX — the production
    * twin of hybrid_retrieval: the dense leg is
    * [[graft.datapipe.VectorIndex.probe]] over the materialized IVF
    * index (zero training jobs in the query path, partition-pruned
    * vectors scan — RoundSeventeenPlanSpec pins both), the lexical
    * leg is the same BM25 chain, fused by the same RRF arithmetic.
    * The dense candidates are now the IVF approximation (nprobe 3 of
    * 8) instead of brute force — the oracle replays the trainer +
    * probe chain, so the hash certifies the approximate serving
    * semantics exactly.
    */
  private val hybridRetrievalIndexed = QueryDef(
    "hybrid_retrieval_indexed",
    (s, d) => {
      val e = embDouble(s, d)
      val docs = Tables.documents(s, d)
      val path = ensureVecIndexCached(s, d)
      val qe = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val qt = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("q_id"),
          slice(TextAnalysis.words(col("text")), 1, 4)
            .as("q_terms"))
      val dense = graft.datapipe.VectorIndex.probe(s, path, qe, 10,
          nprobe = 3)
        .select(col("q_id"), col("vec_id").as("doc_id"), col("rnk"))
      val lex = Relevance.bm25PerQuery(docs, "doc_id", "text", qt, 10)
        .select(col("q_id"), col("doc_id"), col("rnk"))
      Relevance.rrfFuseQueries(Seq("dense" -> dense, "lex" -> lex), 10, 60)
    },
    Some(s"""WITH ${kmChainCtes("hrv", "hrseeds", "hr", "embedding", 8, 3, 64)},
      hrcell AS MATERIALIZED (SELECT vec_id, cell FROM hra3),
      hrprobes AS MATERIALIZED (SELECT q_id, cell FROM (
          SELECT vec_id AS q_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY f, cell) AS rn
          FROM hrp3 WHERE vec_id < 3) t WHERE rn <= 3),
      e AS MATERIALIZED (SELECT vec_id,
          $EmbCast
        FROM embeddings),
      dscored AS MATERIALIZED (SELECT pr.q_id, g.vec_id,
          round(list_cosine_similarity(qe.emb, ce.emb), 4) AS score
        FROM hrprobes pr
        JOIN hrcell g ON g.cell = pr.cell AND g.vec_id <> pr.q_id
        JOIN e qe ON qe.vec_id = pr.q_id
        JOIN e ce ON ce.vec_id = g.vec_id),
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

  /** The REBUILD leg closing the stored-index lifecycle
    * ([[graft.datapipe.VectorIndex.rebuild]]): a drifting delta
    * (+0.5-shifted %7 vectors, ids +1000000) folds in with the FROZEN
    * base centroids, the [[graft.datapipe.VectorIndex.indexStats]]
    * skew readout is published to the ledger BEFORE the decision
    * (production order — the readout must describe the drifted index,
    * not the rebuilt one), then rebuild retrains over the stored
    * base ∪ delta into a versioned directory and swaps the MANIFEST
    * atomically. Day-after probes (identical copies of the delta,
    * ids +2000000) are served from the NEW version: each query's
    * twin — an index row that exists only via the pre-rebuild
    * append — must come back at cos 1.0. The oracle replays BOTH
    * trainings: the base chain + stored-centroid delta assignment
    * for the skew rows, and the from-scratch union chain for the
    * post-rebuild probe, so one hash certifies that rebuilding from
    * the stored vectors is indistinguishable from training on the
    * union directly.
    */
  private val e2eVecRebuild = QueryDef(
    "e2e_vec_rebuild",
    (s, d) => {
      val cached = ensureVecIndexCached(s, d)
      val path = IndexCache.scratchCopy("vec_rebuild", cached, VecParts)
      val e = embDouble(s, d).select(col("vec_id"), col("emb"))
      val delta = e.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("emb"), x => x + lit(0.5)).as("emb"))
      graft.datapipe.VectorIndex.append(s, path, delta)
      // the drift readout, published BEFORE rebuild mutates the index
      graft.datapipe.VectorIndex.indexStats(s, path)
        .write.mode("overwrite").parquet(s"$path/stats_before")
      // cells = 0 → autoCells over the stored base ∪ delta; the
      // oracle's r2 chain self-sizes identically (its seeds LIMIT is
      // the autoCells scalar over uall), so the hash holds at EVERY
      // sf — no fixture-size pin, and the sf1 board retrains the
      // honest corpus-sized layout
      graft.datapipe.VectorIndex.rebuild(s, path, cells = 0, iters = 3)
      val q = delta.select((col("vec_id") + 1000000).as("q_id"),
        col("emb").as("q_emb"))
      s.read.parquet(s"$path/stats_before")
        .select(lit("skew").as("phase"), col("cell").as("k1"),
          col("n_vecs").as("k2"), col("skew").as("v"))
        .unionByName(
          graft.datapipe.VectorIndex.probe(s, path, q, 1, nprobe = 3)
            .select(lit("probe").as("phase"), col("q_id").as("k1"),
              col("vec_id").as("k2"), col("score").as("v")))
    },
    Some(s"""WITH ${kmChainCtes("rbv", "rbseeds", "rb", "embedding", 8, 3, 64)},
      basecell AS MATERIALIZED (SELECT vec_id, cell FROM rba3),
      dv AS MATERIALIZED (SELECT vec_id + 1000000 AS vec_id,
          list_transform(embedding,
            x -> CAST(round((CAST(x AS DOUBLE) + 0.5) * 1000) AS BIGINT)) AS q,
          list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.5) AS emb
        FROM embeddings WHERE vec_id % 7 = 0),
      ${deltaCells("rbc2")},
      allcell AS MATERIALIZED (SELECT vec_id, cell FROM basecell
        UNION ALL SELECT vec_id, cell FROM da),
      g AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM allcell GROUP BY 1),
      t AS (SELECT SUM(n_vecs) AS tot, CAST(COUNT(*) AS BIGINT) AS k FROM g),
      uall AS MATERIALIZED (SELECT vec_id,
          $EmbCast
        FROM embeddings
        UNION ALL SELECT vec_id, emb FROM dv),
      ${kmChainCtes("r2v", "r2seeds", "r2", "emb", 8, 3, 64, from = "uall",
        kcSql = "SELECT LEAST(4096, GREATEST(8, (COUNT(*) + 249) // 250)) " +
          "FROM uall WHERE emb IS NOT NULL")},
      newcell AS MATERIALIZED (SELECT vec_id, cell FROM r2a3),
      qv AS MATERIALIZED (SELECT vec_id + 1000000 AS q_id, q, emb FROM dv),
      qp AS MATERIALIZED (SELECT d.q_id, c.cell,
          CAST(list_sum(list_transform(list_zip(d.q, c.s),
               z -> (c.n * z[1] - z[2]) * (c.n * z[1] - z[2]))) AS DOUBLE)
            / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE)) AS f
        FROM qv d, r2c2 c),
      qprobes AS MATERIALIZED (SELECT q_id, cell FROM (
          SELECT q_id, cell,
            row_number() OVER (PARTITION BY q_id ORDER BY f, cell) AS rn
          FROM qp) t WHERE rn <= 3),
      scored AS MATERIALIZED (SELECT pr.q_id, g2.vec_id,
          round(list_cosine_similarity(qe.emb, ce.emb), 4) AS score
        FROM qprobes pr
        JOIN newcell g2 ON g2.cell = pr.cell AND g2.vec_id <> pr.q_id
        JOIN qv qe ON qe.q_id = pr.q_id
        JOIN uall ce ON ce.vec_id = g2.vec_id),
      probed AS MATERIALIZED (SELECT q_id, vec_id, score FROM (
          SELECT q_id, vec_id, score,
            row_number() OVER (PARTITION BY q_id
              ORDER BY score DESC, vec_id) AS rn
          FROM scored) t WHERE rn = 1)
      SELECT 'skew' AS phase, CAST(cell AS BIGINT) AS k1, n_vecs AS k2,
        ((2 * n_vecs * k * 1000000 + tot) // (2 * tot)) / 1000000.0 AS v
      FROM g, t
      UNION ALL
      SELECT 'probe', q_id, vec_id, score FROM probed"""))

  /** RAG-prep serving chain as ONE certified composition — chunk
    * (T123 sliding windows) → deterministic chunk vectors (the parent
    * doc's embedding shifted +0.001·win_id, the multimodal-stub
    * convention: a production encoder slots in where the shift is;
    * the Spark-side plumbing — ids, schema, index layout — is real)
    * → stored-index build over ALL chunk vectors → FILTERED probe
    * ([[graft.datapipe.VectorIndex.probeFiltered]], candidates
    * restricted to English-document chunks BEFORE scoring, nprobe 3)
    * for the first three English docs' query vectors → retrieval
    * quality scored by [[graft.datapipe.Relevance.retrievalEval]]
    * against own-document qrels. The oracle replays chunking, vector
    * synthesis, the trainer, the filtered probe, and every metric's
    * integer arithmetic.
    */
  private val e2eRagServing = QueryDef(
    "e2e_rag_serving",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val e = embDouble(s, d).select(col("vec_id"), col("emb"))
      val chunks = graft.datapipe.Chunker.slidingWindows(docs, "doc_id",
          "text", window = 64, stride = 48)
        .select(col("doc_id"), col("win_id"),
          ((col("doc_id") + 1) * 10000 + col("win_id")).as("chunk_id"))
      val chunkVecs = chunks
        .join(e.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
        .select(col("chunk_id").as("vec_id"),
          transform(col("emb"), x => x + col("win_id") * lit(0.001))
            .as("emb"),
          col("doc_id"))
      // the chunk index reads both tables, so both key it
      val path = IndexCache.ensure(IndexCache.Vector,
          vecIndexCachePath(d, params = Seq("rag", "w64", "s48", "c0", "i3"),
            tables = Seq("documents", "embeddings")), VecParts) { p =>
        // cells = 0 → autoCells over the chunk corpus; the oracle's
        // rg chain self-sizes identically (autoCells scalar over cv
        // as its seeds LIMIT), so the hash holds at every sf and the
        // sf1 board builds the honest chunk-count-sized index
        graft.datapipe.VectorIndex.build(
          chunkVecs.select(col("vec_id"), col("emb")), p,
          cells = 0, iters = 3)
      }
      val enDocs = docs.filter(col("lang") === "en")
        .select(col("doc_id"))
      val allowed = chunkVecs.join(enDocs, Seq("doc_id"))
        .select(col("vec_id"))
      val qe = enDocs.orderBy(col("doc_id")).limit(3)
        .join(e.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
        .select(col("doc_id").as("q_id"),
          transform(col("emb"), x => x + lit(0.0005)).as("q_emb"))
      val retrieved = graft.datapipe.VectorIndex.probeFiltered(
          s, path, Some(allowed), qe, 10, nprobe = 3)
        .select(col("q_id"), col("vec_id").as("doc_id"), col("rnk"))
      val qrels = qe.select(col("q_id"))
        .join(chunkVecs.select(col("doc_id").as("q_id"),
          col("vec_id").as("doc_id")), Seq("q_id"))
      Relevance.retrievalEval(retrieved, qrels, 10)
    },
    Some(s"""WITH toks AS (SELECT doc_id,
        list_filter($Words,
          t -> len(t) > 0) AS w
        FROM documents),
      ch AS MATERIALIZED (SELECT doc_id, CAST(i AS BIGINT) AS win_id,
          (doc_id + 1) * 10000 + i AS chunk_id
        FROM toks, UNNEST(generate_series(0, (len(w) - 1) // 48)) AS g2(i)
        WHERE len(w) > 0),
      cv AS MATERIALIZED (SELECT ch.chunk_id AS vec_id, ch.doc_id,
          list_transform(em.embedding,
            x -> CAST(x AS DOUBLE) + ch.win_id * 1e-3) AS emb
        FROM ch JOIN embeddings em ON em.vec_id = ch.doc_id),
      ${kmChainCtes("rgv", "rgseeds", "rg", "emb", 8, 3, 64, from = "cv",
        kcSql = "SELECT LEAST(4096, GREATEST(8, (COUNT(*) + 249) // 250)) " +
          "FROM cv WHERE emb IS NOT NULL")},
      rcell AS MATERIALIZED (SELECT vec_id, cell FROM rga3),
      allowed AS MATERIALIZED (SELECT cv.vec_id FROM cv
        JOIN documents dd ON dd.doc_id = cv.doc_id WHERE dd.lang = 'en'),
      qd AS MATERIALIZED (SELECT doc_id FROM documents WHERE lang = 'en'
        ORDER BY doc_id LIMIT 3),
      qv AS MATERIALIZED (SELECT qd.doc_id AS q_id,
          list_transform(em.embedding,
            x -> CAST(x AS DOUBLE) + 0.0005) AS emb,
          list_transform(em.embedding,
            x -> CAST(round((CAST(x AS DOUBLE) + 0.0005) * 1000) AS BIGINT)) AS q
        FROM qd JOIN embeddings em ON em.vec_id = qd.doc_id),
      qp AS MATERIALIZED (SELECT d.q_id, c.cell,
          CAST(list_sum(list_transform(list_zip(d.q, c.s),
               z -> (c.n * z[1] - z[2]) * (c.n * z[1] - z[2]))) AS DOUBLE)
            / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE)) AS f
        FROM qv d, rgc2 c),
      qprobes AS MATERIALIZED (SELECT q_id, cell FROM (
          SELECT q_id, cell,
            row_number() OVER (PARTITION BY q_id ORDER BY f, cell) AS rn
          FROM qp) t WHERE rn <= 3),
      scored AS MATERIALIZED (SELECT pr.q_id, g3.vec_id,
          round(list_cosine_similarity(qe.emb, ce.emb), 4) AS score
        FROM qprobes pr
        JOIN rcell g3 ON g3.cell = pr.cell AND g3.vec_id <> pr.q_id
        JOIN allowed a ON a.vec_id = g3.vec_id
        JOIN qv qe ON qe.q_id = pr.q_id
        JOIN cv ce ON ce.vec_id = g3.vec_id),
      lr AS MATERIALIZED (SELECT q_id, doc_id, rnk FROM (
          SELECT q_id, vec_id AS doc_id,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
          FROM scored) t WHERE rnk <= 10),
      qrels AS MATERIALIZED (SELECT qd.doc_id AS q_id,
          cv.vec_id AS doc_id
        FROM qd JOIN cv ON cv.doc_id = qd.doc_id),
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

  val defs: Seq[QueryDef] = Seq(
    simIndexMaterialized, simIndexAppend, simIndexCompact,
    decontamSemanticIndexed, e2eVecProbeAppend, simIndexStats,
    simIndexPqProbe, simFilteredPq, hybridRetrievalIndexed, e2eVecRebuild,
    e2eRagServing)
}
