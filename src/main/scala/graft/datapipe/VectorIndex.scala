package graft.datapipe

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.cosineSimilarity

/** MATERIALIZED IVF index lifecycle — the vector sibling of the
  * minhash recrawl loop ([[Dedup.minhashIndexTable]] /
  * `minhashProbePrebuilt` / `minhashIndexAppend`): a production ANN
  * stack trains its coarse quantizer ONCE, persists (centroids,
  * cell-partitioned vectors) as parquet, answers every query batch
  * from the stored index, folds new vectors in delta-sized, and
  * RETRAINS (with an atomic version swap) when append drift degrades
  * the cell layout — re-training per query run (what [[Similarity
  * .ivfTopKKmeans]] necessarily does as a self-contained query)
  * re-pays the whole trainer at every probe and is the shape no
  * serving system ships.
  *
  * On disk (one index VERSION):
  *  - `<root>/centroids`: (cell, s array<long>, n long) — the exact
  *    integer (component-sum, count) pairs [[Similarity.
  *    kmeansCentroids]] trains (never divided, so the parquet
  *    roundtrip is bit-exact and any engine replays the same
  *    assignment arithmetic from the stored rows).
  *  - `<root>/vectors`: (vec_id, emb) PARTITIONED BY cell — the
  *    100 TB layout every IVF scaladoc in [[Similarity]] points at:
  *    the probe's cell restriction becomes scan-level PARTITION
  *    pruning (non-probed cells are never read, `PartitionFilters`
  *    in the scan node), not a post-scan filter.
  *  - `<root>/vectors.deltas/<id>`: committed [[append]] deltas,
  *    published by [[AtomicCommit]]'s staged-write + atomic-rename
  *    protocol — a killed append can never leave partial files where
  *    a probe reads (the torn-write negative test in VectorIndexSpec
  *    pins it). Readers scan base + committed deltas as one
  *    multi-root pruned scan.
  *
  * VERSIONING ([[rebuild]], [[compact]], [[vacuum]]): the versioned
  * lifecycle of [[AtomicCommit]] (its scaladoc states the protocol) —
  * a probe concurrent with (or after a crash during) maintenance reads
  * either the complete old version or the complete new one, never a
  * half-index.
  *
  * [[probe]] is row-identical to the retrain path
  * (`ivfTopKKmeans(emb, q, k, cells, iters, nprobe)` — VectorIndexSpec
  * pins it) but runs ZERO training jobs: centroids come back as one
  * bounded driver read (cells·dim longs, ≤ 4096·dim by the
  * [[Similarity.autoCells]] clamp), and the only corpus touch is the
  * pruned scan of the probed cells. [[append]] assigns the delta with
  * the STORED centroids (one delta-sized projection) and commits into
  * the delta directories — no corpus rewrite, no retrain, exactly the
  * minhash append contract. Centroid drift under sustained appends is
  * [[indexStats]]'s skew readout → [[rebuild]].
  */
object VectorIndex {

  /** The live version directory of the index at `path`: the MANIFEST
    * target when one exists, else `path` itself (legacy flat layout —
    * what [[build]]/[[buildPq]] write). One bounded driver read.
    */
  def resolveRoot(path: String): String =
    AtomicCommit.resolveVersionRoot(path)

  /** Base + committed-delta multi-root scan of the live version's
    * vectors table (partition-pruned like a single root — every root
    * carries the same `cell=N` layout).
    */
  private def readVectors(spark: SparkSession, root: String): DataFrame =
    AtomicCommit.read(spark, s"$root/vectors")

  /** Queries MATERIALIZED to a bounded local relation — the probe
    * contract already broadcasts the query batch (serving batches are
    * bounded by premise), and materializing it first makes the
    * probed-cell collect and the join input the SAME rows by
    * construction: a nondeterministic queries plan (sample, rand, an
    * uncheckpointed source) can no longer yield a probed-cell set
    * that diverges from the join side and silently drop results.
    */
  private def localizeQueries(queries: DataFrame): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries
      .select(col("q_id").cast("long"),
        col("q_emb").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
      .toDF("q_id", "q_emb")
  }

  /** Train and persist the index: centroids + cell-partitioned
    * vectors. `cells = 0` self-sizes via [[Similarity.autoCells]].
    * One training pass ([[Similarity.kmeansCentroids]] — k seed rows
    * + k (sum, count) rows per Lloyd's round to the driver) and one
    * corpus write shuffled only by the partitionBy exchange.
    */
  def build(emb: DataFrame, path: String, cells: Int = 0,
            iters: Int = 3): Unit = {
    val e = emb.select(col("vec_id"), col("emb"))
    persist(e, path,
      Similarity.kmeansCentroids(e, Similarity.sizeCells(e, cells), iters)
        .toSeq, None)
  }

  // Write one trained index version at `path`: the coarse centroids,
  // the PQ codebooks when given, and `e` assigned (and encoded) with
  // them — the layout [[loadCentroids]]/[[loadCodebooks]]/[[probe]]
  // read back.
  private def persist(e: DataFrame, path: String,
                      coarse: Seq[(Array[Long], Long)],
                      cbs: Option[IndexedSeq[Seq[(Array[Long], Long)]]]): Unit = {
    val spark = e.sparkSession
    import spark.implicits._
    coarse.zipWithIndex
      .map { case ((s, n), c) => (c.toLong, s.toSeq, n) }
      .toDF("cell", "s", "n")
      .coalesce(1) // cells rows — one footer, one driver read-back
      .write.mode("overwrite").parquet(s"$path/centroids")
    cbs.foreach(_.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case ((sv, n), c) =>
        (s.toLong, c.toLong, sv.toSeq, n) }
    }.toDF("subspace", "cell", "s", "n")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebooks"))
    writeAssigned(e, coarse, cbs, s"$path/vectors")
  }

  // THE assign-and-write body of every vectors table: (vec_id, emb,
  // [code,] cell) partitioned by cell. One hash exchange on the
  // partition key, then partition-local writes — bounds the file count
  // by cells, not tasks × cells.
  private def writeAssigned(delta: DataFrame,
                            coarse: Seq[(Array[Long], Long)],
                            cbs: Option[IndexedSeq[Seq[(Array[Long], Long)]]],
                            dst: String): Unit =
    delta.select(Seq(col("vec_id"), col("emb")) ++
        cbs.map(c => Similarity.pqCodeCol(c, c.head.head._1.length).as("code")) :+
        Similarity.kmeansAssignCol(Similarity.quantize(col("emb")), coarse)
          .as("cell"): _*)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dst)

  /** RETRAIN the index from its own stored vectors into the next
    * version directory and swap the MANIFEST atomically — the
    * lifecycle leg that answers append drift: [[append]] never moves
    * centroids, so a drifting ingest concentrates into few cells
    * ([[indexStats]] skew ≫ 1) and candidate lists outgrow the
    * per-cell design point; rebuild re-levels the layout from the
    * full stored corpus (base + every committed delta).
    *
    * Crash/concurrency contract: [[AtomicCommit.maintain]] — training
    * and the full re-write land in `<path>/v<n+1>` while every reader
    * still resolves the old version, and deltas the snapshot missed
    * are re-assigned against the NEW quantizers (a dir copy would
    * carry stale cell assignments after a retrain). Old version
    * directories are kept until [[vacuum]] (probes in flight may
    * still hold the old root).
    *
    * Cost: one full corpus re-train + re-write — the operation is
    * O(index), which is exactly why [[append]] exists for the daily
    * path and rebuild is gated on the [[indexStats]] readout.
    */
  def rebuild(spark: SparkSession, path: String, cells: Int = 0,
              iters: Int = 3): Unit =
    retrain(spark, path)(build(_, _, cells, iters))

  /** [[rebuild]] for the COMPRESSED index: retrains the coarse
    * quantizer AND the PQ codebooks from the stored vectors (both
    * drift-frozen under [[append]]), re-encodes every vector — same
    * crash contract as [[rebuild]].
    */
  def rebuildPq(spark: SparkSession, path: String, cells: Int = 0,
                iters: Int = 3, subspaces: Int = 8, kcents: Int = 16,
                pqIters: Int = 2): Unit =
    retrain(spark, path)(
      buildPq(_, _, cells, iters, subspaces, kcents, pqIters))

  // One maintenance step whose rewrite is `train(stored vectors,
  // next version root)`.
  private def retrain(spark: SparkSession, path: String)(
      train: (DataFrame, String) => Unit): Unit =
    AtomicCommit.maintain(path, Seq("vectors")) { v =>
      train(AtomicCommit.readPaths(spark, v.roots("vectors"))
        .select(col("vec_id"), col("emb")), v.next)
    }(refold(spark))

  // The vector fold-forward: re-assign (and re-encode) a committed
  // delta against the quantizers of the version it moves into.
  private def refold(spark: SparkSession)(
      v: AtomicCommit.Version, from: String, staging: String): Unit =
    assignWith(spark, v.next,
      spark.read.parquet(from).select(col("vec_id"), col("emb")))(staging)

  // [[writeAssigned]] with the quantizers stored at version root
  // `root`, loaded now — the PQ shape when the root carries codebooks.
  private def assignWith(spark: SparkSession, root: String,
                         delta: DataFrame): String => Unit = {
    val cbs =
      if (Files.isDirectory(Paths.get(s"$root/codebooks")))
        Some(loadCodebooks(spark, root))
      else None
    writeAssigned(delta, loadCentroids(spark, root), cbs, _)
  }

  /** COMPACT the live version's base + committed deltas into the
    * next version directory WITHOUT retraining — the small-file
    * maintenance leg between [[append]] (daily) and [[rebuild]]
    * (drift-triggered): sustained appends accumulate one delta
    * directory per commit, and at 100 TB a probe's file listing and
    * per-cell open count grow with commit count even though the data
    * doesn't. Compaction rewrites the vectors (every column,
    * including PQ `code` when present) into fresh cell partitions —
    * one hash exchange on the partition key, file count re-bounded
    * by cells — and copies the training artifacts (centroids, and
    * codebooks when present) unchanged: assignments are preserved
    * because the quantizer is, so a probe against the compacted
    * version is bit-identical to one against base + deltas
    * (RoundSeventeenOpsSpec pins it). Same [[AtomicCommit.maintain]]
    * step as [[rebuild]].
    */
  def compact(spark: SparkSession, path: String): Unit =
    AtomicCommit.maintain(path, Seq("vectors")) { v =>
      def copy(t: String): Unit = spark.read.parquet(s"${v.live}/$t")
        .coalesce(1).write.mode("overwrite").parquet(s"${v.next}/$t")
      copy("centroids")
      if (Files.isDirectory(Paths.get(s"${v.live}/codebooks"))) copy("codebooks")
      AtomicCommit.readPaths(spark, v.roots("vectors"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"${v.next}/vectors")
    }(refold(spark))

  /** Drop every NON-LIVE version directory (and, once a MANIFEST
    * exists, the superseded legacy flat artifacts) — the retention
    * sweep after [[rebuild]]/[[compact]] cycles: [[AtomicCommit
    * .vacuum]] over the vectors table and the training artifacts. Old
    * versions are kept by default precisely because probes in flight
    * may still hold their root. REFUSES (IllegalStateException) while
    * an orphaned delta exists — run [[compact]] first (it folds
    * orphans forward), then vacuum.
    */
  def vacuum(path: String): Unit =
    AtomicCommit.vacuum(path, Seq("vectors"), Seq("centroids", "codebooks"))

  /** The stored coarse quantizer of the LIVE version, cell-ordered —
    * bounded driver state (cells·dim longs, the same rows every
    * Lloyd's round already ships).
    */
  def loadCentroids(spark: SparkSession, path: String): Seq[(Array[Long], Long)] = {
    import spark.implicits._
    spark.read.parquet(s"${resolveRoot(path)}/centroids")
      .orderBy(col("cell"))
      .select(col("s"), col("n")).as[(Seq[Long], Long)]
      .collect().map { case (s, n) => (s.toArray, n) }.toSeq
  }

  /** Fold `delta` (vec_id, emb) into the stored index WITHOUT
    * retraining: assign each delta vector with the stored centroids
    * — and, on a compressed index, encode it with the stored
    * codebooks — (one codegen projection over the delta only) and
    * COMMIT the cell-partitioned rows via [[AtomicCommit]] — staged
    * write, atomic rename, so a killed append exposes nothing to
    * probes (VectorIndexSpec's torn-write test). Cost is delta-assign
    * + delta-write, independent of the standing index size.
    * Pass `commitId` (a streaming batchId, an ingest-day key) to make
    * redelivery a protocol-level no-op — no side ledger needed
    * (StreamingSpec's ingest twin); without one, replaying the same
    * delta plants duplicate rows (plain append semantics).
    */
  def append(spark: SparkSession, path: String, delta: DataFrame,
             commitId: Option[String] = None): Unit = {
    val root = resolveRoot(path)
    AtomicCommit.commitAppend(s"$root/vectors", commitId)(
      assignWith(spark, root, delta))
  }

  /** Train and persist the COMPRESSED index — coarse quantizer plus
    * PQ codebooks and per-vector codes, the full IVF-PQ serving
    * artifact: `<path>/centroids` and a cell-partitioned
    * `<path>/vectors` as in [[build]], but each vector row also
    * carries its `subspaces`-int PQ `code`, and
    * `<path>/codebooks` stores the per-subspace (cell, s, n) exact
    * integer codebooks. At 100 TB the probe's stage-1 scan projects
    * ONLY (vec_id, code) — parquet column pruning makes the
    * 4-byte-code memory-bandwidth claim real on the stored layout —
    * and the full vectors are read only for the bounded exact
    * rescore.
    */
  def buildPq(emb: DataFrame, path: String, cells: Int = 0,
              iters: Int = 3, subspaces: Int = 8, kcents: Int = 16,
              pqIters: Int = 2): Unit = {
    val e = emb.select(col("vec_id"), col("emb"))
    val coarse =
      Similarity.kmeansCentroids(e, Similarity.sizeCells(e, cells), iters)
    persist(e, path, coarse.toSeq,
      Some(Similarity.pqCodebooks(e, subspaces, kcents, pqIters)))
  }

  /** The stored PQ codebooks of the live version, (subspace, cell)-
    * ordered. */
  def loadCodebooks(spark: SparkSession,
                    path: String): IndexedSeq[Seq[(Array[Long], Long)]] = {
    import spark.implicits._
    spark.read.parquet(s"${resolveRoot(path)}/codebooks")
      .orderBy(col("subspace"), col("cell"))
      .select(col("subspace"), col("s"), col("n"))
      .as[(Long, Seq[Long], Long)].collect()
      .groupBy(_._1).toIndexedSeq.sortBy(_._1)
      .map { case (_, rows) => rows.map { case (_, s, n) => (s.toArray, n) }.toSeq }
  }

  /** [[append]] under its compressed-index name: [[append]] already
    * encodes with the stored codebooks when the index has them.
    */
  def appendPq(spark: SparkSession, path: String, delta: DataFrame,
               commitId: Option[String] = None): Unit =
    append(spark, path, delta, commitId)

  /** IVF-PQ serving from the STORED index — row-identical to
    * [[Similarity.ivfPqTopK]] (VectorIndexSpec pins it) with zero
    * training jobs: stored centroids rank each query's `nprobe`
    * cells, the partition-pruned scan projects only (vec_id, code)
    * for ADC against the query's stored-codebook lookup tables, and
    * the `refine·k` survivors rescore exact from the same table's
    * `emb` column (a second pruned scan bounded by the candidate
    * set). The query batch is materialized once
    * ([[localizeQueries]]), so the probed-cell set and the join input
    * can never diverge.
    */
  def probePq(spark: SparkSession, path: String, queries: DataFrame,
              k: Int, nprobe: Int = 3, refine: Int = 4): DataFrame = {
    val root = resolveRoot(path)
    val coarse = loadCentroids(spark, root)
    val cbs = loadCodebooks(spark, root)
    val subspaces = cbs.size
    val subDim = cbs.head.head._1.length
    // ONE materialization feeds the LUT projection AND the exact
    // rescore join — a nondeterministic queries plan can no longer
    // diverge between the two stages
    val local = localizeQueries(queries)
    val qLuts = local.select(
      Seq(col("q_id"),
        explode(Similarity.kmeansProbesCol(Similarity.quantize(col("q_emb")),
          coarse, nprobe)).as("q_cell")) ++
        Similarity.pqLutCols(cbs, subDim): _*)
    val probed = qLuts.select(col("q_cell")).distinct()
      .collect().map(_.getLong(0).toInt).toSeq
    // every rescore candidate comes from a probed cell, so BOTH
    // stages read the same partition-pruned scan — the exact rescore
    // never touches a non-probed cell's files either
    val pruned = readVectors(spark, root)
      .filter(col("cell").isInCollection(probed))
    val codes = pruned
      .select(col("vec_id"), col("code"), col("cell").cast("long").as("cell"))
    val approx = codes
      .join(broadcast(qLuts),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .withColumn("ascore", -Similarity.pqAdistCol(subspaces))
    Similarity.refineStage(approx,
      pruned.select(col("vec_id"), col("emb")),
      local, k, refine)
  }

  /** Semantic decontamination against an INDEXED eval set — the
    * documented escape hatch of [[Similarity.decontaminateSemantic]]
    * for eval sets too large to broadcast: the EVAL SET is the
    * stable artifact, so it is what gets indexed ([[build]] over the
    * eval vectors, once), and every corpus vector probes its
    * `nprobe` nearest eval cells for the max cosine. Cost per corpus
    * row is nprobe·(|eval|/cells) candidates instead of |eval|; the
    * price is the IVF recall trade — an eval neighbour in a
    * non-probed cell is missed, so verdicts are a LOWER bound on
    * contamination (`nprobe = cells` recovers the exact form;
    * VectorIndexSpec quantifies the gap). Corpus rows with no
    * candidate (or null embeddings) stay in the audit with null max
    * and contaminated = false — the [[Similarity
    * .decontaminateSemantic]] degenerate contract.
    *
    * Scale shape: one codegen probe projection over the corpus, one
    * cell-co-partitioned shuffle-hash join against the eval scan
    * restricted through the join KEY (a corpus-wide distinct-collect
    * of probed cells — what a static partition filter would take —
    * is an extra corpus pass, and the corpus probes most cells
    * anyway; the per-PROBE pruning that pays is [[probe]]'s, where
    * the query batch is bounded), one (vec_id, max) rollup.
    */
  def decontaminateIndexed(spark: SparkSession, evalIndexPath: String,
                           emb: DataFrame, threshold: Double,
                           nprobe: Int = 3): DataFrame = {
    val root = resolveRoot(evalIndexPath)
    val cents = loadCentroids(spark, root)
    val probes = emb.select(col("vec_id"), col("emb"),
      explode_outer(Similarity.kmeansProbesCol(
        Similarity.quantize(col("emb")), cents, nprobe)).as("cell"))
    val evalVecs = readVectors(spark, root)
      .select(col("vec_id").as("eval_id"), col("emb").as("eval_emb"),
        col("cell").cast("long").as("cell"))
    probes.hint("shuffle_hash")
      .join(evalVecs, Seq("cell"), "left")
      .withColumn("score",
        round(cosineSimilarity(col("emb"), col("eval_emb")), 4))
      .groupBy(col("vec_id"))
      .agg(max(col("score")).as("max_eval_cos"))
      .withColumn("contaminated",
        coalesce(col("max_eval_cos") >= threshold, lit(false)))
  }

  /** Index-HEALTH readout over the stored index — the "when to
    * retrain" gate a production ANN stack runs after sustained
    * [[append]]s: per-cell population, corpus share, and skew
    * (population ÷ the uniform expectation). Appends never move
    * centroids, so drifting ingest concentrates into few cells;
    * skew ≫ 1 on hot cells means probe candidate lists grow past
    * the ~250/cell design point and the operator should [[rebuild]]
    * (and [[Similarity.silhouette]] quantifies the separation loss).
    * One aggregation whose scan projects ONLY the partition column —
    * at 100 TB the counts come from parquet metadata-cheap cell
    * directories, never the vector payload. Ratios are engine-exact
    * ([[graft.functions.ExactRound.ratio]]).
    *
    * Alongside the SKEW readout (the [[rebuild]] trigger), the
    * readout carries the two COMPACT triggers, [[AtomicCommit
    * .tableStats]]' `n_deltas` and `n_files`, constant per row.
    *
    * Output: (cell, n_vecs, share, skew, n_deltas, n_files) — 6-dp
    * ratios.
    */
  def indexStats(spark: SparkSession, path: String): DataFrame = {
    val root = resolveRoot(path)
    val (nDeltas, nFiles) = AtomicCommit.tableStats(s"$root/vectors")
    val cells = readVectors(spark, root)
      .select(col("cell").cast("long").as("cell"))
    val g = cells.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
    val t = g.agg(sum(col("n_vecs")).as("tot"), count(lit(1)).as("k"))
    g.crossJoin(broadcast(t))
      .select(col("cell"), col("n_vecs"),
        graft.functions.ExactRound.ratio(col("n_vecs"), col("tot"), 6)
          .as("share"),
        graft.functions.ExactRound.ratio(col("n_vecs") * col("k"),
          col("tot"), 6).as("skew"),
        lit(nDeltas).as("n_deltas"), lit(nFiles).as("n_files"))
  }

  /** Serve top-k from the STORED index: queries probe their `nprobe`
    * nearest cells by the stored centroids' exact objective
    * ([[Similarity.kmeansProbesCol]] — the same arithmetic the
    * trainer used, so stored-index results are row-identical to the
    * retrain path), the vectors scan is restricted to the probed
    * cells with a STATIC `isin` on the partition column (the probed
    * cell set is collected first — bounded by the cell count, never
    * by query count — so the restriction reaches the reader as
    * PartitionFilters: non-probed cells are never read), and the
    * survivors score exact cosine through the two-stage TopK heap.
    * No training job, no corpus-wide shuffle; per-query work is
    * nprobe · cell-population candidates. The query batch is
    * materialized once ([[localizeQueries]]) so the probed-cell set
    * and the join input are the same rows by construction.
    */
  def probe(spark: SparkSession, path: String, queries: DataFrame,
            k: Int, nprobe: Int = 3): DataFrame =
    probeFiltered(spark, path, None, queries, k, nprobe)

  /** [[probe]] with a METADATA PRE-FILTER — the filtered-ANN serving
    * shape ([[Similarity.filteredTopK]] / `filteredPqTopK`) over the
    * STORED index: `allowed` (vec_id) restricts the candidate set
    * with a semi join BEFORE scoring, so the post-filter recall hole
    * (fetch k, then filter below k) cannot arise — every query still
    * sees k survivors from the allowed population of its probed
    * cells. The allowed side joins AFTER partition pruning: the scan
    * still reads only probed cells, and the semi join carries ids
    * only.
    */
  def probeFiltered(spark: SparkSession, path: String,
                    allowed: Option[DataFrame], queries: DataFrame,
                    k: Int, nprobe: Int = 3): DataFrame = {
    val root = resolveRoot(path)
    val cents = loadCentroids(spark, root)
    val q = localizeQueries(queries).select(col("q_id"),
      explode(Similarity.kmeansProbesCol(Similarity.quantize(col("q_emb")),
        cents, nprobe)).as("cell"),
      col("q_emb"))
    val probed = q.select(col("cell")).distinct()
      .collect().map(_.getLong(0).toInt).toSeq
    // filter BEFORE the cast: the partition column materializes as
    // int (directory-name inference) and the pruning predicate must
    // sit on it directly
    val pruned = readVectors(spark, root)
      .filter(col("cell").isInCollection(probed))
      .withColumn("cell", col("cell").cast("long"))
    val vecs = allowed match {
      case Some(a) => pruned.join(a.select(col("vec_id")), Seq("vec_id"),
        "left_semi")
      case None => pruned
    }
    val scored = vecs.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score",
        round(cosineSimilarity(col("q_emb"), col("emb")), 4))
    Similarity.rankTopK(scored, k)
  }
}
