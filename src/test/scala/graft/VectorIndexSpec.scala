package graft

import org.apache.spark.sql.functions._

import graft.datapipe.{AtomicCommit, Similarity, VectorIndex}

/** The materialized IVF index lifecycle: build → probe (row-identical
  * to the retrain path, served plan-pinned from the stored parquet) →
  * append (delta assigned with STORED centroids, appended vectors
  * retrievable) — the vector sibling of the minhash index loop.
  */
class VectorIndexSpec extends SparkSpec {

  import spark.implicits._

  test("probe from the stored index is row-identical to the " +
    "ivfTopKKmeans retrain path") {
    val e = fixtureEmb
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_spec").toString
    VectorIndex.build(e, dir, cells = 8, iters = 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val stored = rows(VectorIndex.probe(spark, dir, q, 5, nprobe = 3))
    val retrain = rows(Similarity.ivfTopKKmeans(e, q, 5,
      cells = 8, iters = 3, nprobe = 3))
    assert(stored === retrain,
      "serving from the materialized index must be indistinguishable " +
        "from retraining per query")
  }

  test("probe plan: the vectors scan is PARTITION-pruned to the " +
    "probed cells and runs no training aggregate") {
    val e = fixtureEmb
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_plan").toString
    VectorIndex.build(e, dir, cells = 8, iters = 3)
    val probe = VectorIndex.probe(spark, dir, q, 5, nprobe = 2)
    val plan = probe.queryExecution.executedPlan.toString
    // the cell restriction must reach the reader as a partition
    // filter (non-probed cells never read), not a post-scan Filter
    assert(plan.contains("PartitionFilters") &&
      plan.split("PartitionFilters").exists(s =>
        s.startsWith(": [cell") && s.contains(" IN (")),
      s"probe must prune partitions on cell:\n${plan.take(3000)}")
    // no training in the serving path: the probe plan carries no
    // VecSum (the trainer's aggregate) — centroids come from one
    // bounded driver read of the stored table
    assert(!plan.toLowerCase.contains("vecsum"),
      s"probe must not retrain:\n${plan.take(3000)}")
  }

  test("append assigns with the stored centroids (no retrain) and the " +
    "appended vectors are retrieved; centroids stay byte-identical") {
    val e = fixtureEmb
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_append").toString
    VectorIndex.build(e, dir, cells = 8, iters = 3)
    val centsBefore = VectorIndex.loadCentroids(spark, dir)
    val delta = e.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("emb"), x => x + lit(0.01)).as("emb"))
    VectorIndex.append(spark, dir, delta)
    val centsAfter = VectorIndex.loadCentroids(spark, dir)
    assert(centsBefore.map(_._2) === centsAfter.map(_._2) &&
      centsBefore.zip(centsAfter).forall { case (a, b) => a._1.sameElements(b._1) },
      "append must not touch the trained centroids")
    // the appended near-twin of query 0 sits in the query's own cell
    // (probe 1) and out-scores everything but an exact twin
    val q = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val top = VectorIndex.probe(spark, dir, q, 3, nprobe = 3)
      .orderBy(col("rnk")).collect()
    assert(top.head.getLong(2) === 1000000L && top.head.getDouble(3) >= 0.99,
      s"the appended shifted twin must rank first: ${top.mkString(", ")}")
    // stored-centroid assignment == what a fresh assignment with the
    // same centroids computes (the append path shares the expression)
    val assignedStored = graft.datapipe.AtomicCommit
      .read(spark, s"$dir/vectors")
      .filter(col("vec_id") >= 1000000)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fresh = delta.select(col("vec_id"),
        Similarity.kmeansAssignCol(Similarity.quantize(col("emb")),
          centsBefore).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assignedStored === fresh)
  }

  test("probePq from the stored compressed index is row-identical to " +
    "the ivfPqTopK retrain path, and its stage-1 scan prunes " +
    "partitions while projecting only (vec_id, code)") {
    val e = fixtureEmb
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_pq").toString
    VectorIndex.buildPq(e, dir, cells = 8, iters = 3,
      subspaces = 8, kcents = 16, pqIters = 2)
    val probe = VectorIndex.probePq(spark, dir, q, 5, nprobe = 3, refine = 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows(probe) === rows(Similarity.ivfPqTopK(e, q, 5)),
      "stored (centroids, codebooks, codes) must reproduce the " +
        "in-query IVF-PQ exactly")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains(" IN ("),
      s"stage-1 scan must prune cells:\n${plan.take(3000)}")
    // the ADC scan must NOT read the emb column — column pruning is
    // what makes codes-only bandwidth real on the stored layout
    val adcScans = plan.split("FileScan parquet").filter(_.contains("code"))
    assert(adcScans.exists(s => s.contains("ReadSchema") &&
      !s.split("ReadSchema")(1).takeWhile(_ != ']').contains("emb")),
      s"ADC scan must project codes without emb:\n${plan.take(3000)}")
  }

  test("appendPq encodes the delta with the stored codebooks " +
    "(delta-sized, no retrain) and appended vectors serve") {
    val e = fixtureEmb
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_pq_append").toString
    VectorIndex.buildPq(e, dir, cells = 8, iters = 3)
    val cbsBefore = VectorIndex.loadCodebooks(spark, dir)
    val delta = e.filter(col("vec_id") === 0)
      .select((col("vec_id") + 1000000).as("vec_id"), col("emb"))
    VectorIndex.appendPq(spark, dir, delta)
    val cbsAfter = VectorIndex.loadCodebooks(spark, dir)
    assert(cbsBefore.size === cbsAfter.size &&
      cbsBefore.zip(cbsAfter).forall { case (a, b) =>
        a.zip(b).forall { case (x, y) =>
          x._1.sameElements(y._1) && x._2 == y._2 } },
      "append must not touch the stored codebooks")
    // the exact twin shares cell AND code with the original, so the
    // ADC stage surfaces it and the rescore ranks it first
    val q = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val top = VectorIndex.probePq(spark, dir, q, 3, nprobe = 3)
      .orderBy(col("rnk")).collect()
    assert(top.head.getLong(2) === 1000000L && top.head.getDouble(3) === 1.0,
      s"the appended exact twin must rank first: ${top.mkString(", ")}")
  }

  test("append on a buildPq index encodes the delta with the stored " +
    "codebooks: probePq serves the delta rows and the readouts keep " +
    "working") {
    val e = fixtureEmb
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_pq_plain_append").toString
    VectorIndex.buildPq(e, dir, cells = 8, iters = 3, subspaces = 4)
    val delta = e.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("emb"))
    VectorIndex.append(spark, dir, delta)
    // every delta row is an exact twin: same cell and code as its
    // original, so the ADC stage surfaces it and the rescore scores 1.0
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val served = VectorIndex.probePq(spark, dir, q, 3, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    for (i <- 0L until 5L)
      assert(served.contains((i, i + 1000000L, 1.0)),
        s"query $i must be served its appended twin: $served")
    val stored = AtomicCommit.read(spark, s"$dir/vectors")
      .select(col("vec_id"), col("code"), col("cell").cast("long"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getLong(2))))
      .toMap
    for (i <- 0L until 5L)
      assert(stored(i + 1000000L) === stored(i),
        s"twin $i must carry its original's (code, cell)")
    assert(VectorIndex.probe(spark, dir, q, 1, nprobe = 3).count() === 5)
    assert(VectorIndex.indexStats(spark, dir)
      .agg(sum(col("n_vecs"))).head().getLong(0) === e.count() + 5)
  }

  test("PQ fold-forward: a delta committed into a root rebuildPq " +
    "superseded is refused by vacuum, folded by compact with a code " +
    "from the live codebooks, then swept") {
    val e = fixtureEmb
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_pq_orphan").toString
    VectorIndex.buildPq(e, dir, cells = 8, iters = 3, subspaces = 8,
      kcents = 16)
    // the retrain changes both quantizers' shapes: 4 cells, 4 subspaces
    VectorIndex.rebuildPq(spark, dir, cells = 4, iters = 3, subspaces = 4,
      kcents = 8)
    assert(VectorIndex.resolveRoot(dir) === s"$dir/v1")
    // the RACE: a writer that resolved the flat root before the swap
    // commits an exact twin of vector 0 with the flat version's
    // (cell, code) — exactly the flat base row of vector 0
    val raced = spark.read.parquet(s"$dir/vectors")
      .filter(col("vec_id") === 0)
      .withColumn("vec_id", col("vec_id") + 7000000L)
    AtomicCommit.commitAppend(s"$dir/vectors", Some("raced")) { staging =>
      raced.write.mode("overwrite").partitionBy("cell").parquet(staging)
    }
    assert(AtomicCommit.orphanedDeltas(dir, "vectors") === Seq(dir -> "raced"))
    val refusal = intercept[IllegalStateException] { VectorIndex.vacuum(dir) }
    assert(refusal.getMessage.contains(s"$dir/vectors.deltas/raced"),
      refusal.getMessage)
    VectorIndex.compact(spark, dir)
    assert(VectorIndex.resolveRoot(dir) === s"$dir/v2")
    assert(AtomicCommit.orphanedDeltas(dir, "vectors").isEmpty)
    def codeCell(id: Long) = AtomicCommit.read(spark, s"$dir/v2/vectors")
      .filter(col("vec_id") === id)
      .select(col("code"), col("cell").cast("long"))
      .collect().map(r => (r.getSeq[Long](0), r.getLong(1))).toSeq
    val Seq(folded) = codeCell(7000000L)
    assert(folded._1.size === 4 && codeCell(0L) === Seq(folded),
      s"the fold re-encodes with the live codebooks: $folded")
    val q = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    def served() = VectorIndex.probePq(spark, dir, q, 3, nprobe = 3)
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toSet
    val before = served()
    assert(before.contains((7000000L, 1.0)), s"the folded twin serves: $before")
    VectorIndex.vacuum(dir)
    val names = Option(new java.io.File(dir).listFiles())
      .map(_.toSeq).getOrElse(Seq.empty).map(_.getName).sorted
    assert(names === Seq("MANIFEST", "v2"), s"swept layout: $names")
    assert(served() === before, "vacuum must not change what serves")
  }

  test("decontaminateIndexed: nprobe = cells recovers the exact " +
    "broadcast form; fewer probes give a contamination LOWER bound " +
    "that still catches the planted twins") {
    import graft.datapipe.VectorIndex
    val e = fixtureEmb
    val evalSet = e.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 2000000).as("vec_id"),
        transform(col("emb"), x => x + lit(0.01)).as("emb"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_decontam").toString
    VectorIndex.build(evalSet, dir, cells = 8, iters = 3)
    def verdicts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((Option(if (r.isNullAt(1)) null
        else java.lang.Double.valueOf(r.getDouble(1))), r.getBoolean(2))))
      .toMap
    val exact = verdicts(Similarity.decontaminateSemantic(e,
      evalSet.select(col("vec_id").as("eval_id"),
        col("emb").as("eval_emb")), 0.995))
    val full = verdicts(VectorIndex.decontaminateIndexed(spark, dir, e,
      0.995, nprobe = 8))
    assert(full === exact,
      "probing every cell must equal the exact broadcast form")
    val approx = verdicts(VectorIndex.decontaminateIndexed(spark, dir, e,
      0.995, nprobe = 3))
    assert(approx.keySet === exact.keySet,
      "every corpus vector stays in the audit at any nprobe")
    assert(approx.forall { case (id, (_, c)) => !c || exact(id)._2 },
      "approximate verdicts are a lower bound (no false positives)")
    val planted = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id")).collect().map(_.getLong(0))
    assert(planted.forall(id => approx(id)._2),
      "each planted vector's own shifted twin shares its probe-1 cell")
    val recall = approx.count { case (id, (_, c)) => c && exact(id)._2 }
      .toDouble / exact.count(_._2._2)
    assert(recall >= 0.9, s"nprobe=3/8 recall over flagged set: $recall")
  }

  test("filteredPqTopK: every hit is allowed and equals the exhaustive " +
    "filtered rescore over its own candidates") {
    val e = fixtureEmb
    val allowed = e.filter(col("vec_id") % 2 === 0).select(col("vec_id"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val out = Similarity.filteredPqTopK(e, allowed, q, 5)
    val ids = out.select(col("vec_id")).distinct()
      .collect().map(_.getLong(0))
    assert(ids.nonEmpty && ids.forall(_ % 2 == 0),
      "pre-filtering must exclude disallowed candidates before scoring")
    // exactly k survivors per query — the post-filter recall hole
    // (fetch k, then filter below k) must not arise
    val perQ = out.groupBy(col("q_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perQ.values.forall(_ == 5L), s"pre-filter keeps k full: $perQ")
  }
}
