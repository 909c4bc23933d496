package graft

import org.apache.spark.sql.functions._

import graft.datapipe.Similarity

/** IVF pruning: the pruned variant must return exactly the join-only
  * variant's results AND push the cell restriction into the parquet
  * scan (PushedFilters) — the partition-pruning contract at the
  * 100 TB label-partitioned layout.
  */
class SimilaritySpec extends SparkSpec {

  private def queries = emb.filter(col("vec_id") < 5)
    .select(col("vec_id").as("q_id"), col("label").as("q_label"),
      col("emb").as("q_emb"))

  test("pruned IVF == join-only IVF results") {
    val a = Similarity.ivfTopK(emb, queries, 5).collect().toSet
    val b = Similarity.ivfTopKPruned(emb, queries, 5).collect().toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("the cell restriction reaches the scan as a pushed filter") {
    val pruned = Similarity.ivfTopKPruned(emb, queries, 5)
    val scans = pruned.queryExecution.executedPlan.toString
    assert(scans.contains("PushedFilters: [In(label"),
      s"expected In(label, ...) in scan pushdown; plan:\n${scans.take(2000)}")
  }

  test("k-means assignment is deterministic, complete, and balanced-ish") {
    val a1 = Similarity.kmeansAssign(emb.select(col("vec_id"), col("emb")), 8, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val a2 = Similarity.kmeansAssign(emb.select(col("vec_id"), col("emb")), 8, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a1 === a2)
    assert(a1.size === emb.count())
    assert(a1.values.forall(c => c >= 0 && c < 8))
    // Lloyd's on md5-spread seeds should populate every cell here
    assert(a1.values.toSet.size === 8)
  }

  test("k-means IVF reaches usable recall@k against brute force") {
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val exact = Similarity.bruteForceTopK(emb, qs, 5)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopKKmeans(
      emb.select(col("vec_id"), col("emb")), qs, 5)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"recall@5 over ${exact.size} truth pairs: $recall")
    // single-probe IVF over 8 cells: most neighbours share the
    // query's cell; the floor documents the quality bar
    assert(recall >= 0.5, s"recall@5 $recall below 0.5")
  }

  test("knn graph: shape, self-exclusion, twin edge, recall vs brute force") {
    import spark.implicits._
    val vecs = emb.select(col("vec_id"), col("emb"))
    // plant one exact twin: probe 1 is always the own cell, so the
    // twin is structurally a candidate and must be the rank-1 edge
    val twin = vecs.filter(col("vec_id") === 0)
      .select(lit(1000000L).as("vec_id"), col("emb"))
    val corpus = vecs.unionByName(twin)
    val g = Similarity.knnGraph(corpus, k = 5, cells = 8, iters = 3,
      nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val n = corpus.count()
    // every vector is a node; ranks are contiguous 1..k'; no self edges
    assert(g.map(_._1).distinct.length === n)
    assert(g.forall(e => e._1 !== e._3))
    g.groupBy(_._1).foreach { case (q, es) =>
      assert(es.map(_._2).sorted.toSeq === (1L to es.length).toSeq,
        s"ranks not contiguous for $q")
      assert(es.length <= 5)
    }
    val byRank = g.filter(_._1 === 0L).sortBy(_._2)
    assert(byRank.head._3 === 1000000L && byRank.head._4 === 1.0,
      s"vec 0's rank-1 edge must be its exact twin: ${byRank.head}")
    // recall@5 against brute force over all nodes — the cell-boundary
    // trade quantified (2 probes over 8 cells)
    val qs = corpus.select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val exact = Similarity.bruteForceTopK(corpus, qs, 5)
      .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet
    val got = g.map(e => (e._1, e._3)).toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(s"knn-graph recall@5 over ${exact.size} truth edges: $recall")
    assert(recall >= 0.5, s"recall@5 $recall below 0.5")
  }

  test("knn density: one row per node, bounded, twin node densest") {
    import spark.implicits._
    val vecs = emb.select(col("vec_id"), col("emb"))
    val twin = vecs.filter(col("vec_id") === 0)
      .select(lit(1000000L).as("vec_id"), col("emb"))
    val corpus = vecs.unionByName(twin)
    val d = Similarity.knnDensity(corpus, k = 5, cells = 8, iters = 3,
      nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(d.length === corpus.count())
    assert(d.forall(r => r._3 >= -1.0 && r._3 <= 1.0 && r._2 >= 1 && r._2 <= 5))
    // the twin pair's rank-1 edge scores 1.0, lifting both members'
    // means above any no-twin node's possible mean only in expectation
    // — assert the weaker structural fact: vec 0 includes a 1.0 edge,
    // so its density exceeds the all-edges-below-1 lower bound of its
    // remaining edges alone
    val d0 = d.find(_._1 === 0L).get
    val dMed = d.map(_._3).sorted.apply(d.length / 2)
    assert(d0._3 > dMed, s"twin node density ${d0._3} not above median $dMed")
  }

  test("rp sign matrix is deterministic, ±1-only, and near-balanced") {
    val s1 = Similarity.rpSigns(16, 64)
    val s2 = Similarity.rpSigns(16, 64)
    assert(s1.map(_.toSeq).toSeq === s2.map(_.toSeq).toSeq)
    assert(s1.flatten.forall(v => v == 1L || v == -1L))
    val pos = s1.flatten.count(_ == 1L)
    // md5 first-hex-digit < 8 is a fair coin: 1024 draws stay well
    // inside ±4σ of 512
    assert(pos > 448 && pos < 576, s"sign balance off: $pos/1024 positive")
  }

  test("rp top-k: exact twin found at rank 1, recall vs brute force reported") {
    import spark.implicits._
    val vecs = emb.select(col("vec_id"), col("emb"))
    val twin = vecs.filter(col("vec_id") === 0)
      .select(lit(1000000L).as("vec_id"), col("emb"))
    val corpus = vecs.unionByName(twin)
    val qs = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val got = Similarity.rpTopK(corpus, qs, 5, outDim = 16, refine = 4)
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // an exact twin has the identical sketch → identical ascore → it
    // survives stage 1 and wins stage 2 at cosine 1.0
    val q0 = rows.filter(r => r._1 === 0L).minBy(_._2)
    assert(q0._3 === 1000000L && q0._4 === 1.0,
      s"query 0's rank-1 must be its exact twin: $q0")
    val exact = Similarity.bruteForceTopK(corpus, qs, 5)
      .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet
    val approx = rows.map(r => (r._1, r._3)).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"rp recall@5 over ${exact.size} truth pairs: $recall")
    // 16-of-64 dims on near-random vectors: JL noise (σ ≈ 1/√16)
    // swamps the small true-neighbour cosine gap, so recall sits low
    // here by construction — the same regime as the PQ tier (0.3).
    // Raise outDim/refine to buy recall; the floor documents the bar.
    assert(recall >= 0.15, s"rp recall@5 $recall below 0.15")
  }

  test("sq8 codes are in [-127,127] and the scale element hits a rail") {
    import spark.implicits._
    val m = Similarity.sq8MaxAbs(emb.select(col("emb")))
    assert(m > 0.0)
    val codes = emb
      .select(Similarity.sq8Quantize(col("emb"), m).as("c"))
      .as[Seq[Long]].collect()
    val flat = codes.flatten
    assert(flat.forall(v => v >= -127L && v <= 127L))
    // the max-|component| element quantizes to exactly ±127
    assert(flat.map(math.abs).max === 127L)
  }

  test("sq8 with an exhaustive refine equals brute force exactly") {
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    // refine*k >= corpus: stage 1 keeps every candidate, so the
    // rescoring stage IS brute force — results must be identical
    val n = emb.count().toInt
    val exact = Similarity.bruteForceTopK(emb, qs, 5).collect().toSet
    val sq = Similarity.sq8TopK(emb, qs, 5, refine = n).collect().toSet
    assert(sq === exact)
    assert(sq.nonEmpty)
  }

  test("fused PQ trainer is bit-identical to per-subspace kmeansCentroids") {
    val fused = Similarity.pqCodebooks(
      emb.select(col("vec_id"), col("emb")), 8, 16, 2)
    for (s <- 0 until 8) {
      val solo = Similarity.kmeansCentroids(
        emb.select(col("vec_id"), slice(col("emb"), s * 8 + 1, 8).as("emb")),
        16, 2)
      assert(fused(s).size === solo.length)
      for (c <- solo.indices) {
        assert(fused(s)(c)._1.toSeq === solo(c)._1.toSeq,
          s"subspace $s cell $c component sums differ")
        assert(fused(s)(c)._2 === solo(c)._2,
          s"subspace $s cell $c count differs")
      }
    }
  }

  test("pq with an exhaustive refine equals brute force exactly") {
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val n = emb.count().toInt
    val exact = Similarity.bruteForceTopK(emb, qs, 5).collect().toSet
    val pq = Similarity.pqTopK(emb, qs, 5, refine = n).collect().toSet
    assert(pq === exact)
    assert(pq.nonEmpty)
  }

  test("pq codes quantize deterministically and ADC recall is usable") {
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val exact = Similarity.bruteForceTopK(emb, qs, 5)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val run1 = Similarity.pqTopK(emb, qs, 5, refine = 4).collect().toSet
    val run2 = Similarity.pqTopK(emb, qs, 5, refine = 4).collect().toSet
    assert(run1 === run2, "PQ training + search must be deterministic")
    val got = run1.map(r => (r.getLong(0), r.getLong(2)))
    val recall = (exact & got).size.toDouble / exact.size
    info(s"pq recall@5 over ${exact.size} truth pairs: $recall")
    // 4-bit-per-subspace codes on iid synthetic vectors: coarse (0.3
    // observed on the current corpus — real embeddings have subspace
    // structure PQ exploits; iid noise is its worst case). The floor
    // leaves margin for driver-side testdata regeneration.
    assert(recall >= 0.2, s"pq recall@5 $recall below 0.2")
  }

  test("ivf-pq with all cells probed and exhaustive refine equals brute force") {
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val n = emb.count().toInt
    val exact = Similarity.bruteForceTopK(emb, qs, 5).collect().toSet
    val ivfpq = Similarity.ivfPqTopK(emb, qs, 5,
      coarseCells = 8, nprobe = 8, refine = n).collect().toSet
    assert(ivfpq === exact)
    assert(ivfpq.nonEmpty)
  }

  test("ivf-pq recall is reported against brute force") {
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val exact = Similarity.bruteForceTopK(emb, qs, 5)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.ivfPqTopK(emb, qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(s"ivf-pq recall@5 over ${exact.size} truth pairs: $recall")
    // coarse pruning (3/8 cells) stacked on 4-bit PQ codes over iid
    // noise — both quantizers' worst case; the floor only guards
    // against the machinery silently returning junk
    assert(recall >= 0.1, s"ivf-pq recall@5 $recall below 0.1")
  }

  test("quantizers fail loudly on degenerate inputs") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Similarity.sq8Quantize(col("emb"), 0.0)
    }
    val bad = Seq((1L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "emb")
    intercept[IllegalArgumentException] {
      // dim 3 not divisible into 8 subspaces
      Similarity.pqTopK(bad,
        bad.select(col("vec_id").as("q_id"), col("emb").as("q_emb")), 1)
    }
  }

  test("sq8 at refine=3 reaches high recall against brute force") {
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val exact = Similarity.bruteForceTopK(emb, qs, 5)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.sq8TopK(emb, qs, 5, refine = 3)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & sq).size.toDouble / exact.size
    info(s"sq8 recall@5 over ${exact.size} truth pairs: $recall")
    // 8-bit codes preserve cosine order well; the floor documents it
    assert(recall >= 0.8, s"sq8 recall@5 $recall below 0.8")
  }

  test("cluster cap keeps at most N per cell and drops only above the cap") {
    val out = Similarity.clusterCap(
      emb.select(col("vec_id"), col("emb")), k = 4, iters = 2,
      maxPerCell = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length === emb.count())
    val perCell = out.groupBy(_._2)
    for ((cell, rows) <- perCell) {
      val kept = rows.count(_._3)
      assert(kept <= 10, s"cell $cell keeps $kept > 10")
      // a cell only drops rows once it is full
      if (rows.exists(!_._3)) assert(kept === 10,
        s"cell $cell drops rows while below the cap")
    }
  }

  test("semantic dedup recall and precision against brute-force truth") {
    import spark.implicits._
    import graft.functions.VectorFunctions.cosineSimilarity
    // plant NEAR-dups (cos < 1, not exact twins): every even-id vector
    // gets a copy at id+1000000 with its first component scaled 1.001
    // — close enough that round(cos, 4) clears τ, far enough that the
    // structural exact-duplicate guarantee does not apply
    val vecs = emb.select(col("vec_id"), col("emb"))
    val twins = vecs.filter(col("vec_id") % 2 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("emb"),
          (x, i) => when(i === 0, x * 1.001).otherwise(x)).as("emb"))
    val corpus = vecs.unionByName(twins)
    val tau = 0.999
    // GLOBAL ground truth, no cells: drop a iff any smaller id is
    // within τ — exactly semanticDedup's rule minus the clustering
    val shouldDrop = corpus.select(col("vec_id").as("a_id"), col("emb").as("a_emb"))
      .crossJoin(corpus.select(col("vec_id").as("b_id"), col("emb").as("b_emb")))
      .filter(col("b_id") < col("a_id"))
      .filter(round(cosineSimilarity(col("a_emb"), col("b_emb")), 4) >= tau)
      .select(col("a_id")).distinct().as[Long].collect().toSet
    assert(shouldDrop.nonEmpty, "fixture must plant at least one near-dup")
    val out = Similarity.semanticDedup(corpus, k = 4, iters = 2,
      threshold = tau).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val dropped = out.filter(!_._2).keySet
    // precision is structural: a within-cell drop always has a global
    // witness pair, so no drop may lack one
    assert((dropped -- shouldDrop).isEmpty,
      s"drops without a global witness: ${(dropped -- shouldDrop).take(5)}")
    // recall: only pairs split across a k-means cell boundary may be
    // missed — the technique's documented trade. Near-identical
    // vectors virtually always share a cell, so the floor is high.
    val recall = (dropped & shouldDrop).size.toDouble / shouldDrop.size
    info(s"semantic-dedup drop recall over ${shouldDrop.size} truth drops: $recall")
    assert(recall >= 0.9, s"cell-boundary recall $recall below 0.9")
  }

  test("semantic dedup drops exactly the higher-id member of each twin pair") {
    import spark.implicits._
    // three well-separated base vectors, each with an exact twin at
    // id+100; τ=0.99 pairs each twin with its base only
    val base = Seq(
      1L -> Array(1.0, 0.0, 0.0, 0.0),
      2L -> Array(0.0, 1.0, 0.0, 0.0),
      3L -> Array(0.0, 0.0, 1.0, 0.0))
    val rows = (base ++ base.map { case (id, v) => (id + 100) -> v })
      .toDF("vec_id", "emb")
    val out = Similarity.semanticDedup(rows, k = 3, iters = 2,
      threshold = 0.99).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 101L, 102L, 103L))
    // every base survives, every twin is dropped…
    assert(Seq(1L, 2L, 3L).forall(out(_)._2), s"bases must keep: $out")
    assert(Seq(101L, 102L, 103L).forall(!out(_)._2), s"twins must drop: $out")
    // …and an exact twin always lands in its base's cell
    assert(Seq(1L, 2L, 3L).forall(id => out(id)._1 === out(id + 100)._1))
  }

  test("autoCells: exact ceil(n/250) clamped to [8, 4096]") {
    assert(Similarity.autoCells(1L) === 8)
    assert(Similarity.autoCells(2000L) === 8)   // the historical fixture
    assert(Similarity.autoCells(2001L) === 9)   // first step past it
    assert(Similarity.autoCells(20000L) === 80) // the 20 k SCALE wave
    assert(Similarity.autoCells(100000000L) === 4096)
  }

  test("knn graph default self-sizes to the historical 8 at fixture scale") {
    val vecs = emb.select(col("vec_id"), col("emb"))
    val auto = Similarity.knnGraph(vecs, k = 5).collect().toSet
    val fixed = Similarity.knnGraph(vecs, k = 5, cells = 8).collect().toSet
    assert(auto.nonEmpty)
    assert(auto === fixed)
  }
}
