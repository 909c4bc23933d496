package graft

import org.apache.spark.sql.functions._

import graft.datapipe.{Dedup, Sampling, ShuffleOrder, TextAnalysis}

/** Behavioural contracts for the round-10 operators: UniMax
  * water-filling, content-keyed splits, soft-dedup weighting, and
  * source-interleaved epoch ordering.
  */
class RoundTenOpsSpec extends SparkSpec {
  import spark.implicits._

  // --- UniMax -------------------------------------------------------

  private def unimaxRows(cap: Int) =
    Sampling.unimaxAllocation(docs, col("source"),
      TextAnalysis.tokenCount(col("text")), epochCap = cap)
      .select("source", "n_tokens", "cap", "capped", "alloc_tokens",
        "epochs_used")
      .as[(String, Long, Long, Boolean, Double, Double)]
      .collect().sortBy(_._1)

  test("unimax: closed-form water-filling equals the paper's " +
    "sequential greedy") {
    for (cap <- Seq(1, 2, 4)) {
      val rows = unimaxRows(cap)
      val budget = rows.map(_._2).sum
      // the greedy: ascending by (cap, source), give each source
      // min(its epoch cap, uniform share of the remaining budget)
      var remaining = BigDecimal(budget)
      var left = rows.length
      val greedy = scala.collection.mutable.Map.empty[String, BigDecimal]
      for ((src, _, c, _, _, _) <- rows.sortBy(r => (r._3, r._1))) {
        val share = remaining / left
        val take = BigDecimal(c).min(share)
        greedy(src) = take
        remaining -= take
        left -= 1
      }
      for ((src, _, c, capped, alloc, _) <- rows) {
        val g = greedy(src)
        assert(capped === (g == BigDecimal(c)),
          s"cap=$cap source=$src: closed-form cappedness disagrees " +
            s"with the greedy (greedy takes $g of cap $c)")
        assert((BigDecimal(alloc) - g).abs <= BigDecimal("0.000001"),
          s"cap=$cap source=$src: alloc $alloc != greedy $g")
      }
    }
  }

  test("unimax: the budget is spent exactly and caps are respected") {
    val rows = unimaxRows(2)
    val budget = rows.map(_._2).sum.toDouble
    val spent = rows.map(_._5).sum
    assert(math.abs(spent - budget) < 1e-4 * rows.length,
      s"allocations sum to $spent, budget is $budget")
    for ((src, n, c, capped, alloc, ep) <- rows) {
      assert(alloc <= c + 1e-6, s"$src over its cap")
      assert(ep <= 2.0 + 1e-9, s"$src exceeds the epoch cap")
      if (capped) {
        assert(alloc === c.toDouble); assert(ep === 2.0)
      }
    }
    // all uncapped sources share one water level
    val levels = rows.filter(!_._4).map(_._5).distinct
    assert(levels.length <= 1, s"uncapped levels differ: $levels")
  }

  // --- content split ------------------------------------------------

  test("content split: exact duplicates land in the same split, " +
    "buckets partition 90/5/5") {
    val planted = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select((col("doc_id") + 5000000).as("doc_id"),
        col("text")))
    val out = Sampling.contentSplit(planted, "doc_id", col("text"), 90, 5)
      .select("doc_id", "fingerprint", "bucket", "split")
      .as[(Long, Long, Long, String)].collect()
    assert(out.length === 2 * docs.count())
    // every fingerprint maps to exactly one split
    assert(out.groupBy(_._2).forall(_._2.map(_._4).distinct.length == 1))
    // the planted twin of each doc got the same split
    val bySplitOf = out.map(r => r._1 -> r._4).toMap
    for ((id, _, _, s) <- out if id >= 5000000)
      assert(bySplitOf(id - 5000000) === s, s"twin of ${id - 5000000} leaked")
    // buckets respect the thresholds
    for ((_, _, b, s) <- out) {
      val expect = if (b < 90) "train" else if (b < 95) "validation" else "test"
      assert(s === expect)
    }
  }

  // --- soft dedup ---------------------------------------------------

  test("soft dedup: each content group's weights sum to ~1 and " +
    "multiplicities match the planting") {
    val base = docs.select(col("doc_id"), col("text")).limit(50)
    val planted = base
      .unionByName(base.select((col("doc_id") + 100000).as("doc_id"),
        col("text")))
    val out = Dedup.softDedupWeights(planted, "doc_id", col("text"))
      .select("doc_id", "n_copies", "weight")
      .as[(Long, Long, Double)].collect()
    assert(out.length === 100)
    assert(out.forall(_._2 === 2L), "every planted doc has exactly 2 copies")
    assert(out.forall(_._3 === 0.5))
    // unplanted corpus: all weight 1
    val solo = Dedup.softDedupWeights(base, "doc_id", col("text"))
      .select("weight").as[Double].collect()
    assert(solo.forall(_ === 1.0))
  }

  // --- interleave ---------------------------------------------------

  test("interleave: ranks are a permutation ordered by " +
    "(within_rank, source), and each source's docs stay in " +
    "within-source order") {
    val out = ShuffleOrder.interleaveRank(docs, col("doc_id"), col("source"))
      .select("doc_id", "source", "within_rank", "interleave_rank")
      .as[(Long, String, Long, Long)].collect()
    val n = out.length
    assert(out.map(_._4).sorted.toSeq === (0L until n).toSeq,
      "interleave_rank must be a 0..N-1 permutation")
    val inOrder = out.sortBy(_._4)
    // the materialized order IS the (within_rank, source) total order
    assert(inOrder.map(r => (r._3, r._2)).toSeq ===
      inOrder.map(r => (r._3, r._2)).sortBy(x => x).toSeq)
    // within a source, interleave order preserves within_rank order
    for ((_, g) <- inOrder.groupBy(_._2))
      assert(g.map(_._3).toSeq === g.map(_._3).sorted.toSeq)
    // anti-clumping: with S sources, any S consecutive positions in
    // the full-rank region contain S distinct sources
    val s = out.map(_._2).distinct.length
    val minDocs = out.groupBy(_._2).map(_._2.length).min
    val fullRegion = inOrder.takeWhile(_._3 < minDocs)
    for (w <- fullRegion.sliding(s, s) if w.length == s)
      assert(w.map(_._2).distinct.length === s,
        s"positions ${w.head._4}..${w.last._4} repeat a source")
  }

  test("interleave: the id contract fails loudly") {
    val bad = Seq((1L << 41, "s")).toDF("doc_id", "source")
    val ex = intercept[Exception] {
      ShuffleOrder.interleaveRank(bad, col("doc_id"), col("source"))
        .collect()
    }
    assert(ex.getMessage != null)
  }

  // --- shard assignment ---------------------------------------------

  test("shard assign: shards are contiguous in the shuffled order " +
    "and balanced to within one document's tokens") {
    val nShards = 8
    val out = ShuffleOrder.shardAssign(docs, col("doc_id"),
      TextAnalysis.tokenCount(col("text")), nShards)
      .select("doc_id", "n_tokens", "global_start", "shard_id")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    val total = out.map(_._2).sum
    val maxDoc = out.map(_._2).max
    assert(out.forall(r => r._4 >= 0 && r._4 < nShards))
    // contiguity: shard_id is non-decreasing along the global order
    val inOrder = out.sortBy(_._3)
    assert(inOrder.map(_._4).sliding(2).forall(w =>
      w.length < 2 || w(0) <= w(1)), "shards must be contiguous runs")
    // offsets tile the token stream exactly
    var expect = 0L
    for ((_, n, s, _) <- inOrder) { assert(s === expect); expect += n }
    assert(expect === total)
    // balance: every shard's mass within one max-document of the
    // uniform share (floor boundaries can't drift further)
    val share = total.toDouble / nShards
    val mass = inOrder.groupBy(_._4).map { case (k, g) => k -> g.map(_._2).sum }
    for (sh <- 0L until nShards.toLong) {
      val m = mass.getOrElse(sh, 0L).toDouble
      assert(math.abs(m - share) <= maxDoc.toDouble,
        s"shard $sh mass $m vs share $share (maxDoc $maxDoc)")
    }
  }

  test("shard assign: zero-token documents occupy no shard") {
    val d = Seq((1L, 5L), (2L, 0L), (3L, 7L)).toDF("doc_id", "n")
    val out = ShuffleOrder.shardAssign(d, col("doc_id"), col("n"), 2)
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 3L))
  }

  // --- unimax-driven mixture ----------------------------------------

  test("unimax mixture: capped sources replicate exactly epochCap " +
    "times; uncapped sources track epochs_used") {
    import graft.datapipe.Sampling
    val alloc = Sampling.unimaxAllocation(docs, col("source"),
      TextAnalysis.tokenCount(col("text")), epochCap = 2)
      .select("source", "capped", "epochs_used")
      .as[(String, Boolean, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val docsBySource = docs.groupBy(col("source")).count()
      .as[(String, Long)].collect().toMap
    val wts = Sampling.unimaxAllocation(docs, col("source"),
      TextAnalysis.tokenCount(col("text")), epochCap = 2)
      .select(col("source"), col("epochs_used").as("boost"))
    val copies = Sampling.upsampleWeighted(
      docs.select(col("doc_id"), col("source")),
      col("doc_id"), col("source"), wts)
      .groupBy(col("source")).count()
      .as[(String, Long)].collect().toMap
    for ((src, (capped, ep)) <- alloc) {
      val n = docsBySource(src)
      val c = copies.getOrElse(src, 0L)
      if (capped) assert(c === 2 * n, s"$src capped but $c != 2*$n")
      else {
        // md5-coin replication: expected n*ep, off by the percent
        // quantization plus coin variance — bound loosely
        assert(math.abs(c - n * ep) <= 0.1 * n + 2,
          s"$src: $c copies vs expected ${n * ep}")
      }
    }
  }

  // --- split-hygiene audit ------------------------------------------

  test("split decontam: shuffled score equals the broadcast score, " +
    "and every train doc emits exactly one row") {
    import graft.datapipe.{Contamination, Sampling}
    val tagged = docs.select(col("doc_id").as("id"), col("text"))
      .withColumn("split", Sampling.splitTag(col("text"), 80, 10))
    val train = tagged.filter(col("split") === "train")
    val held = tagged.filter(col("split") =!= "train")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_shared", "n_shingles").as[(Long, Long, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val shuffled = asMap(Contamination.scoreShuffled(train, held, "id", "text"))
    val broadcasted = asMap(Contamination.score(train, held, "id", "text"))
    assert(shuffled === broadcasted,
      "join strategy must never change the score")
    assert(shuffled.size.toLong === train.count())
  }

  // --- dedup threshold curve ----------------------------------------

  test("threshold curve: all thresholds present, counts monotone " +
    "non-increasing, and the 0.5 row matches the pair generator") {
    val out = SparkEntry.queries("dedup_threshold_curve")(spark, sf)
      .select("threshold", "n_pairs", "n_dup_docs")
      .as[(Double, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    assert(out.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    assert(out.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    assert(out.head._2 > 0, "the twins corpus must produce pairs at 0.5")
    assert(out.forall(r => r._3 <= 2 * r._2),
      "a pair involves at most two distinct docs")
  }
}
