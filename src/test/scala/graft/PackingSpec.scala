package graft

import org.apache.spark.sql.functions._

import graft.datapipe.{Contamination, Packing, TextAnalysis}

/** Sequence packing: the distributed prefix sum must reproduce the
  * sequential concat-and-chunk layout exactly, and decontamination
  * scores must hit the planted extremes.
  */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  private val C = 64L

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("text"))

  test("chunks tile the token stream: full chunks everywhere, remainder last") {
    val packed = Packing.packChunks(docs, col("doc_id"),
      TextAnalysis.tokenCount(col("text")), C)
      .persist()
    val perChunk = packed.groupBy("chunk_id").agg(sum("n_tokens").as("tok"))
      .orderBy("chunk_id").as[(Long, Long)].collect()
    val total = docs.select(sum(TextAnalysis.tokenCount(col("text"))))
      .as[Long].head()
    // chunk ids are exactly 0..ceil(total/C)-1
    assert(perChunk.map(_._1).toSeq === (0L until (total + C - 1) / C).toSeq)
    // every chunk holds exactly C tokens except possibly the last
    perChunk.dropRight(1).foreach { case (id, tok) =>
      assert(tok === C, s"chunk $id holds $tok tokens")
    }
    assert(perChunk.map(_._2).sum === total)
    packed.unpersist()
  }

  test("per-document shares are contiguous and sum to the token count") {
    val packed = Packing.packChunks(docs, col("doc_id"),
      TextAnalysis.tokenCount(col("text")), C)
    val byDoc = packed.groupBy("doc_id").agg(
      sum("n_tokens").as("tok"),
      min("chunk_id").as("lo"), max("chunk_id").as("hi"),
      count(lit(1)).as("n_chunks"))
    val counts = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n"))
    val joined = byDoc.join(counts, "doc_id")
    assert(joined.filter(col("tok") =!= col("n")).isEmpty)
    // a doc's chunks form one contiguous run — no gaps
    assert(joined.filter(col("hi") - col("lo") + 1 =!= col("n_chunks")).isEmpty)
    // fan-out bound: a doc with n tokens starting at offset s touches
    // floor((s mod C + n - 1)/C) + 1 <= floor((n + C - 2)/C) + 1 chunks
    assert(joined.filter(
      col("n_chunks") > floor((col("n") + C - 2) / C) + 1).isEmpty)
  }

  test("upsample: integer weights replicate exactly, zero drops, copies are 1..n") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "source")
    val out = graft.datapipe.Sampling.upsample(df, col("doc_id"), col("source"),
      Map("a" -> 3.0, "b" -> 0.0), defaultWeight = 1.0)
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(out === Seq((1L, "a", 1L), (1L, "a", 2L), (1L, "a", 3L), (3L, "c", 1L)))
  }

  test("upsample: fractional weight yields floor/ceil copies at the hash split") {
    val df = spark.range(0, 1000).toDF("doc_id")
      .select(col("doc_id"), lit("s").as("source"))
    val out = graft.datapipe.Sampling.upsample(df, col("doc_id"), col("source"),
      Map("s" -> 1.5), defaultWeight = 0.0)
    val perDoc = out.groupBy("doc_id").count()
    assert(perDoc.filter(col("count") < 1 || col("count") > 2).isEmpty)
    val n2 = perDoc.filter(col("count") === 2).count()
    // md5 buckets are near-uniform: ~50% of docs get the extra copy
    assert(n2 > 400 && n2 < 600, s"extra-copy fraction off: $n2/1000")
  }

  test("upsampleWeighted mirrors the literal map and drops absent sources") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "source")
    val wts = Seq(("a", 3.0), ("b", 0.0)).toDF("source", "boost")
    val out = graft.datapipe.Sampling.upsampleWeighted(
      df, col("doc_id"), col("source"), wts)
      .as[(Long, String, Long)].collect().toSeq.sorted
    // weight 3 → three numbered copies; weight 0 → dropped; source c
    // is absent from the table → dropped (the weight-0 analogue)
    assert(out === Seq((1L, "a", 1L), (1L, "a", 2L), (1L, "a", 3L)))
    // parity with the literal-map kernel on the covered strata
    val viaMap = graft.datapipe.Sampling.upsample(
      df.filter(col("source") =!= "c"), col("doc_id"), col("source"),
      Map("a" -> 3.0, "b" -> 0.0), defaultWeight = 0.0)
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(out === viaMap)
  }

  test("lengthBuckets: power-of-two buckets, 8-per-batch, padding arithmetic") {
    val out = graft.datapipe.Packing.lengthBuckets(
        (1L to 20L).map(i => (i, if (i <= 10) 20L else 100L))
          .toDF("doc_id", "n"), col("doc_id"), col("n"), batchSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // 20-token docs → bucket 32 (pad 12); 100-token docs → 128 (pad 28)
    assert(out.forall(r => if (r._2 == 20L) r._3 == 32L && r._5 == 12L
      else r._3 == 128L && r._5 == 28L))
    // 10 docs per bucket at batchSize 8 → batches 0 (8 docs) and 1 (2)
    val b32 = out.filter(_._3 == 32L).map(_._4).groupBy(x => x)
      .view.mapValues(_.size).toMap
    assert(b32 === Map(0L -> 8, 1L -> 2))
    // saturation + drop rules
    val edge = graft.datapipe.Packing.lengthBuckets(
        Seq((1L, 9999L), (2L, 0L)).toDF("doc_id", "n"),
        col("doc_id"), col("n"), batchSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
    assert(edge.toSeq === Seq((1L, 512L, 0L)), "overlong saturates, empty drops")
  }

  test("tokenBudget: greedy prefix per source, inclusive cumsum, null priority last") {
    val df = Seq(
      (1L, "a", 40L, Some(0.9)), // a: taken (cum 40)
      (2L, "a", 50L, Some(0.5)), // a: taken (cum 90)
      (3L, "a", 20L, Some(0.4)), // a: cum 110 > 100 → dropped
      (4L, "a", 5L, None),       // null priority sorts last → cum 115 dropped
      (5L, "b", 100L, Some(0.1)) // b: exactly the budget → taken
    ).toDF("doc_id", "source", "n", "prio")
    val out = graft.datapipe.Sampling.tokenBudget(
        df, "doc_id", "source", col("n"), col("prio"), budget = 100L)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 40L, 2L -> 90L, 5L -> 100L))
  }

  test("tokenBudget: priority ties break on doc_id, greedy not knapsack") {
    val df = Seq(
      (10L, "s", 60L, 1.0), (11L, "s", 60L, 1.0), (12L, "s", 30L, 0.5))
      .toDF("doc_id", "source", "n", "prio")
    // ties: doc 10 before 11; 11 overflows (120 > 100) and greedy does
    // NOT backtrack to fit 12 (cum stays past the budget afterwards)
    val out = graft.datapipe.Sampling.tokenBudget(
        df, "doc_id", "source", col("n"), col("prio"), budget = 100L)
      .select("doc_id").as[Long].collect().toSeq
    assert(out === Seq(10L))
  }

  test("tokenBudgetWeighted: per-source budgets, absent source dropped, dup rejected") {
    val df = Seq(
      (1L, "a", 40L, 0.9), (2L, "a", 50L, 0.5), (3L, "a", 20L, 0.4),
      (4L, "b", 30L, 0.9), (5L, "c", 10L, 0.9))
      .toDF("doc_id", "source", "n", "prio")
    val buds = Seq(("a", 100L), ("b", 10L)).toDF("source", "budget")
    val out = graft.datapipe.Sampling.tokenBudgetWeighted(
        df, "doc_id", "source", col("n"), col("prio"), buds)
      .select("doc_id").as[Long].collect().toSet
    // a: 40+50 fit the 100 budget; b's 30 > 10 → nothing; c absent → dropped
    assert(out === Set(1L, 2L))
    intercept[IllegalArgumentException] {
      graft.datapipe.Sampling.tokenBudgetWeighted(
        df, "doc_id", "source", col("n"), col("prio"),
        Seq(("a", 100L), ("a", 200L)).toDF("source", "budget"))
    }
  }

  test("upsampleWeighted rejects conflicting duplicate stratum weights") {
    val df = Seq((1L, "a")).toDF("doc_id", "source")
    val wts = Seq(("a", 2.0), ("a", 3.0)).toDF("source", "boost")
    intercept[IllegalArgumentException] {
      graft.datapipe.Sampling.upsampleWeighted(
        df, col("doc_id"), col("source"), wts)
    }
    // exact-duplicate rows fold instead of fanning out
    val dup = Seq(("a", 2.0), ("a", 2.0)).toDF("source", "boost")
    val out = graft.datapipe.Sampling.upsampleWeighted(
      df, col("doc_id"), col("source"), dup).collect()
    assert(out.length === 2, "weight 2.0 applied once, not join-doubled")
  }

  test("weightedSample: exactly k rows, the top-k by key, ES-faithful") {
    import graft.datapipe.Sampling
    val df = (1L to 500L).map(i => (i, if (i <= 50) 1000L else 1L))
      .toDF("doc_id", "w")
    val out = Sampling.weightedSample(df, "doc_id", col("w"), k = 60)
      .collect()
    assert(out.length === 60)
    // the selected keys are exactly the 60 largest (desc, id tiebreak)
    val all = Sampling.weightedSample(df, "doc_id", col("w"), k = 500)
      .collect().map(r => (r.getDouble(2), r.getLong(0)))
    val expect = all.sortBy { case (key, id) => (-key, id) }.take(60).toSet
    assert(out.map(r => (r.getDouble(2), r.getLong(0))).toSet === expect)
    // weight 1000 vs 1: the heavy minority must dominate the sample
    // (P(u^(1/1000) > u'^(1/1)) overwhelming) — a sanity bound, not
    // an exact distribution test
    val heavy = out.count(_.getLong(0) <= 50)
    assert(heavy >= 40, s"only $heavy of 50 heavy docs sampled")
  }

  test("weightedSample is deterministic and id-keyed, not order-keyed") {
    import graft.datapipe.Sampling
    val df = (1L to 300L).map(i => (i, i % 7 + 1)).toDF("doc_id", "w")
    val a = Sampling.weightedSample(df, "doc_id", col("w"), 25)
      .collect().map(_.getLong(0)).toSeq
    val b = Sampling.weightedSample(df.orderBy(rand(42)), "doc_id",
      col("w"), 25).collect().map(_.getLong(0)).toSeq
    assert(a === b, "the draw must not depend on row order")
  }

  test("shuffle ranks are a permutation of 0..n-1 and differ from id order") {
    val ranks = graft.datapipe.ShuffleOrder.shuffleRank(docs, col("doc_id"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val n = ranks.length
    assert(ranks.map(_._2).sorted.toSeq === (0L until n).toSeq)
    // the hash order must not accidentally be the id order
    assert(ranks.map(_._2).toSeq !== (0L until n).toSeq)
  }

  test("redaction scrubs planted PII and leaves clean text alone") {
    val got = Seq(
      "write to first.last+tag@sub.example.co today",
      "call 98765432101234 now",
      "short number 123456789 stays",
      "nothing sensitive here").toDF("text")
      .select(TextAnalysis.redact(col("text")).as("clean"))
      .as[String].collect().toSeq
    assert(got === Seq(
      "write to <EMAIL> today",
      "call <NUM> now",
      "short number 123456789 stays",
      "nothing sensitive here"))
  }

  test("contamination against an empty benchmark scores all zeros") {
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val train = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val got = Contamination.score(train, bench, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.toSeq === Seq((1L, 0L, 2L, 0.0)))
  }

  test("null ids are dropped instead of killing the prefix-sum job") {
    val withNull = Seq((Some(1L), "three tokens here"), (None, "ghost doc"))
      .toDF("doc_id", "text")
    val ranks = graft.datapipe.ShuffleOrder.shuffleRank(withNull, col("doc_id"))
      .as[(Long, Long)].collect()
    assert(ranks.toSeq === Seq((1L, 0L)))
  }

  test("packing a single short document yields one partial chunk") {
    val one = Seq((5L, "just a few tokens here")).toDF("doc_id", "text")
    val got = Packing.packChunks(one, col("doc_id"),
      TextAnalysis.tokenCount(col("text")), C)
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq === Seq((5L, 0L, 5L)))
  }

  test("contamination keeps a null-text doc as a (0, 0, null) row") {
    val bench = Seq((17L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq((Some(1L), Some("alpha beta gamma delta")),
      (Some(2L), None)).toDF("doc_id", "text")
    val got = Contamination.score(train, bench, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 2L, 2L, Some(1.0)),
      (2L, 0L, 0L, None)))
  }

  test("Staging.releaseAll unpersists the prefix sum's sorted partitions") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Packing.exclusivePrefixSum(
      Seq((1L, 0L, 3L), (2L, 0L, 4L)).toDF("k1", "k2", "v"))
    assert(out.select(col("k1"), col("start")).as[(Long, Long)]
      .collect().sortBy(_._1).toSeq === Seq((1L, 0L), (2L, 3L)))
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "the sorted partitions must be persisted while live")
    graft.datapipe.Staging.releaseAll()
    assert((spark.sparkContext.getPersistentRDDs.keySet & added).isEmpty,
      "releaseAll must unpersist the sorted partitions")
  }

  test("contamination hits the planted extremes and stays in [0,1]") {
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // identical → 1.0
      (11L, "one two three four five six seven"),   // disjoint  → 0.0
      (12L, "alpha beta gamma one two three four")  // partial
    ).toDF("doc_id", "text")
    val scored = Contamination.score(train, bench, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(scored(10L)._4 === 1.0)
    assert(scored(11L)._4 === 0.0)
    // doc 12: shingles "alpha beta gamma" shared; 5 shingles total
    assert(scored(12L)._2 === 1L && scored(12L)._3 === 5L)
    assert(scored.values.forall(r => r._4 >= 0.0 && r._4 <= 1.0))
  }

  test("coherentPack: hand-built packs — sequential fill in (cluster, " +
    "id) order, exact boundary split, and a boundary pack mixing two " +
    "clusters reads share 0.5") {
    val sized = Seq((0L, 1L, 3L), (1L, 2L, 3L), (1L, 3L, 2L))
      .toDF("cell", "doc_id", "n_toks")
    val out = Packing.coherentPack(sized, "cell", "doc_id", "n_toks",
      capacity = 6L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getAs[Double]("top_share"))).toMap
    // order: (0,d1,3) start 0 -> pack 0; (1,d2,3) start 3 -> pack 0;
    // (1,d3,2) start 6 -> pack 1
    assert(out(0L) === ((2L, 6L, 2L, 1L, 0.5)),
      "the boundary pack mixes both clusters evenly")
    assert(out(1L) === ((1L, 2L, 1L, 1L, 1.0)))
  }

  test("coherentPack: cluster-first ordering is at least as coherent " +
    "as id-order packing on the fixture assignment") {
    val asn = graft.datapipe.Similarity.kmeansAssign(
      spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb")), 8, 3)
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        size(split(TextAnalysis.normalize(col("text")), " "))
          .cast("bigint").as("n_toks"))
    val sized = asn.join(toks, asn("vec_id") === toks("doc_id"))
      .select(col("cell"), col("doc_id"), col("n_toks"))
    def weightedShare(packsWithCell: org.apache.spark.sql.DataFrame): Double = {
      val rows = packsWithCell.groupBy("pack_id", "cell")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("pack_id")
        .agg(sum("cnt").as("n_docs"), max("cnt").as("top_docs"))
        .collect()
      rows.map(_.getAs[Long]("top_docs")).sum.toDouble /
        rows.map(_.getAs[Long]("n_docs")).sum
    }
    def packed(orderByCluster: Boolean): org.apache.spark.sql.DataFrame = {
      val k1 = if (orderByCluster) col("cell") else lit(0L)
      Packing.exclusivePrefixSum(sized.select(k1.as("k1"),
          col("doc_id").as("k2"), col("n_toks").as("v")))
        .withColumn("pack_id", expr("start div 512L"))
        .join(sized.select(col("doc_id").as("k2"), col("cell")), Seq("k2"))
    }
    val coherent = weightedShare(packed(orderByCluster = true))
    val baseline = weightedShare(packed(orderByCluster = false))
    assert(coherent >= baseline,
      s"cluster-adjacent ordering must not mix MORE: $coherent vs $baseline")
    // and the entry itself agrees with the inline computation
    val viaOp = Packing.coherentPack(sized, "cell", "doc_id", "n_toks",
      512L).collect()
    assert(viaOp.map(_.getAs[Long]("top_docs")).sum.toDouble /
      viaOp.map(_.getAs[Long]("n_docs")).sum === coherent)
  }
}
