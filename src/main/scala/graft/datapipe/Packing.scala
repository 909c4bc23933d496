package graft.datapipe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Sequence packing for LLM pretraining: concatenate every document's
  * token stream in document order and cut the stream every `capacity`
  * tokens ("concat-and-chunk" packing). Emits one row per (document,
  * chunk) overlap — a document that straddles a cut appears in each
  * chunk it touches, with its per-chunk token share — which is
  * exactly the bookkeeping a batch assembler needs to materialize
  * fixed-length training sequences.
  *
  * Scale design: the only global coordination is an EXCLUSIVE PREFIX
  * SUM over a total order. The naive `sum(v) over (order by k)`
  * window funnels every row through ONE partition — the classic
  * 100 TB killer — so [[exclusivePrefixSum]] runs the textbook
  * two-pass distributed scan instead:
  *
  *  1. range-partition by the order key and sort within partitions
  *     (one shuffle; partition i holds strictly smaller keys than
  *     i+1);
  *  2. per-partition totals — numPartitions longs — come back to the
  *     driver, whose running sum yields each partition's base offset;
  *  3. one narrow mapPartitions pass emits each row's global start
  *     offset from the partition base. The compact rows are cached
  *     around the shuffle, so the feeding pipeline and the
  *     post-shuffle sort each run exactly once.
  *
  * Everything after the prefix sum is per-row arithmetic: a document
  * spanning [start, start+n) touches chunks floor(start/C) through
  * floor((start+n-1)/C), each with min(end,(b+1)C) - max(start,bC)
  * tokens. The explode fan-out is bounded by n/C + 1 per document.
  */
object Packing {

  /** Distributed exclusive prefix sum: input columns (k1, k2, v) —
    * (k1, k2) a total order, v the summed value — output the same
    * rows plus `start` = sum of v over all strictly-preceding rows.
    * The shared primitive under [[packChunks]] (offsets over token
    * counts) and [[ShuffleOrder.shuffleRank]] (ranks = prefix count
    * of ones).
    *
    * The sorted partitions stay persisted after return — the
    * returned DataFrame is lazy and reads them, so there is no safe
    * point inside this function to unpersist without forcing the
    * caller's consumption to re-sort. They register with [[Staging]]:
    * [[Staging.releaseAll]] frees them once the result is consumed
    * (actions run after the release still succeed, but re-sort).
    */
  def exclusivePrefixSum(rows: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    // Persist the compact rows BEFORE the range repartition:
    // RangePartitioner runs an eager SAMPLING job over its child to
    // pick bounds, then the shuffle-map job runs the child again —
    // without the cache that is two full passes over whatever
    // pipeline feeds this (in the composed e2e entry, joins over the
    // document text). 24 bytes/row, spills to disk.
    val compactRows = rows
      .select(col("k1").cast("long"), col("k2").cast("long"),
        col("v").cast("long"))
      // a null key or value has no place in the total order and would
      // kill the job at the non-nullable tuple decode below — drop,
      // like the dedup pipelines drop null-text documents
      .filter(col("k1").isNotNull && col("k2").isNotNull &&
        col("v").isNotNull)
    // The totals job materializes `sorted`; the cached input DF
    // behind it is released right after, no longer needed by anyone.
    val (sorted, partTotals) = Staging.scoped(compactRows) { compact =>
      // Persist the sorted partitions too: both the totals job and the
      // offset pass consume them, and the post-shuffle sort would
      // otherwise run in each.
      val sorted = compact
        .repartitionByRange(col("k1"), col("k2"))
        .sortWithinPartitions(col("k1"), col("k2"))
        .as[(Long, Long, Long)]
        .rdd.persist(Staging.Level)
      val partTotals = sorted
        .mapPartitionsWithIndex { (i, it) =>
          var s = 0L
          it.foreach(s += _._3)
          Iterator((i, s))
        }
        .collect().sortBy(_._1).map(_._2)
      (sorted, partTotals)
    }
    // Exclusive scan over the (tiny) per-partition totals: base(i) =
    // sum of v in partitions before i.
    val base = partTotals.scanLeft(0L)(_ + _)
    val withStart = sorted.mapPartitionsWithIndex { (i, it) =>
      var acc = base(i)
      it.map { case (k1, k2, v) =>
        val s = acc
        acc += v
        (k1, k2, v, s)
      }
    }
    Staging.register(sorted)
    spark.createDataFrame(withStart).toDF("k1", "k2", "v", "start")
  }

  /** Length-bucketed inference batching — the other packing shape:
    * where [[packChunks]] concatenates for TRAINING, an inference
    * pipeline pads each sequence to a bucket length and groups
    * `batchSize` same-bucket sequences per batch, trading padding
    * waste for kernel-shape uniformity. Buckets are the fixed
    * power-of-two CASE chain 16/32/64/128/256/512 (a float log2
    * would put exact powers on a rounding knife-edge between
    * engines); batch ids come from a row_number window PARTITIONED
    * BY BUCKET ordered by doc_id — groups are bucket populations,
    * never the corpus, so no single-partition window exists at any
    * scale. Output: (doc_id, n_tokens, bucket, batch_id, pad) with
    * pad = bucket − n_tokens, the per-doc padding cost the readout
    * aggregates. Zero-token documents are dropped like
    * [[packChunks]]; docs beyond 512 tokens saturate into the top
    * bucket (pad 0 floor via greatest).
    */
  def lengthBuckets(docs: DataFrame, idCol: Column, nTokensCol: Column,
                    batchSize: Int): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    import org.apache.spark.sql.expressions.Window
    val n = col("n_tokens")
    val bucket = when(n <= 16, 16L).when(n <= 32, 32L).when(n <= 64, 64L)
      .when(n <= 128, 128L).when(n <= 256, 256L).otherwise(512L)
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id").asc)
    docs.select(idCol.cast("long").as("doc_id"),
        nTokensCol.cast("long").as("n_tokens"))
      .filter(n > 0)
      .withColumn("bucket", bucket)
      .withColumn("batch_id",
        floor((row_number().over(w) - 1) / batchSize).cast("long"))
      .withColumn("pad", greatest(col("bucket") - n, lit(0L)))
  }

  /** One row per (doc, chunk) overlap: (doc_id, chunk_id, n_tokens).
    * Documents with zero tokens occupy no chunk and are dropped.
    */
  def packChunks(docs: DataFrame, idCol: Column, nTokensCol: Column,
                 capacity: Long): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val offsets = exclusivePrefixSum(docs
      .select(idCol.cast("long").as("k1"), lit(0L).as("k2"),
        nTokensCol.cast("long").as("v"))
      .filter(col("v") > 0))
      .select(col("k1").as("doc_id"), col("v").as("n"), col("start"))
    offsets
      .select(col("doc_id"), col("n"), col("start"),
        explode(sequence(
          floor(col("start") / capacity).cast("long"),
          floor((col("start") + col("n") - 1) / capacity).cast("long")))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (least(col("start") + col("n"), (col("chunk_id") + 1) * capacity) -
          greatest(col("start"), col("chunk_id") * capacity)).as("n_tokens"))
  }

  /** Truncation-loss readout for a candidate max sequence length:
    * per group, how many documents exceed `maxLen` and what fraction
    * of the corpus' tokens a hard truncation at `maxLen` would drop —
    * the measurement behind every "pick the context length" decision
    * (run it at each candidate L; the knee of lost_frac vs L is the
    * answer). ONE map-side-combinable aggregation over per-row
    * arithmetic — zero extra shuffles, streams statelessly. Both
    * fractions are the engine-exact integer rounding.
    *
    * Output: (group, n_docs, n_tokens, trunc_docs, lost_tokens,
    * lost_frac, trunc_frac).
    */
  def truncationLoss(docs: DataFrame, groupCol: String, nTokensCol: Column,
                     maxLen: Long): DataFrame = {
    require(maxLen > 0, s"maxLen must be positive, got $maxLen")
    val ratio6 = graft.functions.ExactRound.ratio6 _
    docs.select(col(groupCol).as("grp"), nTokensCol.cast("long").as("n"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_tokens"),
        count(when(col("n") > maxLen, 1)).as("trunc_docs"),
        sum(greatest(col("n") - maxLen, lit(0L))).as("lost_tokens"))
      .select(col("grp").as(groupCol), col("n_docs"),
        col("n_tokens").cast("bigint").as("n_tokens"), col("trunc_docs"),
        col("lost_tokens").cast("bigint").as("lost_tokens"),
        ratio6(col("lost_tokens"), col("n_tokens")).as("lost_frac"),
        ratio6(col("trunc_docs"), col("n_docs")).as("trunc_frac"))
  }

  /** Packing-strategy efficiency readout: the padding-waste
    * comparison between [[packChunks]] (concat-and-chunk — wastes
    * only the final partial chunk) and [[lengthBuckets]]
    * (per-sequence padding to the bucket width) on the same corpus —
    * the number that decides which batch assembler a training run
    * ships with. One row per strategy: bin count, total slot
    * capacity, tokens actually carried, and the exact waste
    * fraction.
    *
    * Contracts: concat-and-chunk counts the last chunk at full
    * capacity (the assembler pads it); length-bucket counts only
    * per-sequence padding (partial batches are NOT padded out to
    * `batchSize` rows), and an over-length document truncates into
    * the top bucket (used = min(n, bucket), the inference-batcher
    * convention — [[lengthBuckets]]' `pad` floor already encodes
    * it). An empty corpus (or one with no positive-token document)
    * yields zero bins / zero tokens per strategy, with waste_frac
    * NULL — 0/0 has no defined waste.
    *
    * Scale shape: rides the two certified operators unchanged; the
    * chunk rollup is one partial-aggregated reduction to a single
    * row (bins = max chunk id + 1 — no distinct expand over the
    * chunk table), and the bucket rollup's distinct runs over
    * (bucket, batch) pairs — corpus/batchSize cardinality, partial-
    * aggregated. Waste fractions are the engine-exact integer
    * rounding.
    *
    * Output: (strategy, n_bins, capacity_tokens, used_tokens,
    * waste_frac).
    */
  def packEfficiency(docs: DataFrame, idCol: Column, nTokensCol: Column,
                     capacity: Long, batchSize: Int): DataFrame = {
    val ratio6 = graft.functions.ExactRound.ratio6 _
    val cc = packChunks(docs, idCol, nTokensCol, capacity)
      // coalesce: an all-empty corpus has no chunks, so max(chunk_id)
      // is NULL — the contract row is zeros, not NULLs
      .agg(coalesce(max(col("chunk_id")) + 1L, lit(0L)).as("n_bins"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("used"))
      .select(lit("concat_chunk").as("strategy"),
        col("n_bins").cast("bigint").as("n_bins"),
        (col("n_bins") * capacity).cast("bigint").as("capacity_tokens"),
        col("used").cast("bigint").as("used_tokens"),
        ratio6(col("n_bins") * capacity - col("used"),
          col("n_bins") * capacity).as("waste_frac"))
    val lb = lengthBuckets(docs, idCol, nTokensCol, batchSize)
      .agg(countDistinct(col("bucket"), col("batch_id")).as("n_bins"),
        coalesce(sum(least(col("n_tokens"), col("bucket"))), lit(0L))
          .as("used"),
        coalesce(sum(col("bucket")), lit(0L)).as("cap"),
        coalesce(sum(col("pad")), lit(0L)).as("padding"))
      .select(lit("length_bucket").as("strategy"),
        col("n_bins").cast("bigint").as("n_bins"),
        col("cap").cast("bigint").as("capacity_tokens"),
        col("used").cast("bigint").as("used_tokens"),
        ratio6(col("padding"), col("cap")).as("waste_frac"))
    cc.unionByName(lb)
  }

  /** Cluster-coherent packing readout — the in-context-pretraining
    * ordering (Shi et al. 2024, ICLR, arXiv:2310.10638): place
    * related documents (same embedding cluster) ADJACENT in the
    * training stream before packing, so a context window holds
    * topically coherent neighbours instead of random shards, then
    * report how coherent the resulting packs actually are.
    *
    * Documents order by (orderCol, idCol) — cluster first, id as the
    * deterministic tie-break — and fill fixed `capacity`-token packs
    * by the distributed [[exclusivePrefixSum]] (never a global
    * single-partition window) with the exact integer
    * `pack = start div capacity` rule ([[Layout.compactionPlan]]'s
    * convention). The readout per pack: document/token counts, the
    * number of distinct clusters the pack mixes, and `top_share` —
    * the largest single-cluster share (1.0 = perfectly coherent;
    * only the packs straddling a cluster boundary mix, so coherence
    * degrades with cluster COUNT, not corpus size).
    *
    * Scale shape: the prefix sum is the two-pass scan; both rollups
    * are (pack, cluster)- then pack-keyed map-side-combined hash
    * aggregates. Nothing is corpus-global except the prefix sum's
    * numPartitions-long driver fold.
    *
    * Output: (pack_id, n_docs, n_tokens, n_clusters, top_docs,
    * top_share).
    */
  def coherentPack(sized: DataFrame, orderCol: String, idCol: String,
                   sizeCol: String, capacity: Long): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    val offs = exclusivePrefixSum(sized.select(
      col(orderCol).cast("long").as("k1"),
      col(idCol).cast("long").as("k2"),
      col(sizeCol).cast("long").as("v")))
    val packs = offs.withColumn("pack_id", expr(s"start div ${capacity}L"))
    val pc = packs.groupBy(col("pack_id"), col("k1"))
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("toks"))
    pc.groupBy(col("pack_id"))
      .agg(sum(col("cnt")).as("n_docs"), sum(col("toks")).as("n_tokens"),
        count(lit(1)).as("n_clusters"), max(col("cnt")).as("top_docs"))
      .select(col("pack_id"), col("n_docs"), col("n_tokens"),
        col("n_clusters"), col("top_docs"),
        graft.functions.ExactRound.ratio6(col("top_docs"), col("n_docs"))
          .as("top_share"))
  }

  /** T166: prefix-cache savings estimate — for each candidate prefix
    * width k, how many tokens an exact-prefix-sharing KV cache (or a
    * prefix-deduplicated training pack) saves: documents whose first
    * k tokens are IDENTICAL share one cached prefix, so a group of n
    * such documents saves (n−1)·k tokens. The readout behind
    * "is prefix caching worth it on this corpus" (system-prompted /
    * templated corpora share massively; organic text barely at all).
    *
    * Only documents with ≥ k tokens participate at width k (a
    * shorter document IS its own full prefix — sharing it is whole-
    * document dedup, T1's job, not a prefix-cache question).
    * Grouping keys are md5 hashes of the joined k-prefix (exact,
    * engine-portable); savings and fractions are exact integers /
    * exact integer ratios.
    *
    * Scale shape: ONE corpus scan — each document fans out to its
    * eligible widths (a |ks|-way inline explode over a materialized
    * token column, the HOF-capture rule), then one map-side-combined
    * (k, prefix-hash) rollup and one k-sized rollup; a literal k
    * frame left-joins the result back so a width with no eligible
    * documents still reads its zero row.
    *
    * Output: (k, n_docs, n_groups, shared_docs, saved_tokens,
    * total_tokens, saved_frac) — one row per k.
    */
  def prefixCacheSavings(docs: DataFrame, textCol: String,
                         ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"need ks >= 1, got $ks")
    require(ks.distinct.size == ks.size, s"duplicate ks: $ks")
    val ratio6 = graft.functions.ExactRound.ratio6 _
    val spark = docs.sparkSession
    import spark.implicits._
    val ws = filter(TextAnalysis.words(col(textCol)),
      t => length(t) > 0)
    val eligible = docs
      .select(ws.as("__ws"))
      .select(size(col("__ws")).cast("bigint").as("n"), col("__ws"),
        explode(array(ks.sorted.map(k => lit(k.toLong)): _*)).as("k"))
      .filter(col("n") >= col("k"))
      .select(col("k"), col("n"),
        md5(array_join(slice(col("__ws"), lit(1), col("k").cast("int")),
          " ")).as("pfx"))
    val perK = eligible.groupBy(col("k"), col("pfx"))
      .agg(count(lit(1)).as("gn"), sum(col("n")).as("gtok"))
      .groupBy(col("k"))
      .agg(
        sum(col("gn")).as("n_docs"),
        count(lit(1)).as("n_groups"),
        sum(when(col("gn") >= 2, col("gn")).otherwise(0L))
          .as("shared_docs"),
        sum((col("gn") - 1) * col("k")).as("saved_tokens"),
        sum(col("gtok")).as("total_tokens"))
    ks.sorted.map(_.toLong).toDF("k")
      .join(perK, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_groups"), lit(0L)).as("n_groups"),
        coalesce(col("shared_docs"), lit(0L)).as("shared_docs"),
        coalesce(col("saved_tokens"), lit(0L)).as("saved_tokens"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
        when(coalesce(col("total_tokens"), lit(0L)) > 0,
          ratio6(col("saved_tokens"), col("total_tokens")))
          .otherwise(lit(null).cast("double")).as("saved_frac"))
  }
}

/** Deterministic global training-order shuffle: every epoch pipeline
  * needs the corpus in a pseudorandom order that is REPRODUCIBLE —
  * the same on every run, resumable mid-epoch, and independent of
  * cluster layout (an orderBy(rand()) is none of these). The order
  * key is the md5-derived long of the id (ties broken by id, so the
  * order is total even under hash collisions), and the materialized
  * rank comes from the distributed prefix sum over ones — no
  * single-partition window, no zipWithIndex job chain on the
  * unsorted layout.
  */
object ShuffleOrder {

  /** (doc_id, shuffle_rank): rank 0 is the first document of the
    * epoch order. Feed `shuffle_rank` into [[Packing.packChunks]] as
    * the order key (via a join) to pack an epoch in shuffled order.
    */
  def shuffleRank(docs: DataFrame, idCol: Column): DataFrame = {
    val hkey = TextAnalysis.md5Long60(idCol.cast("string"))
    Packing.exclusivePrefixSum(
      docs.select(hkey.as("k1"), idCol.cast("long").as("k2"),
        lit(1L).as("v")))
      .select(col("k2").as("doc_id"), col("start").as("shuffle_rank"))
  }

  /** Source-interleaved epoch order: a [[shuffleRank]] that ALSO
    * anti-clumps sources — round-robin across sources by each
    * document's pseudorandom within-source rank, so consecutive
    * training positions cycle through the mixture instead of
    * serving one source's contiguous block (the gradient-noise
    * smoothing argument behind every interleaved data loader).
    * Position r·S + s holds source s's r-th document (for the
    * sources still having an r-th document).
    *
    * Scale shape: one shuffle keyed on source for the within-source
    * window (a mega-source serializes its OWN rank pass — the
    * documented escape hatch is the same per-source prefix-sum that
    * [[shuffleRank]] uses globally), a broadcast of the
    * source-dimension index, then the distributed prefix sum over
    * (within_rank, src_idx) — no single-partition global window.
    * The prefix-sum tuple encodes (src_idx, doc_id) in one long, so
    * no corpus-scale join back; the id contract (doc_id < 2^40,
    * src_idx < 2^20) fails loudly per row via raise_error.
    */
  def interleaveRank(docs: DataFrame, idCol: Column,
                     sourceCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val enc = lit(1L << 40)
    // single-partition window is BOUNDED: it numbers the distinct
    // sources, so it sees one row per source at any corpus size
    val srcIdx = docs.select(sourceCol.as("source")).distinct()
      .withColumn("src_idx",
        (row_number().over(Window.orderBy(col("source"))) - 1).cast("long"))
    val wr = Window.partitionBy(col("source"))
      .orderBy(col("hk").asc, col("doc_id").asc)
    val ranked = docs
      .select(idCol.cast("long").as("doc_id"), sourceCol.as("source"))
      .withColumn("hk", TextAnalysis.md5Long60(
        concat(lit("il:"), col("doc_id").cast("string"))))
      .withColumn("within_rank",
        (row_number().over(wr) - 1).cast("long"))
      .join(broadcast(srcIdx), Seq("source"))
    val guarded = ranked.withColumn("doc_ok",
      when(col("doc_id") >= 0L && col("doc_id") < enc &&
        col("src_idx") < lit(1L << 20), col("doc_id"))
        .otherwise(raise_error(concat(lit("interleaveRank id contract: " +
          "need 0 <= doc_id < 2^40 and src_idx < 2^20, got doc_id="),
          col("doc_id").cast("string"), lit(" src_idx="),
          col("src_idx").cast("string")))))
    Packing.exclusivePrefixSum(
      guarded.select(col("within_rank").as("k1"),
        (col("src_idx") * enc + col("doc_ok")).as("k2"),
        lit(1L).as("v")))
      // decode with bit ops — `/` on longs is DOUBLE division in
      // Spark SQL, which both loses exactness and breaks the long
      // equi-join on src_idx
      .select(col("k2").bitwiseAND(lit((1L << 40) - 1)).as("doc_id"),
        shiftright(col("k2"), 40).as("src_idx"),
        col("k1").as("within_rank"),
        col("start").as("interleave_rank"))
      .join(broadcast(srcIdx), Seq("src_idx"))
      .select(col("doc_id"), col("source"), col("within_rank"),
        col("interleave_rank"))
  }

  /** Token-balanced contiguous shard assignment — the writeout step
    * after the epoch shuffle: split the shuffled token stream into
    * `nShards` output files of near-equal token mass (every shard's
    * mass is within one document of total/nShards), so downstream
    * data-loader workers each stream one shard at the same pace.
    * shard_id = floor(global_start · S / total) over the
    * pseudorandom (md5) document order — pure integer arithmetic,
    * reproducible on any engine and any cluster layout.
    *
    * Scale shape: the global offsets come from the SAME distributed
    * prefix sum as [[shuffleRank]] (no single-partition window); the
    * token total is one scalar aggregate broadcast back. Zero-token
    * documents occupy no shard and are dropped (exactly
    * [[Packing.packChunks]]' contract), which also guarantees
    * global_start < total, so shard_id ∈ [0, nShards). Overflow
    * contract: global_start · nShards must fit a long — fine up to
    * ~9.2e18/total tokens shards (at 2.5e13 tokens ≈ 100 TB of text,
    * ~360k shards).
    */
  def shardAssign(docs: DataFrame, idCol: Column, tokens: Column,
                  nShards: Int): DataFrame = {
    require(nShards >= 1, s"need a positive shard count, got $nShards")
    val hkey = TextAnalysis.md5Long60(
      concat(lit("sd:"), idCol.cast("string")))
    val total = docs.select(tokens.cast("long").as("t"))
      .filter(col("t") > 0)
      .agg(sum(col("t")).as("total_tokens"))
    Packing.exclusivePrefixSum(
      docs.select(hkey.as("k1"), idCol.cast("long").as("k2"),
        tokens.cast("long").as("v"))
        .filter(col("v") > 0))
      .select(col("k2").as("doc_id"), col("v").as("n_tokens"),
        col("start").as("global_start"))
      .crossJoin(broadcast(total))
      // `div`, not `/`: long division in Spark SQL is DOUBLE division,
      // which loses exactness past 2^53 token·shard products
      .select(col("doc_id"), col("n_tokens"), col("global_start"),
        expr(s"(global_start * $nShards) div total_tokens").as("shard_id"))
  }
}
