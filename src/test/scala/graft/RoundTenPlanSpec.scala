package graft

/** Physical-plan contracts for the round-9/10 catalog queries — the
  * shapes that keep them 100 TB-safe, pinned so a refactor that
  * silently de-optimizes fails loudly (same charter as
  * PlanContractSpec / NewOpsPlanSpec).
  */
class RoundTenPlanSpec extends SparkSpec {

  test("q_funnel: stage elections are aggregations + equi-joins, " +
    "never a window over the raw stream") {
    val p = persistPlan("q_funnel")
    assert(!p.contains("Window"),
      s"funnel must not sort/window the raw stream; plan:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "stage joins must stay equi-joins")
    // every shuffle is keyed on user_id (user-bounded), never unkeyed
    assert(p.contains("hashpartitioning(user_id"),
      "stage elections shuffle on user_id")
  }

  test("q_retention: two user-bounded aggregations, no raw-stream window") {
    val p = persistPlan("q_retention")
    assert(!p.contains("Window"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_min"),
      "the cohort election must partial-aggregate map-side")
  }

  test("q_table_stats: every scan is pruned to exactly one column " +
    "(columnar bytes == one four-column scan, no Expand)") {
    val p = persistPlan("q_table_stats")
    val scans = p.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.size == 4, s"expected four pruned scans, got ${scans.size}")
    for (s <- scans) {
      // "FileScan parquet [l_orderkey#143L] ..." — one column in the
      // projection bracket
      val colsRead = s.dropWhile(_ != '[').takeWhile(_ != ']').count(_ == ',')
      assert(colsRead == 0, s"scan reads more than one column: ${s.take(160)}")
    }
    assert(!p.contains("Expand"),
      "the union shape must not pay the multi-distinct Expand")
  }

  test("q_table_stats_hll: pruned per-column scans; state is " +
    "register-bounded, no distinct-set aggregation") {
    val p = persistPlan("q_table_stats_hll")
    // per-column projections column-prune to one column per scan, and
    // the single-consumption hllEstimate needs no join-back or cache
    val scans = p.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.size == 4, s"expected four pruned scans, got ${scans.size}")
    for (s <- scans) {
      val colsRead = s.dropWhile(_ != '[').takeWhile(_ != ']').count(_ == ',')
      assert(colsRead == 0, s"scan reads more than one column: ${s.take(160)}")
    }
    assert(!p.contains("Join"), "the estimate must not join back")
    assert(!p.contains("count(distinct"),
      "the HLL path must not expand an exact distinct aggregation")
    assert(p.contains("partial_max"),
      "register maxima must partial-aggregate map-side")
  }

  test("dedup_cluster_sizes: histogram rides the cluster table, " +
    "no cartesian") {
    val p = persistPlan("dedup_cluster_sizes")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_count"),
      "both aggregations must partial-aggregate map-side")
  }

  test("sample_weighted: one distributed top-k, never a corpus sort") {
    val p = persistPlan("sample_weighted")
    assert(p.contains("TakeOrderedAndProject"),
      s"the E-S draw must be a bounded top-k; plan:\n${p.take(2000)}")
    assert(!p.contains("Exchange rangepartitioning"),
      "a range-exchange would mean a full corpus sort")
  }

  test("sample_split: one stateless codegen'd projection — zero " +
    "exchanges, zero windows") {
    val p = persistPlan("sample_split")
    assert(!p.contains("Exchange"), s"split must not shuffle:\n${p.take(2000)}")
    assert(!p.contains("Window"))
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1)
  }

  test("dedup_soft_weights: the fp rollup joins back as an equi-join, " +
    "never a window or cartesian") {
    val p = persistPlan("dedup_soft_weights")
    assert(!p.contains("Window"),
      "multiplicity must come from an aggregate, not a corpus window")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi-join on fp; plan:\n${p.take(2000)}")
  }

  test("mixture_unimax: windows run over the source-dimension " +
    "aggregate, never the corpus") {
    val p = persistPlan("mixture_unimax")
    // the ONE corpus-scale shuffle is the per-source count...
    assert(p.contains("hashpartitioning(source"),
      "token totals must aggregate by source")
    // ...and every single-partition exchange sits ABOVE that
    // aggregation (dimension-sized input), pinned by plan order
    val aggIdx = p.indexOf("HashAggregate")
    val spIdx = p.indexOf("Exchange SinglePartition")
    assert(spIdx >= 0 && aggIdx >= 0 && spIdx < aggIdx,
      s"single-partition exchange must consume the aggregate; " +
        s"plan:\n${p.take(2500)}")
  }

  test("shuffle_interleave: bit-decode from the prefix sum + " +
    "broadcast source dimension — no corpus join-back, no corpus window") {
    val p = persistPlan("shuffle_interleave")
    assert(p.contains("shiftright"),
      "src_idx must decode with bit ops, not a join back to the corpus")
    assert(p.contains("BroadcastExchange"),
      "the source dimension must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "no shuffled corpus-scale join in the decode stage")
    // any window in THIS plan is over the distinct-source dimension;
    // the corpus-scale ranking happened inside the materialized
    // prefix sum, partitioned by source
    assert(p.contains("Scan[obj") || p.contains("ExistingRDD"),
      "the order must materialize via the distributed prefix sum")
  }

  test("shard_assign: offsets via the distributed prefix sum (no " +
    "corpus window), total broadcast back as one row") {
    val p = persistPlan("shard_assign")
    assert(!p.contains("Window"),
      "the cumsum must come from the prefix sum, not a window")
    assert(p.contains("Scan[obj") || p.contains("ExistingRDD"),
      "offsets must materialize via the distributed prefix sum")
    assert(p.contains("BroadcastExchange"),
      "the token total is a one-row broadcast, never a shuffle join")
  }

  test("e2e_unimax_mixture: allocation windows over the source " +
    "dimension only; weights broadcast into the corpus join") {
    val p = persistPlan("e2e_unimax_mixture")
    val spIdx = p.indexOf("Exchange SinglePartition")
    assert(spIdx >= 0 && p.indexOf("HashAggregate", spIdx) > spIdx,
      "single-partition exchanges must consume the per-source " +
        "aggregate (a HashAggregate below them in the tree)")
    assert(p.contains("BroadcastHashJoin"),
      "the per-source weight table must broadcast into the corpus scan")
    assert(p.contains("Generate"),
      "replication is a generator, not a join fan-out")
  }

  test("dedup_threshold_curve: curve aggregates run over the staged " +
    "pair table — no cartesian threshold join, no re-run of the " +
    "pair generator per threshold") {
    val p = persistPlan("dedup_threshold_curve")
    assert(!p.contains("CartesianProduct"),
      "thresholds must explode over pairs, not theta-join")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      "the pair table must be staged once and reused")
    // both fan-outs are generators over the staged tables (threshold
    // explode + pair-endpoint explode), never joins
    assert(p.linesIterator.count(_.contains("Generate explode")) >= 2,
      s"curve fan-out must be generators over staged tables:\n${p.take(2000)}")
  }

  test("shard_manifest: one bounded aggregation over the assignment — " +
    "no window, no extra corpus pass") {
    val p = persistPlan("shard_manifest")
    assert(!p.contains("Window"))
    assert(p.contains("Scan[obj") || p.contains("ExistingRDD"),
      "the manifest must ride the materialized prefix sum")
    assert(p.contains("partial_count") || p.contains("partial_sum") ||
      p.contains("HashAggregate"),
      "per-shard rollup must partial-aggregate map-side")
  }

  test("e2e_split_decontam: both sides shuffle on the shingle hash " +
    "into a shuffled hash join — never a broadcast of a corpus-scale " +
    "reference set") {
    val p = persistPlan("e2e_split_decontam")
    assert(p.contains("ShuffledHashJoin"),
      s"the contamination probe must be a co-partitioned hash join:\n" +
        p.take(2000))
    assert(!p.contains("BroadcastHashJoin"),
      "no corpus-scale broadcast anywhere in the audit")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      "the tagged corpus must be staged once and read by both splits")
  }

  test("e2e_weighted_select: the draw is one distributed top-k " +
    "(TakeOrderedAndProject), never a global sort, and the doc_id " +
    "join stays an equi-join") {
    val p = persistPlan("e2e_weighted_select")
    assert(p.contains("TakeOrderedAndProject"),
      s"selection must be per-partition heaps + merge:\n${p.take(2000)}")
    assert(!p.contains("Exchange rangepartitioning"),
      "a range exchange would mean a full corpus sort")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("text_extract_html: one stateless codegen'd projection — " +
    "zero exchanges") {
    val p = persistPlan("text_extract_html")
    assert(!p.contains("Exchange"), s"extraction must not shuffle:\n${p.take(1500)}")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1)
  }

  test("text_boilerplate: df election and join key on the line hash, " +
    "no window, no cartesian") {
    val p = persistPlan("text_boilerplate")
    assert(!p.contains("Window"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("hashpartitioning(lh"),
      s"df must shuffle on the 60-bit line hash:\n${p.take(2000)}")
  }

  test("text_normalize_unicode: NFC runs as a native codegen " +
    "expression — no ScalaUDF, no BatchEvalPython, zero exchanges") {
    val p = persistPlan("text_normalize_unicode")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEval"),
      s"nfc must be the native expression:\n${p.take(1500)}")
    assert(p.contains("nfc_normalize"),
      "the native expression must appear in the projection")
    assert(!p.contains("Exchange"))
    // executedPlan renders codegen stages as a `*(n)` prefix
    assert(p.linesIterator.exists(l =>
      l.contains("*(") && l.contains("nfc_normalize")),
      s"the nfc projection must sit inside a codegen stage:\n${p.take(1500)}")
  }

  test("q2/q3 bucketed p95: aggregation state is one count per bucket " +
    "(HashAggregate strictly below the window), no exact percentile") {
    for (name <- Seq("q2_p95_verification", "q3_p95_resolution")) {
      val p = persistPlan(name)
      assert(!p.contains("percentile"),
        s"$name must not buffer per-group values")
      val windowIdx = p.indexOf("Window")
      assert(windowIdx >= 0, s"$name: the crossing election is a window")
      assert(p.indexOf("HashAggregate", windowIdx) > windowIdx,
        s"$name: the window must consume the bucket HISTOGRAM, not raw " +
          s"rows; plan:\n${p.take(3000)}")
    }
  }
}
