package graft.datapipe

import graft.datapipe.Staging.Staged

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data sampling and skew-mitigation operators.
  *
  * Both are pure column pipelines: sampling decisions and salt keys
  * derive from the data itself, so results are deterministic across
  * runs, executors, and engines — a requirement for reproducible
  * training mixtures (and for the DuckDB oracle).
  */
object Sampling {

  /** Deterministic hash sample: keep a row iff a stable per-row hash
    * lands under `percent`. Unlike `df.sample()` (RNG per partition,
    * changes under repartitioning), the decision is a function of the
    * KEY alone — the same row is kept in every run on every cluster
    * layout, and the sample composes with incremental reprocessing.
    * md5-based so the oracle reproduces it bit-for-bit.
    */
  /** The stable per-row percent bucket (0-99) behind every
    * deterministic sampling decision here — md5-derived so any engine
    * reproduces it bit-for-bit.
    */
  def hashBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("bigint") % 100

  def hashSampleCond(key: Column, percent: Column): Column =
    hashBucket(key) < percent

  def hashSampleCond(key: Column, percent: Int): Column =
    hashSampleCond(key, lit(percent))

  /** Weighted k-sampling without replacement (Efraimidis–Spirakis
    * 2006): each row draws a deterministic uniform u from the
    * md5 contract and the sample is the top-k by key u^(1/w) —
    * exactly a w-weighted draw, done as ONE distributed top-k
    * (TakeOrderedAndProject, per-partition heaps + driver merge of k
    * rows, plan-pinned) with no corpus sort and no sequential pass.
    * This is the weighted-subset primitive behind
    * quality-proportional corpus selection when the budget is a ROW
    * count (the token-budget selectors cover the token-count case).
    *
    * Determinism/portability: u = (md5_60("ws:" + id) mod 10⁹ + 1)/10⁹
    * is an exact rational any engine reproduces; the key rounds to
    * 8 dp before ordering (the catalog's transcendental convention —
    * pow may differ in the last ulp across libm implementations) and
    * ties fall to the id. Weights must be >= 1.
    */
  def weightedSample(df: DataFrame, idCol: String, weight: Column,
                     k: Int): DataFrame = {
    require(k >= 1, s"need a positive sample size, got $k")
    val u = (TextAnalysis.md5Long60(
      concat(lit("ws:"), col(idCol).cast("string"))) % 1000000000L + 1L)
      .cast("double") / lit(1e9)
    df.select(col(idCol).as("doc_id"), weight.cast("bigint").as("w"),
        round(pow(u, lit(1.0) / weight.cast("double")), 8).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Stratified variant: per-stratum percentages (e.g. downsample the
    * dominant language, keep all of a rare one) — the mixture-tuning
    * step of a training-data pipeline.
    */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
                       percents: Map[String, Int],
                       defaultPercent: Int): DataFrame = {
    val pct = percents.foldLeft(lit(defaultPercent)) {
      case (acc, (s, p)) => when(stratum === s, lit(p)).otherwise(acc)
    }
    df.filter(hashSampleCond(key, pct))
  }

  /** Fractional-weight mixture replication — the "epochs per source"
    * knob of a pretraining mixture. A stratum with weight w
    * contributes floor(w) copies of every document plus one extra
    * copy for a deterministic (w - floor(w)) fraction of them, so one
    * operator covers upsampling (w > 1), downsampling (w < 1), and
    * dropping (w = 0). The extra-copy decision reuses the
    * [[hashSampleCond]] md5 bucket: stable across runs, cluster
    * layouts, and engines. Output rows carry a `copy` ordinal
    * (1-based) so downstream packing/shuffling can tell replicas
    * apart.
    *
    * Scale shape: pure per-row arithmetic plus one generator whose
    * fan-out is the weight itself — no shuffle, no state.
    *
    * Granularity: the fractional part of each weight is quantized to
    * whole PERCENT (the md5 hash bucket is mod 100, the coin that is
    * reproducible bit-for-bit in any engine), so w = 1.003 behaves as
    * 1.0 and w = 1.005 as 1.01. Mixture weights are coarse knobs;
    * callers needing finer resolution should scale copies upstream.
    */
  def upsample(df: DataFrame, key: Column, stratum: Column,
               weights: Map[String, Double],
               defaultWeight: Double): DataFrame = {
    require(defaultWeight >= 0 && weights.values.forall(_ >= 0),
      "mixture weights must be non-negative")
    val w = weights.foldLeft(lit(defaultWeight)) {
      case (acc, (s, x)) => when(stratum === s, lit(x)).otherwise(acc)
    }
    replicate(df, key, w)
  }

  /** The fractional-replication kernel shared by [[upsample]] (literal
    * weight map) and [[upsampleWeighted]] (weight table): floor(w)
    * copies plus one extra for a deterministic (w − floor(w)) percent
    * of keys.
    */
  private def replicate(df: DataFrame, key: Column, w: Column): DataFrame = {
    val fracPct = round((w - floor(w)) * 100).cast("bigint")
    val copies = floor(w).cast("bigint") +
      when(hashBucket(key) < fracPct, lit(1L)).otherwise(lit(0L))
    df.select(col("*"), copies.as("n_copies"))
      .filter(col("n_copies") > 0)
      // sequence() DESCENDS when start > stop, so the n_copies = 0
      // case must never reach it — the filter above guarantees 1..n.
      .select(col("*"), explode(sequence(lit(1L), col("n_copies"))).as("copy"))
      .drop("n_copies")
  }

  /** [[upsample]] driven by a WEIGHT TABLE instead of a literal map —
    * the composition a mixture pipeline actually runs: feed
    * [[temperatureWeights]]' (source, boost) rows straight in, no
    * driver round-trip. `weights` must carry `stratumCol` and
    * `weightCol`; it is broadcast (one row per source, never
    * corpus-scale), and sources absent from it are dropped (the
    * weight-0 analogue). Replication stays pure per-row arithmetic,
    * so the whole composed flow adds ONE broadcast join to the
    * corpus scan.
    */
  def upsampleWeighted(df: DataFrame, key: Column, stratum: Column,
                       weights: DataFrame, stratumCol: String = "source",
                       weightCol: String = "boost"): DataFrame = {
    require(!df.columns.contains("__stratum") && !df.columns.contains("__w"),
      "upsampleWeighted reserves the __stratum/__w column names")
    // stage(): the weight table is source-count-sized but may derive
    // from a corpus aggregation (temperatureWeights); the uniqueness
    // guard below is an action, so without the stage the upstream
    // pipeline would run once for the guard and again for the join
    val w = weights.select(col(stratumCol).as("__stratum"),
      col(weightCol).cast("double").as("__w"))
      .distinct().stage()
    // a stratum with two CONFLICTING weights would silently multiply
    // every row of that source via join fan-out — reject loudly
    // (exact-duplicate rows are folded by the distinct above)
    val dup = w.groupBy(col("__stratum")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).count()
    require(dup == 0,
      "upsampleWeighted needs exactly one weight per stratum")
    replicate(df.join(broadcast(w), stratum === col("__stratum")),
      key, col("__w"))
      .drop("__stratum", "__w")
  }

  /** Token-budget corpus selection — the step that turns a RANKED
    * pool into a fixed-token training mixture: within each source,
    * take documents in (priority desc, doc_id asc) order while the
    * running token total (inclusive) stays within `budget`. The
    * greedy prefix is fully deterministic — priority ties break on
    * doc_id, NULL priorities sort last explicitly (engines disagree
    * on the DESC default), and the cumulative frame is ROWS, not
    * RANGE, so peer rows never share a running total.
    *
    * Scale shape: ONE shuffle keyed on source, then a single
    * sort+running-sum pass per source partition. A mega-source
    * serializes into one task under any engine's window operator;
    * the escape hatch at that scale is the two-pass distributed
    * prefix sum [[Packing.packChunks]] demonstrates (per-partition
    * subtotals broadcast back as offsets), which composes here
    * unchanged because the running sum is associative.
    */
  def tokenBudget(docs: DataFrame, idCol: String, sourceCol: String,
                  tokens: Column, priority: Column,
                  budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("priority").desc_nulls_last, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
        tokens.cast("bigint").as("n_tokens"), priority.as("priority"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** [[tokenBudget]] with PER-SOURCE budgets from a TABLE — the
    * composition a mixture builder actually runs: feed
    * [[temperatureWeights]]' allocations straight in (budget_s =
    * round(total · p_temp)) and select each source's greedy prefix
    * under its own allocation. `budgets` must carry (`source`,
    * `budget`) rows; it is broadcast (source-count-sized, never
    * corpus-scale), duplicate-source tables are rejected loudly
    * (join fan-out would double-select), and sources absent from it
    * are dropped — the allocation-0 analogue, mirroring
    * [[upsampleWeighted]]'s contract.
    */
  def tokenBudgetWeighted(docs: DataFrame, idCol: String, sourceCol: String,
                          tokens: Column, priority: Column,
                          budgets: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = budgets.select(col("source"), col("budget").cast("long")
      .as("budget")).distinct().stage()
    val dup = b.groupBy(col("source")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).count()
    require(dup == 0,
      "tokenBudgetWeighted needs exactly one budget per source")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("priority").desc_nulls_last, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
        tokens.cast("bigint").as("n_tokens"), priority.as("priority"))
      .join(broadcast(b), Seq("source"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= col("budget"))
  }

  /** Curriculum ordering (Bengio et al. 2009 applied to corpus
    * assembly): the corpus in (difficulty asc, doc_id) order with the
    * inclusive running token total and a warmup/main/anneal stage cut
    * at equal TOKEN-mass thirds — the data-ordering readout a
    * curriculum (or anti-curriculum) training run consumes.
    * `difficulty` must be an integer-orderable column (callers pass
    * [[graft.functions.ExactRound.ratioScaled]] outputs so the order
    * key is engine-exact); the stage rule is pure integer arithmetic
    * (3·cum ≤ total / 3·cum ≤ 2·total).
    *
    * Scale shape: the global order materializes through
    * [[Packing.exclusivePrefixSum]]'s two-pass distributed scan — no
    * single-partition window over the corpus; the token total is one
    * scalar broadcast back. Zero-token documents are dropped (they
    * occupy no training mass), same as the packing family.
    *
    * `idCol` MUST be numeric (or a string of digits): it is cast to
    * long to ride the prefix-sum's integer key pair, and a
    * non-numeric id would cast to NULL and be silently dropped by the
    * prefix sum's null filter. Guarded below — a corpus whose ids
    * fail the cast aborts loudly instead of losing rows.
    *
    * Output: (doc_id, difficulty, n_tokens, cum_tokens, stage).
    */
  def curriculumOrder(docs: DataFrame, idCol: String, tokens: Column,
                      difficulty: Column): DataFrame = {
    // loud guard for the numeric-id contract: any id whose long cast
    // is NULL (while the raw id is not) would vanish silently under
    // ANSI-off sessions (ANSI-on would throw a generic CAST error
    // deep in the prefix sum instead). try_cast keeps the CHECK
    // itself from throwing so the raise_error below names the
    // contract in both modes.
    val badId = col(idCol).isNotNull && col(idCol).try_cast("long").isNull
    val guarded = docs.select(
      when(badId, raise_error(concat(
        lit(s"curriculumOrder: non-numeric $idCol value '"),
        col(idCol).cast("string"),
        lit("' cannot ride the integer prefix-sum key"))))
        .otherwise(col(idCol)).as(idCol),
      difficulty.as("__diff"), tokens.as("__tok"))
    val pref = Packing.exclusivePrefixSum(
      guarded.select(col("__diff").cast("long").as("k1"),
        col(idCol).cast("long").as("k2"), col("__tok").cast("long").as("v"))
        .filter(col("v") > 0))
      .select(col("k2").as("doc_id"), col("k1").as("difficulty"),
        col("v").as("n_tokens"), (col("start") + col("v")).as("cum_tokens"))
    val tot = pref.agg(sum(col("n_tokens")).cast("bigint")
      .as("total_tokens"))
    pref.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("difficulty"), col("n_tokens"),
        col("cum_tokens"),
        when(col("cum_tokens") * 3 <= col("total_tokens"), lit("warmup"))
          .when(col("cum_tokens") * 3 <= col("total_tokens") * 2,
            lit("main"))
          .otherwise(lit("anneal")).as("stage"))
  }

  /** Two-stage salted aggregation: a groupBy whose key distribution
    * is heavily skewed (one hot key ≫ partition capacity) funnels the
    * hot key's rows through one reducer. Salting splits every key
    * into `salts` sub-keys for a PARTIAL aggregate, then re-aggregates
    * the (key, salt) partials — the hot key's work spreads over
    * `salts` reducers and the second shuffle carries only
    * #keys × salts rows. The salt is a hash of the whole row's id
    * column (deterministic), not a RNG.
    *
    * `aggs` must be algebraic (re-aggregatable): this variant covers
    * the count/sum family the reference's counters use (A1).
    */
  def saltedCounts(df: DataFrame, key: Column, salts: Int,
                   saltBy: Column): DataFrame =
    df.groupBy(key.as("key"), (xxhash64(saltBy) % salts).as("salt"))
      .agg(count(lit(1)).as("partial_n"))
      .groupBy(col("key"))
      .agg(sum(col("partial_n")).as("n"))

  /** Temperature-scaled source mixture (the T5/multilingual-LM
    * recipe): target sampling probability p_i ∝ n_i^α per source —
    * α = 1 reproduces natural proportions, α → 0 flattens toward
    * uniform, boosting under-represented sources. Returns one row
    * per source: (source, n_docs, p_raw, p_temp, boost) with
    * boost = p_temp/p_raw, the upsample factor to feed [[upsample]].
    *
    * Portability: n^α computes as exp(α·ln n) rounded to 8 dp; the
    * normalizer sums those as exact DECIMAL(28,8) (the catalog's
    * log-space convention), so every ratio derives from
    * bit-identical inputs in any engine. Output probabilities round
    * to 6 dp. Cost: one count shuffle over sources — rows equal the
    * source count, never the corpus.
    */
  def temperatureWeights(df: DataFrame, stratum: Column,
                         alpha: Double): DataFrame = {
    require(alpha > 0, "temperature exponent must be positive")
    val counts = df.groupBy(stratum.as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val powed = counts.withColumn("na",
      round(exp(lit(alpha) * log(col("n_docs").cast("double"))), 8))
    val tot = powed.agg(
      sum(col("na").cast("decimal(28,8)")).as("z"),
      sum(col("n_docs")).as("n_total"))
    val pRaw = col("n_docs").cast("double") / col("n_total").cast("double")
    val pTemp = col("na") / col("z").cast("double")
    powed.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        // a pure integer ratio rounds via the engine-exact integer
        // formulation (round(double, 6) flips on tie-region
        // quotients — the r8/r9 corpus_stats red); p_temp/boost stay
        // double-rounded because their operands are transcendental
        // (the 8-dp na quantization makes those chains IEEE-identical)
        graft.functions.ExactRound.ratio6(
          col("n_docs"), col("n_total")).as("p_raw"),
        round(pTemp, 6).as("p_temp"),
        round(pTemp / pRaw, 6).as("boost"))
  }

  /** One DoReMi-style multiplicative-weights update of the domain
    * mixture (Xie et al. 2023, arXiv:2305.10429 §3 — Group DRO over
    * domains): starting from uniform weights, each source is
    * up-weighted by exp(η · excess_s) and the result renormalized —
    * domains the current mixture models WORST gain weight. The
    * paper's excess loss (proxy-vs-reference per-domain loss gap)
    * needs two trained models; the deterministic in-corpus stand-in
    * here is KL(p_s ‖ q) ([[TextAnalysis.sourceDivergence]]): how far
    * the source's unigram distribution sits from the mixture — the
    * same "this domain is under-served" signal, computable exactly.
    *
    * Portability: w₀ = the engine-exact integer rounding of 1/k
    * ([[graft.functions.ExactRound]]); excess = round6(exp(η·kl))
    * (the libm convention); u = round8(w₀·excess); Z sums the u as
    * exact DECIMAL(28,8); weight = round6(u/Z). Every chain both
    * engines replay bit-for-bit under the catalog's conventions.
    *
    * Scale shape: [[TextAnalysis.sourceDivergence]]'s one token-count
    * shuffle; everything after runs on the source-dimension-sized
    * frame with the two scalars (k, Z) coming back as one-row
    * broadcasts. Never driver state, never a window.
    *
    * Output: (source, n_tokens, kl, excess, weight) — one row per
    * source; weights sum to ≈ 1 (6-dp rounding).
    */
  def doremiWeights(docs: DataFrame, textCol: String, sourceCol: String,
                    eta: Double = 1.0): DataFrame = {
    require(eta > 0, s"DoReMi step size must be positive, got $eta")
    val kl = TextAnalysis.sourceDivergence(docs, textCol, sourceCol)
      .select(col("source"), col("n_tokens"), col("kl")).stage()
    val k = kl.agg(count(lit(1)).as("k"))
    val u = kl.crossJoin(broadcast(k))
      .withColumn("w0", graft.functions.ExactRound.ratio(lit(1L), col("k"), 8))
      .withColumn("excess", round(exp(lit(eta) * col("kl")), 6))
      .withColumn("u", round(col("w0") * col("excess"), 8))
    val z = u.agg(sum(col("u").cast("decimal(28,8)")).as("z"))
    u.crossJoin(broadcast(z))
      .select(col("source"), col("n_tokens"), col("kl"), col("excess"),
        round(col("u") / col("z").cast("double"), 6).as("weight"))
  }

  /** ITERATED DoReMi ([[doremiWeights]] run to the paper's actual
    * fixed point — Xie et al. 2023 §3 iterate the multiplicative-
    * weights update with the excess recomputed per round): at round
    * r the mixture is q_r(t) = Σ_s w_{r−1,s}·p_s(t) — the
    * REWEIGHTED distribution, not the corpus marginal the one-round
    * form scores against — and each source's excess is
    * KL(p_s ‖ q_r), so a domain the current mixture under-serves
    * keeps gaining weight until the mixture covers it. Starting
    * weights are uniform (the engine-exact 1/k), matching the
    * paper's initialization.
    *
    * Convergence shape (RoundSixteenOpsSpec pins it): the update is
    * mirror ascent on a concave potential, so max_s KL(p_s ‖ q_r)
    * is driven down and the weight vector stabilizes — successive
    * L1 weight deltas shrink, and a 2-source corpus converges
    * toward the KL-equalizing mixture.
    *
    * Portability: p_s = c_sw/n_s (one IEEE division of exact
    * counts); each mixture contribution rounds at 12 dp and sums as
    * DECIMAL(38,12) (order-independent; 12 dp floors the product —
    * at w ≥ 1e-6 and p ≥ 1e-6 nothing truncates at fixture scales,
    * and a corpus big enough to push p_s below ~1e-6 should raise
    * the scale); KL terms are the 8-dp/DECIMAL(28,8) fold; excess/
    * u/weight replay the one-round conventions per round. The
    * oracle unrolls every round.
    *
    * Scale shape: ONE token-count shuffle total (the (source, t)
    * table stages once and every round reuses it); each round is a
    * vocab-keyed join + two source-dimension rollups with the
    * (source)-sized weight table broadcast — the chain-of-bounded-
    * models pattern (sim_pca_top) with the model being k weights.
    *
    * Output: (round 1..R, source, kl, excess, weight).
    */
  def doremiWeightsIter(docs: DataFrame, textCol: String, sourceCol: String,
                        rounds: Int = 3, eta: Double = 1.0): DataFrame = {
    require(rounds >= 1, s"need at least one round, got $rounds")
    require(eta > 0, s"DoReMi step size must be positive, got $eta")
    val tk = docs.select(col(sourceCol).as("source"), explode(filter(
      split(TextAnalysis.normalize(col(textCol)), " "),
      t => length(t) > 0)).as("t"))
    val csw = tk.groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c_sw")).stage()
    val ns = csw.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
    // pre-partition the staged vocab table on t ONCE: every round's
    // mixture rollup (groupBy t) and KL join (on t) then reuse this
    // hash distribution with zero further vocab-sized exchanges —
    // per round only the source-dimension rollup shuffles
    val p = csw.join(broadcast(ns), Seq("source"))
      .select(col("source"), col("t"),
        (col("c_sw").cast("double") / col("n_s").cast("double")).as("p"))
      .repartition(col("t"))
      .stage() // vocab-sized; every round's two joins read it
    val k = ns.agg(count(lit(1)).as("k"))
    var w = ns.crossJoin(broadcast(k))
      .select(col("source"),
        graft.functions.ExactRound.ratio(lit(1L), col("k"), 8).as("weight"))
      .stage()
    val perRound = (1 to rounds).map { r =>
      val qt = p.join(broadcast(w), Seq("source"))
        .withColumn("wp",
          round(col("weight") * col("p"), 12).cast("decimal(38,12)"))
        .groupBy(col("t")).agg(sum(col("wp")).as("qdec"))
        .select(col("t"), col("qdec").cast("double").as("q"))
      val kl = p.join(qt, Seq("t"))
        .withColumn("term", round(col("p") * log(col("p") / col("q")), 8))
        .groupBy(col("source"))
        .agg(sum(col("term").cast("decimal(28,8)")).as("klsum"))
        .select(col("source"),
          round(col("klsum"), 6).cast("double").as("kl"))
      val u = kl.join(broadcast(w), Seq("source"))
        .withColumn("excess", round(exp(lit(eta) * col("kl")), 6))
        .withColumn("u", round(col("weight") * col("excess"), 8))
      val z = u.agg(sum(col("u").cast("decimal(28,8)")).as("z"))
      val next = u.crossJoin(broadcast(z))
        .select(col("source"), col("kl"), col("excess"),
          round(col("u") / col("z").cast("double"), 6).as("weight"))
        .stage() // source-sized; breaks the cross-round lineage
      w = next.select(col("source"), col("weight"))
      next.select(lit(r.toLong).as("round"), col("source"), col("kl"),
        col("excess"), col("weight"))
    }
    perRound.reduce(_ unionByName _)
  }

  /** UniMax budget allocation (Chung et al. 2023, arXiv:2304.09151):
    * spread a global token budget as uniformly as possible across
    * sources while never repeating any source more than `epochCap`
    * epochs. The paper's greedy (ascending by size, give each source
    * the uniform share of the remaining budget unless its epoch cap
    * is smaller) is exactly water-filling, which has a closed form:
    * every source gets min(cap_i, u) where cap_i = epochCap·n_i and
    * the common level u spends the whole budget. That closed form is
    * what runs here — no sequential pass, no driver loop:
    *
    *   sort sources ascending by cap; source i is capped iff
    *     cap_i · (N − i + 1) ≤ B − Σ_{j<i} cap_j      (pure BIGINTs)
    *   (the condition is prefix-monotone under the ascending order:
    *    if it holds at i it holds at i−1, since B − cumcap_{i−2} =
    *    B − cumcap_{i−1} + cap_{i−1} ≥ cap_i(N−i+1) + cap_{i−1} ≥
    *    cap_{i−1}(N−i+2) — so the greedy and the closed form agree,
    *    and SamplingUnimaxSpec replays the greedy to pin it)
    *   u = (B − Σ_capped cap_j) / (#uncapped)
    *
    * The budget defaults to the corpus' own token total (scale-free:
    * meaningful at any SF). Everything up to the two emitted ratios
    * is exact integer arithmetic; the ratios round via the
    * engine-exact integer formulation ([[graft.functions.ExactRound]]).
    *
    * Scale: one count shuffle over sources; the windows run over the
    * source-count-sized aggregate (never the corpus), so the
    * single-partition window is bounded by the source dimension.
    */
  def unimaxAllocation(df: DataFrame, stratum: Column, tokens: Column,
                       epochCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(epochCap >= 1, s"epoch cap must be >= 1, got $epochCap")
    val counts = df.groupBy(stratum.as("source"))
      .agg(sum(tokens).cast("bigint").as("n_tokens"))
    val tot = counts.agg(sum(col("n_tokens")).as("budget"),
      count(lit(1)).as("n_sources"))
    // the windows below are single-partition and BOUNDED: `counts` is
    // grouped by source, so they see one row per source, never the corpus
    val ord = Window.orderBy(col("cap").asc, col("source").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(lit(1))
    val ranked = counts
      .withColumn("cap", col("n_tokens") * epochCap)
      .crossJoin(broadcast(tot))
      .withColumn("idx", row_number().over(
        Window.orderBy(col("cap").asc, col("source").asc)))
      .withColumn("cumcap", sum(col("cap")).over(ord))
      .withColumn("capped",
        col("cap") * (col("n_sources") - col("idx") + 1) <=
          col("budget") - (col("cumcap") - col("cap")))
    val level = ranked
      .withColumn("n_capped",
        sum(when(col("capped"), 1L).otherwise(0L)).over(all))
      .withColumn("cap_mass",
        sum(when(col("capped"), col("cap")).otherwise(0L)).over(all))
    level.select(col("source"), col("n_tokens"), col("cap"), col("capped"),
      when(col("capped"), col("cap").cast("double"))
        .otherwise(graft.functions.ExactRound.ratio6(
          col("budget") - col("cap_mass"),
          col("n_sources") - col("n_capped"))).as("alloc_tokens"),
      when(col("capped"), lit(epochCap.toDouble))
        .otherwise(graft.functions.ExactRound.ratio6(
          col("budget") - col("cap_mass"),
          (col("n_sources") - col("n_capped")) * col("n_tokens")))
        .as("epochs_used"))
  }

  /** Deterministic content-keyed train/validation/test split: the
    * bucket is an md5 of the document's CONTENT fingerprint, not its
    * id — so exact duplicates (re-ids, recrawls) always land in the
    * SAME split and can never leak train text into eval. Stateless
    * per-row projection: zero shuffles, streams unchanged, and the
    * same document gets the same split on any cluster, any run, any
    * engine. `trainPct`/`valPct` are integer percents; the rest is
    * test.
    */
  def contentSplit(df: DataFrame, idCol: String, text: Column,
                   trainPct: Int, valPct: Int): DataFrame = {
    val fp = TextAnalysis.fingerprint(text)
    val bucket = TextAnalysis.md5Long60(
      concat(lit("split:"), fp.cast("string"))) % 100
    df.select(col(idCol).as("doc_id"), fp.as("fingerprint"),
      bucket.as("bucket"),
      splitTag(text, trainPct, valPct).as("split"))
  }

  /** Just the split label of [[contentSplit]], as a column — for
    * pipelines that tag the corpus in place (the split-hygiene audit
    * composes this with the shuffled contamination score). Same
    * content-keyed md5 bucket, same thresholds, zero shuffles.
    */
  def splitTag(text: Column, trainPct: Int, valPct: Int): Column = {
    require(trainPct >= 1 && valPct >= 1 && trainPct + valPct <= 99,
      s"need 1 <= trainPct, 1 <= valPct, trainPct+valPct <= 99; " +
        s"got $trainPct/$valPct")
    val bucket = TextAnalysis.md5Long60(concat(lit("split:"),
      TextAnalysis.fingerprint(text).cast("string"))) % 100
    when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("validation"))
      .otherwise(lit("test"))
  }

  /** T163: split-leakage audit — the certification BEHIND
    * [[contentSplit]]'s design choice: an id-hash split puts exact
    * duplicates on BOTH sides of the train/eval boundary (the eval
    * set silently contains training documents — the classic
    * benchmark-inflation bug), while a content-fingerprint split
    * co-assigns every duplicate group by construction. This operator
    * MEASURES both: for each strategy, the number of duplicate PAIRS
    * whose members land on opposite sides. The content row reading
    * exactly 0 is the leakage-safety certificate; the naive row's
    * count is what that certificate is worth.
    *
    * Exactness: all integers — per fingerprint group of n docs with
    * t on the train side, cross pairs = t·(n−t) and total duplicate
    * pairs = n(n−1)/2, summed as longs (group sizes are duplicate
    * multiplicities — bounded far below the 2^31.5 wrap); leak_frac
    * is the exact integer ratio, NULL when the corpus has no
    * duplicate pairs at all.
    *
    * Scale shape: ONE fingerprint-keyed rollup of the corpus (counts
    * + per-side counts, map-side combined), then group-dimension
    * arithmetic; the two strategy rows come from one more rollup.
    * No joins, no windows.
    *
    * Output: (strategy, n_docs, n_train, n_eval, n_dup_pairs,
    * n_leak_pairs, leak_frac) — rows `id_hash` and `content_hash`.
    */
  def splitLeakage(docs: DataFrame, idCol: String, textCol: String,
                   trainPct: Int = 90): DataFrame = {
    require(trainPct >= 1 && trainPct <= 99,
      s"need 1 <= trainPct <= 99, got $trainPct")
    val fp = TextAnalysis.fingerprint(col(textCol))
    val rows = docs.select(fp.as("fp"),
      when(hashSampleCond(col(idCol), trainPct), 1L).otherwise(0L)
        .as("t_id"),
      when(hashSampleCond(fp, trainPct), 1L).otherwise(0L).as("t_fp"))
    val groups = rows.groupBy(col("fp")).agg(
      count(lit(1)).as("n"),
      sum(col("t_id")).as("nt_id"),
      sum(col("t_fp")).as("nt_fp"))
      .stage() // both strategy rollups consume it — one corpus scan
    def strategy(name: String, nt: Column): DataFrame =
      groups.agg(
        sum(col("n")).cast("bigint").as("n_docs"),
        sum(nt).cast("bigint").as("n_train"),
        sum(col("n") - nt).cast("bigint").as("n_eval"),
        // n(n−1) is even, so the double division by 2 is exact and
        // the bigint cast lossless
        (sum(col("n") * (col("n") - 1)).cast("bigint") / 2).cast("bigint")
          .as("n_dup_pairs"),
        sum(nt * (col("n") - nt)).cast("bigint").as("n_leak_pairs"))
      .select(lit(name).as("strategy"), col("n_docs"), col("n_train"),
        col("n_eval"), col("n_dup_pairs"), col("n_leak_pairs"))
    val both = strategy("id_hash", col("nt_id"))
      .unionByName(strategy("content_hash", col("nt_fp")))
    both.select(col("strategy"), col("n_docs"), col("n_train"),
      col("n_eval"), col("n_dup_pairs"), col("n_leak_pairs"),
      when(col("n_dup_pairs") > 0, graft.functions.ExactRound.ratio6(
        col("n_leak_pairs"), col("n_dup_pairs")))
        .otherwise(lit(null).cast("double")).as("leak_frac"))
  }

  /** T165: data-constrained epoch schedule (Muennighoff et al. 2023,
    * arXiv:2305.16264 "Scaling Data-Constrained Language Models"):
    * give each source an equal share of a global token budget and
    * read off how many EPOCHS that forces and what the repeated
    * tokens are effectively worth — the paper's decay law values a
    * budget of R repeat-epochs over U unique tokens at
    *
    *   D′ = min(share, U) + U·R*·(1 − e^(−R/R*)),  R* = 15.39
    *
    * (repeats decay exponentially in value; ~15 epochs in, new
    * repeats teach ≈ nothing). `eff_frac = D′/share` is the readout
    * a mixture planner acts on: a source at 0.4 is burning 60% of
    * its budget slot on valueless repetition — shrink its share or
    * widen its corpus.
    *
    * Exactness: token sums and the equal share (integer division)
    * are exact; epochs is the engine-exact 6-dp integer ratio; the
    * decay chain is one fixed IEEE tree (divide, exp rounded to
    * 6 dp, the affine form) with products in double, readouts
    * rounded (eff_tokens 2 dp, eff_frac 6 dp).
    *
    * Scale shape: ONE map-side rollup to the source dimension + a
    * one-row broadcast for the share; everything after is
    * source-dimension arithmetic.
    *
    * Output: (source, u_tokens, share_tokens, epochs, repeats,
    * eff_tokens, eff_frac).
    */
  def epochSchedule(docs: DataFrame, sourceCol: String, tokens: Column,
                    budgetTokens: Long, rStar: Double = 15.39): DataFrame = {
    require(budgetTokens > 0, s"need a positive budget, got $budgetTokens")
    require(rStar > 0, s"need a positive R*, got $rStar")
    val perSource = docs
      .select(col(sourceCol).as("source"), tokens.cast("long").as("tk"))
      .groupBy(col("source")).agg(sum(col("tk")).as("u"))
      .filter(col("u") > 0)
    val k = perSource.agg(count(lit(1)).as("k"))
    val withShare = perSource.crossJoin(broadcast(k))
      // integer division: subtract the remainder first (the repo's
      // exact-div idiom), so share is a lossless bigint
      .withColumn("share",
        ((lit(budgetTokens) - lit(budgetTokens) % col("k")) / col("k"))
          .cast("bigint"))
    val epochs = graft.functions.ExactRound.ratio6(col("share"), col("u"))
    val uD = col("u").cast("double")
    val shareD = col("share").cast("double")
    val r = greatest(col("epochs") - lit(1.0), lit(0.0))
    val decay = round(exp(-(r / lit(rStar))), 6)
    val eff = least(shareD, uD) + uD * lit(rStar) * (lit(1.0) - decay)
    withShare
      .withColumn("epochs", epochs)
      .select(col("source"), col("u").as("u_tokens"),
        col("share").as("share_tokens"), col("epochs"),
        greatest(col("epochs") - lit(1.0), lit(0.0)).as("repeats"),
        round(eff, 2).as("eff_tokens"),
        // share 0 (budget smaller than the source count) would read
        // 0/0 = NaN — NULL is the file's degenerate convention
        when(col("share") > 0, round(eff / shareD, 6))
          .otherwise(lit(null).cast("double")).as("eff_frac"))
  }

  /** T177: Neyman-optimal allocation of a fixed sampling/labeling
    * budget across strata (Neyman 1934): n_h ∝ N_h·S_h — a stratum
    * earns budget for being BIG and for being VARIABLE, which is
    * what minimizes the variance of the stratified estimate at
    * fixed n. The "where do my annotation dollars go" table behind
    * every quality-audit sample; proportional allocation (what
    * [[stratifiedSample]]'s fixed fraction implements) is the
    * S_h-constant special case and can waste half the budget on a
    * homogeneous stratum.
    *
    * Arithmetic, engine-replayable end to end: per-stratum moments
    * are exact integers (Σv, Σv² as DECIMAL(38,0)); the population
    * variance forms as (N·Σv² − (Σv)²)/N² with products in DOUBLE
    * (exact to 2^53), one IEEE division, sd = one IEEE sqrt, weight
    * w = round8(N·sd). Shares r_h = budget·w_h/W evaluate on one
    * fixed IEEE tree, integer seats by FLOOR, and the leftover
    * seats go by LARGEST REMAINDER (rank by remainder desc, stratum
    * asc — deterministic ties), so Σ alloc == budget exactly. A
    * zero-variance stratum earns weight 0 (stated: it needs one
    * sample in practice — the readout keeps the pure Neyman
    * numbers); allocations may exceed N_h for extreme
    * heteroscedasticity (with-replacement semantics, stated).
    * Degenerate corpus (EVERY stratum constant, so W = 0): Neyman
    * weights carry no information — all allocations are 0 and the
    * budget is returned unspent (the caller falls back to
    * proportional or uniform); without the guard the
    * largest-remainder seats would hand +1 to every stratum and
    * break the Σ alloc == budget contract.
    *
    * Scale shape: ONE corpus rollup to the stratum dimension;
    * everything after (the W scalar, the remainder ranking window)
    * runs on the bounded strata frame. No corpus joins, no corpus
    * windows.
    *
    * Output: (stratum, n_pop, sd, alloc_raw, alloc) — one row per
    * stratum.
    */
  def neymanAllocation(df: DataFrame, value: Column, stratumCol: String,
                       budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    import org.apache.spark.sql.expressions.Window
    val m = df.select(col(stratumCol).as("stratum"),
        value.cast("bigint").as("v"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_pop"),
        sum(col("v").cast("decimal(38,0)")).as("sv"),
        sum((col("v") * col("v")).cast("decimal(38,0)")).as("svv"))
    def d(c: String): Column = col(c).cast("double")
    val varPop = (d("n_pop") * d("svv") - d("sv") * d("sv")) /
      (d("n_pop") * d("n_pop"))
    val weighted = m.select(col("stratum"), col("n_pop"),
        round(sqrt(varPop), 6).as("sd"))
      .withColumn("w", round(d("n_pop") * col("sd"), 8))
      .stage() // strata-sized; the W scalar and the ranking read it
    val tot = weighted.agg(
      sum(col("w").cast("decimal(28,8)")).cast("decimal(28,8)").as("wsum"))
    val shares = weighted.crossJoin(broadcast(tot))
      .withColumn("alloc_raw",
        when(col("wsum") > 0,
          round(lit(budget.toDouble) * col("w") /
            col("wsum").cast("double"), 6))
          .otherwise(lit(0.0)))
      .withColumn("base", floor(col("alloc_raw")).cast("bigint"))
      .withColumn("rem", col("alloc_raw") - col("base").cast("double"))
    val leftover = shares.agg(
      (lit(budget) - sum(col("base"))).as("leftover"))
    // single-partition window is BOUNDED: `shares` descends from `m`,
    // grouped by stratum, so it ranks one row per stratum
    shares.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("stratum").asc)).cast("bigint"))
      .select(col("stratum"), col("n_pop"), col("sd"), col("alloc_raw"),
        // W = 0 ⇒ no remainder seats: every share was a true 0, not
        // a floor residue, so handing out `leftover` seats would
        // allocate budget the weights never assigned
        (col("base") + when(col("wsum") > 0 && col("rk") <= col("leftover"),
          1L).otherwise(0L)).as("alloc"))
  }
}
