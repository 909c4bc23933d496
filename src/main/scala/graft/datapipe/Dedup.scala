package graft.datapipe

import graft.datapipe.Staging.Staged

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale notes (the design constraint is 100 TB of documents):
  *  - exact dedup is one hash-shuffle on a 16-byte key — the md5 is
  *    computed map-side so the shuffle carries (hash, id), never the
  *    document body;
  *  - minhash/LSH banding turns all-pairs similarity into an
  *    equi-join on (band, band-signature) buckets, i.e. a shuffle on
  *    a small key with candidate verification only inside buckets;
  *  - simhash reduces a document to one 64-bit code; near-dup
  *    candidates share a code under bit-sampling.
  */
object Dedup {

  /** Exact dedup groups: content hash → keeper id + group size.
    * The survivor list is `filter(n_dups === 1 || doc_id === keeper)`.
    */
  def exactGroups(docs: DataFrame, text: Column, id: Column): DataFrame =
    docs.groupBy(md5(TextAnalysis.normalize(text)).as("content_hash"))
      .agg(min(id).as("keeper_doc_id"), count(lit(1)).as("n_dups"))

  /** Soft dedup: instead of DROPPING duplicates (T5's keep-one),
    * DOWN-WEIGHT them — every copy survives with sampling weight
    * 1/multiplicity, so each distinct CONTENT contributes one unit
    * of expected training mass however many times it was crawled
    * (the reweight-don't-remove arm of the dedup design space, cf.
    * SoftDeDup, arXiv:2407.06654). Feed `weight` into
    * [[Sampling.weightedSample]] or a loss-weighting column.
    *
    * Scale: same single 60-bit-fingerprint shuffle as exact dedup —
    * the count aggregate and the join back both key on the
    * fingerprint, so AQE co-locates them; the document body never
    * shuffles. Weight is the engine-exact 6-dp integer ratio.
    */
  def softDedupWeights(docs: DataFrame, idCol: String,
                       text: Column): DataFrame = {
    val fp = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.fingerprint(text).as("fp"))
    val mult = fp.groupBy(col("fp")).agg(count(lit(1)).as("n_copies"))
    fp.join(mult, Seq("fp"))
      .select(col("doc_id"), col("n_copies"),
        graft.functions.ExactRound.ratio6(lit(1L), col("n_copies"))
          .as("weight"))
  }

  /** Keep-BEST exact dedup: per content fingerprint, survive the
    * highest-priority copy (priority desc, doc_id asc — NULL
    * priority sorts last, so a scoreless copy never beats a scored
    * one) instead of [[exactGroups]]' min-id keeper. This is the
    * dedup a quality-aware pipeline actually ships: when a crawl
    * captured the same content at different extraction quality, the
    * keeper should be the best-extracted copy, not the
    * first-crawled one.
    *
    * Scale shape: one fingerprint-keyed shuffle; the rank and the
    * group-size count share the same `fp` partitioning (one
    * Exchange, two window functions over it), and groups are
    * multiplicity-sized — no skew beyond the duplication itself.
    *
    * Output: (doc_id, n_copies, priority, keep) — every input row
    * survives with its verdict, so the drop set is auditable.
    */
  def keepBest(docs: DataFrame, idCol: String, text: Column,
               priority: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.fingerprint(text).as("fp"), priority.as("priority"))
    val byFp = Window.partitionBy(col("fp"))
    val best = Window.partitionBy(col("fp"))
      .orderBy(col("priority").desc_nulls_last, col("doc_id").asc)
    base
      .withColumn("n_copies", count(lit(1)).over(byFp).cast("long"))
      .withColumn("keep", row_number().over(best) === 1)
      .select(col("doc_id"), col("n_copies"), col("priority"), col("keep"))
  }

  /** Quality-by-duplication-multiplicity readout: for each content
    * multiplicity m (how many times a document's exact content was
    * crawled), the group/document counts and the EXACT mean quality
    * score — the crawl-bias measurement behind "does dedup shift the
    * quality mix?" (boilerplate is recrawled more, so dropping
    * duplicates usually RAISES mean quality; this quantifies it
    * before committing to keep-one vs soft weighting).
    *
    * Scale: the same single fingerprint-keyed shuffle as
    * [[exactGroups]]/[[softDedupWeights]] (count + join-back both
    * key on fp, AQE co-locates), then one multiplicity-sized rollup.
    * The mean is exact end-to-end: each document's quality ratio is
    * the 10^6-scaled INTEGER ([[graft.functions.ExactRound
    * .ratioScaled]]), summed exactly (order-independent), divided
    * once — never a float accumulation. Zero-token documents carry a
    * NULL score and drop out of the mean (not the counts), same rule
    * in the oracle.
    *
    * Output: (n_copies, n_groups, n_docs, mean_quality).
    */
  def qualityByMultiplicity(docs: DataFrame, idCol: String,
                            text: Column): DataFrame = {
    val er = graft.functions.ExactRound
    val perDoc = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.fingerprint(text).as("fp"),
      er.ratioScaled(TextAnalysis.stopwordCount(text),
        TextAnalysis.tokenCount(text), 6).as("q_e6"))
    val mult = perDoc.groupBy(col("fp")).agg(count(lit(1)).as("n_copies"))
    perDoc.join(mult, Seq("fp"))
      .groupBy(col("n_copies"))
      .agg(countDistinct(col("fp")).as("n_groups"),
        count(lit(1)).as("n_docs"),
        sum(col("q_e6")).as("sum_q"),
        count(col("q_e6")).as("n_scored"))
      .select(col("n_copies"), col("n_groups"), col("n_docs"),
        (er.ratio(col("sum_q"), col("n_scored"), 0) / lit(1e6))
          .as("mean_quality"))
  }

  /** Word k-shingles of the normalized text, distinct per document.
    * Pure column ops: split → sliding window via transform over an
    * index sequence → distinct.
    */
  def shingles(text: Column, k: Int): Column = {
    // the token array is bound as a HOF lambda VARIABLE (via a
    // single-element transform) so the regex split runs ONCE per
    // row — captured directly inside the positional transform it
    // would re-run per shingle (the HOF-lambda-capture rule; this
    // wrapper keeps the Column => Column signature where operators
    // materialize a named column instead)
    element_at(transform(
      array(split(TextAnalysis.normalize(text), " ")), toks =>
        array_distinct(
          when(size(toks) < k, array(array_join(toks, " ")))
            .otherwise(transform(
              sequence(lit(0), size(toks) - k),
              i => array_join(slice(toks, i + lit(1), lit(k)), " "))))), 1)
  }

  /** Stage of the shingle pipeline shared by minhash/simhash: each
    * (variable-length string) shingle hashed ONCE to a long. All
    * downstream permutations/votes run over this fixed-width array —
    * the string bytes are never re-read.
    */
  def shingleHashes(shingleCol: Column): Column =
    transform(shingleCol, s => xxhash64(s))

  /** The fused text→distinct-shingle-hash stage: tokenizes once,
    * then [[graft.functions.ShingleHashes]] hashes every k-window
    * from a reused byte buffer — no per-shingle string allocation,
    * bit-identical longs to `shingleHashes(shingles(text, k))`
    * (ShingleHashesSpec pins it). This is the form the dedup
    * operators call; the composed pair stays for tests and for
    * callers that need the shingle STRINGS.
    */
  def hashedShingles(text: Column, k: Int): Column =
    graft.functions.ShingleHashes.ofTokens(
      split(TextAnalysis.normalize(text), " "), k)

  /** Inter-source k-gram overlap matrix — the leakage/redundancy
    * diagnostic mixture design consumes (how much of source A's
    * content also lives in source B, BEFORE deciding their weights):
    * each source's DISTINCT k-gram set, pairwise intersections via a
    * gram-keyed self-join, and Jaccard from the per-source totals.
    * Pairs with an empty intersection are absent (the matrix is
    * sparse by construction).
    *
    * Scale shape: the corpus reduces to distinct (source, gram)
    * rows FIRST — the shuffle carries gram-set partials, never
    * text — and the intersection join is an equi-join on the gram
    * hash whose per-gram fan-out is bounded by the SOURCE count
    * squared, not documents. Documents shorter than k tokens
    * contribute no grams (the positional-window rule the oracle
    * mirrors); gram identity is the standard collision-free 64-bit
    * assumption, with the oracle counting distinct gram strings.
    */
  def sourceOverlap(docs: DataFrame, textCol: String, sourceCol: String,
                    k: Int): DataFrame = {
    val w = split(TextAnalysis.normalize(col(textCol)), " ")
    // stage(): the distinct gram-set table feeds the sizes aggregate
    // AND both sides of the pair join
    val sg = docs.filter(size(w) >= k)
      .select(col(sourceCol).as("source"),
        explode(hashedShingles(col(textCol), k)).as("g"))
      .distinct().stage()
    val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sg.select(col("g"), col("source").as("src_a"))
      .hint("shuffle_hash")
      .join(sg.select(col("g"), col("source").as("src_b")), Seq("g"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("inter"))
    val unionN = col("n_a") + col("n_b") - col("inter")
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter"),
        unionN.as("union_n"),
        // integer-exact 6-dp round — round(double, 6) flips on
        // tie-region integer ratios (see ExactRound)
        graft.functions.ExactRound.ratio6(col("inter"), unionN)
          .as("jaccard"))
  }

  /** Engine-portable shingle hashing: 60-bit longs from the leading
    * 15 hex chars of md5, computable bit-identically in any engine
    * with an md5() (e.g. `('0x' || substr(md5(s), 1, 15))::BIGINT`).
    * xxhash64 stays the default everywhere — md5 costs ~3× more —
    * but hash-DEPENDENT outputs (simhash codes and their hamming
    * pairs) can only be checked end-to-end against an external
    * oracle when both engines agree on the hash itself.
    */
  def shingleHashesPortable(shingleCol: Column): Column =
    transform(shingleCol, s => TextAnalysis.md5Long60(s.cast("binary")))

  /** MinHash signature over PRE-HASHED shingles: permutation i is
    * xxhash64(i, h) — a fixed-width two-long hash, ~the cost of one
    * affine map but overflow-free under ANSI arithmetic (a raw
    * `a*h+b` long multiply throws under spark.sql.ansi.enabled, the
    * 4.x default). Replaces the round-2 shape that re-hashed every
    * shingle STRING once per permutation (64 full string passes —
    * 27% of the whole bench); now the string is hashed once in
    * [[shingleHashes]] and each of the 64 passes is long-only.
    * Callers must stage the hash array in its own projection.
    */
  def minhashSignatureFromHashes(hashCol: Column, numHashes: Int): Column =
    // Fused one-pass expression; bit-identical to the composed form
    // `array(array_min(transform(hh, h => xxhash64(lit(i), h))), …)`
    // which traversed the array once per permutation (64 transform
    // passes + 64 intermediate arrays per row — MinHashSpec pins the
    // equivalence).
    graft.functions.MinHashFunctions.minhashSignature(hashCol, numHashes)

  /** Convenience single-expression form (tests, small frames). */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    minhashSignatureFromHashes(shingleHashes(shingleCol), numHashes)

  /** LSH band buckets: signature split into `bands` rows of
    * `rowsPerBand`, each hashed WITH its band index to one bucket
    * key. Documents sharing any bucket key are candidate pairs.
    *
    * The key is a single LONG (band folded into the hash seed), not a
    * (band, bucket) struct: the bucket self-join shuffles and
    * compares on this key, and a primitive key stays inside
    * codegen'd comparisons where a struct key forces interpreted
    * struct ordering in a sort-merge join — measured 3-4x slower on
    * the same data.
    */
  def lshBuckets(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b), slice(sigCol, b * rowsPerBand + 1, rowsPerBand))
    }: _*)

  /** The banding contract shared by the batch and streaming LSH
    * paths: a truncated split silently weakens recall, and
    * rowsPerBand = 0 would collapse every document into the same
    * per-band buckets.
    */
  def requireValidBanding(numHashes: Int, bands: Int): Unit =
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must evenly divide numHashes ($numHashes)")

  /** MinHash+LSH near-duplicate pairs with verified Jaccard >=
    * `threshold`. Returns (a_id, b_id, jaccard).
    *
    * Scale shape (round-1 verdict fix): the band self-join carries
    * ONLY (band-bucket, id) — ~16 bytes/row — never the shingle sets;
    * candidate (a_id, b_id) pairs are deduped across bands BEFORE
    * verification; verification joins the sparse candidate set back
    * to a compact id→shingles table (AQE turns these into broadcast
    * joins when the candidate set is small).
    *
    * Default banding is 32 bands × 2 rows: for a true-duplicate pair
    * with Jaccard j the miss probability is (1-j²)³² — under 1e-14 at
    * j ≥ 0.8 — so recall over the verified-threshold output is exact
    * in practice and the operator is oracle-checkable against an
    * all-pairs exact-Jaccard query.
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 32,
                   threshold: Double = 0.8): DataFrame = {
    requireValidBanding(numHashes, bands)
    // Hashed-shingle sets (one string-hash pass). Verification also
    // runs on the hashed sets: set intersection/union sizes are
    // preserved by the (collision-free at 64 bits) per-element hash,
    // and the join-back payload becomes a compact long array instead
    // of the string shingles.
    // persist(): this compact id→hashes table is read THREE times
    // (both sides of the band self-join via `buckets`, then twice
    // again for verification join-backs). Without materialization
    // each branch re-runs the full text→shingle→hash pipeline from
    // the scan — and worse, InferFiltersFromConstraints turns the
    // band join's non-null key into an isnotnull(<entire pipeline>)
    // predicate pushed below the repartition, serializing the whole
    // computation onto the scan's few input splits (measured: the
    // single biggest line in the round-2/3 bench). Materializing the
    // signature table is the standard staging step of production
    // minhash pipelines; MEMORY_AND_DISK spills instead of OOMing at
    // cluster scale (at 100 TB this stage is ~1% the size of the
    // text it derives from).
    // sorted: the signature fold is order-independent, and sorted
    // arrays let verification count intersections by two-pointer
    // merge instead of building a hash set per candidate pair
    val hhTable = shingleHashRows(docs, idCol, textCol, "id", "hh").stage()
    val buckets = bandKeys(hhTable, Seq("id"),
      minhashSignatureFromHashes(col("hh"), numHashes), numHashes, bands)
    // shuffle_hash: the band self-join feeds a distinct hash
    // aggregation — no sort order downstream, so skip the sort-merge.
    val candidates = buckets.select(col("bb"), col("id").as("a_id"))
      .hint("shuffle_hash")
      .join(buckets.select(col("bb"), col("id").as("b_id")), Seq("bb"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    exactJaccard(candidates
      .join(hhTable.select(col("id").as("a_id"), col("hh").as("a_hh")), "a_id")
      .join(hhTable.select(col("id").as("b_id"), col("hh").as("b_hh")), "b_id"),
      "a_hh", "b_hh", threshold, "a_id", "b_id", "jaccard")
  }

  /** (`idCol` AS `id`, its SORTED 3-shingle hash array AS `hh`): the
    * verification payload every MinHash path stages or stores. */
  private def shingleHashRows(docs: DataFrame, idCol: String,
                              textCol: String, id: String,
                              hh: String): DataFrame =
    docs.select(col(idCol).as(id),
      array_sort(hashedShingles(col(textCol), 3)).as(hh))

  /** The LSH band keys of every row: `docs`' `keep` columns plus one
    * row per band key `bb` of the MinHash signature `sig` (a column
    * of `docs` or an expression over it). The signature is projected
    * ONCE below the explode: a generator evaluates its argument per
    * reference, and [[lshBuckets]] references the signature once per
    * band — inside the explode a signature expression ran `bands`
    * times per row (counted with an instrumented UDF: 4 bands, 4×).
    */
  private[graft] def bandKeys(docs: DataFrame, keep: Seq[String],
                              sig: Column, numHashes: Int,
                              bands: Int): DataFrame = {
    requireValidBanding(numHashes, bands)
    docs.select(keep.map(col) :+ sig.as("sig"): _*)
      .select(keep.map(col) :+
        explode(lshBuckets(col("sig"), bands, numHashes / bands)).as("bb"): _*)
  }

  /** THE exact set-Jaccard verification of candidate pairs, shared by
    * every MinHash and n-gram path: `pairs` carries two sorted hash
    * arrays `a` and `b`; rows with J(a, b) >= `threshold` are kept,
    * projected to `out` — pass-through column names of `pairs` plus
    * the computed `jaccard` and (optionally) `n_common`, in any order.
    *
    * The size filter (exact: J >= t forces t·|b| <= |a| <= |b|/t)
    * runs BEFORE the O(n) intersect — size() on a materialized array
    * reads a stored length. (Do NOT stage the size as its own
    * projected column: CollapseProject inlines the whole shingle-hash
    * array expression into the size() call and the pipeline runs
    * twice — measured 3× end-to-end.) |a ∩ b| is counted by the
    * allocation-free two-pointer merge over the sorted arrays, and
    * |a ∪ b| = |a| + |b| − |a ∩ b| by arithmetic — no per-pair hash
    * set, no materialized arrays.
    */
  private[graft] def exactJaccard(pairs: DataFrame, a: String, b: String,
                                  threshold: Double,
                                  out: String*): DataFrame = {
    val carried = out.filterNot(c => c == "jaccard" || c == "n_common")
    pairs
      .filter(size(col(a)) >= lit(threshold) * size(col(b)) &&
        size(col(b)) >= lit(threshold) * size(col(a)))
      .select(carried.map(col) ++ Seq(
        graft.functions.SortedIntersectCount.column(col(a), col(b))
          .as("n_common"),
        (size(col(a)) + size(col(b))).cast("bigint").as("n_total")): _*)
      .select(out.map {
        case "jaccard" => (col("n_common").cast("double") /
          (col("n_total") - col("n_common"))).as("jaccard")
        case c => col(c)
      }: _*)
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup PROBE: near-duplicate pairs between a
    * small DELTA (today's crawl increment) and a large static INDEX
    * (the already-deduped corpus) — the daily-ingest shape where
    * re-pairing the whole corpus ([[minhashPairs]]) would redo
    * O(corpus) work for an O(delta)-sized question. Same
    * shingle→minhash→band chain and the same exact-Jaccard
    * verification as [[minhashPairs]], but the band join is
    * ASYMMETRIC: the delta's bucket table is broadcast and the index
    * side streams — ZERO shuffle of the corpus. The index's
    * signature/bucket tables are derived inline here and handed to
    * the same probe [[minhashProbePrebuilt]] runs against the
    * materialized tables (production computes them once and appends
    * per ingest), which changes cost, not semantics. Delta-internal
    * duplicates are out of contract (run [[minhashPairs]] on the
    * delta for those).
    *
    * Verification joins back only the candidate ids: the delta side
    * broadcasts again, the index side meets the candidate set in a
    * shuffled-hash join keyed on index_id — the corpus-scale table
    * is shuffled only by its matched subset. A delta too large to
    * broadcast degrades gracefully: drop the broadcast hints and
    * both joins become ordinary shuffled-hash joins.
    *
    * Output: (delta_id, index_id, jaccard) with exact set Jaccard
    * >= `threshold` (same LSH-recall argument as [[minhashPairs]]:
    * at 32×2 banding a j >= 0.8 pair is missed with probability
    * < 1e-14, so the exact all-cross-pairs oracle applies).
    */
  def minhashProbe(index: DataFrame, delta: DataFrame,
                   idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 32,
                   threshold: Double = 0.8): DataFrame = {
    requireValidBanding(numHashes, bands)
    val ihh = shingleHashRows(index, idCol, textCol, "index_id",
      "index_id_hh").stage()
    val ibb = minhashBucketsTable(ihh.withColumn("sig",
      minhashSignatureFromHashes(col("index_id_hh"), numHashes)),
      numHashes, bands)
    probeIndex(ihh, ibb, delta, idCol, textCol, numHashes, bands, threshold)
  }

  /** The PERSISTENT index side of [[minhashProbe]]: one row per
    * index document carrying its sorted shingle-hash array (the
    * exact-verification payload) and its minhash signature (the
    * banding payload). This is the table a production recrawl
    * pipeline MATERIALIZES ONCE and appends to — the round-13
    * fixed-delta SCALE wave measured the in-query rebuild at
    * corpus exponent 0.40 vs 0.26 for the churn verdicts, i.e. the
    * probe's steady-state cost was dominated by re-hashing an index
    * that never changed. Write this frame out ([[minhashIndexWrite]]),
    * read it back, and hand it to [[minhashProbePrebuilt]].
    *
    * Column contract: (index_id, index_id_hh array<bigint> SORTED,
    * sig array<bigint> length `numHashes`).
    */
  def minhashIndexTable(index: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64): DataFrame =
    shingleHashRows(index, idCol, textCol, "index_id", "index_id_hh")
      .withColumn("sig",
        minhashSignatureFromHashes(col("index_id_hh"), numHashes))

  /** The PRE-EXPLODED band-bucket table of a [[minhashIndexTable]]:
    * (index_id, bb) — 'bands' rows per index document, two longs per
    * row. Materializing the explosion moves the per-probe candidate
    * scan from "decode 64-long signatures + explode 32 buckets per
    * row" to a flat two-column columnar scan (and in production this
    * is the table you sort/bucket by bb at write time).
    */
  def minhashBucketsTable(indexTable: DataFrame,
                          numHashes: Int = 64, bands: Int = 32): DataFrame =
    bandKeys(indexTable, Seq("index_id"), col("sig"), numHashes, bands)

  /** [[minhashProbe]] against a PREBUILT [[minhashIndexTable]]: the
    * steady-state incremental shape — only the (small) delta is
    * hashed per run; the index side contributes one scan of the
    * materialized signature table for the band join and one
    * candidate-keyed join-back for exact verification. Same output
    * and recall contract as [[minhashProbe]] (one probe serves both);
    * only WHERE the index signatures come from changes.
    *
    * Scale shape: the delta's buckets broadcast to the index bucket
    * explode (zero index shuffle for candidate generation), the
    * verification join carries candidate ids only. At 100 TB the
    * signature table is the thing you bucket/Z-order by band key at
    * write time; the probe then prunes to the delta's buckets at
    * scan time.
    */
  def minhashProbePrebuilt(indexHh: DataFrame, indexBuckets: DataFrame,
                           delta: DataFrame,
                           idCol: String, textCol: String,
                           numHashes: Int = 64, bands: Int = 32,
                           threshold: Double = 0.8): DataFrame = {
    requireValidBanding(numHashes, bands)
    // a parquet round-trip widens array<bigint not null> to nullable
    // elements; array_compact (a no-op on this data — the hash
    // arrays never hold nulls) restores the non-null element type
    // SortedIntersectCount requires
    val ihh = indexHh.select(col("index_id"),
      array_compact(col("index_id_hh")).as("index_id_hh"))
    probeIndex(ihh, indexBuckets, delta, idCol, textCol, numHashes, bands,
      threshold)
  }

  // The probe both index sources share: the delta is hashed, staged
  // and banded; its buckets broadcast into the index bucket stream;
  // the distinct candidates join back to both hash tables (delta
  // broadcast, index shuffled-hash) for the exact-Jaccard step.
  private def probeIndex(ihh: DataFrame, ibb: DataFrame, delta: DataFrame,
                         idCol: String, textCol: String, numHashes: Int,
                         bands: Int, threshold: Double): DataFrame = {
    val dhh = shingleHashRows(delta, idCol, textCol, "delta_id",
      "delta_id_hh").stage()
    val dBuckets = bandKeys(dhh, Seq("delta_id"),
      minhashSignatureFromHashes(col("delta_id_hh"), numHashes),
      numHashes, bands)
    val candidates = ibb.select(col("index_id"), col("bb"))
      .join(broadcast(dBuckets), Seq("bb"))
      .select(col("delta_id"), col("index_id"))
      .distinct()
    exactJaccard(candidates
      .join(broadcast(dhh), "delta_id")
      .hint("shuffle_hash")
      .join(ihh, "index_id"),
      "delta_id_hh", "index_id_hh", threshold,
      "delta_id", "index_id", "jaccard")
  }

  /** The APPEND leg that closes the materialized-index loop: after a
    * day's delta is probed ([[minhashProbePrebuilt]]) and admitted,
    * production folds it INTO the index so tomorrow's probe sees it.
    * This hashes ONLY the delta (one [[minhashIndexTable]] pass over
    * the delta rows — the same delta-sized work the probe already
    * did) and appends the resulting signature rows and pre-exploded
    * band-bucket rows to the two parquet tables; the standing index
    * is never rewritten or re-hashed. Parquet append adds new files
    * under the same directory — at 100 TB this is the daily-partition
    * write (`PARTITION (ingest_date)`), and the bucket table stays
    * sorted-by-bb WITHIN each day's files so scan pruning holds.
    *
    * Torn writes inside one delivery are NOT the caller's problem:
    * both tables commit through [[AtomicCommit]] (staged dir + atomic
    * rename), so a kill mid-append leaves the served index
    * bit-unchanged — read the tables back with
    * [[readIndexTable]]/[[readBucketsTable]] (base + committed
    * deltas), never a bare `spark.read.parquet` on the base dir.
    * Pass `commitId` (an ingest-day key, a streaming batchId) and
    * redelivery becomes a protocol-level no-op too — the SAME id
    * names both tables' delta dirs, so a replay after a crash
    * BETWEEN the two commits heals the half-append (hh skips, bb
    * lands) instead of duplicating it; without an id, replay
    * dedup stays the caller's ledger contract. Column contracts
    * match [[minhashIndexTable]] / [[minhashBucketsTable]] exactly,
    * so a probe against the appended table is indistinguishable from
    * one against a from-scratch rebuild over index ∪ delta (DedupSpec
    * pins this; the e2e_probe_append oracle replays a two-day chain).
    * Visibility ordering: hh commits first, so the torn state
    * between the commits is "signatures without buckets" — those
    * rows generate no candidates and stay invisible to probes.
    */
  def minhashIndexAppend(delta: DataFrame, idCol: String, textCol: String,
                         hhPath: String, bbPath: String,
                         numHashes: Int = 64, bands: Int = 32,
                         commitId: Option[String] = None): Unit = {
    // NOTE: hhPath/bbPath are the LIVE VERSION's table paths. After a
    // [[minhashIndexCompact]] the flat `$root/hh` is superseded —
    // re-derive via [[AtomicCommit.resolveVersionRoot]] after every
    // compaction, or use [[minhashIndexAppendRoot]], which resolves
    // the MANIFEST itself and cannot target a stale version.
    writeIndexTables(delta, idCol, textCol, numHashes, bands) { (t, df) =>
      AtomicCommit.commitAppend(if (t == "hh") hhPath else bbPath,
        commitId) { staging => df.write.mode("overwrite").parquet(staging) }
    }
  }

  /** Build a minhash index over `docs` from scratch: the
    * [[minhashIndexTable]] at `root/hh` and its
    * [[minhashBucketsTable]] at `root/bb`, both overwritten — the
    * un-versioned layout [[readIndexTables]] reads. The signature
    * table is hashed once, cached for both writes.
    */
  def minhashIndexWrite(docs: DataFrame, idCol: String, textCol: String,
                        root: String, numHashes: Int = 64,
                        bands: Int = 32): Unit =
    writeIndexTables(docs, idCol, textCol, numHashes, bands) { (t, df) =>
      df.write.mode("overwrite").parquet(s"$root/$t")
    }

  // Hash `docs` into a scoped signature table and hand `write` the two
  // index tables in commit order: ("hh", signatures), ("bb", buckets).
  private def writeIndexTables(docs: DataFrame, idCol: String,
                               textCol: String, numHashes: Int,
                               bands: Int)(
      write: (String, DataFrame) => Unit): Unit = {
    requireValidBanding(numHashes, bands)
    Staging.scoped(minhashIndexTable(docs, idCol, textCol, numHashes)) { idx =>
      write("hh", idx)
      write("bb", minhashBucketsTable(idx, numHashes, bands))
    }
  }

  /** [[minhashIndexAppend]] against a VERSIONED index root — the
    * MANIFEST is resolved per call ([[AtomicCommit
    * .resolveVersionRoot]]), so the delta always commits into the
    * LIVE version's tables: the natural append → compact → append
    * sequence cannot silently commit into a superseded flat table
    * the readers no longer union. This is the overload production
    * ingest should call; the flat-path form remains for
    * un-versioned layouts and explicit-path tooling.
    */
  def minhashIndexAppendRoot(delta: DataFrame, idCol: String,
                             textCol: String, root: String,
                             numHashes: Int = 64, bands: Int = 32,
                             commitId: Option[String] = None): Unit = {
    val cur = AtomicCommit.resolveVersionRoot(root)
    minhashIndexAppend(delta, idCol, textCol, s"$cur/hh", s"$cur/bb",
      numHashes, bands, commitId)
  }

  /** The signature table at `hhPath` including every COMMITTED
    * [[minhashIndexAppend]] delta — the read half of the crash-safe
    * append protocol. */
  def readIndexTable(spark: SparkSession, hhPath: String): DataFrame =
    AtomicCommit.read(spark, hhPath)

  /** The band-bucket table at `bbPath` including committed deltas. */
  def readBucketsTable(spark: SparkSession, bbPath: String): DataFrame =
    AtomicCommit.read(spark, bbPath)

  /** Both tables of a VERSIONED minhash index root (a directory
    * holding `hh/` and `bb/`, optionally under `v<n>/` behind a
    * MANIFEST — see [[minhashIndexCompact]]): (signatures, buckets),
    * each base + committed deltas.
    */
  def readIndexTables(spark: SparkSession,
                      root: String): (DataFrame, DataFrame) = {
    val cur = AtomicCommit.resolveVersionRoot(root)
    (AtomicCommit.read(spark, s"$cur/hh"),
      AtomicCommit.read(spark, s"$cur/bb"))
  }

  /** COMPACT the minhash index root — the maintenance leg
    * [[VectorIndex.compact]] gives the vector side, minhash edition:
    * sustained [[minhashIndexAppend]]s accumulate one delta dir per
    * commit per table, and probe-side file listings grow with commit
    * count. Compaction rewrites both tables (base + committed
    * deltas) into the next `v<n>` version under `root` — the bucket
    * table re-sorted by `bb` within partitions, restoring the
    * scan-pruning layout the daily appends only maintain per-file —
    * and swaps the MANIFEST atomically: a killed compaction leaves
    * the old version fully live, probes never read a half-index.
    * No re-hashing (signatures are content-pure), so a probe against
    * the compacted root is bit-identical (RoundSeventeenOpsSpec).
    *
    * Appends racing the compaction are never lost: the rewrite
    * snapshots each table's committed roots ONCE, records the folded
    * commit-ids in the new version's ledger ([[AtomicCommit
    * .foldedIds]] — so redelivery across the swap stays a no-op),
    * and right before the MANIFEST swap folds forward any delta the
    * snapshot missed — late commits into the still-live version AND
    * orphans stranded in superseded roots by an earlier race. A
    * minhash delta dir is content-pure (no quantizer), so the fold
    * is a file copy recommitted under the same id. After compaction,
    * append via [[minhashIndexAppendRoot]] (or re-resolve the
    * version root) — the flat table paths are superseded.
    */
  def minhashIndexCompact(spark: SparkSession, root: String): Unit = {
    val cur = AtomicCommit.resolveVersionRoot(root)
    val next = AtomicCommit.nextVersion(root)
    val snap = Seq("hh", "bb").map { t =>
      val ids = AtomicCommit.committedDeltaIds(s"$cur/$t")
      val base = if (new java.io.File(s"$cur/$t").isDirectory)
        Seq(s"$cur/$t") else Seq.empty
      t -> (base ++ ids.map(id => s"$cur/$t.deltas/$id"), ids)
    }.toMap
    AtomicCommit.readPaths(spark, snap("hh")._1)
      .write.mode("overwrite").parquet(s"$root/$next/hh")
    AtomicCommit.readPaths(spark, snap("bb")._1)
      .sortWithinPartitions(col("bb"))
      .write.mode("overwrite").parquet(s"$root/$next/bb")
    for (t <- Seq("hh", "bb")) {
      val snapIds = snap(t)._2
      AtomicCommit.writeFoldedIds(s"$root/$next/$t",
        AtomicCommit.foldedIds(s"$cur/$t") ++ snapIds)
      val missed =
        AtomicCommit.committedDeltaIds(s"$cur/$t")
          .filterNot(snapIds.toSet).map(cur -> _) ++
        AtomicCommit.supersededRoots(root)
          .filterNot(_ == s"$root/$next").flatMap { r =>
            AtomicCommit.committedDeltaIds(s"$r/$t").map(r -> _)
          }
      val already = AtomicCommit.committedIds(s"$root/$next/$t")
      missed.filterNot { case (_, id) => already(id) }
        .foreach { case (r, id) =>
          AtomicCommit.commitAppend(s"$root/$next/$t", Some(id)) {
            staging => AtomicCommit.copyDir(s"$r/$t.deltas/$id", staging)
          }
        }
    }
    AtomicCommit.writeManifest(
      java.nio.file.Paths.get(root, "MANIFEST"), next)
  }

  /** Drop every non-live version of the minhash index at `root` (and
    * the superseded flat artifacts once a MANIFEST exists) — version
    * retention, the twin of [[VectorIndex.vacuum]]. The caller's
    * declaration that no probe predates the current MANIFEST; a flat
    * index is untouched. REFUSES (IllegalStateException) while any
    * superseded root holds a committed delta of EITHER table that
    * the live version never folded — the raced-append orphan only
    * the next [[minhashIndexCompact]] can fold forward.
    */
  def minhashVacuum(root: String): Unit = {
    val m = java.nio.file.Paths.get(root, "MANIFEST")
    if (!java.nio.file.Files.exists(m)) return
    val orphans = Seq("hh", "bb").flatMap { t =>
      AtomicCommit.orphanedDeltas(root, t)
        .map { case (r, id) => s"$r/$t.deltas/$id" }
    }
    if (orphans.nonEmpty)
      throw new IllegalStateException(
        "minhashVacuum refused: superseded versions hold committed " +
          "deltas the live version never folded — run " +
          "minhashIndexCompact first. Orphans: " + orphans.mkString(", "))
    val live = new String(java.nio.file.Files.readAllBytes(m),
      java.nio.charset.StandardCharsets.UTF_8).trim
    Option(new java.io.File(root).listFiles())
      .map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+") &&
        f.getName != live)
      .foreach(f => AtomicCommit.deleteRecursively(f.toPath))
    Seq("hh", "bb").flatMap(t =>
        Seq(t, s"$t.deltas", s"$t.staging", s"$t.folded"))
      .foreach(nm => AtomicCommit.deleteRecursively(
        java.nio.file.Paths.get(root, nm)))
  }

  /** Index-health readout over the stored minhash index — the
    * maintenance-scheduling twin of [[VectorIndex.indexStats]]: per
    * table (signatures `hh`, band-buckets `bb`), the served row
    * count (base + committed deltas), the committed delta-dir count
    * (`n_deltas` — exactly how many extra roots every probe's
    * listing unions, the [[minhashIndexCompact]] trigger), and the
    * data-file count (`n_files`, per-probe open cost). Row counts
    * are one metadata-cheap count per table; the listings are
    * bounded driver work.
    *
    * Output: (tbl, n_rows, n_deltas, n_files) — one row per table.
    */
  def dedupIndexStats(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val cur = AtomicCommit.resolveVersionRoot(root)
    Seq("hh", "bb").map { t =>
      val paths = AtomicCommit.committedPaths(s"$cur/$t")
      (t, AtomicCommit.readPaths(spark, paths).count(),
        AtomicCommit.committedDeltaIds(s"$cur/$t").size.toLong,
        paths.map(VectorIndex.countDataFiles).sum)
    }.toDF("tbl", "n_rows", "n_deltas", "n_files")
  }

  /** Ingest-churn classification — the observability readout over
    * the two incremental probes: every DELTA document classified
    * against the static INDEX as `exact_dup` (content fingerprint
    * already present), else `near_dup` (a [[minhashProbe]] pair at
    * `threshold`), else `novel` — the verdict table a recrawl
    * pipeline publishes before deciding what to ingest (and the
    * near-dup-aware sibling of the exact snapshot diff).
    *
    * Scale shape: both legs broadcast the DELTA side and stream the
    * index — the exact leg is one broadcast hash join on the 60-bit
    * fingerprint (zero corpus shuffle), the near leg is
    * [[minhashProbe]]'s asymmetric band join; the verdict join-backs
    * are delta-bounded broadcasts. Precedence exact > near is the
    * classification contract (an identical copy is also a j=1.0
    * near-dup; it reports as exact).
    *
    * Output: (delta_id, category) — one row per delta document.
    */
  def ingestChurn(index: DataFrame, delta: DataFrame,
                  idCol: String, textCol: String,
                  numHashes: Int = 64, bands: Int = 32,
                  threshold: Double = 0.8): DataFrame = {
    val dfp = delta.select(col(idCol).as("delta_id"),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val ifp = index.select(TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val exactIds = ifp.join(broadcast(dfp), Seq("fp"))
      .select(col("delta_id")).distinct()
    val nearIds = minhashProbe(index, delta, idCol, textCol,
      numHashes, bands, threshold)
      .select(col("delta_id")).distinct()
    delta.select(col(idCol).as("delta_id"))
      .join(broadcast(exactIds.withColumn("ex", lit(1))), Seq("delta_id"), "left")
      .join(broadcast(nearIds.withColumn("nr", lit(1))), Seq("delta_id"), "left")
      .select(col("delta_id"),
        when(col("ex").isNotNull, "exact_dup")
          .when(col("nr").isNotNull, "near_dup")
          .otherwise("novel").as("category"))
  }

  /** T175: edit-distance verification of near-dup candidates —
    * Levenshtein over the NORMALIZED text of every minhash candidate
    * pair, kept when dist ≤ `maxRel`·max(len). The second opinion a
    * dedup pipeline wants before destructive keep-one decisions:
    * shingle Jaccard is order-insensitive (it calls a paragraph
    * shuffle a near-dup), character edit distance is order-SENSITIVE
    * — a pair passing BOTH is a true revision/boilerplate twin, a
    * pair passing Jaccard only is a reordering/template case worth
    * different handling.
    *
    * Candidates come from the banded [[minhashPairs]] at
    * `candidateThreshold` — the distance runs ONLY on the candidate
    * set, never all pairs, and only inside the confirmation band:
    * [[graft.functions.BoundedLevenshtein]] (Ukkonen's banded DP
    * with iterative doubling) computes the EXACT distance when it is
    * ≤ ⌊maxRel·max(len)⌋ and proves "beyond the bound" otherwise in
    * O(band·n) instead of O(n·m) — a pair whose distance exceeds the
    * bound can never confirm, so its exact distance is not an output
    * (dist/rel_dist read NULL; the full quadratic DP on every
    * candidate was measured 7.7 s at sf0.1 and was this entry's
    * entire cost). The oracle replays the bound with DuckDB's
    * verbatim `levenshtein` gated by the same ⌊maxRel·max(len)⌋;
    * the relative distance is the exact HALF_UP ratio.
    *
    * Scale shape: [[minhashPairs]]' bucket-local candidate join +
    * TWO id-keyed hash joins to fetch the pair texts + a per-row
    * banded distance — no new shuffle class, no windows.
    *
    * Output: (a_id, b_id, jaccard, dist, rel_dist, edit_confirmed) —
    * dist/rel_dist NULL exactly when `edit_confirmed` is false.
    */
  def editVerifyPairs(docs: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 64, bands: Int = 32,
                      candidateThreshold: Double = 0.5,
                      maxRel: Double = 0.2): DataFrame = {
    val norm = docs.select(col(idCol).as("__id"),
      TextAnalysis.normalize(col(textCol)).as("__t"))
      .stage() // both pair sides fetch from it
    minhashPairs(docs, idCol, textCol, numHashes, bands,
      candidateThreshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .hint("shuffle_hash")
      .join(norm.select(col("__id").as("a_id"), col("__t").as("__ta")),
        Seq("a_id"))
      .hint("shuffle_hash")
      .join(norm.select(col("__id").as("b_id"), col("__t").as("__tb")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("jaccard"),
        graft.functions.BoundedLevenshtein
          .of(col("__ta"), col("__tb"), maxRel).as("__d"),
        greatest(length(col("__ta")), length(col("__tb")))
          .cast("bigint").as("__ml"))
      .select(col("a_id"), col("b_id"), col("jaccard"),
        when(col("__d") >= 0, col("__d")).as("dist"),
        when(col("__d") >= 0,
          graft.functions.ExactRound.ratio6(col("__d"), col("__ml")))
          .as("rel_dist"),
        (col("__d") >= 0).as("edit_confirmed"))
  }

  /** SimHash: 64-bit locality-sensitive code over word shingles.
    * For each bit position, sum +1/-1 votes from each shingle's
    * xxhash64; bit = 1 when the vote is positive. Computed by the
    * fused-codegen [[graft.functions.SimHash64]] expression — one
    * tight 64-counter loop per row over the PRE-HASHED long array
    * (the round-2 shape ran 64 separate aggregate() passes over the
    * array, one per bit). Callers must stage the hash array with
    * [[shingleHashes]] in its own projection.
    */
  def simhashFromHashes(hashCol: Column): Column =
    graft.functions.SimHashFunctions.simhash64(hashCol)

  /** Convenience single-expression form (tests, small frames). */
  def simhash(shingleCol: Column): Column =
    simhashFromHashes(shingleHashes(shingleCol))

  /** Bit-sampling band buckets over a simhash code: `bands` disjoint
    * (64/bands)-bit slices. Pigeonhole guarantee: two codes within
    * hamming distance < bands collide on at least one band, so the
    * banded candidate set is COMPLETE (not probabilistic) for any
    * `maxHamming <= bands - 1`.
    *
    * Key encoding: one LONG `(band << width) | slice` — unique across
    * bands, and primitive for the same codegen'd-join reason as
    * [[lshBuckets]].
    */
  def simhashBands(code: Column, bands: Int): Column = {
    val width = 64 / bands
    val mask = (1L << width) - 1
    array((0 until bands).map { b =>
      shiftrightunsigned(code, b * width).bitwiseAND(lit(mask)) +
        lit(b.toLong << width)
    }: _*)
  }

  /** SimHash near-duplicate pairs: band join on 16-bit slices of the
    * 64-bit code, exact hamming verification via xor + bit_count.
    * Returns (a_id, b_id, hamming) for all pairs with hamming <=
    * `maxHamming` — exact-complete by the pigeonhole argument above
    * (default 4 bands covers maxHamming 3).
    *
    * Scale shape mirrors [[minhashPairs]] with one improvement: the
    * 8-byte code itself rides the band join, so verification needs no
    * join-back at all — the whole operator is one self-join on a
    * (band, 16-bit bucket) key plus a distinct.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, bands: Int = 4, maxHamming: Int = 3,
                   hashPipeline: (Column, Int) => Column = hashedShingles)
      : DataFrame =
    codePairs(docs
      .select(col(idCol).as("id"), hashPipeline(col(textCol), k).as("hh"))
      .select(col("id"), simhashFromHashes(col("hh")).as("code")),
      bands, maxHamming)

  /** The banded-hamming pair join behind [[simhashPairs]], over ANY
    * (id, 64-bit code) table — text simhash, image aHash
    * ([[Multimodal.aHash64]]), any locality-sensitive 64-bit code.
    * Exact-complete for hamming <= `maxHamming` by the [[simhashBands]]
    * pigeonhole argument. Returns (a_id, b_id, hamming).
    *
    * Scale shape: the 16-byte id→code table is staged (it feeds both
    * sides of the band self-join; without it each side re-runs the
    * upstream code pipeline and the inferred isnotnull(<pipeline>)
    * join-key predicate lands below any repartition, serializing onto
    * the scan's splits), the code itself rides the band join so
    * verification needs no join-back, and the whole operator is one
    * self-join on a primitive (band, slice) key plus a distinct.
    */
  def codePairs(codes: DataFrame, bands: Int = 4, maxHamming: Int = 3)
      : DataFrame = {
    require(maxHamming < bands, "pigeonhole completeness needs maxHamming < bands")
    val staged = codes.select(col("id"), col("code")).stage()
    val buckets = staged.select(col("id"), col("code"),
      explode(simhashBands(col("code"), bands)).as("bb"))
    buckets.select(col("bb"), col("id").as("a_id"), col("code").as("a_code"))
      .hint("shuffle_hash")
      .join(buckets.select(col("bb"), col("id").as("b_id"), col("code").as("b_code")),
        Seq("bb"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_code").bitwiseXOR(col("b_code"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Corpus-level duplicated n-gram coverage (the RefinedWeb/Gopher
    * "fraction of content in duplicated n-grams" quality signal,
    * Penedo et al. 2023 arXiv:2306.01116 §G / Rae et al. 2021
    * arXiv:2112.11446): for each document, the fraction of its k-gram
    * POSITIONS whose k-gram also appears in at least one OTHER
    * document. Complements [[graft.datapipe.TextAnalysis.repetition]]
    * (within-document repeats) and [[sharedSpans]] (pairwise
    * alignment) — this is the corpus-frequency view a curation
    * pipeline thresholds on before pairwise work is affordable.
    *
    * Scale shape: one explode to (doc, gram-hash) positions; the
    * duplicated-gram set is a groupBy on the 8-byte gram hash whose
    * shuffle carries (hash, doc) pairs deduped map-side — bounded by
    * distinct k-grams, never corpus volume; the count-back is an
    * equi-join on the hash (AQE broadcasts the dup set when small).
    * Documents with fewer than k tokens report (0, 0, NULL).
    *
    * Output: (doc_id, n_grams, n_dup, dup_frac) — frac rounded 6 dp.
    */
  def dupNgramCoverage(docs: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame = {
    val toks = split(TextAnalysis.normalize(col(textCol)), " ")
    val base = docs.select(col(idCol).as("doc_id"), toks.as("w"))
    // per-POSITION window hashes (deliberately not the distinct
    // ShingleHashes: coverage counts positions, and a doc repeating a
    // corpus-duplicated gram five times has five duplicated positions)
    val wins = when(size(col("w")) < k, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(0), size(col("w")) - k),
        i => xxhash64(array_join(slice(col("w"), i + lit(1), lit(k)), " "))))
    // (doc_id, h) position stream feeds the dup-set training AND the
    // count-back join (see Staging)
    val positions = base.select(col("doc_id"), explode(wins).as("h")).stage()
    val dup = positions.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val counts = positions.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    val dupCounts = positions.join(dup, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    base.select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .join(dupCounts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(coalesce(col("n_grams"), lit(0L)) === 0,
          lit(null).cast("double"))
          .otherwise(graft.functions.ExactRound.ratio6(
            coalesce(col("n_dup"), lit(0L)), col("n_grams")))
          .as("dup_frac"))
  }

  /** Corpus-level duplicated-LINE removal (the line-wise exact-dedup
    * stage of CCNet, Wenzek et al. 2020 arXiv:1911.00359 §3, and
    * RefinedWeb, Penedo et al. 2023 arXiv:2306.01116: boilerplate
    * lines repeat across pages — drop every occurrence after the
    * corpus-global first). The driver corpus has no newlines, so the
    * certifiable "line" convention here is tumbling `w`-token windows
    * of the normalized text (a corpus WITH newlines would split on
    * them first and feed each physical line through the same
    * keep-first machinery unchanged).
    *
    * Keep policy: a line survives iff its (doc_id, line_no) is the
    * lexicographic minimum over all occurrences of that line text —
    * the corpus-global first occurrence, which also removes intra-
    * document repeats. The document is then rebuilt from its
    * surviving lines in order.
    *
    * Scale shape: lines are built per-row (zero shuffle — a
    * transform over an index sequence); first-occurrence election is
    * ONE window over the 60-bit line hash (dup groups are small, so
    * the per-key sort is trivial; the shuffle carries (hash, ids,
    * line) — line text only rides along to avoid re-building it for
    * the rebuild pass); the rebuild is one groupBy(doc_id). Nothing
    * is ever all-pairs and no key exceeds line cardinality.
    *
    * Output: (doc_id, n_lines, n_kept, text_kept) — text_kept is ''
    * for a document with no tokens or no surviving lines.
    */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 w: Int = 4): DataFrame = {
    val toks = filter(split(TextAnalysis.normalize(col(textCol)), " "),
      t => length(t) > 0)
    val base = docs.select(col(idCol).as("doc_id"), toks.as("w"))
    val lines = base.filter(size(col("w")) > 0)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), ((size(col("w")) - 1) / w).cast("int")),
          i => array_join(slice(col("w"), i * w + lit(1), lit(w)), " "))))
      .select(col("doc_id"), col("pos").cast("long").as("line_no"),
        col("col").as("line"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(TextAnalysis.md5Long60(col("line")))
      .orderBy(col("doc_id"), col("line_no"))
    val marked = lines
      .withColumn("rn", row_number().over(win))
    val agg = marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(array_sort(
          collect_list(when(col("rn") === 1,
            struct(col("line_no"), col("line"))))),
          s => s.getField("line")), " ").as("text_kept"))
    base.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  /** Boilerplate-density readout — the line-frequency analysis that
    * motivates [[dedupLines]] (CCNet §3 removes lines seen in many
    * pages; this is the measurement side): per document, how many of
    * its lines are "common" — their corpus document-frequency is at
    * least `minDf` — and the exact common fraction. Run it before
    * committing to the line-dedup threshold, like
    * `dedup_threshold_curve` before near-dedup. Same tumbling
    * `w`-token line convention as [[dedupLines]] (a newline corpus
    * splits on newlines instead, machinery unchanged).
    *
    * Scale shape: lines build per-row (zero shuffle), df is one
    * map-side-combinable groupBy on the 60-bit line hash over the
    * DISTINCT (doc, hash) pairs, the join back keys on the same
    * hash, and the readout is one per-doc aggregation. A boilerplate
    * line's df-group is large but the aggregate state is one long —
    * no skew surface; zero-token documents emit no row (they have no
    * lines to measure).
    */
  def boilerplateStats(docs: DataFrame, idCol: String, textCol: String,
                       w: Int = 4, minDf: Int = 5): DataFrame = {
    val toks = filter(split(TextAnalysis.normalize(col(textCol)), " "),
      t => length(t) > 0)
    val lines = docs.select(col(idCol).as("doc_id"), toks.as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), ((size(col("w")) - 1) / w).cast("int")),
          i => array_join(slice(col("w"), i * w + lit(1), lit(w)), " ")))
        .as("line"))
      .select(col("doc_id"), TextAnalysis.md5Long60(col("line")).as("lh"))
    val df = lines.distinct()
      .groupBy(col("lh")).agg(count(lit(1)).as("df"))
    lines.join(df, Seq("lh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_lines"), col("n_common"),
        graft.functions.ExactRound.ratio6(col("n_common"), col("n_lines"))
          .as("common_frac"))
  }

  /** Content-addressed snapshot diff — the corpus-versioning readout
    * a periodically-recrawled training corpus ships with: which
    * content was added, removed, or carried over between two corpus
    * versions, keyed by the 60-bit normalized-text fingerprint
    * ([[TextAnalysis.fingerprint]]) so renames/re-ids don't read as
    * churn. Duplicate contents within a snapshot collapse to one row
    * (min doc_id representative + multiplicity), so the diff is over
    * CONTENT, with the dup counts preserved for the dedup-rate view.
    *
    * Scale shape: each side is one map-side-hashed groupBy on the
    * 8-byte fingerprint; the diff is a full-outer shuffle join on the
    * same key — both sides co-partition, nothing carries text past
    * the first projection.
    *
    * Output: (fingerprint, status ∈ added|removed|unchanged,
    * old_id, new_id, n_old, n_new) — ids NULL on the absent side.
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    def side(df: DataFrame, id: String, n: String): DataFrame =
      df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
        .agg(min(col(idCol)).as(id), count(lit(1)).as(n))
    side(oldDocs, "old_id", "n_old")
      .join(side(newDocs, "new_id", "n_new"), Seq("fingerprint"), "full_outer")
      .select(col("fingerprint"),
        when(col("n_old").isNull, "added")
          .when(col("n_new").isNull, "removed")
          .otherwise("unchanged").as("status"),
        col("old_id"), col("new_id"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
  }

  /** Near-dup CLUSTERS from a pair list: connected components by
    * iterative min-label propagation — each round every vertex
    * adopts the smallest label among itself and its neighbours, so a
    * component converges to its minimum id in O(diameter) rounds
    * (near-dup components are shallow: twins/chains, not long paths).
    *
    * Scale shape: pure DataFrame joins/aggregations — each round is
    * one shuffle on id; the driver only checks the converged flag
    * (one count per round, no data collected). Labels persist per
    * round and the previous round unpersists, so lineage stays flat
    * instead of growing a join-tower. `docs` supplies the vertex set
    * so singletons (no near-dup) cluster as themselves.
    */
  def clusters(docs: DataFrame, idCol: String, pairs: DataFrame,
               maxIter: Int = 20): DataFrame = {
    // The ITERATION runs on RDDs, deliberately (the rare case where
    // the DataFrame API is the wrong substrate): each DataFrame round
    // builds a fresh plan and compiles fresh codegen (~1-2 s of fixed
    // cost per round, measured), while the RDD loop reuses one hash
    // partitioner across rounds so reduceByKey/join co-partition and
    // per-round cost is the actual data work — the same reason GraphX
    // is RDD-based. Pair generation and the returned table stay
    // DataFrames; edges persist so the expensive pair pipeline runs
    // once, not once per round.
    val spark = docs.sparkSession
    val lvl = Staging.Level
    import spark.implicits._
    val part = new org.apache.spark.HashPartitioner(
      spark.sparkContext.defaultParallelism)
    // partitionBy BEFORE persist: with edges and labels sharing one
    // partitioner, every join/reduceByKey in the loop is narrow —
    // only viaNeighbours (re-keyed by dst) shuffles each round.
    val edges = pairs
      .select(col("a_id").cast("long"), col("b_id").cast("long"))
      .as[(Long, Long)].rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part).persist(lvl)
    // The loop runs ONLY over nodes that appear in some pair: an
    // isolated document can never change label, so carrying the whole
    // corpus through every iteration's shuffles pays |corpus| per
    // round for nothing — after near-dedup of a 100 TB corpus the dup
    // graph is orders of magnitude smaller than the doc set. Isolated
    // docs rejoin as their own cluster in one final left join.
    // edges is already hash-partitioned by source id, so a
    // per-partition distinct IS globally distinct and the seed labels
    // inherit the loop partitioner with ZERO extra shuffles (a
    // .distinct() + .partitionBy here would shuffle the vertex set
    // twice).
    var labels = edges
      .mapPartitions(it => it.map(_._1).toSet.iterator.map((id: Long) => (id, id)),
        preservesPartitioning = true)
      .persist(lvl)
    val spark2 = docs.sparkSession.sparkContext
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val viaNeighbours = edges.join(labels)
        .map { case (_, (dst, lbl)) => (dst, lbl) }
      // cogroup instead of union+reduceByKey: labels is co-partitioned
      // with `part`, so only viaNeighbours shuffles — the union shape
      // destroyed the partitioning and re-shuffled the label side
      // every round. The convergence check rides the SAME action via
      // an accumulator; a task retry can only over-count changes,
      // which at worst delays convergence detection by one round,
      // never ends the loop early.
      val changed = spark2.longAccumulator
      val next = labels.cogroup(viaNeighbours, part)
        .mapValues { case (olds, news) =>
          val o = olds.head // every cogroup key comes from labels
          var m = o
          val it = news.iterator
          while (it.hasNext) { val v = it.next(); if (v < m) m = v }
          if (m != o) changed.add(1)
          m
        }.persist(lvl)
      // count(), not isEmpty(): take-based probes materialize only
      // part of `next` (breaking the accumulator), and unpersisting
      // the old labels under a partially-cached successor forces
      // recomputation cascades.
      next.count()
      converged = changed.value == 0
      labels.unpersist()
      labels = next
      iter += 1
    }
    edges.unpersist(false)
    // the returned frame reads the final labels lazily
    Staging.register(labels)
    // Silent non-convergence would mis-split a component into several
    // clusters and keepOne would retain documents dedup should drop —
    // fail loudly instead; raise maxIter for deep chains.
    require(converged,
      s"label propagation did not converge in $maxIter rounds " +
        "(component diameter exceeds maxIter)")
    val connected = spark.createDataFrame(labels).toDF("id", "lbl")
    docs.select(col(idCol).cast("long").as("id"))
      .join(connected, Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("cluster_id"))
  }

  /** The dedup SELECT a training pipeline actually runs: keep one
    * representative per near-dup cluster (the minimum id), drop the
    * rest. Composes [[clusters]]; emits (id, cluster_id, keep).
    */
  def keepOne(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    clusters(docs, idCol, pairs)
      .select(col("id"), col("cluster_id"),
        (col("id") === col("cluster_id")).as("keep"))

  /** Exact-Jaccard n-gram near-dup pairs: inverted-index candidate
    * generation + join-back verification against the FULL shingle
    * sets (same dedup-then-verify shape as [[minhashPairs]]).
    *
    * Scale shape:
    *  - postings carry (hash, id) longs only — the shingle strings are
    *    hashed once and never shuffled;
    *  - posting lists are capped at `maxDocFreq` for candidate
    *    generation: one hot shingle ("the quick") otherwise yields an
    *    O(df²) single-reducer key — the textbook skew scale-killer.
    *    The hot set is tiny by construction (≤ |postings| /
    *    maxDocFreq) so it broadcasts into a left-anti prune;
    *  - the emitted score is computed from the UNCAPPED full sets via
    *    join-back, so neither the df cap nor the prefix filter ever
    *    changes a score. (The round-2 shape scored against capped
    *    counts, silently underestimating jaccard for any pair sharing
    *    a hot shingle.) Prefix filtering keeps recall EXACT for
    *    qualifying pairs; the df cap alone can lose a pair, and only
    *    when every prefix-shared shingle is hotter than the cap.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.5,
                        maxDocFreq: Int = 100): DataFrame = {
    // Stage the shingle array BEFORE exploding: expressions projected
    // next to a generator are re-evaluated once per exploded output
    // row, so an inline shingleHashes(shingles(...)) would recompute
    // the whole array ~|shingles| times per document.
    // BOTH staging tables persist: the exploded `posts` (flat
    // long-pair rows, three consumers — hot list + both candidate
    // sides) and hhTable itself (two verification join-backs). An
    // earlier round measured the hhTable array cache as a net loss,
    // but that was when it ALSO fed the posting pipeline; with posts
    // cached, hhTable's only consumers are the join-backs and caching
    // it wins (~15% warm, re-measured). At corpus scale a disk-backed
    // cache beats re-running the text pipeline per consumer outright.
    // Sorted ascending: prefix filtering below needs one global total
    // order shared by all documents (the hash value is that order).
    val hhTable = docs.select(col(idCol).as("id"),
      array_sort(hashedShingles(col(textCol), k)).as("hh"))
      .stage()
    // Prefix filtering (AllPairs/PPJoin): J(a,b) >= t implies
    // |a∩b| >= ceil(t*max(|a|,|b|)), and any two sets sharing alpha
    // elements must intersect within their (n - alpha + 1)-prefixes
    // under a common total order — so indexing only the first
    // n - ceil(t*n) + 1 hashes of each document generates every
    // qualifying pair (EXACT recall) while shrinking the posting
    // index ~(1-t)-fold and the candidate join quadratically.
    val prefLen = (size(col("hh")) -
      ceil(lit(threshold) * size(col("hh"))) + 1).cast("int")
    val posts = hhTable.select(col("id"),
      explode(slice(col("hh"), lit(1), prefLen)).as("h"))
      .stage()
    val hot = posts.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq).select(col("h"))
    val pruned = posts.join(broadcast(hot), Seq("h"), "left_anti")
    // shuffle_hash: the posting join needs no sort order downstream
    // (it feeds a distinct hash aggregation), so a shuffled hash join
    // beats sort-merge; the per-partition build side is bounded by
    // the posting cap.
    val candidates = pruned.select(col("h"), col("id").as("a_id"))
      .hint("shuffle_hash")
      .join(pruned.select(col("h"), col("id").as("b_id")), Seq("h"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    exactJaccard(candidates
      .join(hhTable.select(col("id").as("a_id"), col("hh").as("a_hh")), "a_id")
      .join(hhTable.select(col("id").as("b_id"), col("hh").as("b_hh")), "b_id"),
      "a_hh", "b_hh", threshold, "a_id", "b_id", "n_common", "jaccard")
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every k-gram, slide a
    * `window`-wide window over the hash sequence, and select each
    * window's MINIMUM hash. The selected set is position-robust
    * (insertions far from a match never change its fingerprints) and
    * guarantees any shared run of `window + k - 1` tokens between two
    * documents shares at least one fingerprint — the local
    * containment-detection primitive a pure min-hash signature can't
    * give. Emitting min VALUES (not positions) makes tie handling a
    * non-issue: equal mins collapse in the distinct set.
    *
    * Hashes are md5-derived ([[TextAnalysis.md5Long60]] of the
    * space-joined k-gram) rather than the xxhash64 shingle stage: the
    * selection DEPENDS on hash ordering, so the oracle must replay
    * the exact hash values, and md5 is the engine-portable one.
    *
    * Scale shape: ZERO shuffle, ZERO state — grams, hashes, and the
    * whole selection run per-row inside whole-stage codegen; only
    * the final explode fans out, and the output is ≤ one row per
    * gram. The selection is the native O(n) monotonic-deque
    * expression [[graft.functions.WinnowSelect]] (a `transform` of
    * `array_min(slice(...))` is O(n·window) AND re-inlines the hash
    * pipeline into every window under CollapseProject — measured 30×
    * end-to-end; the single expression evaluates its child array
    * exactly once, needs no staging table, and therefore deploys
    * unchanged on a STREAM). A document with fewer grams than
    * `window` still yields its global-min fingerprint (the standard
    * ≥1-fingerprint guarantee); an empty document yields nothing.
    *
    * Output: distinct (doc_id, fp) rows — the fingerprint index
    * downstream plagiarism/containment joins consume.
    */
  def winnowing(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 3, window: Int = 4): DataFrame = {
    require(k >= 1 && window >= 1, s"need k, window >= 1, got $k, $window")
    // tokenize ONCE into a materialized column: captured inside the
    // positional transform, the regex split would re-run per gram
    // (the HOF-lambda-capture rule)
    val tw = split(TextAnalysis.normalize(col(textCol)), " ")
    val grams = when(size(col("__tw")) >= k,
      transform(sequence(lit(1), size(col("__tw")) - k + 1),
        i => concat_ws(" ", slice(col("__tw"), i, lit(k)))))
      .otherwise(array().cast("array<string>"))
    val hs = transform(grams, g => TextAnalysis.md5Long60(g))
    docs.select(col(idCol).as("doc_id"), tw.as("__tw"))
      .select(col("doc_id"),
        explode(graft.functions.WinnowSelect.of(hs, window)).as("fp"))
  }

  /** Winnowing match detector — the USE of [[winnowing]]'s index:
    * pairs of documents sharing at least `minShared` selected
    * fingerprints (the MOSS report shape: local-overlap candidates
    * for human/containment review). One fp-keyed self-join of the
    * index; a fingerprint selected in more than `maxDocFreq`
    * documents is boilerplate (a ubiquitous low-hash window) and is
    * EXCLUDED from matching — the same hot-key cap as the posting
    * joins, mirrored exactly by the oracle, without which one hot fp
    * costs O(df²) on a single reducer.
    *
    * Output: (a_id, b_id, n_shared_fps) with a_id < b_id.
    */
  def winnowMatches(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3, window: Int = 4, minShared: Int = 2,
                    maxDocFreq: Int = 100): DataFrame = {
    val fps = winnowing(docs, idCol, textCol, k, window).stage()
    // broadcast the HOT set (tiny by construction: ≤ |fps|/maxDocFreq)
    // into an anti join — broadcasting the keep-side would ship the
    // whole index
    val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq).select(col("fp"))
    val pruned = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    pruned.select(col("fp"), col("doc_id").as("a_id"))
      .hint("shuffle_hash")
      .join(pruned.select(col("fp"), col("doc_id").as("b_id")), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .filter(col("n_shared_fps") >= minShared)
  }

  /** Asymmetric CONTAINMENT pairs: |A∩B| / |A| over distinct k-gram
    * shingle sets — the "is document A substantially contained in
    * document B" detector (quotes, excerpts, near-subset crawl
    * copies) that symmetric Jaccard structurally under-scores (a
    * paragraph inside a book has tiny Jaccard but containment ≈ 1).
    * Both directions are emitted; a_id is the contained side.
    *
    * Exact-recall candidate generation, asymmetric prefix filter:
    * C(a→b) ≥ t forces |A∩B| ≥ ⌈t·|A|⌉, so under one global hash
    * order the first |A| − ⌈t·|A|⌉ + 1 hashes of A must intersect B —
    * probing A-prefixes against B's FULL posting index generates
    * every qualifying pair (the Jaccard variant's symmetric
    * prefix-vs-prefix join does not hold here; full-side indexing is
    * the price of asymmetry). Same hot-hash cap as
    * [[ngramJaccardPairs]] (documented recall cut, never a score
    * change: scores come from the uncapped sets via join-back), same
    * shuffled-hash join (no downstream sort order), same
    * two-pointer sorted-intersect verification.
    *
    * Output: (a_id, b_id, n_common, containment) with
    * containment ≥ `threshold`, a_id ≠ b_id.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, threshold: Double = 0.8,
                       maxDocFreq: Int = 100): DataFrame = {
    // threshold outside (0, 1] makes prefLen negative (slice()
    // misbehaves) or silently degenerates the prefix filter; fail
    // loudly like the sibling winnowing entry points do.
    require(k >= 1, s"shingle width k must be >= 1, got $k")
    require(threshold > 0 && threshold <= 1,
      s"containment threshold must be in (0, 1], got $threshold")
    val hhTable = docs.select(col(idCol).as("id"),
      array_sort(hashedShingles(col(textCol), k)).as("hh"))
      .stage()
    val prefLen = (size(col("hh")) -
      ceil(lit(threshold) * size(col("hh"))) + 1).cast("int")
    val probe = hhTable.select(col("id").as("a_id"),
      explode(slice(col("hh"), lit(1), prefLen)).as("h"))
    val full = hhTable.select(col("id").as("b_id"),
      explode(col("hh")).as("h"))
      .stage()
    val hot = full.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq).select(col("h"))
    val candidates = probe.join(broadcast(hot), Seq("h"), "left_anti")
      .hint("shuffle_hash")
      .join(full.join(broadcast(hot), Seq("h"), "left_anti"), Seq("h"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    candidates
      .join(hhTable.select(col("id").as("a_id"), col("hh").as("a_hh")), "a_id")
      .join(hhTable.select(col("id").as("b_id"), col("hh").as("b_hh")), "b_id")
      // size filter: C(a→b) ≥ t needs |B| ≥ ⌈t·|A|⌉ (the intersection
      // fits inside B) — discard before the O(n) intersect work
      .filter(size(col("b_hh")).cast("double") >=
        lit(threshold) * size(col("a_hh")))
      .select(col("a_id"), col("b_id"),
        graft.functions.SortedIntersectCount.column(col("a_hh"), col("b_hh"))
          .as("n_common"),
        size(col("a_hh")).cast("bigint").as("n_a"))
      .select(col("a_id"), col("b_id"), col("n_common"),
        (col("n_common").cast("double") / col("n_a")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Incremental corpus dedup: which `newDocs` are genuinely new —
    * their normalized content appears nowhere in `corpus`?
    *
    * The scale problem this solves: the corpus side is the 100 TB
    * accumulated crawl, the new side is one day's batch. A plain
    * anti join would either broadcast the new side's full hash
    * relation (hundreds of bytes per row — broadcast caps out around
    * tens of millions of rows) or shuffle the entire corpus. Instead
    * the new side collapses to a Bloom filter (~10 bits per key, so
    * 100M keys ≈ 120 MB — broadcastable long after the row relation
    * isn't) that prunes the corpus map-side: a corpus row whose key
    * fails the filter matches no new document and never reaches the
    * shuffle. Bloom filters have NO false negatives, so every true
    * match survives pruning and the exact anti join on the survivors
    * returns exactly the plain anti join's result — false positives
    * cost only wasted shuffle rows (`fpp` of the corpus), never
    * correctness. This is Spark's own runtime-filter pattern
    * (InjectRuntimeFilter) made explicit, sized, and verified.
    *
    * Output: the `idCol` of each genuinely-new document. Matching is
    * on xxhash64 of normalized text (the usual collision-free-at-64-
    * bit assumption; the oracle joins on the strings). A null-text
    * document never equals anything (SQL equality) and is kept.
    */
  def bloomNewDocs(newDocs: DataFrame, corpus: DataFrame, idCol: String,
                   textCol: String, expectedItems: Long,
                   fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType

    // xxhash64(null) is the SEED, not null — an unguarded key would
    // make every null-text new doc collide with every null-text
    // corpus doc and be wrongly dropped. A null key never equals
    // anything in the anti join, which is exactly the documented
    // null semantics.
    val key = when(col(textCol).isNotNull,
      xxhash64(TextAnalysis.normalize(col(textCol))))
    // persist(): newKeys feeds both the bloom-build action and the
    // anti join — without it the batch's normalize+hash pipeline
    // runs twice (session-scoped cache, as the other staging tables).
    val newKeys = newDocs.select(col(idCol), key.as("k"))
      .stage()
    // One pass over the (small) new side builds the filter on the
    // driver: bounded by the filter's bit array, not by row count.
    // putLong/mightContainLong share BloomFilterImpl's hashing, so
    // the probe below is consistent with this build by construction.
    val bf = newKeys.select(col("k")).na.drop("any")
      .stat.bloomFilter("k", expectedItems, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    // might_contain(<serialized filter>, k): Spark's native runtime-
    // filter predicate — codegen'd, evaluated at the corpus scan, and
    // with the filter shipped once per executor as a literal.
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      Literal(bytes, BinaryType),
      ColumnBridge.expression(col("k"))))
    val survivors = corpus.select(key.as("k")).filter(mightContain)
    newKeys.join(survivors, Seq("k"), "left_anti").select(col(idCol))
  }

  /** Maximal shared token runs (exact substring-level duplication,
    * the complement of the set-similarity family above): for every
    * document pair, every maximal run of >= `minWindows` consecutive
    * k-token windows with identical content, reported with its start
    * offset in both documents. This is the operator behind "these two
    * crawl pages share a 300-token boilerplate block" — set-Jaccard
    * cannot see contiguity, so it misses exactly these.
    *
    * Shape: one window-hash equi-join (ids + positions only — 8-byte
    * rows, never text) finds aligned window matches; runs are then
    * gaps-and-islands per (pair, diagonal): along diagonal d = a_pos
    * - b_pos, consecutive a_pos values form one contiguous shared
    * run, so island id = a_pos - row_number() and one aggregation
    * emits each maximal span. The join is the scale hazard — a
    * boilerplate window appearing in d documents fans out d² — so
    * window hashes with document frequency > `maxDf` are dropped
    * first (both engines replay the cap, so it is part of the
    * operator's semantics, not an approximation): a hotter window
    * than that is stop-phrase noise, and a long span loses at most
    * its capped windows, splitting into sub-spans that still surface.
    * Post-join work shuffles matched positions by (a_id, b_id, diag)
    * — span-local keys whose group size is bounded by document
    * length, never corpus size.
    *
    * Output: (a_id, b_id, a_start, b_start, n_windows, span_tokens)
    * with 0-based starts and span_tokens = n_windows + k - 1.
    */
  /** Positional k-token window hashes: (id, pos, h) — NOT the
    * distinct-shingle pipeline; span detection needs every occurrence
    * with its offset. Docs shorter than k have no k-window.
    */
  private def positionalWindows(docs: DataFrame, idCol: String,
                                textCol: String, k: Int): DataFrame = {
    val toks = split(TextAnalysis.normalize(col(textCol)), " ")
    docs
      .select(col(idCol).as("id"), toks.as("w"))
      .filter(size(col("w")) >= k)
      .select(col("id"), posexplode(transform(
        sequence(lit(0), size(col("w")) - k),
        i => xxhash64(array_join(slice(col("w"), i + 1, lit(k)), " ")))))
      .select(col("id"), col("pos"), col("col").as("h"))
  }

  def sharedSpans(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 3, minWindows: Int = 4,
                  maxDf: Int = 50, maxOccurrences: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // persist(): the window table feeds the hot-hash aggregation and
    // both sides of the self-join — unpersisted, the text pipeline
    // runs three times (session-scoped cache, as in ngramJaccardPairs).
    val windows = positionalWindows(docs, idCol, textCol, k)
      .stage()
    // Two caps, both replayed by the oracle: TRUE document frequency
    // (distinct docs containing the window) > maxDf drops cross-doc
    // stop-phrase noise without penalizing a window repeated inside
    // one long document (df = 1); total occurrences > maxOccurrences
    // separately bounds the join fan-out — the candidate join keys on
    // `h` alone, so a window repeated R times ANYWHERE (even one
    // degenerate generated document) materializes R² joined rows
    // before the a<b filter. df alone would re-open that blowup.
    val hot = windows.groupBy(col("h"))
      .agg(count_distinct(col("id")).as("df"), count(lit(1)).as("occ"))
      .filter(col("df") > maxDf || col("occ") > maxOccurrences)
      .select(col("h"))
    val pruned = windows.join(broadcast(hot), Seq("h"), "left_anti")
    // (a_id, pos) is unique, so per (pair, diagonal) each a_pos
    // appears at most once and row_number needs no extra tie-break.
    val matches = pruned.select(col("h"), col("id").as("a_id"), col("pos").as("pa"))
      .hint("shuffle_hash")
      .join(pruned.select(col("h"), col("id").as("b_id"), col("pos").as("pb")),
        Seq("h"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("pa"), col("pb"))
    val diag = col("pa") - col("pb")
    val islands = matches
      .withColumn("g", col("pa") - row_number().over(
        Window.partitionBy(col("a_id"), col("b_id"), diag).orderBy(col("pa"))))
    islands
      .groupBy(col("a_id"), col("b_id"), diag.as("d"), col("g"))
      .agg(min(col("pa")).as("a_start0"), min(col("pb")).as("b_start0"),
        count(lit(1)).as("n_windows"))
      .filter(col("n_windows") >= minWindows)
      .select(col("a_id"), col("b_id"),
        col("a_start0").cast("bigint").as("a_start"),
        col("b_start0").cast("bigint").as("b_start"),
        col("n_windows"),
        (col("n_windows") + (k - 1)).as("span_tokens"))
  }

  /** Span-level benchmark decontamination — [[sharedSpans]]'
    * CROSS-CORPUS form, and the surgical sibling of
    * [[Contamination.score]]: where score reports "how much does this
    * training doc overlap ANY benchmark", this reports WHICH
    * benchmark document's text appears WHERE — (train doc, bench doc,
    * both 0-based token offsets, span length) for every maximal run
    * of >= `minWindows` consecutive shared k-token windows. That
    * position-level readout is what a trim/repair pass (the
    * [[trimSelfSpans]] shape) consumes.
    *
    * Same islands machinery as sharedSpans, but the candidate join is
    * two-sided (train windows x bench windows on the window hash) —
    * no a<b self-join filter, and train-train / bench-bench matches
    * are never materialized at all. The df + occurrence caps compute
    * over the UNION of both sides (callers must pass disjoint id
    * spaces) and drop stop-phrase noise exactly as in sharedSpans.
    *
    * Output: (train_id, bench_id, train_start, bench_start,
    * n_windows, span_tokens).
    */
  def contaminationSpans(train: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         k: Int = 5, minWindows: Int = 2,
                         maxDf: Int = 50, maxOccurrences: Int = 1000)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persist(): each window table feeds the union'd hot-hash
    // aggregation and its side of the join (see sharedSpans).
    val wb = positionalWindows(bench, idCol, textCol, k).stage()
    // CORPUS-SIDE PRE-FILTER (r19, guide §3.2): only a window hash
    // present in BOTH sides can reach the output — the span join
    // keys on `h` against bench windows, and the df/occ hot caps are
    // per-hash (the semi join keeps ALL train occurrences of any
    // bench hash, and a train-only hash's rows could never join).
    // Dropping those rows BEFORE the checkpoint materialization, the
    // union'd hot aggregation, and the join shuffle is therefore
    // output-identical, and at corpus scale it shrinks the train
    // side from every-window to matched-windows-only. The filter
    // side is the BENCH hash set (the eval set — bounded by the
    // operator's premise), broadcast into a left-semi join whose
    // build rides the query DAG: a Bloom-filter variant
    // (stat.bloomFilter + might_contain) measured SLOWER at sf0.1
    // because its build is two extra driver-BLOCKING actions; for a
    // bench side too large to broadcast, that form is the escape
    // hatch (see bloomNewDocs for the machinery).
    val wt = positionalWindows(train, idCol, textCol, k)
      .join(broadcast(wb.select(col("h")).distinct()), Seq("h"), "left_semi")
      .stage()
    val hot = wt.unionByName(wb).groupBy(col("h"))
      .agg(count_distinct(col("id")).as("df"), count(lit(1)).as("occ"))
      .filter(col("df") > maxDf || col("occ") > maxOccurrences)
      .select(col("h"))
    val pt = wt.join(broadcast(hot), Seq("h"), "left_anti")
    val pb = wb.join(broadcast(hot), Seq("h"), "left_anti")
    val matches = pt
      .select(col("h"), col("id").as("train_id"), col("pos").as("pt"))
      .hint("shuffle_hash")
      .join(pb.select(col("h"), col("id").as("bench_id"), col("pos").as("pb")),
        Seq("h"))
      .select(col("train_id"), col("bench_id"), col("pt"), col("pb"))
    val diag = col("pt") - col("pb")
    matches
      .withColumn("g", col("pt") - row_number().over(
        Window.partitionBy(col("train_id"), col("bench_id"), diag)
          .orderBy(col("pt"))))
      .groupBy(col("train_id"), col("bench_id"), diag.as("d"), col("g"))
      .agg(min(col("pt")).as("t0"), min(col("pb")).as("b0"),
        count(lit(1)).as("n_windows"))
      .filter(col("n_windows") >= minWindows)
      .select(col("train_id"), col("bench_id"),
        col("t0").cast("bigint").as("train_start"),
        col("b0").cast("bigint").as("bench_start"),
        col("n_windows"),
        (col("n_windows") + (k - 1)).as("span_tokens"))
  }

  /** Remove benchmark-contaminated spans from training documents —
    * the CONSUMER of [[contaminationSpans]], exactly as
    * [[trimSelfSpans]] consumes [[selfSpans]]: every reported span's
    * token positions in the TRAINING doc are cut (interval union
    * across overlapping spans from different benchmark docs), and the
    * survivors rebuild the document. This is the repair mode of
    * decontamination — drop the leaked benchmark text, keep the rest
    * of the document — where [[Contamination.score]]-based filtering
    * drops whole documents.
    *
    * Output: (doc_id, n_tokens, n_removed, trimmed_text) over the
    * TRAINING side; same shape, same scale argument as trimSelfSpans
    * (removed positions bounded by span lengths; the rebuild groups
    * by document).
    */
  def trimContamination(train: DataFrame, bench: DataFrame,
                        idCol: String, textCol: String,
                        k: Int = 5, minWindows: Int = 2,
                        maxDf: Int = 50, maxOccurrences: Int = 1000)
      : DataFrame = {
    val removed = contaminationSpans(train, bench, idCol, textCol,
      k, minWindows, maxDf, maxOccurrences)
      .select(col("train_id").as("doc_id"),
        explode(sequence(col("train_start"),
          col("train_start") + col("span_tokens") - 1)).as("pos"))
      .distinct()
    val toks = train
      .select(col(idCol).as("doc_id"),
        split(TextAnalysis.normalize(col(textCol)), " ").as("w"))
      .select(col("doc_id"), size(col("w")).cast("bigint").as("n_tokens"),
        posexplode(col("w")))
      .select(col("doc_id"), col("n_tokens"),
        col("pos").cast("bigint").as("pos"), col("col").as("tok"))
    val trimmed = toks.join(removed, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s("tok")), " ").as("trimmed_text"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - col("n_kept")).as("n_removed"),
        col("trimmed_text"))
    // preserve every training doc_id (NULL-text docs produce no
    // posexplode rows), as trimSelfSpans does
    train.select(col(idCol).as("doc_id"))
      .join(trimmed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        col("trimmed_text"))
  }

  /** Intra-document repeated blocks — [[sharedSpans]]' within-doc
    * twin: every maximal run of >= `minWindows` consecutive k-token
    * windows that recurs LATER in the SAME document, reported with
    * both offsets. This is the structural form of the repetition
    * problem the [[TextAnalysis.repetition]] fractions only score:
    * a generation loop or copy-pasted boilerplate shows up here as a
    * long span at a fixed self-offset.
    *
    * Same islands machinery as sharedSpans on diagonal d = b_pos −
    * a_pos > 0, but the candidate join keys on (hash, id) — matches
    * never cross documents, so the fan-out per key is the within-doc
    * multiplicity (tiny) and no df cap is needed; cost is linear in
    * corpus size with strictly document-local shuffle keys.
    *
    * Output: (doc_id, a_start, b_start, n_windows, span_tokens) with
    * a_start < b_start, 0-based.
    */
  /** Remove intra-document repeated blocks — the CONSUMER of
    * [[selfSpans]]: every later occurrence that selfSpans reports is
    * cut, keeping the first. Returns (doc_id, n_tokens, n_removed,
    * trimmed_text) with trimmed_text over NORMALIZED tokens (the
    * token space the spans are computed in).
    *
    * Shape: spans explode into removed-position rows (bounded by
    * span lengths, never corpus size), distinct-ed per (doc, pos)
    * since overlapping spans from different diagonals can claim the
    * same token; surviving tokens rebuild the document with one
    * per-doc ordered collect — group size is document length, the
    * operator's natural unit. Every piece (the span detector, the
    * interval union, the rebuild) replays in SQL, so the oracle
    * checks the repaired text itself.
    */
  def trimSelfSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, minWindows: Int = 2): DataFrame = {
    val removed = selfSpans(docs, idCol, textCol, k, minWindows)
      .select(col("doc_id"), explode(sequence(col("b_start"),
        col("b_start") + col("span_tokens") - 1)).as("pos"))
      .distinct()
    val toks = docs
      .select(col(idCol).as("doc_id"),
        split(TextAnalysis.normalize(col(textCol)), " ").as("w"))
      .select(col("doc_id"), size(col("w")).cast("bigint").as("n_tokens"),
        posexplode(col("w")))
      .select(col("doc_id"), col("n_tokens"),
        col("pos").cast("bigint").as("pos"), col("col").as("tok"))
    val trimmed = toks.join(removed, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s("tok")), " ").as("trimmed_text"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - col("n_kept")).as("n_removed"),
        col("trimmed_text"))
    // join back onto the full id set: a NULL-text document produces no
    // posexplode rows and would silently vanish — the sibling
    // operators (perplexity, BPE encode) preserve every doc_id with
    // zero counts, and so does this one (trimmed_text stays NULL)
    docs.select(col(idCol).as("doc_id"))
      .join(trimmed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        col("trimmed_text"))
  }

  def selfSpans(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 5, minWindows: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // persist(): both sides of the (hash, id) self-join read this
    // table (session-scoped cache, as in ngramJaccardPairs).
    val windows = positionalWindows(docs, idCol, textCol, k)
      .stage()
    val matches = windows.select(col("h"), col("id"), col("pos").as("pa"))
      .hint("shuffle_hash")
      .join(windows.select(col("h"), col("id"), col("pos").as("pb")),
        Seq("h", "id"))
      .filter(col("pa") < col("pb"))
      .select(col("id"), col("pa"), col("pb"))
    val diag = col("pb") - col("pa")
    matches
      .withColumn("g", col("pa") - row_number().over(
        Window.partitionBy(col("id"), diag).orderBy(col("pa"))))
      .groupBy(col("id").as("doc_id"), diag.as("d"), col("g"))
      .agg(min(col("pa")).as("a_start0"), min(col("pb")).as("b_start0"),
        count(lit(1)).as("n_windows"))
      .filter(col("n_windows") >= minWindows)
      .select(col("doc_id"),
        col("a_start0").cast("bigint").as("a_start"),
        col("b_start0").cast("bigint").as("b_start"),
        col("n_windows"),
        (col("n_windows") + (k - 1)).as("span_tokens"))
  }

  /** Marginal-novelty scoring (the selection signal of D4, Tirumala
    * et al. 2023 arXiv:2308.12284, and SlimPajama-style curation
    * readouts): processing documents in a fixed corpus order (doc_id
    * asc — the deterministic stand-in for arrival order), score each
    * document by the fraction of its DISTINCT word k-shingles no
    * earlier document contained. High-novelty docs carry new content;
    * a near-zero score marks a doc whose material is already covered
    * — the complement of [[dupNgramCoverage]], which counts repeated
    * POSITIONS regardless of who saw them first.
    *
    * Scale shape: first-owner election is one groupBy(shingle) →
    * min(doc_id) — the same partial-aggregated shuffle as exact
    * dedup, no windows, no ordering barrier (min() IS the "earliest
    * doc" semantics, so the corpus order never has to be sorted).
    * The count-back is one co-partitioned join on the shingle plus a
    * groupBy(doc_id). Nothing is all-pairs; no key exceeds shingle
    * cardinality.
    *
    * Output: (doc_id, n_shingles, n_novel, novel_frac) — novel_frac
    * NULL only for a doc with zero shingles (cannot happen under
    * [[shingles]]' short-text fallback, kept for contract symmetry
    * with [[dupNgramCoverage]]).
    */
  def noveltyScores(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    // staged: both the election and the count-back join read the
    // exploded shingle table (session-scoped cache, as in
    // ngramJaccardPairs / dupNgramCoverage)
    val base = docs.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), k)).as("gm")).stage()
    val first = base.groupBy(col("gm")).agg(min(col("doc_id")).as("first_doc"))
    val per = base.join(first, Seq("gm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
    docs.select(col(idCol).as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0,
          lit(null).cast("double"))
          .otherwise(graft.functions.ExactRound.ratio6(
            coalesce(col("n_novel"), lit(0L)), col("n_shingles")))
          .as("novel_frac"))
  }

  /** Corpus-wide duplicate-SENTENCE removal — the paragraph/line
    * dedup stage of the C4 and Dolma pipelines (Raffel et al. 2020
    * §2.2 "three-sentence spans"; Soldaini et al. 2024 §2.3
    * paragraph dedup), the stage that strips boilerplate ("subscribe
    * to our newsletter") repeated across thousands of pages —
    * DOCUMENT-level dedup (exact, MinHash) never sees it because the
    * hosting documents differ.
    *
    * Sentences split on the [[Chunker.sentenceChunks]] terminator
    * rule; a sentence is a duplicate iff an identical sentence occurs
    * earlier in the corpus order (doc_id, sent_idx) — keep-first, so
    * exactly one copy survives corpus-wide and the operator is a
    * pure function of the input. Per document the readout reports
    * the counts and the REBUILT text (kept sentences, original
    * order, space-joined) with its md5 as the byte-level contract.
    *
    * Scale shape: one posexplode + ONE sentence-hash-keyed rollup
    * (first occurrence = min (doc_id, sent_idx) struct — an
    * aggregate, not a window, so the reduction is map-side-combined)
    * + one hash-keyed join back + one doc-keyed rebuild rollup.
    * Never corpus × corpus; the rebuild's collect_list is
    * document-sized. Documents with zero sentences (empty text) have
    * no rows to rebuild and are absent from the output.
    *
    * Output: (doc_id, n_sents, n_dropped, dup_frac, clean_len,
    * clean_md5).
    */
  def dedupSentences(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val norm = regexp_replace(TextAnalysis.normalize(col(textCol)),
      "\u0001", "")
    val marked = regexp_replace(norm, "([.!?]) ", "$1\u0001")
    val sents = docs
      .select(col(idCol).as("doc_id"), posexplode(split(marked, "\u0001")))
      .select(col("doc_id"), col("pos").cast("bigint").as("sent_idx"),
        col("col").as("sentence"))
      .filter(size(filter(split(col("sentence"), " "),
        t => length(t) > 0)) > 0)
      .withColumn("h", md5(col("sentence")))
      .stage()
    val firsts = sents.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("sent_idx"))).as("first"))
    sents.join(firsts, Seq("h"))
      .withColumn("keep",
        col("doc_id") === col("first.doc_id") &&
          col("sent_idx") === col("first.sent_idx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sents"),
        sum(when(col("keep"), lit(0L)).otherwise(lit(1L))).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("sent_idx"), col("sentence"))))),
          x => x.getField("sentence")), " ").as("clean"))
      .select(col("doc_id"), col("n_sents"), col("n_dropped"),
        graft.functions.ExactRound.ratio6(col("n_dropped"), col("n_sents"))
          .as("dup_frac"),
        length(col("clean")).cast("bigint").as("clean_len"),
        md5(col("clean")).as("clean_md5"))
  }
}
