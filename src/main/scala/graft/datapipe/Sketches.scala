package graft.datapipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch (Cormode & Muthukrishnan 2005) over a token
  * stream — the frequency primitive for when the vocabulary does NOT
  * fit anywhere: the sketch is a fixed depth×width count matrix, so
  * at 100 TB the shuffle carries (row, bucket, count) partials into
  * at most depth·width cells no matter how many distinct tokens
  * exist, and the estimate for any token is min over rows of its
  * bucket's count — an overestimate by construction (collisions only
  * add), never an undercount.
  *
  * Hash contract: row r hashes token t to
  * `md5_60("cms:" + r + ":" + t) mod width` — the catalog's
  * engine-portable md5 convention ([[TextAnalysis.md5Long60]]), so an
  * external engine rebuilds the identical sketch cell-for-cell with
  * no shipped state.
  */
object Sketches {

  /** The sketch itself: (r, b, cnt) rows, one per touched cell.
    * `tokens` must be a single-column DataFrame of token strings.
    */
  def cmsCounts(tokens: DataFrame, tokenCol: String,
                depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch shape: $depth x $width")
    tokens.select(explode(array((0 until depth).map { r =>
        struct(lit(r.toLong).as("r"), cmsBucket(col(tokenCol), r, width).as("b"))
      }: _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Row-r bucket of a token — shared by build and probe sides so
    * the string contract lives in exactly one place.
    */
  def cmsBucket(token: Column, r: Int, width: Int): Column =
    TextAnalysis.md5Long60(concat(lit(s"cms:$r:"), token)) % width

  /** Point estimates for a (small) probe table: min over rows of the
    * probed cell. `probes` carries `tokenCol` (plus any passthrough
    * columns, which survive); the probe side broadcasts — it is the
    * heavy-hitter candidate list, never the corpus.
    */
  def cmsEstimate(cms: DataFrame, probes: DataFrame, tokenCol: String,
                  depth: Int, width: Int): DataFrame = {
    val keep = probes.columns.map(col).toSeq
    val probed = probes.select(keep :+ explode(array((0 until depth).map { r =>
        struct(lit(r.toLong).as("r"), cmsBucket(col(tokenCol), r, width).as("b"))
      }: _*)).as("p"): _*)
      .select(keep :+ col("p.r").as("r") :+ col("p.b").as("b"): _*)
    cms.join(broadcast(probed), Seq("r", "b"))
      .groupBy(probes.columns.toIndexedSeq.map(col): _*)
      .agg(min(col("cnt")).as("cms_est"))
  }

  /** HyperLogLog registers (Flajolet et al. 2007) per group — the
    * distinct-count primitive for when the distinct set does NOT fit
    * anywhere: state is m registers per group no matter how many
    * distinct items exist, and the whole build is one max-aggregation
    * (so Structured Streaming maintains it incrementally, like the
    * CMS above).
    *
    * Hash contract: h = md5_60("hll:" + item); register j = h mod m;
    * rho = (60 - p) - bitlength(h >> p) + 1 with p = log2(m), where
    * bitlength is `length(bin(v))` — `bin` (minimal binary string, no
    * padding, "0" for zero) exists identically in Spark and e.g.
    * DuckDB, so an external engine rebuilds the registers
    * bit-for-bit with no shipped state.
    *
    * Output: (groupCols…, j, rho_max).
    */
  def hllRegisters(items: DataFrame, itemCol: String, m: Int,
                   groupCols: Seq[String]): DataFrame = {
    require(m >= 16 && (m & (m - 1)) == 0, s"m must be a power of two >= 16: $m")
    val p = Integer.numberOfTrailingZeros(m)
    val w = 60 - p
    val h = TextAnalysis.md5Long60(concat(lit("hll:"), col(itemCol)))
    val v = shiftright(h, p)
    items
      .select(groupCols.map(col) :+ (h % m).as("j") :+
        when(v === 0, lit(w + 1))
          .otherwise(lit(w + 1) - length(bin(v))).cast("long").as("rho"): _*)
      .groupBy((groupCols :+ "j").map(col): _*)
      .agg(max(col("rho")).as("rho_max"))
  }

  /** The HLL estimate from a register table: raw = alpha_m·m²/Z with
    * Z = Σ_j 2^(−M_j) (absent registers count M_j = 0), switching to
    * linear counting m·ln(m/V) when raw ≤ 2.5m and V = m − hits > 0.
    *
    * Engine-portability: Z is carried as the EXACT integer
    * S = Σ_j 2^(max_rho − M_j) (each addend a shiftleft, summed as
    * BIGINT — order-independent), so the only floating-point work is
    * one fixed-shape expression over two exact integers — identical
    * IEEE ops in any engine.
    *
    * Shape: ONE aggregation over the register table — hits, the rho
    * maximum, and the ≤ m register values (`collect_list`, bounded by
    * the PARAMETER m, never the data) come out of a single pass, and
    * S folds over the array with `aggregate`. The r9 two-branch form
    * (heads + join-back) consumed `regs` twice, re-running the whole
    * corpus→register pipeline per branch; staging fixed the double
    * scan but cost a materialization barrier (measured 5.7 s → 9.5 s
    * on text_distinct_hll at sf0.1) — single-consumption beats both.
    * Output: (groupCols…, n_registers_hit, max_rho, hll_est) with the
    * estimate rounded to 4 dp.
    */
  def hllEstimate(regs: DataFrame, m: Int, groupCols: Seq[String]): DataFrame = {
    val agg = regs.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("hits"), max(col("rho_max")).as("mmax"),
        collect_list(col("rho_max")).as("rhos"))
      .withColumn("s_touched", expr(
        "aggregate(rhos, CAST(0 AS BIGINT), " +
          "(acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), CAST(mmax - r AS INT)))"))
    val mD = lit(m.toDouble)
    val s = col("s_touched") +
      (lit(m.toLong) - col("hits")) * expr("shiftleft(CAST(1 AS BIGINT), CAST(mmax AS INT))")
    val raw = lit(0.7213) / (lit(1.0) + lit(1.079) / mD) * mD * mD *
      pow(lit(2.0), col("mmax").cast("double")) / s.cast("double")
    val vEmpty = lit(m.toLong) - col("hits")
    agg.select(groupCols.map(col) :+
      col("hits").as("n_registers_hit") :+ col("mmax").as("max_rho") :+
      round(when(raw <= lit(2.5 * m) && vEmpty > 0,
        mD * log(mD / vEmpty.cast("double"))).otherwise(raw), 4)
        .as("hll_est"): _*)
  }

  /** Bloom filter (Bloom 1970) — the membership primitive for when
    * even a distinct-hash set is too big to ship: state is at most
    * `mBits` set-bit rows no matter how many items were inserted, an
    * absent probe can still hit (false positive, rate ≈
    * (1−e^(−k·n/m))^k), but a present probe ALWAYS hits — the
    * no-false-negative guarantee decontamination pre-filters rely on
    * (probe the 100 TB corpus against a broadcast kilobyte-scale
    * filter; only flagged survivors reach any exact check).
    *
    * Hash contract: position i of item t is
    * `md5_60("bloom:" + i + ":" + t) mod mBits` — the catalog's
    * engine-portable md5 convention, so an external engine rebuilds
    * the identical bit set with no shipped state.
    */
  def bloomBit(item: Column, i: Int, mBits: Int): Column =
    TextAnalysis.md5Long60(concat(lit(s"bloom:$i:"), item)) % mBits

  /** The filter itself: distinct (bit,) rows — one partial-aggregated
    * shuffle bounded by `mBits` cells.
    */
  def bloomBits(items: DataFrame, itemCol: String, k: Int,
                mBits: Int): DataFrame = {
    require(k >= 1 && mBits >= 2, s"bad filter shape: $k x $mBits")
    items.select(explode(array((0 until k).map(i =>
        bloomBit(col(itemCol), i, mBits)): _*)).as("bit"))
      .distinct()
  }

  /** Ordered seen-before scoring with Bloom semantics (the
    * streaming-dedup rule of Dolma-style bloom dedupers, replayed in
    * batch): processing documents in doc_id order within `shards`
    * independent filters, a document is `seen_before` iff EVERY one
    * of its k content-hash bit positions was set by some STRICTLY
    * earlier document of its shard. Exact dedup flags only true
    * content twins; this flags them PLUS the bloom's false-positive
    * margin — the price of kilobyte state per shard, and exactly the
    * production trade a streaming gate makes
    * ([[graft.streaming.Streams]] carries the stateful twin; this
    * batch form is its deterministic certificate).
    *
    * No floating point anywhere: fingerprints, shard ids, and bit
    * positions are all md5-contract integers, so the oracle replay
    * is exact by construction. Scale shape: first-setter election is
    * one groupBy((shard, bit)) → min(doc_id) (key space ≤
    * shards·mBits), then one co-partitioned join back and a per-doc
    * max — the same two-shuffle shape as exact dedup, state bounded
    * by the PARAMETERS.
    *
    * Output: (doc_id, shard, seen_before).
    */
  def bloomSeenScores(docs: DataFrame, idCol: String, textCol: String,
                      k: Int, mBits: Int, shards: Int): DataFrame = {
    val keyed = bloomGateKeys(docs, idCol, textCol, k, mBits, shards)
      .select(col("doc_id"), col("shard"), explode(col("bits")).as("bit"))
    val first = keyed.groupBy(col("shard"), col("bit"))
      .agg(min(col("doc_id")).as("first_doc"))
    keyed.join(first, Seq("shard", "bit"))
      .groupBy(col("doc_id"), col("shard"))
      .agg(max(col("first_doc")).as("mf"))
      .select(col("doc_id"), col("shard"),
        (col("mf") < col("doc_id")).as("seen_before"))
  }

  /** (doc_id, shard, bits) of the seen-before gate, shared by
    * [[bloomSeenScores]] and its stream twin
    * [[graft.streaming.Streams.bloomSeenStream]]: the shard is
    * `md5_60("shard:" + fp) mod shards` and `bits` the k positions
    * [[bloomBit]] gives the content fingerprint `fp`.
    */
  def bloomGateKeys(docs: DataFrame, idCol: String, textCol: String,
                    k: Int, mBits: Int, shards: Int): DataFrame = {
    require(k >= 1 && mBits >= 2 && shards >= 1, "bad gate shape")
    docs.select(col(idCol).as("doc_id"),
        TextAnalysis.fingerprint(col(textCol)).cast("string").as("fp"))
      .select(col("doc_id"),
        pmod(TextAnalysis.md5Long60(concat(lit("shard:"), col("fp"))),
          lit(shards.toLong)).as("shard"),
        array((0 until k).map(i => bloomBit(col("fp"), i, mBits)): _*).as("bits"))
  }

  /** Membership probe: `member` is true iff ALL k positions of the
    * item are set — tested as ZERO missed positions, not an exact
    * hit count: duplicate probe rows collapse into one group whose
    * counts are multiples of k, and `count(hit) === k` would report
    * a false NEGATIVE for a genuinely inserted item (violating the
    * Bloom guarantee). A miss is a miss at any multiplicity. One
    * output row per DISTINCT probe tuple either way.
    *
    * The FILTER side broadcasts (mBits-bounded); the probe side is
    * the corpus — the join is map-side, and the only shuffle is the
    * partial-aggregated regroup to one row per probe.
    */
  def bloomProbe(bits: DataFrame, probes: DataFrame, itemCol: String,
                 k: Int, mBits: Int): DataFrame = {
    val keep = probes.columns.map(col).toSeq
    probes.select(keep :+ explode(array((0 until k).map(i =>
        bloomBit(col(itemCol), i, mBits)): _*)).as("bit"): _*)
      .join(broadcast(bits.select(col("bit"), lit(1).as("hit"))),
        Seq("bit"), "left")
      .groupBy(keep: _*)
      .agg((count(when(col("hit").isNull, 1)) === 0).as("member"))
  }
}
