package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.datapipe.Staging.Staged

/** Structured Streaming twins of the reference pipeline
  * (SURVEY.md §2.9, §3.1).
  *
  * The reference's hot path is: Kafka Avro consume → verify →
  * metrics. Here: `readStream` → the same column transforms the
  * batch engine uses (they're pure `DataFrame => DataFrame`) →
  * windowed stateful aggregation → sink. Batch and streaming share
  * one code path; only source/sink wiring differs.
  *
  * Kafka wiring (no broker in this container, shape per the Spark
  * docs): `spark.readStream.format("kafka")
  * .option("subscribe", topic).option("startingOffsets", "latest")`
  * → `from_avro($"value", schemaJson)` — startingOffsets=latest
  * matches the consumer's auto.offset.reset
  * (kafka_consumer/app/handlers/kafka_consumer.py:52).
  */
object Streams {

  /** S2: the real Kafka reader — `format("kafka")` with the
    * consumer's offset semantics (auto.offset.reset=latest,
    * kafka_consumer/app/handlers/kafka_consumer.py:44-55). Produces
    * the standard Kafka frame (key/value binary + topic/partition/
    * offset/timestamp); feed it to [[decodeTradeEvents]] for the S3
    * Avro ingress. No broker runs in this harness, so this is wiring
    * (construction is lazy — nothing connects until a query starts);
    * the decode path itself is exercised by StreamingSpec over a
    * memory source carrying codec-encoded bytes.
    */
  def kafkaAvroStream(spark: SparkSession, brokers: String,
                      topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .load()

  /** S3: binary Avro `value` column (batch OR streaming frame) →
    * typed TradeEvents — [[graft.ops.TradeAvroOps.decode]] is a row
    * expression, which Structured Streaming applies per micro-batch
    * unchanged.
    */
  def decodeTradeEvents(kafkaShaped: DataFrame): Dataset[graft.model.TradeEvent] =
    graft.ops.TradeAvroOps.decode(kafkaShaped)

  /** K2: typed TradeEvents → Kafka-shaped (key=symbol, value=binary
    * Avro) rows. On a cluster, chain `.writeStream.format("kafka")
    * .option("topic", ...)`; the harness sinks the same frame to
    * parquet via [[runToParquet]] and StreamingSpec round-trips it.
    */
  def encodeTradeEvents(events: Dataset[graft.model.TradeEvent]): DataFrame =
    graft.ops.TradeAvroOps.encode(events)

  /** S2/S3 batch-twin file source: stream the events table as if it
    * were the Kafka topic (file source replays deterministically).
    */
  def eventsFileStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    // `events.ts` has shipped both as INT64 nanos and TIMESTAMP(MICROS)
    // (see Tables.table); a file-stream needs an explicit schema, so
    // probe the batch footer once for the physical ts dtype and build
    // the matching stream schema + normalization.
    val tsType = spark.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // file-stream sources need a directory; glob-filter to the events
    // table inside the sf dir
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    tsType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** S1 replay: deterministic WS frame JSON from a sequence number —
    * the synthesizer's wire shape (`{"type":"trade","data":[{c,p,s,
    * t,v},…]}` / `{"type":"ping"}`, finnhub.go:172-224,
    * models/types.go:9-16,37-40) built with `to_json` so the
    * generator is pure codegen'd columns. Every 10th frame is the
    * keepalive ping the read loop discards; trade frames batch 1-3
    * trades; every 5th trade has a null condition array (the
    * default-fill path). ALL fields derive from `seq` alone, so a
    * rate-source stream and a `spark.range` batch over the same seq
    * interval produce byte-identical frames — the property the
    * stream==batch twin spec leans on. `t` is unique per trade
    * (base + 3·seq + i), so downstream rows are re-keyable to their
    * frame.
    */
  def wsFrameJson(seq: Column): Column = {
    def trade(i: Int): Column = {
      val s2 = seq * 3 + i
      struct(
        when(s2 % 5 === 0, lit(null).cast("array<string>"))
          .otherwise(array((s2 % 4).cast("string"))).as("c"),
        (lit(100.0) + (s2 % 1000).cast("double") / 100.0).as("p"),
        concat(lit("SYM"), s2 % 7).as("s"),
        (lit(WsReplayEpochMs) + s2).as("t"),
        ((s2 % 50).cast("double") / 10.0).as("v"))
    }
    when(seq % 10 === 9, lit("""{"type":"ping"}"""))
      .otherwise(to_json(struct(lit("trade").as("type"),
        slice(array(trade(0), trade(1), trade(2)), lit(1),
          (seq % 3 + 1).cast("int")).as("data"))))
  }

  /** Trade timestamps start here (2024-01-01T00:00:00Z in ms) —
    * exposed so consumers can recover `seq = (t - base) div 3`. */
  val WsReplayEpochMs: Long = 1704067200000L

  /** S1 replay twin of the live Finnhub WS connector
    * (finnhub.go:59-169 connect/subscribe/read loop): an UNBOUNDED
    * rate-source stream of frame JSON in the exact wire shape,
    * feeding [[graft.ops.EventOps.parseWsFrames]] and the rest of
    * the hot path exactly as the socket would — the closest a
    * zero-egress harness gets to the live source, and unlike the
    * MemoryStream twins it exercises a real continuously-producing
    * source with backpressure and micro-batch offsets. A real
    * deployment swaps this one `readStream` for a socket/WS
    * connector; every downstream transform is unchanged.
    */
  def wsReplayStream(spark: SparkSession, rowsPerSecond: Int = 1000,
                     numPartitions: Int = 4): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toLong)
      .option("numPartitions", numPartitions.toLong)
      .load()
      .select(col("value").as("seq"), wsFrameJson(col("value")).as("raw"))

  /** Batch twin of [[wsReplayStream]] over seq ∈ [0, n). */
  def wsReplayBatch(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("seq"),
      wsFrameJson(col("id")).as("raw"))

  /** A3 streaming twin: tumbling event-time window with watermark;
    * late data beyond the watermark is dropped (the reference has no
    * late-data policy at all — SURVEY.md §2.9 — so "drop + count"
    * is ours by design).
    */
  def tumblingCounts(events: DataFrame, windowLen: String = "10 seconds",
                     watermark: String = "30 seconds"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** A1 streaming twin: running grouped counters (update-mode state,
    * the Prometheus-counter shape).
    */
  def groupedCounters(events: DataFrame): DataFrame =
    events.groupBy(col("event_type")).agg(count(lit(1)).as("n"))

  /** Q2/A2 streaming twin: the duration-histogram COUNTER state the
    * reference's verification p95 actually scrapes
    * (metrics.py:125-130 Histogram + PromQL histogram_quantile) —
    * per (label set, fixed-width ms bucket), a running count in
    * update mode. State is one long per (labels × bucket), exactly
    * the batch `q2_p95_verification` histogram; the crossing-bucket
    * interpolation is a per-scrape READOUT over those counts (batch
    * code on each snapshot), so stream and batch agree bucket-count
    * for bucket-count — the property StreamingSpec pins.
    */
  def durationHistogram(rows: DataFrame, labels: Seq[String],
                        msCol: String, wMs: Long): DataFrame =
    rows.groupBy(labels.map(col) :+
        floor(col(msCol) / lit(wMs.toDouble)).cast("long").as("b"): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Session windows on the stream: dynamic-gap state that closes a
    * session only when the watermark passes gap beyond its last
    * event — the stream twin of the batch q_sessionize entry.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "30 seconds"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"), col("n"))

  /** K2/K3-style sink: checkpointed parquet append via AvailableNow
    * (bounded-run semantics = the reference's MESSAGE_COUNT /
    * PRODUCER_TIMEOUT, S4).
    */
  def runToParquet(df: DataFrame, outPath: String,
                   checkpoint: String): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** K3: structured-log sink — JSON-lines append (the reference's
    * consumer writes JSON result logs; kafka_consumer/app/handlers/
    * kafka_event_handler.py result records). Checkpointed like the
    * parquet sink, human/jq-greppable output.
    */
  def runToJsonLog(df: DataFrame, outPath: String,
                   checkpoint: String): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .format("json")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming exact dedup (the datapipe's dedup_exact as a stream):
    * `dropDuplicatesWithinWatermark` keys state by the id column and
    * EVICTS state once the watermark passes — bounded state, unlike a
    * naive dropDuplicates whose key set grows forever. Duplicates
    * arriving within the watermark horizon are suppressed; that
    * horizon is the dedup guarantee a replayed/at-least-once Kafka
    * feed actually needs.
    */
  def dedupStream(events: DataFrame, idCol: String,
                  watermark: String = "30 seconds"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** State per LSH band bucket: a FIFO ring of the most recent
    * `maxPerBucket` (id, signature) entries. Arrays are sized to the
    * live count while the bucket fills (each append is one flat
    * array copy), then become a fixed circular buffer: `pos` is the
    * oldest slot and each arrival overwrites it in place — O(1)
    * steady state, no per-record `Seq :+`/`takeRight` rebuilds.
    */
  final case class BucketState(ids: Array[Long], sigs: Array[Array[Long]],
                               pos: Int)

  /** Streaming near-duplicate detection — the streaming twin of
    * [[graft.datapipe.Dedup.minhashPairs]]: each incoming document's
    * minhash signature is banded into LSH bucket keys, and
    * `flatMapGroupsWithState` keyed BY BUCKET compares it against the
    * bucket's recent entries, emitting (a_id, b_id, est_jaccard) for
    * signature agreement ≥ `threshold` (est_jaccard = matching
    * signature components / numHashes, the unbiased minhash
    * estimator).
    *
    * Scale/state design: each bucket holds at most `maxPerBucket`
    * recent entries (arrival-ordered ring), and `stateTtl` bounds the
    * NUMBER of live buckets by timing out idle ones — together they
    * give near-dup-vs-RECENT semantics with fully bounded state, the
    * same tradeoff as dedupStream's watermark horizon; unbounded
    * bucket state is the streaming scale-killer. A pair
    * sharing several bands can be emitted once per shared band (and
    * once per redelivery); this operator stays one shuffle wide, and
    * [[nearDupStreamExactOnce]] layers the pair-keyed dedup stage on
    * top for exact-once emission.
    *
    * `tsCol` (optional) threads an event-time column through the
    * stateful stage: each pair row then carries the EMITTING
    * arrival's timestamp as `ts` — the handle the exact-once wrapper
    * needs for its watermark.
    */
  def nearDupStream(docs: DataFrame, idCol: String, textCol: String,
                    numHashes: Int = 64, bands: Int = 32,
                    threshold: Double = 0.8,
                    maxPerBucket: Int = 64,
                    stateTtl: Option[String] = None,
                    tsCol: Option[String] = None): DataFrame = {
    graft.datapipe.Dedup.requireValidBanding(numHashes, bands)
    require(maxPerBucket > 0,
      s"maxPerBucket ($maxPerBucket) must be positive — an empty ring " +
        "compares every arrival against nothing and silently emits no pairs")
    require(threshold > 0 && threshold <= 1,
      s"threshold ($threshold) must be in (0, 1] — above 1 nothing can match")
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val rowsPerBand = numHashes / bands
    val sigged = docs.select(col(idCol).cast("long").as("id"),
      graft.datapipe.Dedup.hashedShingles(col(textCol), 3).as("hh"),
      tsCol.map(col).getOrElse(lit(null)).cast("timestamp").as("ts"))
      // a null text yields a null hash array → an all-null signature;
      // drop it HERE like the batch twin's joins do, or the row kills
      // the whole query at the non-nullable tuple decode below
      .filter(col("id").isNotNull && col("hh").isNotNull)
      .select(col("id"),
        graft.datapipe.Dedup.minhashSignatureFromHashes(col("hh"), numHashes)
          .as("sig"),
        col("ts"))
      .select(col("id"), col("sig"), col("ts"),
        explode(graft.datapipe.Dedup.lshBuckets(col("sig"), bands, rowsPerBand))
          .as("bb"))
    // stateTtl bounds the NUMBER of live buckets (maxPerBucket only
    // bounds each bucket's size): idle buckets time out and drop.
    // Default None keeps NoTimeout for the same reason as
    // cachedResolutionStream — ProcessingTimeTimeout schedules
    // no-data batches that make processAllAvailable() hang in
    // deterministic tests; production streams should pass a TTL about
    // as long as their redelivery/near-dup horizon.
    val timeoutConf = if (stateTtl.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    val pairs = sigged.as[(Long, Seq[Long], java.sql.Timestamp, Long)]
      .groupByKey(_._4)
      .flatMapGroupsWithState[BucketState, (Long, Long, Double, java.sql.Timestamp)](
        OutputMode.Append, timeoutConf) { (_, rows, state) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          var st = state.getOption
            .getOrElse(BucketState(Array.emptyLongArray, Array.empty, 0))
          val out = Seq.newBuilder[(Long, Long, Double, java.sql.Timestamp)]
          rows.foreach { case (id, sig, ts, _) =>
            val sigArr = sig.toArray
            var j = 0
            while (j < st.ids.length) {
              val cid = st.ids(j)
              if (cid != id) {
                val csig = st.sigs(j)
                var same = 0
                var i = 0
                while (i < numHashes) {
                  if (sigArr(i) == csig(i)) same += 1
                  i += 1
                }
                val est = same.toDouble / numHashes
                if (est >= threshold)
                  out += ((math.min(id, cid), math.max(id, cid), est, ts))
              }
              j += 1
            }
            st = if (st.ids.length < maxPerBucket) {
              val n = st.ids.length
              val ids2 = java.util.Arrays.copyOf(st.ids, n + 1)
              val sigs2 = java.util.Arrays.copyOf(st.sigs, n + 1)
              ids2(n) = id
              sigs2(n) = sigArr
              BucketState(ids2, sigs2, 0)
            } else {
              // full: overwrite the oldest slot in place, advance pos
              st.ids(st.pos) = id
              st.sigs(st.pos) = sigArr
              BucketState(st.ids, st.sigs, (st.pos + 1) % maxPerBucket)
            }
          }
          state.update(st)
          stateTtl.foreach(state.setTimeoutDuration)
          out.result().iterator
        }
      }
      .toDF("a_id", "b_id", "est_jaccard", "ts")
    if (tsCol.isDefined) pairs else pairs.drop("ts")
  }

  /** Exact-once pair emission: the bucket stage above can emit a
    * pair once per shared band and once per redelivery; this wrapper
    * dedups on (a_id, b_id) with `dropDuplicatesWithinWatermark`,
    * whose pair-keyed state — like [[dedupStream]]'s — is EVICTED
    * once the watermark passes, so the exact-once guarantee spans
    * the same bounded horizon the rest of the pipeline promises (a
    * pair re-surfacing after the horizon re-emits, by design —
    * that's the near-dup-vs-RECENT contract). Two stateful stages,
    * each one shuffle wide: bucket key, then pair key. Requires an
    * event-time column on the documents; the emitted row keeps the
    * first-emission `ts` and `est_jaccard`.
    */
  def nearDupStreamExactOnce(docs: DataFrame, idCol: String, textCol: String,
                             tsCol: String, watermark: String = "30 seconds",
                             numHashes: Int = 64, bands: Int = 32,
                             threshold: Double = 0.8,
                             maxPerBucket: Int = 64,
                             stateTtl: Option[String] = None): DataFrame =
    nearDupStream(docs, idCol, textCol, numHashes, bands, threshold,
      maxPerBucket, stateTtl, tsCol = Some(tsCol))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("a_id", "b_id")

  /** Streaming twin of [[graft.datapipe.Dedup.minhashProbe]]: the
    * delta arrives as an UNBOUNDED stream (today's crawl, live) and
    * probes the STATIC already-deduped index — the ingest-gate
    * placement of the incremental near-dup probe. Unlike
    * [[nearDupStream]] (new-vs-RECENT, bounded bucket-ring state)
    * this is new-vs-CORPUS with ZERO stream state in the detection
    * path: band-bucket candidates and the exact-Jaccard verification
    * are two stream-STATIC inner joins (stateless per micro-batch —
    * the arrival's sorted hash array rides its own rows, so no
    * stream-stream join and no watermark is needed to verify). The
    * only stateful stage is the exact-once pair dedup
    * (`dropDuplicatesWithinWatermark` on (delta_id, index_id), same
    * bounded-horizon contract as [[nearDupStreamExactOnce]]) guarding
    * against multi-band emission and redelivery.
    *
    * The static side is staged (at scale it is the materialized index
    * signature/bucket artifact, computed once and appended per
    * ingest). Emits the same exact set Jaccard as the batch twin —
    * `StreamingSpec` pins stream == batch values.
    *
    * Output: (delta_id, index_id, jaccard, ts).
    */
  def probeStream(delta: DataFrame, index: DataFrame,
                  idCol: String, textCol: String, tsCol: String,
                  watermark: String = "30 seconds",
                  numHashes: Int = 64, bands: Int = 32,
                  threshold: Double = 0.8): DataFrame = {
    import graft.datapipe.Dedup
    Dedup.requireValidBanding(numHashes, bands)
    val ihh = index.select(col(idCol).cast("long").as("index_id"),
      array_sort(Dedup.hashedShingles(col(textCol), 3)).as("index_id_hh"))
      .stage()
    val ibk = Dedup.minhashBucketsTable(ihh.withColumn("sig",
      Dedup.minhashSignatureFromHashes(col("index_id_hh"), numHashes)),
      numHashes, bands).stage()
    probeStaged(delta, ihh, ibk, idCol, textCol, tsCol, watermark,
      numHashes, bands, threshold)
  }

  /** [[probeStream]] against the MATERIALIZED index tables
    * ([[graft.datapipe.Dedup.minhashIndexTable]] /
    * [[graft.datapipe.Dedup.minhashBucketsTable]] read back from
    * parquet) — the production daily-recrawl stream exactly: the
    * index side is storage, never re-hashed per trigger; only
    * arriving deltas hash. Same output and recall contract as
    * [[probeStream]] (StreamingSpec pins stream == the batch
    * prebuilt probe row-for-row).
    *
    * Output: (delta_id, index_id, jaccard, ts).
    */
  def probeStreamPrebuilt(delta: DataFrame, indexHh: DataFrame,
                          indexBuckets: DataFrame,
                          idCol: String, textCol: String, tsCol: String,
                          watermark: String = "30 seconds",
                          numHashes: Int = 64, bands: Int = 32,
                          threshold: Double = 0.8): DataFrame = {
    graft.datapipe.Dedup.requireValidBanding(numHashes, bands)
    // array_compact restores the non-null element type a parquet
    // round-trip widens (the minhashProbePrebuilt note)
    val ihh = indexHh.select(col("index_id"),
      array_compact(col("index_id_hh")).as("index_id_hh")).stage()
    val ibk = indexBuckets.select(col("index_id"), col("bb")).stage()
    probeStaged(delta, ihh, ibk, idCol, textCol, tsCol, watermark,
      numHashes, bands, threshold)
  }

  // The stream probe both index sources share, over the staged
  // (index_id, index_id_hh) and (index_id, bb) tables: arrivals hash
  // and band, meet the bucket table and the hash table in two
  // stream-static joins, pass the batch exact-Jaccard step, and dedup
  // exact-once on (delta_id, index_id) within the watermark.
  private def probeStaged(delta: DataFrame, ihh: DataFrame, ibk: DataFrame,
                          idCol: String, textCol: String, tsCol: String,
                          watermark: String, numHashes: Int, bands: Int,
                          threshold: Double): DataFrame = {
    import graft.datapipe.Dedup
    val hashed = delta.select(col(idCol).cast("long").as("delta_id"),
      array_sort(Dedup.hashedShingles(col(textCol), 3)).as("delta_hh"),
      col(tsCol).cast("timestamp").as("ts"))
      .filter(col("delta_id").isNotNull && col("delta_hh").isNotNull)
    val sigged = Dedup.bandKeys(hashed, Seq("delta_id", "delta_hh", "ts"),
      Dedup.minhashSignatureFromHashes(col("delta_hh"), numHashes),
      numHashes, bands)
    Dedup.exactJaccard(sigged.join(ibk, Seq("bb")).join(ihh, Seq("index_id")),
      "delta_hh", "index_id_hh", threshold,
      "delta_id", "index_id", "jaccard", "ts")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("delta_id", "index_id")
  }

  /** Per-band ring state for [[codeDupStream]] — the 64-bit-code
    * sibling of [[BucketState]]: one long per member instead of a
    * signature array, so a bucket's state is 16·maxPerBucket bytes.
    */
  final case class CodeBucketState(ids: Array[Long], codes: Array[Long],
                                   pos: Int)

  /** Streaming near-dup detection over 64-BIT CODES — the streaming
    * twin of [[graft.datapipe.Dedup.codePairs]], serving any code
    * generator (text simhash, image aHash via
    * [[graft.datapipe.Multimodal.aHash64]]): arrivals are banded by
    * [[graft.datapipe.Dedup.simhashBands]] slices, each band bucket
    * keeps a bounded ring of recent (id, code), and an arrival pairs
    * with every ring member within `maxHamming`. Same bounded-state
    * contract as [[nearDupStream]] (ring cap + optional TTL = recent-
    * horizon semantics; the pigeonhole completeness argument applies
    * to every pair whose earlier member is still in some shared
    * band's ring). Input: (id, code [, tsCol]). Output: (a_id, b_id,
    * hamming [, ts]); a pair sharing several bands can emit per band —
    * compose `dropDuplicatesWithinWatermark` exactly like
    * [[nearDupStreamExactOnce]] when exact-once matters.
    */
  def codeDupStream(codes: DataFrame, bands: Int = 4, maxHamming: Int = 3,
                    maxPerBucket: Int = 64,
                    stateTtl: Option[String] = None,
                    tsCol: Option[String] = None): DataFrame = {
    require(maxHamming < bands,
      "pigeonhole completeness needs maxHamming < bands")
    require(maxPerBucket > 0,
      s"maxPerBucket ($maxPerBucket) must be positive")
    import codes.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val banded = codes.select(col("id").cast("long").as("id"),
      col("code").cast("long").as("code"),
      tsCol.map(col).getOrElse(lit(null)).cast("timestamp").as("ts"))
      .filter(col("id").isNotNull && col("code").isNotNull)
      .select(col("id"), col("code"), col("ts"),
        explode(graft.datapipe.Dedup.simhashBands(col("code"), bands))
          .as("bb"))
    val timeoutConf = if (stateTtl.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    val pairs = banded.as[(Long, Long, java.sql.Timestamp, Long)]
      .groupByKey(_._4)
      .flatMapGroupsWithState[CodeBucketState, (Long, Long, Int, java.sql.Timestamp)](
        OutputMode.Append, timeoutConf) { (_, rows, state) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          var st = state.getOption
            .getOrElse(CodeBucketState(Array.emptyLongArray,
              Array.emptyLongArray, 0))
          val out = Seq.newBuilder[(Long, Long, Int, java.sql.Timestamp)]
          rows.foreach { case (id, code, ts, _) =>
            var j = 0
            while (j < st.ids.length) {
              val cid = st.ids(j)
              if (cid != id) {
                val ham = java.lang.Long.bitCount(code ^ st.codes(j))
                if (ham <= maxHamming)
                  out += ((math.min(id, cid), math.max(id, cid), ham, ts))
              }
              j += 1
            }
            st = if (st.ids.length < maxPerBucket) {
              val n = st.ids.length
              val ids2 = java.util.Arrays.copyOf(st.ids, n + 1)
              val codes2 = java.util.Arrays.copyOf(st.codes, n + 1)
              ids2(n) = id
              codes2(n) = code
              CodeBucketState(ids2, codes2, 0)
            } else {
              st.ids(st.pos) = id
              st.codes(st.pos) = code
              CodeBucketState(st.ids, st.codes, (st.pos + 1) % maxPerBucket)
            }
          }
          state.update(st)
          stateTtl.foreach(state.setTimeoutDuration)
          out.result().iterator
        }
      }
      .toDF("a_id", "b_id", "hamming", "ts")
    if (tsCol.isDefined) pairs else pairs.drop("ts")
  }

  /** J2 streaming twin: per-DID resolution cache as EXPLICIT stream
    * state via mapGroupsWithState — where the batch path uses an
    * executor-local LRU (graft.identity.LruCache), the streaming
    * path keys state by DID so hits/misses are exact and the state
    * participates in checkpoint/recovery. State carries the resolved
    * document + insertion time; entries older than `ttlMs` re-resolve
    * (the reference's 10-minute TTL, veramo-agent/src/veramo/
    * veramo_cached_did_resolver.ts:12-111). Emits one row per DID per
    * micro-batch: (did, n_records, cache_hit).
    */
  final case class CacheEntry(doc: String, insertedAtMs: Long)

  /** `clock` is injected (the repo-wide deterministic-replay rule —
    * tests pin it, production passes wall clock). Expiry is enforced
    * ON ACCESS: a DID seen after its TTL re-resolves and replaces the
    * stale entry. Idle-DID state lingers until next access — a
    * processing-time timeout would evict it, but timeout-driven
    * no-data batches make `processAllAvailable` non-terminating, so
    * the deterministic twin trades idle eviction for replayability
    * (production can layer `GroupStateTimeout.ProcessingTimeTimeout`
    * on the same body).
    */
  def cachedResolutionStream(dids: Dataset[String],
                             ttlMs: Long = 600000L,
                             clock: () => Long = () => System.currentTimeMillis())
      : DataFrame = {
    import dids.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    dids.groupByKey(identity)
      .mapGroupsWithState[CacheEntry, (String, Long, Boolean)](
        GroupStateTimeout.NoTimeout) { (did, rows, state) =>
        val n = rows.size.toLong
        val now = clock()
        val hit = state.getOption.exists(now - _.insertedAtMs < ttlMs)
        if (!hit) {
          state.update(
            CacheEntry(graft.identity.DidResolver.resolveDocument(did), now))
        }
        (did, n, hit)
      }
      .toDF("did", "n_records", "cache_hit")
  }

  /** Stream-stream event-time interval join: enrich each left-stream
    * row with the right-stream rows sharing its key whose timestamp
    * lies in [leftTs − lookback, leftTs] — e.g. trades joined with
    * the credential rotations that preceded them. This is the
    * dual-stream cousin of [[graft.ops.Joins]]' batch as-of/range
    * joins.
    *
    * State-bound design (the part that scales): BOTH sides carry a
    * watermark and the join condition carries an explicit time range,
    * which is exactly what Spark's symmetric hash join needs to EVICT
    * buffered rows — a stream-stream join without both holds every
    * row forever. Buffered state per side is bounded by
    * (watermark + lookback) of arrivals per key; the join itself is
    * one shuffle of each side by key.
    *
    * `right` must not share column names with `left` (rename
    * upstream, as the streaming specs do). `joinType` supports
    * "inner" and "leftOuter" — outer results for unmatched left rows
    * emit only once the watermark passes their interval, which is the
    * correctness condition, not a limitation.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         leftKey: String, rightKey: String,
                         leftTs: String, rightTs: String,
                         lookback: String = "1 minute",
                         watermark: String = "30 seconds",
                         joinType: String = "inner"): DataFrame = {
    require(Set("inner", "leftOuter").contains(joinType),
      s"unsupported stream-stream join type: $joinType")
    val overlap = left.columns.toSet & right.columns.toSet
    require(overlap.isEmpty,
      s"left/right column names must be disjoint, both have: $overlap")
    // Column ops, not an interpolated expr() string: col() treats the
    // names as identifiers, so keys containing spaces or SQL keywords
    // reference the right columns instead of parsing as SQL. Only
    // `lookback` (an interval literal, validated by the parser) goes
    // through expr().
    val cond = col(leftKey) === col(rightKey) &&
      col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
      col(rightTs) <= col(leftTs)
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark), cond, joinType)
  }

  /** U5: batched side-output — the reference's size-OR-timeout git
    * batcher (host_did_web/src/main.go:207-279: flush at BatchSize
    * items or BatchTimeout, whichever first). Structured-Streaming
    * mapping: the TRIGGER is the timeout (a ProcessingTime trigger
    * bounds how long an item waits) and the size cap is applied
    * INSIDE foreachBatch by chunking the micro-batch into
    * `flush_group`s of `batchSize` rows in `orderCol` order — each
    * group is one side-effecting flush, tagged with its
    * (batch_id, flush_group) so downstream audit can replay exactly
    * which flush carried which records.
    *
    * The per-batch window is driver-light (no collect): the chunk
    * assignment is a row_number window written straight back out.
    */
  /** Streaming per-source token QUOTA gate — the arrival-order twin
    * of [[graft.datapipe.Sampling.tokenBudget]]. The batch operator
    * ranks a finished pool by priority and takes the greedy prefix;
    * an ingest stream cannot see the future, so the deployed quota
    * admits each ARRIVAL iff it still fits the source's remaining
    * allowance (cum + n ≤ budget) — an over-weight arrival is
    * skipped, a later smaller one may still fit. That semantic
    * difference from the batch prefix is the point of the twin, not
    * an approximation, and the spec pins both it and the cross-batch
    * state carry.
    *
    * State per source is ONE long (the running admitted-token
    * total) — the smallest possible stateful footprint, bounded by
    * the source count forever, so no TTL is needed. One shuffle
    * keyed on source; emitted rows are the admitted documents only.
    */
  def tokenBudgetStream(docs: DataFrame, idCol: String, sourceCol: String,
                        tokens: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    docs.select(col(idCol).cast("long").as("id"),
        col(sourceCol).cast("string").as("source"),
        tokens.cast("long").as("n"))
      .filter(col("id").isNotNull && col("n").isNotNull)
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (_, rows, state) =>
        var cum = state.getOption.getOrElse(0L)
        val out = Seq.newBuilder[(Long, String, Long, Long)]
        rows.foreach { case (id, src, n) =>
          if (cum + n <= budget) {
            cum += n
            out += ((id, src, n, cum))
          }
        }
        state.update(cum)
        out.result().iterator
      }
      .toDF("doc_id", "source", "n_tokens", "cum_tokens")
  }

  def batchedSideOutput(df: DataFrame, outPath: String, checkpoint: String,
                        batchSize: Int = 10, orderCol: String = "event_id",
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // window per input PARTITION (a global orderBy window would
        // funnel the whole micro-batch through one task); each
        // partition flushes its own ≤batchSize groups, keyed by
        // (batch_id, part_id, flush_group)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("part_id")).orderBy(col(orderCol))
        batch
          .withColumn("batch_id", lit(batchId))
          .withColumn("part_id", spark_partition_id())
          .withColumn("flush_group",
            floor((row_number().over(w) - 1) / batchSize))
          .write.mode("append").parquet(outPath)
        ()
      }
      .trigger(trigger)
      .start()

  /** One shard's bloom bitset — (mBits+63)/64 longs, the ENTIRE
    * per-shard state regardless of stream length.
    */
  final case class BloomShardState(bits: Array[Long])

  /** One shard's weighted reservoir: the top-k (key, id, w) triples
    * seen so far — k entries per shard regardless of stream length.
    */
  final case class ReservoirState(entries: Seq[(Double, Long, Long)])

  /** Streaming weighted reservoir sampling — the ORIGINAL form of
    * Efraimidis–Spirakis (their Algorithm A-Res is a streaming
    * algorithm): maintain the top-k rows by key u^(1/w) as rows
    * arrive. The batch twin [[graft.datapipe.Sampling.weightedSample]]
    * is its deterministic certificate: u derives from the md5
    * contract, so after any batch split the reservoir holds exactly
    * the batch top-k (StreamingSpec pins it).
    *
    * Scale shape: `shards` independent reservoirs keyed by an id
    * hash, k entries of state each; the global sample is the top-k
    * of the ≤ shards·k emitted rows — a driver-trivial merge, so no
    * single reducer ever sees the stream. Emits every shard's
    * current reservoir each micro-batch (update semantics: latest
    * emission per shard wins).
    */
  def weightedSampleStream(rows: DataFrame, idCol: String, wCol: String,
                           k: Int, shards: Int = 8): DataFrame = {
    require(k >= 1 && shards >= 1, "need positive k and shards")
    val spark = rows.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.datapipe.TextAnalysis
    val keyed = rows.select(
        col(idCol).cast("long").as("id"), col(wCol).cast("long").as("w"),
        pmod(TextAnalysis.md5Long60(
          concat(lit("wss:"), col(idCol).cast("string"))),
          lit(shards.toLong)).as("shard"),
        round(pow(
          (TextAnalysis.md5Long60(concat(lit("ws:"), col(idCol).cast("string")))
            % 1000000000L + 1L).cast("double") / lit(1e9),
          lit(1.0) / col(wCol).cast("double")), 8).as("es_key"))
      .as[(Long, Long, Long, Double)]
    keyed.groupByKey(_._3)
      .flatMapGroupsWithState[ReservoirState, (Long, Long, Long, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) { (shard, rs, state) =>
        val prev = state.getOption.map(_.entries).getOrElse(Nil)
        val merged = (prev.iterator ++
          rs.map { case (id, w, _, key) => (key, id, w) })
          .toSeq.sortBy { case (key, id, _) => (-key, id) }
          .distinct.take(k)
        state.update(ReservoirState(merged))
        merged.iterator.map { case (key, id, w) => (shard, id, w, key) }
      }
      .toDF("shard", "doc_id", "w", "es_key")
  }

  /** Per-user retention progress: the cohort hour plus the hours
    * already credited. State is O(distinct ACTIVE hours per user) —
    * the user's own row of the retention matrix, never the event
    * count.
    */
  final case class RetentionState(c0: Long, seen: Seq[Long])

  /** Streaming cohort retention — the stateful twin of the batch
    * `q_retention` election: a user's cohort is their
    * first-activity hour, and each (user, hour) pair is credited
    * once, at its first occurrence. Rows sort by hour within each
    * micro-batch (the canonical order), so with batches arriving in
    * event-time order the first row elects the SAME cohort as the
    * batch twin's min-aggregation and the emitted rows are exactly
    * the batch twin's distinct user-hours (StreamingSpec pins it
    * across batches). Emits (user_id, cohort_hour, offset_hours)
    * once per newly-credited pair — so the incremental
    * count-per-(cohort, offset) downstream equals the batch
    * `n_users` without a distinct.
    */
  def retentionStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val typed = events.select(col("user_id"),
        expr("unix_micros(ts) DIV 3600000000").as("hr"))
      .as[(Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[RetentionState, (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (uid, rows, state) =>
        val hrs = rows.map(_._2).toSeq.sorted
        val st = state.getOption.getOrElse(RetentionState(hrs.head, Nil))
        var seen = st.seen.toSet
        val out = Seq.newBuilder[(Long, Long, Long)]
        for (h <- hrs; if !seen.contains(h)) {
          seen += h
          out += ((uid, st.c0, h - st.c0))
        }
        state.update(RetentionState(st.c0, seen.toSeq))
        out.result().iterator
      }
      .toDF("user_id", "cohort_hour", "offset_hours")
  }

  /** Per-user funnel progress: reach time (micros) per stage,
    * Long.MaxValue = unreached. State is |stages| longs per user.
    */
  final case class FunnelState(reach: Seq[Long])

  /** Streaming funnel — the stateful twin of the batch `q_funnel`
    * election: per user, stage i is reached at the first event of its
    * type processed STRICTLY after the stage-(i−1) reach time. Rows
    * sort by event time within each micro-batch (the canonical
    * order), so with batches arriving in event-time order the
    * first-qualifying event IS the batch twin's min-election and the
    * final furthest_stage per user matches it exactly (StreamingSpec
    * pins it across batches). Emits (user_id, furthest_stage) each
    * micro-batch — monotone, so the max per user is the final state.
    */
  def funnelStream(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val typed = events.select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, String, Long)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[FunnelState, (Long, Long)](
        GroupStateTimeout.NoTimeout) { (uid, rows, state) =>
        val reach = state.getOption.map(_.reach.toArray)
          .getOrElse(Array.fill(stages.size)(Long.MaxValue))
        for ((_, typ, us) <- rows.toSeq.sortBy(_._3)) {
          val i = stages.indexOf(typ)
          if (i >= 0 && reach(i) == Long.MaxValue &&
              (i == 0 || us > reach(i - 1))) reach(i) = us
        }
        state.update(FunnelState(reach.toSeq))
        (uid, (reach.lastIndexWhere(_ != Long.MaxValue) + 1).toLong)
      }
      .toDF("user_id", "furthest_stage")
  }

  /** Streaming bloom seen-before gate — the stateful twin of
    * [[graft.datapipe.Sketches.bloomSeenScores]] (which is its
    * deterministic batch certificate): `shards` independent bloom
    * bitsets maintained via flatMapGroupsWithState keyed on the
    * content-hash shard; a document is seen_before iff every one of
    * its k fingerprint bit positions was already set in its shard's
    * filter, then its bits are inserted. Within a micro-batch each
    * shard processes its rows in doc_id order (the canonical order
    * that makes the gate replayable — with batches arriving in
    * doc_id order the emitted flags equal the batch twin exactly;
    * StreamingSpec pins it across multiple batches).
    *
    * State per shard is (mBits+63)/64 longs — kilobytes total at any
    * corpus size, the entire point of a bloom gate; shards scale the
    * parallelism, not the memory.
    */
  def bloomSeenStream(docs: DataFrame, idCol: String, textCol: String,
                      k: Int, mBits: Int, shards: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.datapipe.{Sketches, TextAnalysis}
    val words = (mBits + 63) / 64
    val keyed = docs.select(col(idCol).as("doc_id"),
        TextAnalysis.fingerprint(col(textCol)).cast("string").as("fp"))
      .select(col("doc_id"),
        pmod(TextAnalysis.md5Long60(concat(lit("shard:"), col("fp"))),
          lit(shards.toLong)).as("shard"),
        array((0 until k).map(i =>
          Sketches.bloomBit(col("fp"), i, mBits)): _*).as("bits"))
    keyed.as[(Long, Long, Seq[Long])]
      .groupByKey(_._2)
      .flatMapGroupsWithState[BloomShardState, (Long, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (shard, rows, state) =>
        val bitset = state.getOption.map(_.bits)
          .getOrElse(new Array[Long](words))
        val out = rows.toSeq.sortBy(_._1).map { case (docId, _, bits) =>
          val seen = bits.forall(b =>
            (bitset((b >> 6).toInt) & (1L << (b & 63))) != 0)
          bits.foreach(b => bitset((b >> 6).toInt) |= (1L << (b & 63)))
          (docId, shard, seen)
        }
        state.update(BloomShardState(bitset))
        out.iterator
      }
      .toDF("doc_id", "shard", "seen_before")
  }
}
