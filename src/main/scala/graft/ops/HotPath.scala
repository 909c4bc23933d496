package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.AvroRows
import graft.identity.CredentialOps
import graft.model.TradeAvro

/** The reference's consumer topology as ONE reusable composition —
  * WS frame parse (P1/P3/P4) → default-fill (P2) → envelope build
  * (P5) with real credential signing (U1) → binary Avro egress +
  * ingress (K2/S3) → verification (U2) → the per-trade readout the
  * Q1/A1 analytics aggregate. Pure `DataFrame => DataFrame` over
  * codegen'd columns (the Avro codec included) + the JWT UDF seams, so
  * the SAME function runs as a batch query (the `e2e_hot_path` catalog entry
  * aggregates its output) and as a Structured Streaming query from
  * any unbounded frame source ([[graft.streaming.Streams
  * .wsReplayStream]]'s rate-driven replay, a Kafka topic, or a real
  * socket connector) — `WsReplaySpec` certifies stream == batch
  * row-for-row.
  *
  * Parallelism: a batch input is spread over `defaultParallelism`
  * partitions once, right after the scan, so a frame file stored as a
  * single split (one row group) still keeps every core busy on the
  * per-record work. A streaming input keeps its own partitioning and
  * gets no exchange: its source already decides how a micro-batch is
  * split, and a shuffle per micro-batch would only add latency.
  *
  * Reference shape: finnhub.go:172-224 (frame dispatch) →
  * kafka_producer sign path → kafka_consumer/app/handlers/
  * kafka_event_handler.py verify + metrics readout.
  */
object HotPath {

  /** Per-trade readout columns: (symbol, is_ssi, verified, t_ms).
    * `frames` must carry the raw WS frame JSON in `jsonCol`.
    */
  def perTradeReadout(spark: SparkSession, frames: DataFrame,
                      jsonCol: String = "raw"): DataFrame = {
    val input = frames.select(col(jsonCol))
    // a hash of the frame text spreads rows without the local sort a
    // round-robin repartition runs first to stay deterministic
    val spread =
      if (frames.isStreaming) input
      else input.repartition(spark.sparkContext.defaultParallelism, xxhash64(col(jsonCol)))
    val trades = EventOps.parseWsFrames(spread, jsonCol)
    val ts = col("Event_Timestamp")
    val perTradeSsi = ts % 2 === 1
    val subject = concat(lit("did:key:z"), ts % 1000)
    val td = struct(concat(lit("T"), ts).as("Trade_Id"), col("Trade_Condition"),
      coalesce(col("Price"), lit(0.0)).as("Price"), col("Symbol"), ts,
      coalesce(col("Volume"), lit(0.0)).as("Volume"))
    val cred = EnvelopeOps.vcCredential(
      vcId = concat(lit("vc:trade-"), ts),
      issuerDid = lit("did:web:graft.example:issuer"),
      subjectDid = subject,
      issuanceDate = lit("2024-01-01T00:00:00Z"),
      claims = td,
      jwt = CredentialOps.signJwt(to_json(struct(subject.as("sub")))))
    val env = EnvelopeOps.envelope(
      concat(lit("trade-"), ts), col("Symbol"),
      lit("2024-01-01T00:00:00Z"), perTradeSsi, td, cred)
    // K2 egress + S3 ingress as two row expressions: no TradeEvent
    // object is built per trade (see TradeAvroOps)
    val schema = TradeAvro.tradeEventSchema
    val decoded = trades.select(
      AvroRows.decode(AvroRows.encode(env, schema), schema).as("ev"))
    val vc = col("ev.tradeCredential")
    decoded.select(col("ev.symbol").as("symbol"),
      vc.isNotNull.as("is_ssi"),
      when(vc.isNotNull, CredentialOps.verifyJwt(vc.getField("proof").getField("jwt")))
        .as("verified"),
      coalesce(col("ev.tradeData.Event_Timestamp"),
        vc.getField("credentialSubject").getField("claims")
          .getField("TradeData").getField("Event_Timestamp"))
        .as("t_ms"))
  }

  /** Q1/A1 aggregate over [[perTradeReadout]] output: per-symbol
    * trade/ssi/verified counters + p95 end-to-end latency seconds
    * against the injected clock.
    */
  def q1Aggregate(readout: DataFrame): DataFrame =
    readout.groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_trades"),
        count(when(col("is_ssi"), 1)).as("n_ssi"),
        count(when(col("verified"), 1)).as("n_verified"),
        round(expr(s"percentile((${EventOps.NowEpochMicros / 1000}" +
          " - t_ms) / 1000.0D, 0.95D)"), 6).as("p95_latency_s"))
}
