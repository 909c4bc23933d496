package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-record transform operators (the reference's "map" stage),
  * re-expressed as pure `DataFrame => DataFrame` column pipelines so
  * Catalyst keeps them inside whole-stage codegen and can push the
  * derived predicates into the scan.
  *
  * Reference points (files under /root/reference/):
  *  - P1 JSON decode + type dispatch: data_synthesizer/service/finnhub/finnhub.go:172-199
  *  - P2 default-fill:                data_synthesizer/models/types.go:27-34
  *  - P10 latency derivation:         kafka_consumer/app/handlers/kafka_event_handler.py:357-383
  *  - P11 message-size derivation:    kafka_consumer/app/handlers/kafka_consumer.py:112-116
  */
object EventOps {

  /** Deterministic replay "now": the reference computes latency as
    * wall-clock minus event time (kafka_event_handler.py:373-375);
    * replays substitute a fixed clock so results are oracle-checkable
    * (SURVEY.md §7.4). 2024-02-01T00:00:00Z is just past the test
    * events' max ts.
    */
  val NowEpochSeconds: Long = 1706745600L
  val NowEpochMicros: Long = NowEpochSeconds * 1000000L

  /** P1: parse a JSON payload column and route on a type column;
    * unknown/ping-style records are dropped, with total/dropped
    * counted by an [[Observe.parseMetrics]] observe() attached ahead
    * of the filter (the reference's consumed/dropped counters,
    * metrics.py:41-50). finnhub.go:172-199.
    */
  def parseAndRoute(df: DataFrame, jsonCol: String, typeCol: String,
                    keep: Seq[String]): DataFrame =
    Observe.parseMetrics(df, typeCol, keep)
      .withColumn("k", get_json_object(col(jsonCol), "$.k").cast("bigint"))
      .filter(col(typeCol).isin(keep: _*))

  /** P2: default-fill — missing ids/values get deterministic
    * defaults (the reference generates UUIDs for missing Trade_Id,
    * models/types.go:27-34; replay uses a derived deterministic id).
    */
  def defaultFill(df: DataFrame): DataFrame =
    df.withColumn("value", coalesce(col("value"), lit(0.0)))
      .withColumn("event_type",
        coalesce(nullif(col("event_type"), lit("")), lit("unknown")))

  /** P1+P3+P4 composed over the reference's ACTUAL WebSocket frame
    * shape — `{"type": "trade"|"ping"|…, "data": [{c,p,s,t,v}, …]}`
    * (models/types.go:37-40 frame, :9-16 raw trade; dispatch
    * finnhub.go:172-199): typed `from_json`, route on `type` with
    * ping/unknown dropped (counted by the P1 observe), explode the
    * trade array, and project the short wire keys to the long names
    * through the declared map. One codegen'd pipeline — the JSON is
    * parsed once per frame against a fixed schema, not per field.
    */
  def parseWsFrames(frames: DataFrame, jsonCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val frameSchema = StructType(Seq(
      StructField("type", StringType),
      StructField("data", ArrayType(StructType(Seq(
        StructField("c", ArrayType(StringType)),
        StructField("p", DoubleType),
        StructField("s", StringType),
        StructField("t", LongType),
        StructField("v", DoubleType)))))))
    val parsed = frames
      .withColumn("frame", from_json(col(jsonCol), frameSchema))
    Observe.parseMetrics(parsed, "frame.type", Seq("trade"))
      .filter(col("frame.type") === "trade")
      .select(explode(col("frame.data")).as("trade"))
      // P4 in the same projection: one plan step, not one per key
      .select(FinnhubRenames.map { case (short, long) =>
        col(s"trade.$short").as(long) }: _*)
  }

  /** P3: unbatch — one WS frame row carrying a trade ARRAY becomes
    * one row per trade, position preserved (the reference's only
    * flatten-shaped op: finnhub.go:203-219 loops `data:
    * []FinnhubTradeRaw` and emits each element). posexplode is the
    * Generator form — no driver loop, distributes with the frame
    * partitioning.
    */
  def unbatch(frames: DataFrame, arrayCol: String,
              posName: String = "pos", itemName: String = "trade"): DataFrame =
    frames.select(col("*"),
      posexplode(col(arrayCol)).as(Seq(posName, itemName))).drop(arrayCol)

  /** P4: the declared short→long Finnhub key map (finnhub.go:47-53,
    * applied via struct conversion at finnhub.go:221-224). */
  val FinnhubRenames: Seq[(String, String)] = Seq(
    "c" -> "Trade_Condition", "p" -> "Price", "s" -> "Symbol",
    "t" -> "Event_Timestamp", "v" -> "Volume")

  /** P4: bulk column rename — a pure projection, so Catalyst folds it
    * into adjacent selects (zero runtime cost; the reference pays a
    * per-record map rebuild). */
  def renameShortKeys(df: DataFrame,
                      renames: Seq[(String, String)] = FinnhubRenames): DataFrame =
    renames.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  /** P10: end-to-end latency seconds relative to the injected clock. */
  def latencySeconds(ts: Column, nowMicros: Long = NowEpochMicros): Column =
    round((lit(nowMicros) - unix_micros(ts)) / 1e6, 6)

  /** P11: payload size in bytes. kafka_consumer.py:112-116. */
  def payloadBytes(payload: Column): Column =
    octet_length(payload).cast("bigint")

  /** A3-style bucket: floor event time to an n-second boundary,
    * returned as epoch seconds (bigint — engine-portable, no
    * timestamp precision pitfalls). kafka_consumer.py:118-124.
    */
  def secondsBucket(ts: Column, seconds: Long): Column =
    (unix_micros(ts).cast("bigint") / lit(seconds * 1000000L))
      .cast("bigint") * lit(seconds)
}
