package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.TradeAvroRows
import graft.model.TradeEvent

/** Dataset-level Avro ingress/egress for TradeEvent — the engine's
  * S3/K2 surface (the reference's registry Avro serializer on the
  * producer, kafka_producer/app/handlers/kafka_producer.py:93-132, and
  * deserializer on the consumer, kafka_consumer/app/handlers/
  * kafka_consumer.py:44-55).
  *
  * Spark 4's distribution ships avro CORE but not the spark-avro
  * connector (`from_avro`/`to_avro`), so the codec is two native
  * expressions ([[graft.functions.TradeAvroRows]]): struct → binary and
  * binary → struct, each walking the schema over Catalyst's rows with
  * one reusable Avro encoder/decoder per task. No operator here builds a
  * `TradeEvent` object: the typed Dataset is only the signature, and
  * both directions are narrow projections inside whole-stage codegen.
  * The input struct's fields are found by name and must have the
  * schema's types (string, double, bigint, array<string>, struct).
  */
object TradeAvroOps {

  /** The Dataset's columns as one struct: the codec's input row. */
  private def event(ds: Dataset[TradeEvent]): org.apache.spark.sql.Column =
    struct(ds.toDF().columns.map(c => col(s"`$c`")): _*)

  /** Egress (K2): events → Kafka-shaped (key, value) rows, key =
    * symbol (the reference partitions its topic by symbol key) and
    * value = binary Avro of the full envelope.
    */
  def encode(ds: Dataset[TradeEvent]): DataFrame =
    ds.toDF().select(col("symbol").as("key"), TradeAvroRows.encode(event(ds)).as("value"))

  /** Ingress (S3): Kafka-shaped rows (any frame with a binary `value`
    * column) → typed TradeEvent Dataset.
    */
  def decode(df: DataFrame): Dataset[TradeEvent] = {
    import df.sparkSession.implicits._
    df.select(TradeAvroRows.decode(col("value")).as("ev")).select(col("ev.*")).as[TradeEvent]
  }

  /** Wire-true egress: the Confluent registry framing (0x0 magic +
    * 4-byte schema id) the reference's producer actually puts on the
    * topic (kafka_producer.py:49-62). */
  def encodeWire(ds: Dataset[TradeEvent], schemaId: Int): DataFrame =
    ds.toDF().select(col("symbol").as("key"),
      TradeAvroRows.encodeWire(event(ds), schemaId).as("value"))

  /** Wire-true ingress: validates the 5-byte registry header per
    * message (and, when `expectSchemaId` is set, pins the id — a
    * topic carrying a different schema version fails loudly instead
    * of mis-decoding). */
  def decodeWire(df: DataFrame,
                 expectSchemaId: Option[Int] = None): Dataset[TradeEvent] = {
    import df.sparkSession.implicits._
    df.select(TradeAvroRows.decodeWire(col("value"), expectSchemaId).as("ev"))
      .select(col("ev.*")).as[TradeEvent]
  }
}
