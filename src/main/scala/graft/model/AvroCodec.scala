package graft.model

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.types.DataTypeUtils

import graft.functions.{TradeAvroRowCodec, TradeAvroRows}

/** TradeEvent ↔ Avro binary, the engine's stand-in for the reference's
  * registry Avro serializer/deserializer (producer:
  * kafka_producer/app/handlers/kafka_producer.py:93-132; consumer:
  * kafka_consumer/app/handlers/kafka_consumer.py:44-55), for callers
  * that hold `TradeEvent` objects rather than rows.
  *
  * It is the row codec of [[graft.functions.TradeAvroRows]] — the one
  * schema walk the Dataset operators in [[graft.ops.TradeAvroOps]] run —
  * behind `TradeEvent`'s Catalyst encoder: encode serializes the event to
  * a row and writes it; decode reads a row and deserializes it. So both
  * paths produce the same bytes. One instance holds reusable buffers and
  * is not thread-safe: keep one per thread, as the reference pools its
  * serializer.
  */
final class AvroCodec {
  private val encoder = ExpressionEncoder[TradeEvent]()
  private val toRow = encoder.createSerializer()
  private val fromRow = encoder
    .resolveAndBind(DataTypeUtils.toAttributes(TradeAvroRows.eventType))
    .createDeserializer()
  private val rows = new TradeAvroRowCodec(encoder.schema)

  def encode(ev: TradeEvent): Array[Byte] = rows.encode(toRow(ev))

  def decode(bytes: Array[Byte]): TradeEvent = fromRow(rows.decode(bytes))

  // --- Confluent Schema Registry wire format --------------------
  // The reference serializes through the registry client
  // (kafka_producer.py:49-62 AvroSerializer / kafka_consumer.py:44-55
  // AvroDeserializer), whose PUBLIC wire format frames every message
  // as: magic byte 0x0, 4-byte big-endian schema id, Avro binary
  // payload. Plain `encode` output would fail a real Confluent
  // consumer on the missing 5-byte header — these twins are
  // wire-true.

  /** Framed encode: 0x0 magic + big-endian schema id + Avro binary. */
  def encodeWire(ev: TradeEvent, schemaId: Int): Array[Byte] =
    rows.encodeWire(toRow(ev), schemaId)

  /** Framed decode: validates the magic byte (a non-registry frame
    * fails LOUDLY, like the reference deserializer), returns
    * (schema id, event). */
  def decodeWire(bytes: Array[Byte]): (Int, TradeEvent) =
    (rows.schemaId(bytes), fromRow(rows.decodeAt(bytes, 5)))
}
