package graft.model

import scala.reflect.runtime.universe.TypeTag

import org.apache.avro.Schema
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.types.DataTypeUtils

import graft.functions.{AvroRowCodec, AvroRows}

/** `T` ↔ Avro binary of the record schema `schema`, the engine's
  * stand-in for the reference's registry Avro serializer/deserializer
  * (producer: kafka_producer/app/handlers/kafka_producer.py:93-132;
  * consumer: kafka_consumer/app/handlers/kafka_consumer.py:44-55), for
  * callers that hold objects rather than rows. [[AvroCodec]] (TradeEvent)
  * and [[HealthAvroCodec]] (HealthSensorRecord) are its two instances.
  *
  * It is the row codec of [[graft.functions.AvroRows]] — the one schema
  * walk the Dataset operators in [[graft.ops.TradeAvroOps]] and
  * [[graft.ops.HealthAvroOps]] run — behind `T`'s Catalyst encoder:
  * encode serializes the object to a row and writes it; decode reads a
  * row and deserializes it. So both paths produce the same bytes. One
  * instance holds reusable buffers and is not thread-safe: keep one per
  * thread, as the reference pools its serializer.
  */
class AvroObjectCodec[T: TypeTag](schema: Schema) {
  private val encoder = ExpressionEncoder[T]()
  private val toRow = encoder.createSerializer()
  private val fromRow = encoder
    .resolveAndBind(DataTypeUtils.toAttributes(AvroRows.rowType(schema)))
    .createDeserializer()
  private val rows = new AvroRowCodec(schema, encoder.schema)

  def encode(v: T): Array[Byte] = rows.encode(toRow(v))

  def decode(bytes: Array[Byte]): T = fromRow(rows.decode(bytes))

  // --- Confluent Schema Registry wire format --------------------
  // The reference serializes through the registry client
  // (kafka_producer.py:49-62 AvroSerializer / kafka_consumer.py:44-55
  // AvroDeserializer), whose PUBLIC wire format frames every message
  // as: magic byte 0x0, 4-byte big-endian schema id, Avro binary
  // payload. Plain `encode` output would fail a real Confluent
  // consumer on the missing 5-byte header — these twins are
  // wire-true.

  /** Framed encode: 0x0 magic + big-endian schema id + Avro binary. */
  def encodeWire(v: T, schemaId: Int): Array[Byte] =
    rows.encodeWire(toRow(v), schemaId)

  /** Framed decode: validates the magic byte (a non-registry frame
    * fails LOUDLY, like the reference deserializer), returns
    * (schema id, object). */
  def decodeWire(bytes: Array[Byte]): (Int, T) =
    (rows.schemaId(bytes), fromRow(rows.decodeAt(bytes, 5)))
}

/** TradeEvent ↔ Avro binary of [[TradeAvro.tradeEventSchema]]. */
final class AvroCodec extends AvroObjectCodec[TradeEvent](TradeAvro.tradeEventSchema)
