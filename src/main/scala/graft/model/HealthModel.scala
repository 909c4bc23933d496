package graft.model

import org.apache.avro.{Schema, SchemaBuilder}

/** Scala mirror of the reference's SECOND stream schema —
  * `HealthSensorRecord`
  * (kafka_initialiser/app/resources/avro/health_sensor.avsc:1-29).
  * The consumer's topic enum declares the stream
  * (kafka_consumer/app/main.py:25, commented out of the compose run
  * but part of the declared surface, SURVEY §1.1.4); the initialiser
  * registers the schema unconditionally.
  *
  * All fields are required (no unions), so the case classes map 1:1
  * and the codec has no branch decisions; the three vitals are Avro
  * `int`s. `event_timestamp` /
  * `start_timestamp` stay strings on the wire, exactly as the avsc
  * declares them.
  */
final case class SensorData(
    id: String,
    patient_id: String,
    event_timestamp: String,
    sensor_id: String,
    sensor_type: String,
    temperature: Double,
    systolic_bp: Int,
    diastolic_bp: Int,
    heart_rate: Int)

final case class HealthSensorRecord(
    data: SensorData,
    vc_store_signature: String,
    start_timestamp: String,
    did: String,
    jwt: String)

/** The HealthSensorRecord Avro schema (programmatic, same shape and
  * namespace as the avsc) — the health twin of [[TradeAvro]]. Its
  * records run through the same row codec as trades
  * ([[graft.functions.AvroRows]]): [[graft.ops.HealthAvroOps]] as
  * column expressions, [[HealthAvroCodec]] behind the case class
  * encoder.
  */
object HealthAvro {

  private val Ns = "com.example.health"

  val sensorDataSchema: Schema = {
    val b = SchemaBuilder.record("SensorData").namespace(Ns).fields()
    b.requiredString("id")
    b.requiredString("patient_id")
    b.requiredString("event_timestamp")
    b.requiredString("sensor_id")
    b.requiredString("sensor_type")
    b.requiredDouble("temperature")
    b.requiredInt("systolic_bp")
    b.requiredInt("diastolic_bp")
    b.requiredInt("heart_rate")
    b.endRecord()
  }

  val healthSensorRecordSchema: Schema = {
    val b = SchemaBuilder.record("HealthSensorRecord").namespace(Ns).fields()
    b.name("data").`type`(sensorDataSchema).noDefault()
    b.requiredString("vc_store_signature")
    b.requiredString("start_timestamp")
    b.requiredString("did")
    b.requiredString("jwt")
    b.endRecord()
  }
}

/** HealthSensorRecord ↔ Avro binary of
  * [[HealthAvro.healthSensorRecordSchema]] — value-lossless by the
  * s3_health_roundtrip oracle entry. Not thread-safe (reusable
  * encoder/decoder/buffer); allocate per partition.
  */
final class HealthAvroCodec
    extends AvroObjectCodec[HealthSensorRecord](HealthAvro.healthSensorRecordSchema)
