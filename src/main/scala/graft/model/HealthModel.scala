package graft.model

import java.io.ByteArrayOutputStream

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}

/** Scala mirror of the reference's SECOND stream schema —
  * `HealthSensorRecord`
  * (kafka_initialiser/app/resources/avro/health_sensor.avsc:1-29).
  * The consumer's topic enum declares the stream
  * (kafka_consumer/app/main.py:25, commented out of the compose run
  * but part of the declared surface, SURVEY §1.1.4); the initialiser
  * registers the schema unconditionally.
  *
  * All fields are required (no unions), so the case classes map 1:1
  * and the codec has no branch decisions. `event_timestamp` /
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
  * namespace as the avsc) plus a binary codec — the health twin of
  * [[TradeAvro]]/[[AvroCodec]]. One instance per partition
  * (reusable writer/reader/buffer); unlike the trade codec, it still
  * runs over objects in `mapPartitions`.
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

/** Binary Avro codec for [[HealthSensorRecord]] — value-lossless by
  * the s3_health_roundtrip oracle entry. Not thread-safe (reusable
  * encoder/decoder/buffer); allocate per partition.
  */
final class HealthAvroCodec {
  import HealthAvro._

  private val writer =
    new GenericDatumWriter[GenericRecord](healthSensorRecordSchema)
  private val reader =
    new GenericDatumReader[GenericRecord](healthSensorRecordSchema)
  private val out = new ByteArrayOutputStream()
  private var binEnc = EncoderFactory.get().binaryEncoder(out, null)

  def encode(rec: HealthSensorRecord): Array[Byte] = {
    val d = new GenericData.Record(sensorDataSchema)
    d.put("id", rec.data.id)
    d.put("patient_id", rec.data.patient_id)
    d.put("event_timestamp", rec.data.event_timestamp)
    d.put("sensor_id", rec.data.sensor_id)
    d.put("sensor_type", rec.data.sensor_type)
    d.put("temperature", rec.data.temperature)
    d.put("systolic_bp", rec.data.systolic_bp)
    d.put("diastolic_bp", rec.data.diastolic_bp)
    d.put("heart_rate", rec.data.heart_rate)
    val r = new GenericData.Record(healthSensorRecordSchema)
    r.put("data", d)
    r.put("vc_store_signature", rec.vc_store_signature)
    r.put("start_timestamp", rec.start_timestamp)
    r.put("did", rec.did)
    r.put("jwt", rec.jwt)
    out.reset()
    binEnc = EncoderFactory.get().binaryEncoder(out, binEnc)
    writer.write(r, binEnc)
    binEnc.flush()
    out.toByteArray
  }

  def decode(bytes: Array[Byte]): HealthSensorRecord = {
    val dec = DecoderFactory.get().binaryDecoder(bytes, null)
    val r = reader.read(null, dec)
    val d = r.get("data").asInstanceOf[GenericRecord]
    def s(rec: GenericRecord, f: String): String = rec.get(f).toString
    HealthSensorRecord(
      SensorData(
        s(d, "id"), s(d, "patient_id"), s(d, "event_timestamp"),
        s(d, "sensor_id"), s(d, "sensor_type"),
        d.get("temperature").asInstanceOf[Double],
        d.get("systolic_bp").asInstanceOf[Int],
        d.get("diastolic_bp").asInstanceOf[Int],
        d.get("heart_rate").asInstanceOf[Int]),
      s(r, "vc_store_signature"), s(r, "start_timestamp"),
      s(r, "did"), s(r, "jwt"))
  }
}
