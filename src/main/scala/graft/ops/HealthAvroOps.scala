package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.AvroRows
import graft.model.{HealthAvro, HealthSensorRecord}
import graft.ops.AvroColumns.{fields, record}

/** Dataset-level Avro ingress/egress for the health-sensor stream —
  * the second-topic twin of [[TradeAvroOps]] (same registry
  * serializer surface, kafka_consumer/app/main.py:25's
  * HEALTH_SENSOR topic), on the same row codec
  * ([[graft.functions.AvroRows]]) over
  * [[HealthAvro.healthSensorRecordSchema]]. No operator here builds a
  * `HealthSensorRecord` object: both directions are narrow projections
  * inside whole-stage codegen.
  */
object HealthAvroOps {

  private val schema = HealthAvro.healthSensorRecordSchema

  /** Egress: records → Kafka-shaped (key, value), key = patient_id
    * (the stream's entity key, as symbol is for trades).
    */
  def encode(ds: Dataset[HealthSensorRecord]): DataFrame =
    ds.toDF().select(col("data.patient_id").as("key"),
      AvroRows.encode(record(ds), schema).as("value"))

  /** Ingress: any frame with a binary `value` column → typed records. */
  def decode(df: DataFrame): Dataset[HealthSensorRecord] = {
    import df.sparkSession.implicits._
    fields(df, AvroRows.decode(col("value"), schema)).as[HealthSensorRecord]
  }
}
