package graft

import java.io.ByteArrayOutputStream

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}

import graft.model._

/** Avro's own generic writer and reader over [[TradeAvro.tradeEventSchema]]:
  * the judge of the wire format the engine's row codec must match
  * byte for byte. Case class ↔ GenericRecord by field name.
  */
object AvroReference {
  private val schema = TradeAvro.tradeEventSchema

  private def tradeDataRecord(s: Schema, td: TradeData): GenericRecord = {
    val r = new GenericData.Record(s)
    r.put("Trade_Id", td.Trade_Id)
    r.put("Trade_Condition", td.Trade_Condition.map(_.asJava).orNull)
    r.put("Price", td.Price)
    r.put("Symbol", td.Symbol)
    r.put("Event_Timestamp", td.Event_Timestamp)
    r.put("Volume", td.Volume)
    r
  }

  private def credentialRecord(tc: TradeCredential): GenericRecord = {
    val r = new GenericData.Record(TradeAvro.tradeCredentialSchema)
    r.put("context", tc.context.asJava)
    r.put("id", tc.id)
    r.put("issuanceDate", tc.issuanceDate)
    val issuer = new GenericData.Record(TradeAvro.issuerSchema)
    issuer.put("id", tc.issuer.id)
    r.put("issuer", issuer)
    val claims = new GenericData.Record(TradeAvro.claimsSchema)
    claims.put("TradeData", tradeDataRecord(
      TradeAvro.claimsSchema.getField("TradeData").schema(),
      tc.credentialSubject.claims.TradeData))
    val subject = new GenericData.Record(TradeAvro.credentialSubjectSchema)
    subject.put("id", tc.credentialSubject.id)
    subject.put("claims", claims)
    r.put("credentialSubject", subject)
    val proof = new GenericData.Record(TradeAvro.proofSchema)
    proof.put("jwt", tc.proof.jwt)
    proof.put("type", tc.proof.`type`)
    r.put("proof", proof)
    r.put("type", tc.`type`.asJava)
    r
  }

  def toRecord(ev: TradeEvent): GenericRecord = {
    val r = new GenericData.Record(schema)
    r.put("start_timestamp", ev.start_timestamp)
    r.put("symbol", ev.symbol)
    r.put("trade_event_id", ev.trade_event_id)
    val rawSchema = schema.getField("tradeData").schema().getTypes.get(1)
    r.put("tradeData", ev.tradeData.map(tradeDataRecord(rawSchema, _)).orNull)
    r.put("tradeCredential", ev.tradeCredential.map(credentialRecord).orNull)
    r
  }

  private def str(r: GenericRecord, f: String): String = {
    val v = r.get(f)
    if (v == null) null else v.toString
  }

  private def strSeq(v: AnyRef): Seq[String] =
    v.asInstanceOf[java.util.List[AnyRef]].asScala.map(_.toString).toSeq

  private def toTradeData(r: GenericRecord): TradeData =
    TradeData(str(r, "Trade_Id"), Option(r.get("Trade_Condition")).map(strSeq),
      r.get("Price").asInstanceOf[Double], str(r, "Symbol"),
      r.get("Event_Timestamp").asInstanceOf[Long], r.get("Volume").asInstanceOf[Double])

  private def toCredential(r: GenericRecord): TradeCredential = {
    val subject = r.get("credentialSubject").asInstanceOf[GenericRecord]
    val claims = subject.get("claims").asInstanceOf[GenericRecord]
    val proof = r.get("proof").asInstanceOf[GenericRecord]
    TradeCredential(strSeq(r.get("context")), str(r, "id"), str(r, "issuanceDate"),
      Issuer(str(r.get("issuer").asInstanceOf[GenericRecord], "id")),
      CredentialSubject(str(subject, "id"),
        Claims(toTradeData(claims.get("TradeData").asInstanceOf[GenericRecord]))),
      Proof(str(proof, "jwt"), str(proof, "type")), strSeq(r.get("type")))
  }

  def toEvent(r: GenericRecord): TradeEvent =
    TradeEvent(str(r, "start_timestamp"), str(r, "symbol"), str(r, "trade_event_id"),
      Option(r.get("tradeData")).map(v => toTradeData(v.asInstanceOf[GenericRecord])),
      Option(r.get("tradeCredential")).map(v => toCredential(v.asInstanceOf[GenericRecord])))

  /** GenericDatumWriter's bytes for `ev`. */
  def write(ev: TradeEvent): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(toRecord(ev), enc)
    enc.flush()
    out.toByteArray
  }

  /** GenericDatumReader's event from `bytes`. */
  def read(bytes: Array[Byte]): TradeEvent =
    toEvent(new GenericDatumReader[GenericRecord](schema)
      .read(null, DecoderFactory.get().binaryDecoder(bytes, null)))
}
