package graft

import java.io.ByteArrayOutputStream

import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

import graft.functions.AvroRows
import graft.model._
import graft.ops.TradeAvroOps

/** Binary Avro codec roundtrips for both union branches of the
  * TradeEvent envelope (trade_event.avsc:6-231), including the
  * None/Some cases of the optional Trade_Condition; and the identity of
  * the row codec's bytes with Avro's own GenericDatumWriter
  * ([[AvroReference]]) for every shape, through both the Dataset
  * operators and [[AvroCodec]].
  */
class AvroCodecSpec extends SparkSpec {

  private val td = TradeData(
    Trade_Id = "T42",
    Trade_Condition = Some(Seq("click", "regular")),
    Price = 123.45,
    Symbol = "SYM3",
    Event_Timestamp = 1706745600123L,
    Volume = 69.0)

  private val cred = TradeCredential(
    context = Seq("https://www.w3.org/2018/credentials/v1"),
    id = "vc:trade-42",
    issuanceDate = "2024-01-01T00:00:07Z",
    issuer = Issuer("did:web:graft.example:issuer"),
    credentialSubject = CredentialSubject("did:key:z8", Claims(td)),
    proof = Proof(jwt = "jwt-42", `type` = "JwtProof2020"),
    `type` = Seq("VerifiableCredential"))

  test("tradeData branch roundtrips (Some Trade_Condition)") {
    val ev = TradeEvent("2024-01-01T00:00:07Z", "SYM3", "trade-42",
      tradeData = Some(td), tradeCredential = None)
    val codec = new AvroCodec
    assert(codec.decode(codec.encode(ev)) === ev)
  }

  test("tradeData branch roundtrips (None Trade_Condition)") {
    val ev = TradeEvent("2024-01-01T00:00:07Z", "SYM3", "trade-42",
      tradeData = Some(td.copy(Trade_Condition = None)), tradeCredential = None)
    val codec = new AvroCodec
    assert(codec.decode(codec.encode(ev)) === ev)
  }

  test("tradeCredential branch roundtrips") {
    val ev = TradeEvent("2024-01-01T00:00:07Z", "SYM3", "trade-42",
      tradeData = None, tradeCredential = Some(cred))
    val codec = new AvroCodec
    assert(codec.decode(codec.encode(ev)) === ev)
  }

  test("codec instance is reusable across messages (pooled shape)") {
    val codec = new AvroCodec
    val evs = (0 until 50).map { i =>
      TradeEvent(s"2024-01-01T00:00:$i", s"SYM${i % 7}", s"trade-$i",
        tradeData = if (i % 2 == 0) Some(td.copy(Trade_Id = s"T$i")) else None,
        tradeCredential = if (i % 2 == 1) Some(cred.copy(id = s"vc:trade-$i")) else None)
    }
    evs.foreach(ev => assert(codec.decode(codec.encode(ev)) === ev))
  }

  test("encode is deterministic byte-for-byte") {
    val ev = TradeEvent("2024-01-01T00:00:07Z", "SYM3", "trade-42",
      tradeData = None, tradeCredential = Some(cred))
    val a = new AvroCodec().encode(ev)
    val b = new AvroCodec().encode(ev)
    assert(java.util.Arrays.equals(a, b))
  }

  // --- Confluent registry wire format ---------------------------

  test("wire frame is magic 0x0 + big-endian schema id + avro payload") {
    val ev = TradeEvent("2024-01-01T00:00:07Z", "SYM3", "trade-42",
      tradeData = Some(td), tradeCredential = None)
    val codec = new AvroCodec
    val framed = codec.encodeWire(ev, schemaId = 0x01020304)
    // hand-built golden frame: header bytes are the spec'd layout
    assert(framed(0) === 0x0.toByte)
    assert(framed.slice(1, 5).toSeq ===
      Seq(0x01.toByte, 0x02.toByte, 0x03.toByte, 0x04.toByte))
    assert(framed.drop(5).toSeq === codec.encode(ev).toSeq,
      "payload after the 5-byte header is plain Avro binary")
  }

  test("hand-built golden frame decodes: header + payload → (id, event)") {
    val ev = TradeEvent("2024-01-01T00:00:07Z", "SYM3", "trade-42",
      tradeData = Some(td), tradeCredential = None)
    val codec = new AvroCodec
    val golden = Array[Byte](0x0, 0x0, 0x0, 0x0, 42) ++ codec.encode(ev)
    val (id, got) = codec.decodeWire(golden)
    assert(id === 42)
    assert(got === ev)
  }

  test("unframed bytes fail loudly (wrong magic)") {
    val ev = TradeEvent("2024-01-01T00:00:07Z", "SYM3", "trade-42",
      tradeData = Some(td), tradeCredential = None)
    val codec = new AvroCodec
    val bare = codec.encode(ev)
    // plain Avro binary of this envelope starts with a non-zero byte,
    // so a consumer expecting registry framing must reject it
    assertThrows[IllegalArgumentException](codec.decodeWire(bare))
    assertThrows[IllegalArgumentException](
      codec.decodeWire(Array[Byte](0x1, 0, 0, 0, 1)))
    assertThrows[IllegalArgumentException](codec.decodeWire(Array.empty[Byte]))
  }

  // --- identity with Avro's own writer and reader ------------------

  private val shapes: Seq[(String, TradeEvent)] = {
    val ev = TradeEvent("2024-01-01T00:00:07Z", "SYM3", "trade-42", None, None)
    Seq(
      "tradeData only" -> ev.copy(tradeData = Some(td)),
      "credential only" -> ev.copy(tradeCredential = Some(cred)),
      "null Trade_Condition" ->
        ev.copy(tradeData = Some(td.copy(Trade_Condition = None))),
      "empty arrays" -> ev.copy(
        tradeData = Some(td.copy(Trade_Condition = Some(Seq.empty))),
        tradeCredential = Some(cred.copy(context = Seq.empty, `type` = Seq.empty))),
      "empty strings" -> TradeEvent("", "", "", Some(td.copy(Trade_Id = "", Symbol = "")), None),
      "non-ASCII strings" -> TradeEvent("2024-01-01T00:00:07Z", "SYM☃", "trade-déjà",
        Some(td.copy(Trade_Id = "T日本語", Trade_Condition = Some(Seq("𝄞 clef", "ü")))),
        None),
      "non-ASCII credential" -> ev.copy(tradeCredential = Some(cred.copy(
        issuer = Issuer("did:web:例え.jp"),
        proof = Proof("jwt-ñ", "JwtProof2020")))))
  }

  test("every shape: the Dataset encoder writes GenericDatumWriter's bytes") {
    import spark.implicits._
    val encoded = TradeAvroOps.encode(shapes.map(_._2).toDS()).collect()
    shapes.zip(encoded).foreach { case ((name, ev), row) =>
      assert(row.getString(0) === ev.symbol, name)
      assert(row.getAs[Array[Byte]](1).toSeq === AvroReference.write(ev).toSeq, name)
      assert(new AvroCodec().encode(ev).toSeq === AvroReference.write(ev).toSeq, name)
    }
  }

  test("every shape: decode(encode(x)) == x through the Dataset operators") {
    import spark.implicits._
    val events = shapes.map(_._2)
    assert(TradeAvroOps.decode(TradeAvroOps.encode(events.toDS())).collect().toSeq === events)
    assert(TradeAvroOps.decodeWire(TradeAvroOps.encodeWire(events.toDS(), 7), Some(7))
      .collect().toSeq === events)
    // and GenericDatumWriter's bytes decode to the same events
    val foreign = events.map(ev => AvroReference.write(ev)).toDF("value")
    assert(TradeAvroOps.decode(foreign).collect().toSeq === events)
  }

  test("a multi-block array from another writer decodes") {
    // written by hand: Trade_Condition as a block of two items, then a
    // block of one item in the sized form (negative count + byte size),
    // then the end marker; Avro's writer only ever emits one block
    val out = new ByteArrayOutputStream()
    val e = EncoderFactory.get().directBinaryEncoder(out, null)
    e.writeString("2024-01-01T00:00:07Z"); e.writeString("SYM3"); e.writeString("trade-42")
    e.writeIndex(1) // tradeData present
    e.writeString("T42")
    e.writeIndex(1) // Trade_Condition present
    e.writeLong(2); e.writeString("a"); e.writeString("b")
    e.writeLong(-1); e.writeLong(2); e.writeString("c") // "c" takes 2 bytes
    e.writeLong(0)
    e.writeDouble(1.5); e.writeString("SYM3"); e.writeLong(7L); e.writeDouble(2.5)
    e.writeIndex(0) // no credential
    e.flush()
    val bytes = out.toByteArray
    val want = TradeEvent("2024-01-01T00:00:07Z", "SYM3", "trade-42",
      Some(TradeData("T42", Some(Seq("a", "b", "c")), 1.5, "SYM3", 7L, 2.5)), None)
    assert(AvroReference.read(bytes) === want, "the hand-written bytes are valid Avro")
    assert(new AvroCodec().decode(bytes) === want)
    import spark.implicits._
    assert(TradeAvroOps.decode(Seq(bytes).toDF("value")).collect().toSeq === Seq(want))
  }

  test("Dataset decodeWire rejects a bad magic byte and a pinned schema id mismatch") {
    import spark.implicits._
    val events = shapes.map(_._2).take(2).toDS()
    def message(body: => Any): String = {
      val ex = intercept[Exception](body)
      Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    assert(message(TradeAvroOps.decodeWire(TradeAvroOps.encodeWire(events, 7), Some(8))
      .collect()).contains("schema id mismatch: frame has 7, expected 8"))
    assert(message(TradeAvroOps.decodeWire(TradeAvroOps.encode(events)).collect())
      .contains("not a registry-framed message"))
  }

  test("a codec stays usable after a failed encode") {
    val codec = new AvroCodec
    val ev = shapes.head._2
    intercept[NullPointerException](codec.encode(ev.copy(
      tradeData = ev.tradeData.map(_.copy(Symbol = null)))))
    assert(codec.encode(ev).toSeq === AvroReference.write(ev).toSeq)
  }

  test("a null in a field the schema cannot hold fails the encode, naming the field") {
    import spark.implicits._
    val bad = Seq(shapes.head._2.copy(symbol = null)).toDS()
    val ex = intercept[Exception](TradeAvroOps.encode(bad).collect())
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("TradeEvent.symbol")))
  }

  test("the decoded row type is TradeEvent's encoder schema up to nullability") {
    def nullable(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case ArrayType(et, _) => ArrayType(nullable(et), containsNull = true)
      case other => other
    }
    assert(nullable(AvroRows.rowType(TradeAvro.tradeEventSchema)) ===
      nullable(Encoders.product[TradeEvent].schema))
  }
}
