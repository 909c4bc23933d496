package graft.functions

import java.io.ByteArrayOutputStream

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.avro.{AvroRuntimeException, Schema}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, Decoder, DecoderFactory, Encoder, EncoderFactory}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, SpecializedGetters, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst rows ↔ Avro binary for any record schema, with no JVM
  * object per record: the one codec behind both reference topics —
  * TradeEvent ([[graft.ops.TradeAvroOps]], [[graft.ops.HotPath]]) and
  * HealthSensorRecord ([[graft.ops.HealthAvroOps]]) — and behind the
  * object codecs of [[graft.model.AvroObjectCodec]].
  *
  * One field walk of the record schema, compiled once per codec into a
  * small tree of writers and readers, drives Avro's own
  * `BinaryEncoder`/`BinaryDecoder` primitives in the order
  * `GenericDatumWriter` calls them, so the bytes are Avro's:
  *  - records: fields in schema order; a writer finds each field in the
  *    input struct by NAME, so field order and extra fields in the input
  *    do not matter;
  *  - `int`, `long`, `double`: Catalyst int, bigint, double;
  *  - `union(null, T)`: the branch index, then T when non-null;
  *  - arrays: one block of `n` items and the end marker on write; any
  *    number of blocks on read (`readArrayStart`/`arrayNext`), so
  *    multi-block arrays from another writer decode;
  *  - strings: the UTF-8 bytes as they sit in the row, written without
  *    decoding to a Java string.
  *
  * A null where the schema has no null branch fails like Avro's writer
  * (NullPointerException naming the field). Decoded rows have the
  * Catalyst type [[rowType]] of the same schema: required fields are
  * non-nullable, union fields nullable, array items non-null. It
  * matches the record case class's encoder schema up to that
  * nullability, so `.as[TradeEvent]` / `.as[HealthSensorRecord]`
  * resolves on it.
  */
object AvroRows {

  /** `union(null, T)` → (index of the null branch, T); other schemas → None. */
  private def optional(s: Schema): Option[(Int, Schema)] =
    if (s.getType != Schema.Type.UNION) None
    else {
      val ts = s.getTypes.asScala
      val nul = ts.indexWhere(_.getType == Schema.Type.NULL)
      require(ts.size == 2 && nul >= 0, s"only union(null, T) is supported, got $s")
      Some((nul, ts(1 - nul)))
    }

  private def catalystType(s: Schema): DataType = optional(s) match {
    case Some((_, t)) => catalystType(t)
    case None => s.getType match {
      case Schema.Type.STRING => StringType
      case Schema.Type.DOUBLE => DoubleType
      case Schema.Type.LONG => LongType
      case Schema.Type.INT => IntegerType
      case Schema.Type.ARRAY => ArrayType(catalystType(s.getElementType),
        containsNull = optional(s.getElementType).isDefined)
      case Schema.Type.RECORD => StructType(s.getFields.asScala.map(f =>
        StructField(f.name, catalystType(f.schema), optional(f.schema).isDefined)).toSeq)
      case other => throw new IllegalArgumentException(s"unsupported Avro type $other")
    }
  }

  /** Catalyst type of a decoded `schema` record. */
  def rowType(schema: Schema): StructType = catalystType(schema).asInstanceOf[StructType]

  // --- write: Catalyst value → Avro ------------------------------

  /** Writes the value at ordinal `i` of `in`, which is not null. */
  private[functions] sealed abstract class Put {
    def put(in: SpecializedGetters, i: Int, out: Encoder): Unit
  }

  private object PutString extends Put {
    def put(in: SpecializedGetters, i: Int, out: Encoder): Unit = {
      val s = in.getUTF8String(i)
      s.getBaseObject match {
        case a: Array[Byte] =>
          out.writeBytes(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
        case _ =>
          val b = s.getBytes
          out.writeBytes(b, 0, b.length)
      }
    }
  }

  private object PutDouble extends Put {
    def put(in: SpecializedGetters, i: Int, out: Encoder): Unit = out.writeDouble(in.getDouble(i))
  }

  private object PutLong extends Put {
    def put(in: SpecializedGetters, i: Int, out: Encoder): Unit = out.writeLong(in.getLong(i))
  }

  private object PutInt extends Put {
    def put(in: SpecializedGetters, i: Int, out: Encoder): Unit = out.writeInt(in.getInt(i))
  }

  private final class PutOptional(nullBranch: Int, value: Put) extends Put {
    def put(in: SpecializedGetters, i: Int, out: Encoder): Unit =
      if (in.isNullAt(i)) out.writeIndex(nullBranch)
      else {
        out.writeIndex(1 - nullBranch)
        value.put(in, i, out)
      }
  }

  /** `requiredPath` is non-null when the input may hold a null item the
    * schema cannot take; it names the items in the error. */
  private final class PutArray(item: Put, requiredPath: String) extends Put {
    def put(in: SpecializedGetters, i: Int, out: Encoder): Unit = {
      val a = in.getArray(i)
      val n = a.numElements()
      out.writeArrayStart()
      out.setItemCount(n)
      var j = 0
      while (j < n) {
        out.startItem()
        if (requiredPath != null && a.isNullAt(j)) throw nullAt(requiredPath)
        item.put(a, j, out)
        j += 1
      }
      out.writeArrayEnd()
    }
  }

  /** `ordinals(k)` is the input position of schema field k;
    * `requiredPaths(k)` is non-null when that input field is nullable
    * and the schema field is not. */
  private[functions] final class PutRecord(ordinals: Array[Int], fields: Array[Put],
                                           requiredPaths: Array[String], width: Int) extends Put {
    def put(in: SpecializedGetters, i: Int, out: Encoder): Unit =
      putRow(in.getStruct(i, width), out)

    def putRow(row: InternalRow, out: Encoder): Unit = {
      var k = 0
      while (k < fields.length) {
        val o = ordinals(k)
        if (requiredPaths(k) != null && row.isNullAt(o)) throw nullAt(requiredPaths(k))
        fields(k).put(row, o, out)
        k += 1
      }
    }
  }

  private def nullAt(path: String) =
    new NullPointerException(s"null value for (non-nullable) $path")

  private def writer(s: Schema, dt: DataType, path: String): Put = optional(s) match {
    case Some((nul, t)) => new PutOptional(nul, writer(t, dt, path))
    case None => (s.getType, dt) match {
      case (Schema.Type.STRING, _: StringType) => PutString
      case (Schema.Type.DOUBLE, DoubleType) => PutDouble
      case (Schema.Type.LONG, LongType) => PutLong
      case (Schema.Type.INT, IntegerType) => PutInt
      case (Schema.Type.ARRAY, ArrayType(et, containsNull)) =>
        val itemRequired = containsNull && optional(s.getElementType).isEmpty
        new PutArray(writer(s.getElementType, et, s"$path[]"),
          if (itemRequired) s"$path[]" else null)
      case (Schema.Type.RECORD, st: StructType) =>
        val fs = s.getFields.asScala.toArray
        val ordinals = fs.map { f =>
          val o = st.fieldNames.indexOf(f.name)
          require(o >= 0, s"$path has no field ${f.name}")
          o
        }
        val puts = fs.zip(ordinals).map { case (f, o) =>
          writer(f.schema, st(o).dataType, s"$path.${f.name}") }
        val required = fs.zip(ordinals).map { case (f, o) =>
          if (st(o).nullable && optional(f.schema).isEmpty) s"$path.${f.name}" else null }
        new PutRecord(ordinals, puts, required, st.length)
      case _ => throw new IllegalArgumentException(
        s"$path: Avro ${s.getType} cannot be written from ${dt.catalogString}")
    }
  }

  /** The `schema` record writer for rows of `input`; fails when a
    * schema field is missing from `input` or has an incompatible type. */
  private[functions] def writer(schema: Schema, input: StructType): PutRecord =
    writer(schema, input, schema.getName).asInstanceOf[PutRecord]

  // --- read: Avro → Catalyst value --------------------------------

  private[functions] sealed abstract class Get {
    def get(in: Decoder): Any
  }

  private object GetString extends Get {
    // a fresh Utf8 owns an exactly-sized buffer, so it is wrapped, not copied
    def get(in: Decoder): Any = {
      val u = in.readString(null)
      UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
    }
  }

  private object GetDouble extends Get {
    def get(in: Decoder): Any = in.readDouble()
  }

  private object GetLong extends Get {
    def get(in: Decoder): Any = in.readLong()
  }

  private object GetInt extends Get {
    def get(in: Decoder): Any = in.readInt()
  }

  private final class GetOptional(nullBranch: Int, value: Get) extends Get {
    def get(in: Decoder): Any = {
      val b = in.readIndex()
      if (b == nullBranch) null
      else if (b == 1 - nullBranch) value.get(in)
      else throw new AvroRuntimeException(s"union branch $b out of range")
    }
  }

  private final class GetArray(item: Get) extends Get {
    def get(in: Decoder): Any = {
      var n = in.readArrayStart()
      var items = new Array[AnyRef](n.toInt)
      var k = 0
      while (n > 0) {
        if (k + n > items.length) items = java.util.Arrays.copyOf(items, (k + n).toInt)
        var j = 0L
        while (j < n) {
          items(k) = item.get(in).asInstanceOf[AnyRef]
          k += 1
          j += 1
        }
        n = in.arrayNext()
      }
      new GenericArrayData(items.asInstanceOf[Array[Any]])
    }
  }

  private final class GetRecord(fields: Array[Get]) extends Get {
    def get(in: Decoder): Any = {
      val values = new Array[Any](fields.length)
      var k = 0
      while (k < fields.length) {
        values(k) = fields(k).get(in)
        k += 1
      }
      new GenericInternalRow(values)
    }
  }

  /** The reader of one `s` value; for a record schema, one row of
    * type [[rowType]]. */
  private[functions] def reader(s: Schema): Get = optional(s) match {
    case Some((nul, t)) => new GetOptional(nul, reader(t))
    case None => s.getType match {
      case Schema.Type.STRING => GetString
      case Schema.Type.DOUBLE => GetDouble
      case Schema.Type.LONG => GetLong
      case Schema.Type.INT => GetInt
      case Schema.Type.ARRAY => new GetArray(reader(s.getElementType))
      case Schema.Type.RECORD => new GetRecord(s.getFields.asScala.map(f => reader(f.schema)).toArray)
      case other => throw new IllegalArgumentException(s"unsupported Avro type $other")
    }
  }

  // --- Column API ---------------------------------------------------

  /** `schema` record struct → Avro binary. */
  def encode(record: Column, schema: Schema): Column =
    ColumnBridge.column(AvroEncode(ColumnBridge.expression(record), schema, None))

  /** `schema` record struct → registry-framed Avro binary (0x0 magic +
    * big-endian schema id + payload). */
  def encodeWire(record: Column, schema: Schema, schemaId: Int): Column =
    ColumnBridge.column(AvroEncode(ColumnBridge.expression(record), schema, Some(schemaId)))

  /** Avro binary → `schema` record struct of type [[rowType]]. */
  def decode(bytes: Column, schema: Schema): Column =
    ColumnBridge.column(AvroDecode(ColumnBridge.expression(bytes), schema, wire = false, None))

  /** Registry-framed Avro binary → `schema` record struct; a wrong magic
    * byte, or a schema id other than `expectSchemaId` when set, fails
    * the query. */
  def decodeWire(bytes: Column, schema: Schema, expectSchemaId: Option[Int]): Column =
    ColumnBridge.column(AvroDecode(ColumnBridge.expression(bytes), schema, wire = true, expectSchemaId))
}

/** The reusable state of one encoder/decoder of `schema` records:
  * output buffer, Avro encoder and decoder, the writer compiled for rows
  * of `input` and the reader. Not thread-safe; generated code holds one
  * per task.
  */
final class AvroRowCodec(schema: Schema, input: StructType) {
  def this(schema: Schema) = this(schema, AvroRows.rowType(schema))

  private lazy val writer = AvroRows.writer(schema, input)
  private lazy val reader = AvroRows.reader(schema)
  private val out = new ByteArrayOutputStream(512)
  // bound to `out` once: re-binding per record allocates a new sink
  private var encoder: BinaryEncoder = EncoderFactory.get().binaryEncoder(out, null)
  private var decoder: BinaryDecoder = _

  def encode(row: InternalRow): Array[Byte] = {
    out.reset()
    write(row)
  }

  /** 0x0 magic + big-endian schema id + the Avro payload. */
  def encodeWire(row: InternalRow, schemaId: Int): Array[Byte] = {
    out.reset()
    out.write(0x0)
    out.write(schemaId >>> 24)
    out.write(schemaId >>> 16)
    out.write(schemaId >>> 8)
    out.write(schemaId)
    write(row)
  }

  private def write(row: InternalRow): Array[Byte] = {
    try writer.putRow(row, encoder)
    catch {
      case e: Throwable =>
        // drop the half-written record buffered in the encoder
        encoder = EncoderFactory.get().binaryEncoder(out, encoder)
        throw e
    }
    encoder.flush()
    out.toByteArray
  }

  def decode(bytes: Array[Byte]): InternalRow = decodeAt(bytes, 0)

  /** The schema id in a registry frame's 5-byte header; a message
    * without one (short, or a magic byte other than 0x0) fails loudly,
    * like the registry deserializer. */
  def schemaId(bytes: Array[Byte]): Int = {
    require(bytes.length >= 5 && bytes(0) == 0x0,
      s"not a registry-framed message (len=${bytes.length}, " +
        s"magic=${if (bytes.isEmpty) "<empty>" else bytes(0).toString})")
    ((bytes(1) & 0xff) << 24) | ((bytes(2) & 0xff) << 16) |
      ((bytes(3) & 0xff) << 8) | (bytes(4) & 0xff)
  }

  /** The payload of a registry frame; when `pinned`, its schema id must
    * be `expect`. */
  def decodeWire(bytes: Array[Byte], pinned: Boolean, expect: Int): InternalRow = {
    val id = schemaId(bytes)
    require(!pinned || id == expect, s"schema id mismatch: frame has $id, expected $expect")
    decodeAt(bytes, 5)
  }

  /** The payload of a registry frame whose header was checked. */
  def decodeAt(bytes: Array[Byte], offset: Int): InternalRow = {
    decoder = DecoderFactory.get().binaryDecoder(bytes, offset, bytes.length - offset, decoder)
    reader.get(decoder).asInstanceOf[InternalRow]
  }
}

/** `schema` record struct → Avro binary, framed with the registry header
  * when `schemaId` is set. Null struct → null. */
case class AvroEncode(child: Expression, schema: Schema, schemaId: Option[Int])
    extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "avro_encode"
  // the schema prints as its name, not as its JSON
  override protected def stringArgs: Iterator[Any] = Iterator(child, schema.getFullName, schemaId)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StructType => Try(AvroRows.writer(schema, st)) match {
      case Success(_) => TypeCheckResult.TypeCheckSuccess
      case Failure(e) => TypeCheckResult.TypeCheckFailure(
        s"avro_encode cannot write ${st.catalogString} as ${schema.getFullName}: ${e.getMessage}")
    }
    case other => TypeCheckResult.TypeCheckFailure(
      s"avro_encode requires a ${schema.getFullName} struct, got ${other.catalogString}")
  }

  @transient private lazy val codec = newCodec()

  def newCodec(): AvroRowCodec = new AvroRowCodec(schema, child.dataType.asInstanceOf[StructType])

  override def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[InternalRow]
    schemaId.fold(codec.encode(row))(codec.encodeWire(row, _))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("avroEncode", this)
    val codec = ctx.addMutableState(classOf[AvroRowCodec].getName, "avroCodec",
      v => s"$v = $self.newCodec();")
    defineCodeGen(ctx, ev, row =>
      schemaId.fold(s"$codec.encode($row)")(id => s"$codec.encodeWire($row, $id)"))
  }

  override protected def withNewChildInternal(newChild: Expression): AvroEncode =
    copy(child = newChild)
}

/** Avro binary → `schema` record struct of type [[AvroRows.rowType]];
  * with `wire`, the binary carries the registry header, whose schema id
  * must equal `expectSchemaId` when that is set. Null binary → null. */
case class AvroDecode(child: Expression, schema: Schema, wire: Boolean,
                      expectSchemaId: Option[Int]) extends UnaryExpression {

  override lazy val dataType: DataType = AvroRows.rowType(schema)
  override def prettyName: String = "avro_decode"
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, schema.getFullName, wire, expectSchemaId)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"avro_decode requires binary, got ${other.catalogString}")
  }

  @transient private lazy val codec = newCodec()

  def newCodec(): AvroRowCodec = new AvroRowCodec(schema)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    if (wire) codec.decodeWire(bytes, expectSchemaId.isDefined, expectSchemaId.getOrElse(0))
    else codec.decode(bytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("avroDecode", this)
    val codec = ctx.addMutableState(classOf[AvroRowCodec].getName, "avroCodec",
      v => s"$v = $self.newCodec();")
    defineCodeGen(ctx, ev, bytes =>
      if (wire) s"$codec.decodeWire($bytes, ${expectSchemaId.isDefined}, ${expectSchemaId.getOrElse(0)})"
      else s"$codec.decode($bytes)")
  }

  override protected def withNewChildInternal(newChild: Expression): AvroDecode =
    copy(child = newChild)
}
