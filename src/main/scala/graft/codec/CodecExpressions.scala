package graft.codec

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions.concat
import org.apache.spark.sql.graft.{shim => colshim}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** UTF8String/Decimal bridges so codegen can call straight into
  * [[OBytes]] without driver-side conversions. Standalone Scala objects
  * emit static forwarders, so Janino calls these as plain static
  * methods inside whole-stage codegen.
  */
object CodecBridge {
  def encUtf8(s: UTF8String, desc: Boolean): Array[Byte] =
    OBytes.encodeString(s.toString, desc)
  def decUtf8(b: Array[Byte], desc: Boolean): UTF8String =
    UTF8String.fromString(OBytes.decodeString(b, desc))
  def encDecimal(d: Decimal, desc: Boolean): Array[Byte] =
    OBytes.encodeNumeric(d.toJavaBigDecimal, desc)
  // layout-faithful ([[OBytesHb]]) twins — distinct names because
  // codegen call sites are static
  def encUtf8Hb(s: UTF8String, desc: Boolean): Array[Byte] =
    OBytesHb.encodeString(s.toString, desc)
  def decUtf8Hb(b: Array[Byte], desc: Boolean): UTF8String =
    UTF8String.fromString(OBytesHb.decodeString(b, desc))
  def encDecimalHb(d: Decimal, desc: Boolean): Array[Byte] =
    OBytesHb.encodeNumeric(d.toJavaBigDecimal, desc)
  def decNumericDoubleHb(b: Array[Byte], desc: Boolean): Double =
    OBytesHb.decodeNumeric(b, desc).doubleValue()
}

/** `ordered_encode(col[, desc])`: order-preserving byte encoding of a
  * key column (SURVEY.md §1.2/§4 — the reference's `OrderedBytes` /
  * `types.DataType` surface, OrderedBytes.java:297). Output is
  * BinaryType whose unsigned-lex order equals the value order (inverted
  * when `desc`); encodings are self-terminating, so composite row keys
  * are plain `concat(...)` — the reference's `Struct` device
  * (types/Struct.java). Sorting/range-partitioning by such a key
  * (`repartitionByRange`) is graft's analogue of the reference's
  * region-split-by-key layout.
  */
case class OrderedEncode(child: Expression, desc: Boolean, hb: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = if (hb) "ordered_encode_hb" else "ordered_encode"

  // wire format selector: graft's own layout, or the reference-layout-
  // faithful OBytesHb (same OrderedCodec contract, different bytes)
  private def M: String = if (hb) "graft.codec.OBytesHb" else "graft.codec.OBytes"
  @transient private lazy val codec: OrderedCodec = if (hb) OBytesHb else OBytes

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType | FloatType |
        StringType | TimestampType | _: DecimalType =>
      TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName: unsupported key type $t")
  }

  override protected def nullSafeEval(v: Any): Any = child.dataType match {
    case LongType | TimestampType => codec.encodeLong(v.asInstanceOf[Long], desc)
    case IntegerType              => codec.encodeLong(v.asInstanceOf[Int].toLong, desc)
    case ShortType                => codec.encodeLong(v.asInstanceOf[Short].toLong, desc)
    case ByteType                 => codec.encodeLong(v.asInstanceOf[Byte].toLong, desc)
    case DoubleType               => codec.encodeDouble(v.asInstanceOf[Double], desc)
    case FloatType                => codec.encodeDouble(v.asInstanceOf[Float].toDouble, desc)
    case StringType =>
      if (hb) CodecBridge.encUtf8Hb(v.asInstanceOf[UTF8String], desc)
      else CodecBridge.encUtf8(v.asInstanceOf[UTF8String], desc)
    case _: DecimalType =>
      if (hb) CodecBridge.encDecimalHb(v.asInstanceOf[Decimal], desc)
      else CodecBridge.encDecimal(v.asInstanceOf[Decimal], desc)
    case t => sys.error(s"unsupported key type $t")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => child.dataType match {
      case LongType | TimestampType => s"$M.encodeLong($c, $desc)"
      case IntegerType | ShortType | ByteType =>
        s"$M.encodeLong((long) $c, $desc)"
      case DoubleType => s"$M.encodeDouble($c, $desc)"
      case FloatType  => s"$M.encodeDouble((double) $c, $desc)"
      case StringType =>
        s"graft.codec.CodecBridge.${if (hb) "encUtf8Hb" else "encUtf8"}($c, $desc)"
      case _: DecimalType =>
        s"graft.codec.CodecBridge.${if (hb) "encDecimalHb" else "encDecimal"}($c, $desc)"
      case t => sys.error(s"unsupported key type $t")
    })

  override protected def withNewChildInternal(newChild: Expression): OrderedEncode =
    copy(child = newChild)
}

/** `ordered_decode_<type>(bytes[, desc])`: exact inverse of
  * [[OrderedEncode]] for a binary column holding one encoded value.
  * `target` picks the decoder; numeric decodes through BigDecimal to
  * DoubleType (the exact-BigDecimal path is the OBytes API itself).
  */
case class OrderedDecode(child: Expression, target: DataType, desc: Boolean,
    hb: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = target
  override def prettyName: String = if (hb) "ordered_decode_hb" else "ordered_decode"

  private def M: String = if (hb) "graft.codec.OBytesHb" else "graft.codec.OBytes"
  @transient private lazy val codec: OrderedCodec = if (hb) OBytesHb else OBytes

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName: needs binary input, got $t")
  }

  override protected def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    target match {
      case LongType | TimestampType => codec.decodeLong(b, desc)
      case DoubleType               => codec.decodeDouble(b, desc)
      case StringType =>
        if (hb) CodecBridge.decUtf8Hb(b, desc) else CodecBridge.decUtf8(b, desc)
      case t => sys.error(s"unsupported decode type $t")
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => target match {
      case LongType | TimestampType => s"$M.decodeLong($c, $desc)"
      case DoubleType               => s"$M.decodeDouble($c, $desc)"
      case StringType =>
        s"graft.codec.CodecBridge.${if (hb) "decUtf8Hb" else "decUtf8"}($c, $desc)"
      case t => sys.error(s"unsupported decode type $t")
    })

  override protected def withNewChildInternal(newChild: Expression): OrderedDecode =
    copy(child = newChild)
}

/** Numeric (arbitrary-precision) decode surfaced as DoubleType — the
  * `OrderedNumeric.decodeDouble` analogue. Interpreted-only eval is
  * fine here: it sits on small decoded outputs, not the scan hot path.
  */
case class OrderedDecodeNumeric(child: Expression, desc: Boolean,
    hb: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String =
    if (hb) "ordered_decode_numeric_hb" else "ordered_decode_numeric"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName: needs binary input, got $t")
  }

  override protected def nullSafeEval(v: Any): Any =
    if (hb) CodecBridge.decNumericDoubleHb(v.asInstanceOf[Array[Byte]], desc)
    else OBytes.decodeNumericDouble(v.asInstanceOf[Array[Byte]], desc)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      if (hb) s"graft.codec.CodecBridge.decNumericDoubleHb($c, $desc)"
      else s"graft.codec.OBytes.decodeNumericDouble($c, $desc)")

  override protected def withNewChildInternal(newChild: Expression): OrderedDecodeNumeric =
    copy(child = newChild)
}

/** Native-width encodings — the `OrderedInt32/16/8`, `OrderedFloat32`,
  * `OrderedBlobVar`, `OrderedBlob` analogues (types/DataType.java:49
  * family). Unlike [[OrderedEncode]] (which widens integral keys to the
  * 8-byte OrderedInt64 layout), these preserve the declared width —
  * the reference exposes them as distinct `DataType`s for key-size
  * control, and so does graft. */
case class OrderedEncodeNarrow(child: Expression, kind: String, desc: Boolean,
    hb: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String =
    if (hb) s"ordered_encode_${kind}_hb" else s"ordered_encode_$kind"

  private def M: String = if (hb) "graft.codec.OBytesHb" else "graft.codec.OBytes"
  @transient private lazy val codec: OrderedCodec = if (hb) OBytesHb else OBytes

  private def expected: DataType = kind match {
    case "int32"   => IntegerType
    case "int16"   => ShortType
    case "int8"    => ByteType
    case "float32" => FloatType
    case "blobvar" | "blobcopy" => BinaryType
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == expected) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName: needs $expected input, got ${child.dataType}")

  override protected def nullSafeEval(v: Any): Any = kind match {
    case "int32"    => codec.encodeInt(v.asInstanceOf[Int], desc)
    case "int16"    => codec.encodeShort(v.asInstanceOf[Short], desc)
    case "int8"     => codec.encodeByte(v.asInstanceOf[Byte], desc)
    case "float32"  => codec.encodeFloat(v.asInstanceOf[Float], desc)
    case "blobvar"  => codec.encodeBlobVar(v.asInstanceOf[Array[Byte]], desc)
    case "blobcopy" => codec.encodeBlobCopy(v.asInstanceOf[Array[Byte]], desc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => kind match {
      case "int32"    => s"$M.encodeInt($c, $desc)"
      case "int16"    => s"$M.encodeShort($c, $desc)"
      case "int8"     => s"$M.encodeByte($c, $desc)"
      case "float32"  => s"$M.encodeFloat($c, $desc)"
      case "blobvar"  => s"$M.encodeBlobVar($c, $desc)"
      case "blobcopy" => s"$M.encodeBlobCopy($c, $desc)"
    })

  override protected def withNewChildInternal(newChild: Expression): OrderedEncodeNarrow =
    copy(child = newChild)
}

case class OrderedDecodeNarrow(child: Expression, kind: String, desc: Boolean,
    hb: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = kind match {
    case "int32"   => IntegerType
    case "int16"   => ShortType
    case "int8"    => ByteType
    case "float32" => FloatType
    case "blobvar" | "blobcopy" => BinaryType
  }
  override def prettyName: String =
    if (hb) s"ordered_decode_${kind}_hb" else s"ordered_decode_$kind"

  private def M: String = if (hb) "graft.codec.OBytesHb" else "graft.codec.OBytes"
  @transient private lazy val codec: OrderedCodec = if (hb) OBytesHb else OBytes

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName: needs binary input, got $t")
  }

  override protected def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    kind match {
      case "int32"    => codec.decodeInt(b, desc)
      case "int16"    => codec.decodeShort(b, desc)
      case "int8"     => codec.decodeByte(b, desc)
      case "float32"  => codec.decodeFloat(b, desc)
      case "blobvar"  => codec.decodeBlobVar(b, desc)
      case "blobcopy" => codec.decodeBlobCopy(b, desc)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => kind match {
      case "int32"    => s"$M.decodeInt($c, $desc)"
      case "int16"    => s"$M.decodeShort($c, $desc)"
      case "int8"     => s"$M.decodeByte($c, $desc)"
      case "float32"  => s"$M.decodeFloat($c, $desc)"
      case "blobvar"  => s"$M.decodeBlobVar($c, $desc)"
      case "blobcopy" => s"$M.decodeBlobCopy($c, $desc)"
    })

  override protected def withNewChildInternal(newChild: Expression): OrderedDecodeNarrow =
    copy(child = newChild)
}

/** Column API + SQL registration for the ordered-bytes codec. */
object CodecFunctions {

  def ordered_encode(c: Column): Column = ordered_encode(c, desc = false)
  def ordered_encode(c: Column, desc: Boolean): Column =
    colshim.column(OrderedEncode(colshim.expression(c), desc))

  // layout-faithful mode: identical surface, reference wire bytes
  // ([[OBytesHb]]) — keys interchange with reference-client encodings
  def ordered_encode_hb(c: Column, desc: Boolean = false): Column =
    colshim.column(OrderedEncode(colshim.expression(c), desc, hb = true))
  def ordered_decode_long_hb(c: Column, desc: Boolean = false): Column =
    colshim.column(OrderedDecode(colshim.expression(c), LongType, desc, hb = true))
  def ordered_decode_double_hb(c: Column, desc: Boolean = false): Column =
    colshim.column(OrderedDecode(colshim.expression(c), DoubleType, desc, hb = true))
  def ordered_decode_string_hb(c: Column, desc: Boolean = false): Column =
    colshim.column(OrderedDecode(colshim.expression(c), StringType, desc, hb = true))
  def ordered_decode_numeric_hb(c: Column, desc: Boolean = false): Column =
    colshim.column(OrderedDecodeNumeric(colshim.expression(c), desc, hb = true))

  def ordered_decode_long(c: Column, desc: Boolean = false): Column =
    colshim.column(OrderedDecode(colshim.expression(c), LongType, desc))
  def ordered_decode_ts(c: Column, desc: Boolean = false): Column =
    colshim.column(OrderedDecode(colshim.expression(c), TimestampType, desc))
  def ordered_decode_double(c: Column, desc: Boolean = false): Column =
    colshim.column(OrderedDecode(colshim.expression(c), DoubleType, desc))
  def ordered_decode_string(c: Column, desc: Boolean = false): Column =
    colshim.column(OrderedDecode(colshim.expression(c), StringType, desc))
  def ordered_decode_numeric(c: Column, desc: Boolean = false): Column =
    colshim.column(OrderedDecodeNumeric(colshim.expression(c), desc))

  // narrow fixed-width + blob variants (types/OrderedInt32 etc.)
  private def encN(c: Column, kind: String, desc: Boolean): Column =
    colshim.column(OrderedEncodeNarrow(colshim.expression(c), kind, desc))
  private def decN(c: Column, kind: String, desc: Boolean): Column =
    colshim.column(OrderedDecodeNarrow(colshim.expression(c), kind, desc))

  def ordered_encode_int32(c: Column, desc: Boolean = false): Column   = encN(c, "int32", desc)
  def ordered_encode_int16(c: Column, desc: Boolean = false): Column   = encN(c, "int16", desc)
  def ordered_encode_int8(c: Column, desc: Boolean = false): Column    = encN(c, "int8", desc)
  def ordered_encode_float32(c: Column, desc: Boolean = false): Column = encN(c, "float32", desc)
  def ordered_encode_blob_var(c: Column, desc: Boolean = false): Column  = encN(c, "blobvar", desc)
  /** NOT self-terminating — last composite field only (OrderedBlob). */
  def ordered_encode_blob_copy(c: Column, desc: Boolean = false): Column = encN(c, "blobcopy", desc)

  def ordered_decode_int32(c: Column, desc: Boolean = false): Column   = decN(c, "int32", desc)
  def ordered_decode_int16(c: Column, desc: Boolean = false): Column   = decN(c, "int16", desc)
  def ordered_decode_int8(c: Column, desc: Boolean = false): Column    = decN(c, "int8", desc)
  def ordered_decode_float32(c: Column, desc: Boolean = false): Column = decN(c, "float32", desc)
  def ordered_decode_blob_var(c: Column, desc: Boolean = false): Column  = decN(c, "blobvar", desc)
  def ordered_decode_blob_copy(c: Column, desc: Boolean = false): Column = decN(c, "blobcopy", desc)

  // narrow fixed-width + blob variants in the LAYOUT-FAITHFUL hb wire
  // mode (OrderedBytes.java encodeInt8/16/32, encodeFloat32,
  // encodeBlobVar/Copy — headers 0x29-0x2b, 0x30, 0x37/0x38) — keys
  // interchange with reference-client composite encodings
  private def encNHb(c: Column, kind: String, desc: Boolean): Column =
    colshim.column(OrderedEncodeNarrow(colshim.expression(c), kind, desc, hb = true))
  private def decNHb(c: Column, kind: String, desc: Boolean): Column =
    colshim.column(OrderedDecodeNarrow(colshim.expression(c), kind, desc, hb = true))

  def ordered_encode_int32_hb(c: Column, desc: Boolean = false): Column   = encNHb(c, "int32", desc)
  def ordered_encode_int16_hb(c: Column, desc: Boolean = false): Column   = encNHb(c, "int16", desc)
  def ordered_encode_int8_hb(c: Column, desc: Boolean = false): Column    = encNHb(c, "int8", desc)
  def ordered_encode_float32_hb(c: Column, desc: Boolean = false): Column = encNHb(c, "float32", desc)
  def ordered_encode_blob_var_hb(c: Column, desc: Boolean = false): Column  = encNHb(c, "blobvar", desc)
  /** NOT self-terminating ascending — last composite field only. */
  def ordered_encode_blob_copy_hb(c: Column, desc: Boolean = false): Column = encNHb(c, "blobcopy", desc)

  def ordered_decode_int32_hb(c: Column, desc: Boolean = false): Column   = decNHb(c, "int32", desc)
  def ordered_decode_int16_hb(c: Column, desc: Boolean = false): Column   = decNHb(c, "int16", desc)
  def ordered_decode_int8_hb(c: Column, desc: Boolean = false): Column    = decNHb(c, "int8", desc)
  def ordered_decode_float32_hb(c: Column, desc: Boolean = false): Column = decNHb(c, "float32", desc)
  def ordered_decode_blob_var_hb(c: Column, desc: Boolean = false): Column  = decNHb(c, "blobvar", desc)
  def ordered_decode_blob_copy_hb(c: Column, desc: Boolean = false): Column = decNHb(c, "blobcopy", desc)

  /** Composite ascending row key — the all-ASC special case of
    * [[ordered_struct]] (self-terminating ⇒ prefix-free ⇒ lex order of
    * the concat = tuple order), the reference's `Struct` composition. */
  def ordered_key(cols: Column*): Column =
    ordered_struct(cols.map(OField(_)): _*)

  /** Explicit Struct builder (types/Struct.java + StructBuilder): a
    * field list with per-field sort order; encodings concatenate into
    * one composite key whose lex order is the tuple order with the
    * declared ASC/DESC per field. */
  final case class OField(col: Column, desc: Boolean = false)
  def ordered_struct(fields: OField*): Column =
    concat(fields.map(f => ordered_encode(f.col, f.desc)): _*)

  /** Union builder (types/Union2..Union4): a 1-byte alternative tag +
    * the active member's encoding. The FIRST non-null alternative wins
    * (defined precedence when several are set); a row with every
    * alternative NULL raises, like the reference's Union types which
    * require a concrete member — it must not silently sort to one end. */
  def ordered_union(alternatives: Column*): Column = {
    require(alternatives.size >= 2 && alternatives.size <= 255,
      "ordered_union: needs 2..255 alternatives")
    import org.apache.spark.sql.functions.{lit, raise_error, when}
    def branch(c: Column, i: Int) = concat(lit(Array(i.toByte)), ordered_encode(c))
    alternatives.tail.zipWithIndex
      .foldLeft(when(alternatives.head.isNotNull, branch(alternatives.head, 0))) {
        case (acc, (c, i)) => acc.when(c.isNotNull, branch(c, i + 1))
      }
      .otherwise(raise_error(lit("ordered_union: all alternatives NULL")))
  }
}
