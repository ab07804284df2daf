package graft.codec

import java.math.{BigDecimal => JBigDecimal, BigInteger, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets

/** Order-preserving byte encodings — behavioral parity with the
  * reference's `OrderedBytes` / `DataType` family
  * (hbase-common/src/main/java/org/apache/hadoop/hbase/util/OrderedBytes.java:297,
  * hbase-common/src/main/java/org/apache/hadoop/hbase/types/DataType.java:49):
  * for every supported type, `encode(a) <unsigned-lex encode(b)` ⟺ `a < b`,
  * with an exact decode. The wire format is graft's own (the contract is
  * the ordering guarantee, not the reference's byte layout):
  *
  *  - long:   8 bytes big-endian with the sign bit flipped
  *            (`OrderedInt64` analogue).
  *  - double: IEEE-754 bits; non-negative → flip sign bit, negative →
  *            flip all bits (`OrderedFloat64` analogue; total order,
  *            -0.0 < 0.0, NaN above +Inf).
  *  - string: UTF-8 + 0x00 terminator; U+0000 in content is rejected,
  *            as in the reference's `encodeString` (`OrderedString`).
  *  - numeric (arbitrary-precision BigDecimal, `OrderedNumeric`
  *            analogue): sign header 0x7F/0x80/0x81 (neg/zero/pos), then
  *            for positives a 4-byte order-flipped base-10 exponent
  *            (value = 0.d₁d₂… × 10^E, d₁≠0) followed by digit bytes
  *            (digit+1 ∈ [1,10]) and a 0x00 terminator; negatives are
  *            the bitwise complement of the positive payload.
  *
  * Every encoding is self-terminating and prefix-free, so composite
  * (`Struct`, types/Struct.java) keys are plain concatenations and the
  * DESCENDING variant is the bitwise complement of the whole encoding —
  * same devices the reference uses (`Order.DESCENDING` applies a
  * complement mask).
  */
object OBytes extends OrderedCodec {

  @inline private def cpl(b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < b.length) { b(i) = (~b(i)).toByte; i += 1 }
    b
  }

  // ---- long ----

  def encodeLong(v: Long, desc: Boolean): Array[Byte] = {
    val x   = v ^ Long.MinValue
    val out = new Array[Byte](8)
    var i   = 0
    while (i < 8) { out(i) = (x >>> (56 - 8 * i)).toByte; i += 1 }
    if (desc) cpl(out) else out
  }

  def decodeLong(b: Array[Byte], desc: Boolean): Long = {
    var x = 0L
    var i = 0
    while (i < 8) {
      val raw = if (desc) (~b(i)).toByte else b(i)
      x = (x << 8) | (raw & 0xffL)
      i += 1
    }
    x ^ Long.MinValue
  }

  // ---- double (IEEE total order) ----

  def encodeDouble(v: Double, desc: Boolean): Array[Byte] = {
    val bits    = java.lang.Double.doubleToLongBits(v)
    val ordered = if (bits < 0) ~bits else bits ^ Long.MinValue
    val out     = new Array[Byte](8)
    var i       = 0
    while (i < 8) { out(i) = (ordered >>> (56 - 8 * i)).toByte; i += 1 }
    if (desc) cpl(out) else out
  }

  def decodeDouble(b: Array[Byte], desc: Boolean): Double = {
    var x = 0L
    var i = 0
    while (i < 8) {
      val raw = if (desc) (~b(i)).toByte else b(i)
      x = (x << 8) | (raw & 0xffL)
      i += 1
    }
    val bits = if (x < 0) x ^ Long.MinValue else ~x
    java.lang.Double.longBitsToDouble(bits)
  }

  // ---- string ----

  def encodeString(s: String, desc: Boolean): Array[Byte] = {
    if (s.indexOf(0) >= 0)
      throw new IllegalArgumentException(
        "ordered_encode: U+0000 not allowed in string content (reference parity)")
    val utf = s.getBytes(StandardCharsets.UTF_8)
    val out = new Array[Byte](utf.length + 1)
    System.arraycopy(utf, 0, out, 0, utf.length)
    out(utf.length) = 0x00
    if (desc) cpl(out) else out
  }

  def decodeString(b: Array[Byte], desc: Boolean): String = {
    val raw = if (desc) cpl(b.clone()) else b
    var end = raw.length
    var i   = 0
    while (i < raw.length) { if (raw(i) == 0x00) { end = i; i = raw.length } else i += 1 }
    new String(raw, 0, end, StandardCharsets.UTF_8)
  }

  // ---- arbitrary-precision numeric ----

  private val HdrNeg: Byte  = 0x7f
  private val HdrZero: Byte = 0x80.toByte
  private val HdrPos: Byte  = 0x81.toByte

  def encodeNumeric(v: JBigDecimal, desc: Boolean): Array[Byte] = {
    val sig = v.signum()
    val out =
      if (sig == 0) Array(HdrZero)
      else {
        val abs      = v.abs().stripTrailingZeros()
        val digits   = abs.unscaledValue().toString // no sign, no leading zeros
        // abs = 0.digits × 10^exp10  (normalized significand in [0.1, 1))
        val exp10    = digits.length - abs.scale()
        val payload  = new Array[Byte](4 + digits.length + 1)
        val e        = exp10 ^ 0x80000000 // order-flip the signed exponent
        payload(0) = (e >>> 24).toByte
        payload(1) = (e >>> 16).toByte
        payload(2) = (e >>> 8).toByte
        payload(3) = e.toByte
        var i = 0
        while (i < digits.length) {
          payload(4 + i) = (digits.charAt(i) - '0' + 1).toByte
          i += 1
        }
        payload(payload.length - 1) = 0x00
        if (sig > 0) HdrPos +: payload else HdrNeg +: cpl(payload)
      }
    if (desc) cpl(out) else out
  }

  def decodeNumeric(b: Array[Byte], desc: Boolean): JBigDecimal = {
    val raw = if (desc) cpl(b.clone()) else b
    raw(0) match {
      case HdrZero => JBigDecimal.ZERO
      case hdr =>
        val neg     = hdr == HdrNeg
        val payload = java.util.Arrays.copyOfRange(raw, 1, raw.length)
        if (neg) cpl(payload)
        val exp10 = (((payload(0) & 0xff) << 24) | ((payload(1) & 0xff) << 16) |
          ((payload(2) & 0xff) << 8) | (payload(3) & 0xff)) ^ 0x80000000
        val sb = new StringBuilder
        var i  = 4
        while (i < payload.length && payload(i) != 0x00) {
          sb.append(('0' + (payload(i) - 1)).toChar)
          i += 1
        }
        val unscaled = new BigInteger(sb.toString)
        val scale    = sb.length - exp10
        val mag      = new JBigDecimal(unscaled, scale)
        if (neg) mag.negate() else mag
    }
  }

  // ---- narrow fixed-width types (OrderedInt32/16/8, OrderedFloat32
  //      analogues — types/DataType.java:49 family) ----

  def encodeInt(v: Int, desc: Boolean): Array[Byte] = {
    val x   = v ^ Int.MinValue
    val out = Array((x >>> 24).toByte, (x >>> 16).toByte, (x >>> 8).toByte, x.toByte)
    if (desc) cpl(out) else out
  }

  def decodeInt(b: Array[Byte], desc: Boolean): Int = {
    var x = 0
    var i = 0
    while (i < 4) {
      val raw = if (desc) (~b(i)).toByte else b(i)
      x = (x << 8) | (raw & 0xff)
      i += 1
    }
    x ^ Int.MinValue
  }

  def encodeShort(v: Short, desc: Boolean): Array[Byte] = {
    val x   = v ^ Short.MinValue
    val out = Array((x >>> 8).toByte, x.toByte)
    if (desc) cpl(out) else out
  }

  def decodeShort(b: Array[Byte], desc: Boolean): Short = {
    val b0 = if (desc) (~b(0)).toByte else b(0)
    val b1 = if (desc) (~b(1)).toByte else b(1)
    ((((b0 & 0xff) << 8) | (b1 & 0xff)) ^ 0x8000).toShort
  }

  def encodeByte(v: Byte, desc: Boolean): Array[Byte] = {
    val out = Array((v ^ 0x80).toByte)
    if (desc) cpl(out) else out
  }

  def decodeByte(b: Array[Byte], desc: Boolean): Byte = {
    val raw = if (desc) (~b(0)).toByte else b(0)
    (raw ^ 0x80).toByte
  }

  /** Float32: same sign-fold as double, on the 4-byte IEEE bits
    * (total order, -0.0f < 0.0f, NaN above +Inf). */
  def encodeFloat(v: Float, desc: Boolean): Array[Byte] = {
    val bits    = java.lang.Float.floatToIntBits(v)
    val ordered = if (bits < 0) ~bits else bits ^ Int.MinValue
    val out = Array((ordered >>> 24).toByte, (ordered >>> 16).toByte,
      (ordered >>> 8).toByte, ordered.toByte)
    if (desc) cpl(out) else out
  }

  def decodeFloat(b: Array[Byte], desc: Boolean): Float = {
    var x = 0
    var i = 0
    while (i < 4) {
      val raw = if (desc) (~b(i)).toByte else b(i)
      x = (x << 8) | (raw & 0xff)
      i += 1
    }
    val bits = if (x < 0) x ^ Int.MinValue else ~x
    java.lang.Float.intBitsToFloat(bits)
  }

  // ---- blobs (OrderedBlobVar / OrderedBlob analogues) ----

  /** Self-terminating order-preserving blob: content 0x00 escapes to
    * (0x00, 0xFF), terminator is (0x00, 0x00). Lex order of encodings
    * equals lex order of the raw bytes, and the encoding is prefix-free
    * — safe anywhere in a composite key (`OrderedBlobVar`). */
  def encodeBlobVar(v: Array[Byte], desc: Boolean): Array[Byte] = {
    var zeros = 0
    var i     = 0
    while (i < v.length) { if (v(i) == 0x00) zeros += 1; i += 1 }
    val out = new Array[Byte](v.length + zeros + 2)
    var o   = 0
    i = 0
    while (i < v.length) {
      if (v(i) == 0x00) { out(o) = 0x00; out(o + 1) = 0xff.toByte; o += 2 }
      else { out(o) = v(i); o += 1 }
      i += 1
    }
    out(o) = 0x00; out(o + 1) = 0x00
    if (desc) cpl(out) else out
  }

  def decodeBlobVar(b: Array[Byte], desc: Boolean): Array[Byte] = {
    val raw = if (desc) cpl(b.clone()) else b
    val buf = new java.io.ByteArrayOutputStream(raw.length)
    var i   = 0
    var done = false
    while (i < raw.length && !done) {
      if (raw(i) == 0x00) {
        if (i + 1 < raw.length && raw(i + 1) == 0xff.toByte) { buf.write(0x00); i += 2 }
        else done = true
      } else { buf.write(raw(i) & 0xff); i += 1 }
    }
    buf.toByteArray
  }

  /** Raw-copy blob (`OrderedBlob`): NOT self-terminating — legal only
    * as the LAST field of a composite key, same constraint as the
    * reference documents for OrderedBlob. */
  def encodeBlobCopy(v: Array[Byte], desc: Boolean): Array[Byte] = {
    val out = v.clone()
    if (desc) cpl(out) else out
  }

  def decodeBlobCopy(b: Array[Byte], desc: Boolean): Array[Byte] = {
    val out = b.clone()
    if (desc) cpl(out) else out
  }

  /** Convenience: numeric encoding of a double through BigDecimal
    * (exact binary→decimal conversion, reference `OrderedNumeric`
    * accepts doubles the same way). */
  def encodeNumericDouble(v: Double, desc: Boolean): Array[Byte] =
    encodeNumeric(new JBigDecimal(v, MathContext.UNLIMITED), desc)

  def decodeNumericDouble(b: Array[Byte], desc: Boolean): Double =
    decodeNumeric(b, desc).doubleValue()

  /** Unsigned lexicographic compare — the order every encoding sorts by
    * (= Spark BinaryType ordering = HBase `Bytes.compareTo`). */
  def compare(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)
}
