package graft

import java.math.{BigDecimal => JBigDecimal}

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.OBytes
import graft.codec.CodecFunctions._

/** OBytes contract: for every type, unsigned-lex(encode(a), encode(b))
  * orders exactly like (a, b); decode is the exact inverse; DESC is the
  * complement order; composite concatenation orders like the tuple.
  */
class CodecSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(42)

  private def checkOrder[T](vs: Seq[T], enc: (T, Boolean) => Array[Byte],
      cmp: (T, T) => Int): Unit = {
    val pairs = for (a <- vs; b <- vs) yield (a, b)
    pairs.foreach { case (a, b) =>
      val asc = OBytes.compare(enc(a, false), enc(b, false))
      val dsc = OBytes.compare(enc(a, true), enc(b, true))
      val ref = cmp(a, b)
      assert(math.signum(asc) == math.signum(ref), s"asc order $a vs $b")
      assert(math.signum(dsc) == -math.signum(ref), s"desc order $a vs $b")
    }
  }

  private val longs = Seq(Long.MinValue, Long.MinValue + 1, -1000000L, -1L, 0L, 1L,
    42L, 1000000L, Long.MaxValue - 1, Long.MaxValue) ++ Seq.fill(30)(rnd.nextLong())

  private val doubles = Seq(Double.NegativeInfinity, -1.0e300, -1.5, -0.0, 0.0,
    Double.MinPositiveValue, 1.5, 1.0e300, Double.PositiveInfinity) ++
    Seq.fill(30)(rnd.nextGaussian() * 1e6)

  private val strings = Seq("", "a", "aa", "ab", "b", "ba", "zÿ", "épée",
    "日本語", "") ++ Seq.fill(20)(rnd.alphanumeric.take(rnd.nextInt(12)).mkString)

  private val numerics = Seq("-123456789.123456789", "-100", "-99.5", "-1", "-0.001",
    "0", "0.001", "0.5", "1", "1.0000001", "99.5", "100", "123456789.123456789",
    "1e-20", "-1e-20", "1e20", "9.99e19").map(new JBigDecimal(_))

  test("long: order + roundtrip, asc and desc") {
    checkOrder[Long](longs, OBytes.encodeLong, _ compareTo _)
    for (v <- longs; d <- Seq(false, true))
      assert(OBytes.decodeLong(OBytes.encodeLong(v, d), d) == v)
  }

  test("double: IEEE total order + bit-exact roundtrip") {
    checkOrder[Double](doubles, OBytes.encodeDouble,
      (a, b) => java.lang.Double.compare(a, b))
    for (v <- doubles :+ Double.NaN; d <- Seq(false, true)) {
      val back = OBytes.decodeDouble(OBytes.encodeDouble(v, d), d)
      assert(java.lang.Double.doubleToLongBits(back) ==
        java.lang.Double.doubleToLongBits(v), s"roundtrip $v")
    }
    // NaN sorts above +Inf (total order), -0.0 below 0.0
    assert(OBytes.compare(OBytes.encodeDouble(Double.NaN, false),
      OBytes.encodeDouble(Double.PositiveInfinity, false)) > 0)
    assert(OBytes.compare(OBytes.encodeDouble(-0.0, false),
      OBytes.encodeDouble(0.0, false)) < 0)
  }

  test("string: UTF-8 order + roundtrip; NUL rejected") {
    // encoded order must equal UTF-8 byte order (= codepoint order)
    def cmp(a: String, b: String) = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      OBytes.compare(x, y)
    }
    checkOrder[String](strings, OBytes.encodeString, cmp)
    for (v <- strings; d <- Seq(false, true))
      assert(OBytes.decodeString(OBytes.encodeString(v, d), d) == v)
    intercept[IllegalArgumentException](OBytes.encodeString("a\u0000b", false))
  }

  test("numeric: arbitrary-precision order + exact roundtrip") {
    checkOrder[JBigDecimal](numerics, OBytes.encodeNumeric, _ compareTo _)
    for (v <- numerics; d <- Seq(false, true))
      assert(OBytes.decodeNumeric(OBytes.encodeNumeric(v, d), d).compareTo(v) == 0)
  }

  test("numeric: randomized order/roundtrip across magnitudes and scales") {
    // seeded sweep: 300 BigDecimals spanning 1e-30..1e+30, mixed signs
    // and scales, pairwise order preserved and roundtrip exact
    val r = new scala.util.Random(7)
    val vs = Seq.fill(300) {
      val unscaled = BigInt(r.nextLong()).abs + 1
      val scale = r.nextInt(60) - 30
      val sign = if (r.nextBoolean()) 1 else -1
      new JBigDecimal(new java.math.BigInteger((unscaled * sign).toString), scale)
    }.distinct
    val sortedByBytes = vs.sortWith((a, b) =>
      OBytes.compare(OBytes.encodeNumeric(a, false), OBytes.encodeNumeric(b, false)) < 0)
    val sortedByValue = vs.sortWith(_.compareTo(_) < 0)
    assert(sortedByBytes.map(_.stripTrailingZeros) ==
      sortedByValue.map(_.stripTrailingZeros))
    vs.foreach(v =>
      assert(OBytes.decodeNumeric(OBytes.encodeNumeric(v, false), false).compareTo(v) == 0))
  }

  test("narrow ints + float32: order + roundtrip, asc and desc") {
    val ints = Seq(Int.MinValue, -1000, -1, 0, 1, 42, Int.MaxValue) ++
      Seq.fill(20)(rnd.nextInt())
    checkOrder[Int](ints, OBytes.encodeInt, Ordering[Int].compare)
    ints.foreach { v =>
      assert(OBytes.decodeInt(OBytes.encodeInt(v, false), false) == v)
      assert(OBytes.decodeInt(OBytes.encodeInt(v, true), true) == v)
    }
    val shorts = Seq(Short.MinValue, -1, 0, 1, Short.MaxValue).map(_.toShort) ++
      Seq.fill(20)(rnd.nextInt().toShort)
    checkOrder[Short](shorts, OBytes.encodeShort, Ordering[Short].compare)
    shorts.foreach(v => assert(OBytes.decodeShort(OBytes.encodeShort(v, true), true) == v))
    val bytes = (Byte.MinValue to Byte.MaxValue).map(_.toByte)
    checkOrder[Byte](bytes.take(16) ++ bytes.takeRight(16), OBytes.encodeByte,
      Ordering[Byte].compare)
    bytes.foreach(v => assert(OBytes.decodeByte(OBytes.encodeByte(v, false), false) == v))
    val floats = Seq(Float.NegativeInfinity, -1.5f, -0.0f, 0.0f, 1.5f,
      Float.PositiveInfinity) ++ Seq.fill(20)(rnd.nextFloat() * 1e6f - 5e5f)
    checkOrder[Float](floats, OBytes.encodeFloat,
      (a, b) => java.lang.Float.compare(a, b))
    floats.foreach { v =>
      assert(java.lang.Float.floatToIntBits(
        OBytes.decodeFloat(OBytes.encodeFloat(v, true), true)) ==
        java.lang.Float.floatToIntBits(v))
    }
  }

  test("blobvar: lex order + roundtrip incl. embedded NULs and prefixes") {
    val blobs: Seq[Array[Byte]] = Seq(
      Array.emptyByteArray, Array[Byte](0), Array[Byte](0, 0),
      Array[Byte](0, 1), Array[Byte](0, -1), Array[Byte](1),
      Array[Byte](1, 0), Array[Byte](-1), Array[Byte](-1, -1),
      "abc".getBytes, "abcd".getBytes) ++
      Seq.fill(20)(Array.fill(rnd.nextInt(8))(rnd.nextInt(256).toByte))
    def lexCmp(a: Array[Byte], b: Array[Byte]): Int = OBytes.compare(a, b)
    checkOrder[Array[Byte]](blobs, OBytes.encodeBlobVar, lexCmp)
    blobs.foreach { v =>
      assert(java.util.Arrays.equals(
        OBytes.decodeBlobVar(OBytes.encodeBlobVar(v, false), false), v))
      assert(java.util.Arrays.equals(
        OBytes.decodeBlobVar(OBytes.encodeBlobVar(v, true), true), v))
      assert(java.util.Arrays.equals(
        OBytes.decodeBlobCopy(OBytes.encodeBlobCopy(v, true), true), v))
    }
    // self-terminating in composite position: (blob, long) tuple order
    val tuples = for (b <- blobs.take(11); l <- Seq(-1L, 0L, 7L)) yield (b, l)
    val enc = tuples.map { case (b, l) =>
      ((b, l), OBytes.encodeBlobVar(b, false) ++ OBytes.encodeLong(l, false))
    }
    for ((ta, ea) <- enc; (tb, eb) <- enc) {
      val ref = { val c = lexCmp(ta._1, tb._1); if (c != 0) c else java.lang.Long.compare(ta._2, tb._2) }
      assert(math.signum(OBytes.compare(ea, eb)) == math.signum(ref), s"tuple $ta vs $tb")
    }
  }

  test("layout-faithful mode (OBytesHb): full order/roundtrip battery") {
    import graft.codec.OBytesHb
    checkOrder[Long](longs, OBytesHb.encodeLong, _ compareTo _)
    for (v <- longs; d <- Seq(false, true))
      assert(OBytesHb.decodeLong(OBytesHb.encodeLong(v, d), d) == v)
    checkOrder[Double](doubles, OBytesHb.encodeDouble,
      (a, b) => java.lang.Double.compare(a, b))
    for (v <- doubles :+ Double.NaN; d <- Seq(false, true))
      assert(java.lang.Double.doubleToLongBits(
        OBytesHb.decodeDouble(OBytesHb.encodeDouble(v, d), d)) ==
        java.lang.Double.doubleToLongBits(v), s"roundtrip $v")
    checkOrder[String](strings, OBytesHb.encodeString,
      (a, b) => OBytes.compare(a.getBytes("UTF-8"), b.getBytes("UTF-8")))
    for (v <- strings; d <- Seq(false, true))
      assert(OBytesHb.decodeString(OBytesHb.encodeString(v, d), d) == v)
    intercept[IllegalArgumentException](OBytesHb.encodeString("a\u0000b", false))
    val nums = numerics ++ Seq("1e30", "-1e30", "1e-30", "-1e-30", "42",
      "-0.07", "3.14159").map(new JBigDecimal(_))
    checkOrder[JBigDecimal](nums, OBytesHb.encodeNumeric, _ compareTo _)
    for (v <- nums; d <- Seq(false, true))
      assert(OBytesHb.decodeNumeric(OBytesHb.encodeNumeric(v, d), d).compareTo(v) == 0,
        s"numeric roundtrip $v desc=$d")
    val ints = Seq(Int.MinValue, -1000, -1, 0, 1, 42, Int.MaxValue) ++
      Seq.fill(20)(rnd.nextInt())
    checkOrder[Int](ints, OBytesHb.encodeInt, Ordering[Int].compare)
    for (v <- ints; d <- Seq(false, true))
      assert(OBytesHb.decodeInt(OBytesHb.encodeInt(v, d), d) == v)
    val shorts = Seq(Short.MinValue, -1, 0, 1, Short.MaxValue).map(_.toShort)
    checkOrder[Short](shorts, OBytesHb.encodeShort, Ordering[Short].compare)
    shorts.foreach(v =>
      assert(OBytesHb.decodeShort(OBytesHb.encodeShort(v, true), true) == v))
    val bytes = (Byte.MinValue to Byte.MaxValue).map(_.toByte)
    checkOrder[Byte](bytes.take(16) ++ bytes.takeRight(16), OBytesHb.encodeByte,
      Ordering[Byte].compare)
    bytes.foreach(v => assert(OBytesHb.decodeByte(OBytesHb.encodeByte(v, false), false) == v))
    val floats = Seq(Float.NegativeInfinity, -1.5f, -0.0f, 0.0f, 1.5f,
      Float.PositiveInfinity) ++ Seq.fill(20)(rnd.nextFloat() * 1e6f - 5e5f)
    checkOrder[Float](floats, OBytesHb.encodeFloat,
      (a, b) => java.lang.Float.compare(a, b))
    floats.foreach(v => assert(java.lang.Float.floatToIntBits(
      OBytesHb.decodeFloat(OBytesHb.encodeFloat(v, true), true)) ==
      java.lang.Float.floatToIntBits(v)))
    // BlobVar order parity holds for what the reference guarantees
    // (equal-length blobs and prefix pairs — see the OBytesHb
    // .encodeBlobVar scaladoc for the preserved final-7-bit-group
    // quirk on mixed-length non-prefix pairs)
    val fixedLen: Seq[Array[Byte]] =
      Seq.fill(24)(Array.fill(9)(rnd.nextInt(256).toByte))
    checkOrder[Array[Byte]](fixedLen, OBytesHb.encodeBlobVar, OBytes.compare)
    val base = Array.fill(10)(rnd.nextInt(256).toByte)
    val prefixes = (0 to 10).map(base.take)
    checkOrder[Array[Byte]](prefixes, OBytesHb.encodeBlobVar, OBytes.compare)
    // the documented faithful quirk, pinned so a "fix" can't silently
    // de-faithful the layout
    assert(OBytes.compare(OBytesHb.encodeBlobVar(Array[Byte](1), false),
      OBytesHb.encodeBlobVar(Array[Byte](0, 0), false)) < 0)
    val blobs: Seq[Array[Byte]] = Seq(
      Array.emptyByteArray, Array[Byte](0), Array[Byte](0, 0), Array[Byte](0, 1),
      Array[Byte](1), Array[Byte](1, 0), Array[Byte](-1), Array[Byte](-1, -1),
      "abc".getBytes, "abcd".getBytes) ++ fixedLen ++ prefixes
    blobs.foreach { v =>
      for (d <- Seq(false, true))
        assert(java.util.Arrays.equals(
          OBytesHb.decodeBlobVar(OBytesHb.encodeBlobVar(v, d), d), v))
      assert(java.util.Arrays.equals(
        OBytesHb.decodeBlobCopy(OBytesHb.encodeBlobCopy(v, false), false), v))
      if (!v.contains(0: Byte))
        assert(java.util.Arrays.equals(
          OBytesHb.decodeBlobCopy(OBytesHb.encodeBlobCopy(v, true), true), v))
    }
    intercept[IllegalArgumentException](
      OBytesHb.encodeBlobCopy(Array[Byte](1, 0, 2), true))
  }

  test("OBytesHb numeric: randomized order/roundtrip across magnitudes and scales") {
    import graft.codec.OBytesHb
    // same seeded sweep shape as the OBytes twin: 300 BigDecimals
    // spanning 1e-30..1e+30, mixed signs and scales — exercises the
    // small/medium/large classes, both varint branches, and ~M/~E
    // complements on negatives
    val r = new scala.util.Random(11)
    val vs = Seq.fill(300) {
      val unscaled = BigInt(r.nextLong()).abs + 1
      val scale = r.nextInt(60) - 30
      val sign = if (r.nextBoolean()) 1 else -1
      new JBigDecimal(new java.math.BigInteger((unscaled * sign).toString), scale)
    }.distinct
    val sortedByBytes = vs.sortWith((a, b) =>
      OBytes.compare(OBytesHb.encodeNumeric(a, false), OBytesHb.encodeNumeric(b, false)) < 0)
    val sortedByValue = vs.sortWith(_.compareTo(_) < 0)
    assert(sortedByBytes.map(_.stripTrailingZeros) ==
      sortedByValue.map(_.stripTrailingZeros))
    for (v <- vs; d <- Seq(false, true))
      assert(OBytesHb.decodeNumeric(OBytesHb.encodeNumeric(v, d), d).compareTo(v) == 0,
        s"hb numeric roundtrip $v desc=$d")
  }

  test("OBytesHb golden vectors pin the reference byte layout") {
    import graft.codec.OBytesHb
    def hex(b: Array[Byte]) = b.map(x => f"$x%02x").mkString(" ")
    // fixed-width: header + sign-flipped big-endian payload
    assert(hex(OBytesHb.encodeLong(0L, false)) === "2c 80 00 00 00 00 00 00 00")
    assert(hex(OBytesHb.encodeInt(1, false)) === "2b 80 00 00 01")
    assert(hex(OBytesHb.encodeShort(-1, false)) === "2a 7f ff")
    assert(hex(OBytesHb.encodeByte(0, false)) === "29 80")
    // float64 1.0: IEEE 3ff0… with the sign bit flipped
    assert(hex(OBytesHb.encodeDouble(1.0, false)) === "31 bf f0 00 00 00 00 00 00")
    // text: 0x34 + UTF-8 + 0x00 terminator
    assert(hex(OBytesHb.encodeString("foo", false)) === "34 66 6f 6f 00")
    // numeric: zero is bare 0x15; 1.0 is medium-positive E=1 (0x17+1)
    // with single centimal digit 01 → terminal byte 2*1 = 0x02
    assert(hex(OBytesHb.encodeNumeric(JBigDecimal.ZERO, false)) === "15")
    assert(hex(OBytesHb.encodeNumeric(JBigDecimal.ONE, false)) === "18 02")
    assert(hex(OBytesHb.encodeNumeric(JBigDecimal.ONE.negate(), false)) === "12 fd")
    // 0.5: small-positive 0x16, ~varint(0)=0xff, centimal 50 → 2*50=0x64
    assert(hex(OBytesHb.encodeNumeric(new JBigDecimal("0.5"), false)) === "16 ff 64")
    // blob-var: 7-bit packing under 0x37; empty is a bare terminator
    assert(hex(OBytesHb.encodeBlobVar(Array[Byte](-1), false)) === "37 ff 40")
    assert(hex(OBytesHb.encodeBlobVar(Array.emptyByteArray, false)) === "37 00")
    assert(hex(OBytesHb.encodeBlobCopy(Array[Byte](1, 2), false)) === "38 01 02")
    assert(hex(OBytesHb.encodeNull(false)) === "05")
    // DESCENDING is the complement of the WHOLE field, header included
    assert(java.util.Arrays.equals(OBytesHb.encodeLong(5L, true),
      OBytesHb.encodeLong(5L, false).map(b => (~b).toByte)))
  }

  test("OBytesHb narrow-type goldens: int8/16/32 and float32 wire bytes") {
    import graft.codec.OBytesHb
    def hex(b: Array[Byte]) = b.map(x => f"$x%02x").mkString(" ")
    // int8/16/32: header 0x29/0x2a/0x2b + sign-flipped BE payload
    // (OrderedBytes.java encodeInt8:1022, encodeInt16:960,
    // encodeInt32:981)
    assert(hex(OBytesHb.encodeByte(Byte.MinValue, false)) === "29 00")
    assert(hex(OBytesHb.encodeByte(-1, false)) === "29 7f")
    assert(hex(OBytesHb.encodeByte(Byte.MaxValue, false)) === "29 ff")
    assert(hex(OBytesHb.encodeShort(258, false)) === "2a 81 02")
    assert(hex(OBytesHb.encodeShort(Short.MinValue, false)) === "2a 00 00")
    assert(hex(OBytesHb.encodeInt(-2, false)) === "2b 7f ff ff fe")
    assert(hex(OBytesHb.encodeInt(Int.MaxValue, false)) === "2b ff ff ff ff")
    // float32: header 0x30 + IEEE bits with `j ^= (j >> 31) |
    // MIN_VALUE` (encodeFloat32:1091) — positives flip the sign bit,
    // negatives flip every bit
    assert(hex(OBytesHb.encodeFloat(1.0f, false)) === "30 bf 80 00 00")
    assert(hex(OBytesHb.encodeFloat(-1.0f, false)) === "30 40 7f ff ff")
    assert(hex(OBytesHb.encodeFloat(0.0f, false)) === "30 80 00 00 00")
    // roundtrip + total order across the full narrow domains
    val bytes = Seq(Byte.MinValue, -1, 0, 1, Byte.MaxValue).map(_.toByte)
    assert(bytes.map(v => OBytesHb.decodeByte(OBytesHb.encodeByte(v, false), false)) === bytes)
    val shorts = Seq(Short.MinValue, -258, -1, 0, 1, 258, Short.MaxValue).map(_.toShort)
    assert(shorts.map(v => OBytesHb.decodeShort(OBytesHb.encodeShort(v, false), false)) === shorts)
    val ints = Seq(Int.MinValue, -65537, -1, 0, 1, 65537, Int.MaxValue)
    assert(ints.map(v => OBytesHb.decodeInt(OBytesHb.encodeInt(v, false), false)) === ints)
    val floats = Seq(Float.NegativeInfinity, -1.5f, -Float.MinPositiveValue,
      0.0f, Float.MinPositiveValue, 1.5f, Float.PositiveInfinity)
    assert(floats.map(v => OBytesHb.decodeFloat(OBytesHb.encodeFloat(v, false), false)) === floats)
    def sortedByBytes[T](vs: Seq[T], enc: T => Array[Byte]): Seq[T] =
      vs.sortWith((a, b) => OBytes.compare(enc(a), enc(b)) < 0)
    assert(sortedByBytes[Int](ints.reverse, v => OBytesHb.encodeInt(v, false)) === ints)
    assert(sortedByBytes[Float](floats.reverse, v => OBytesHb.encodeFloat(v, false)) === floats)
    // DESC = whole-field complement for every narrow type
    for (v <- ints)
      assert(java.util.Arrays.equals(OBytesHb.encodeInt(v, true),
        OBytesHb.encodeInt(v, false).map(b => (~b).toByte)))
    assert(java.util.Arrays.equals(OBytesHb.encodeFloat(2.5f, true),
      OBytesHb.encodeFloat(2.5f, false).map(b => (~b).toByte)))
  }

  test("order parity across wire formats: OBytes and OBytesHb sort identically") {
    import graft.codec.{OBytesHb, OrderedCodec}
    val codecs: Seq[OrderedCodec] = Seq(OBytes, OBytesHb)
    // the two formats must induce the same total order on the same values
    def ranks[T](vs: Seq[T], enc: OrderedCodec => (T, Boolean) => Array[Byte]): Unit = {
      val Seq(a, b) = codecs.map(c =>
        vs.sortWith((x, y) => OBytes.compare(enc(c)(x, false), enc(c)(y, false)) < 0))
      assert(a === b)
    }
    ranks[Long](longs, c => c.encodeLong)
    ranks[Double](doubles, c => c.encodeDouble)
    ranks[String](strings.distinct, c => c.encodeString)
    ranks[JBigDecimal](numerics, c => c.encodeNumeric)
  }

  test("composite keys: concat orders like the tuple (prefix-free)") {
    val tuples = for {
      s <- Seq("a", "ab", "b", "")
      l <- Seq(-1L, 0L, 7L)
      x <- Seq(-2.5, 0.0, 3.25)
    } yield (s, l, x)
    def enc(t: (String, Long, Double)): Array[Byte] =
      OBytes.encodeString(t._1, false) ++ OBytes.encodeLong(t._2, false) ++
        OBytes.encodeDouble(t._3, false)
    val sortedByBytes = tuples.sortWith((a, b) => OBytes.compare(enc(a), enc(b)) < 0)
    val sortedByTuple = tuples.sortBy(identity)
    assert(sortedByBytes == sortedByTuple)
  }
}

/** Expression layer: codegen + interpreted agree; SQL registration. */
class CodecExprSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("ordered_encode/decode expressions roundtrip on a DataFrame") {
    import spark.implicits._
    val df = Seq((1L, 2.5, "x"), (-5L, -0.5, "épée"), (0L, 0.0, ""))
      .toDF("l", "d", "s")
    val back = df.select(
      ordered_decode_long(ordered_encode($"l")).as("l"),
      ordered_decode_double(ordered_encode($"d", desc = true), desc = true).as("d"),
      ordered_decode_string(ordered_encode($"s")).as("s"))
    assert(back.collect().toSeq == df.collect().toSeq)
  }

  test("sort by ordered_key equals sort by tuple") {
    import spark.implicits._
    val df = Seq(("b", 1L), ("a", 9L), ("a", -3L), ("ab", 0L)).toDF("s", "l")
    val byKey = df.orderBy(ordered_key($"s", $"l")).as[(String, Long)].collect().toSeq
    val byTuple = df.orderBy($"s", $"l").as[(String, Long)].collect().toSeq
    assert(byKey == byTuple)
  }

  test("ordered_struct and ordered_union order like their contracts") {
    import spark.implicits._
    // struct: (s ASC, l DESC) per-field order
    val df = Seq(("b", 1L), ("a", 9L), ("a", -3L), ("ab", 0L)).toDF("s", "l")
    val byKey = df.orderBy(ordered_struct(OField($"s"), OField($"l", desc = true)))
      .as[(String, Long)].collect().toSeq
    val byTuple = df.orderBy($"s", $"l".desc).as[(String, Long)].collect().toSeq
    assert(byKey == byTuple)
    // union: tag orders first, then the active member
    val u = Seq((Some(5L), None), (Some(-1L), None), (None, Some("a")), (None, Some("A")))
      .toDF("n", "t")
    val got = u.orderBy(ordered_union($"n", $"t"))
      .select(concat_ws("/", $"n", $"t")).as[String].collect().toSeq
    assert(got == Seq("-1", "5", "A", "a"))
  }

  test("hb-mode expressions: roundtrip + sort parity on a DataFrame") {
    import spark.implicits._
    val df = Seq((1L, 2.5, "x"), (-5L, -0.5, "épée"), (0L, 0.0, ""), (7L, 1.5, "ab"))
      .toDF("l", "d", "s")
    val back = df.select(
      ordered_decode_long_hb(ordered_encode_hb($"l")).as("l"),
      ordered_decode_double_hb(ordered_encode_hb($"d", desc = true), desc = true).as("d"),
      ordered_decode_string_hb(ordered_encode_hb($"s")).as("s"))
    assert(back.collect().toSeq == df.collect().toSeq)
    // composite hb key orders like the tuple, same as the graft layout
    val byKey = df.orderBy(concat(ordered_encode_hb($"s"), ordered_encode_hb($"l")))
      .select("s", "l").as[(String, Long)].collect().toSeq
    assert(byKey == df.select("s", "l").as[(String, Long)].collect().toSeq.sorted)
    // numeric decimal path through the centimal layout
    val num = df.select(round(ordered_decode_numeric_hb(
      ordered_encode_hb($"d".cast("decimal(10,2)"))), 4).as("n"))
      .as[Double].collect().toSeq
    assert(num == df.select($"d").as[Double].collect().toSeq)
  }

  test("SQL registration: ordered_encode usable from spark.sql") {
    val n = spark.sql(
      "SELECT ordered_encode(CAST(7 AS BIGINT)) AS k").collect()(0).getAs[Array[Byte]](0)
    assert(n.length == 8)
  }
}
