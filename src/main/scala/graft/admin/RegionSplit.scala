package graft.admin

import java.math.BigInteger
import java.nio.charset.StandardCharsets.UTF_8

/** Pre-split planning — the reference's RegionSplitter split
  * algorithms (hbase-server/.../util/RegionSplitter.java:825-1128):
  *
  *  - HexStringSplit (":825"): region boundaries are 8-char hex
  *    strings over ["00000000", "FFFFFFFF"], left-zero-padded so
  *    lexicographic order matches numeric order. Split i of n =
  *    firstRow + i·⌊range/n⌋ rendered via BigInteger.toString(16)
  *    (LOWERCASE — the last region absorbs the division slop,
  *    RegionSplitter.java:889-894).
  *  - DecimalStringSplit (":842"): same over ["00000000","99999999"]
  *    radix 10.
  *  - UniformSplit (":1048"): raw byte keyspace [∅, FF×8]; boundaries
  *    from Bytes.split(first, last, inclusive=true, n-1)
  *    (Bytes.java:1806-1885) — pad the shorter operand with ZERO
  *    bytes, prepend the {1,0} header, BigInteger-divide, strip the
  *    header per emitted key. Endpoints are dropped from the result
  *    (RegionSplitter.java:1063-1070).
  *
  * These are pure keyspace arithmetic — the DATA-driven split point
  * (index mid-key) lives in [[GAdmin.splitRegionStore]]; this is the
  * shape used to pre-split a new table before any data exists, and to
  * partition uniformly-hashed keys (the TotalOrderPartitioner's
  * natural companion).
  */
object RegionSplit {

  /** NumberStringSplit.split(n) (RegionSplitter.java:880-897): n-1
    * boundaries, left-padded to the last row's width, lowercase
    * digits (BigInteger.toString). */
  def numberStringSplit(n: Int, radix: Int, lastRow: String): Seq[String] = {
    require(n >= 1, "need at least one region")
    val first = BigInteger.ZERO
    val last = new BigInteger(lastRow, radix)
    val range = last.subtract(first).add(BigInteger.ONE)
    require(range.compareTo(BigInteger.valueOf(n.toLong)) >= 0,
      s"split granularity ($n) is greater than the range ($range)")
    val size = range.divide(BigInteger.valueOf(n.toLong))
    (1 until n).map { i =>
      val v = first.add(size.multiply(BigInteger.valueOf(i.toLong)))
      val s = v.toString(radix)
      ("0" * (lastRow.length - s.length)) + s
    }
  }

  /** HexStringSplit boundaries for n regions (n-1 keys). */
  def hexStringSplit(n: Int): Seq[String] =
    numberStringSplit(n, 16, "FFFFFFFF")

  /** DecimalStringSplit boundaries for n regions (n-1 keys). */
  def decimalStringSplit(n: Int): Seq[String] =
    numberStringSplit(n, 10, "99999999")

  /** NumberStringSplit.split2 (RegionSplitter.java:981-986): the
    * keyspace midpoint of [a, b] — b widens by one when it IS the
    * configured last row (so the top region's midpoint rounds up). */
  def numberSplit2(a: String, b: String, radix: Int, lastRow: String): String = {
    val last = new BigInteger(lastRow, radix)
    val ai = if (a.isEmpty) BigInteger.ZERO else new BigInteger(a, radix)
    var bi = if (b.isEmpty) BigInteger.ZERO else new BigInteger(b, radix)
    if (bi == last) bi = bi.add(BigInteger.ONE)
    val m = ai.add(bi).divide(BigInteger.valueOf(2)).abs()
    val s = m.toString(radix)
    ("0" * (lastRow.length - s.length)) + s
  }

  /** Bytes.split twin (Bytes.java:1806-1885) INCLUDING both
    * endpoints (callers slice). `num` = number of interior splits. */
  def bytesSplit(a: Array[Byte], b: Array[Byte], inclusive: Boolean,
      num: Int): Seq[Array[Byte]] = {
    require(num > 0, "num cannot be <= 0")
    val width = math.max(a.length, b.length)
    val ap = java.util.Arrays.copyOf(a, width)
    val bp = java.util.Arrays.copyOf(b, width)
    require(java.util.Arrays.compareUnsigned(ap, bp) < 0, "b <= a")
    val header = Array[Byte](1, 0)
    val start = new BigInteger(header ++ ap)
    val stop = new BigInteger(header ++ bp)
    var diff = stop.subtract(start)
    if (inclusive) diff = diff.add(BigInteger.ONE)
    val splits = BigInteger.valueOf(num + 1L)
    if (diff.compareTo(splits) < 0)
      // range too narrow at this width: widen by a zero byte and retry
      return bytesSplit(ap :+ 0.toByte, bp :+ 0.toByte, inclusive, num)
    val interval = diff.divide(splits)
    val mid = (1 to num).map { i =>
      val cur = start.add(interval.multiply(BigInteger.valueOf(i.toLong)))
      val raw = cur.toByteArray
      // strip the {1,0} header: 2 bytes when the second survived as 0,
      // else 1 (the carry consumed it) — Bytes.java:1871-1873
      if (raw(1) == 0) raw.drop(2) else raw.drop(1)
    }
    a +: mid :+ b
  }

  /** UniformSplit.split(numRegions) (RegionSplitter.java:1059-1070):
    * interior boundaries only, endpoints removed. */
  def uniformSplit(n: Int): Seq[Array[Byte]] = {
    val first = Array.emptyByteArray
    val last = Array.fill[Byte](8)(0xFF.toByte)
    val all = bytesSplit(first, last, inclusive = true, num = n - 1)
    all.slice(1, all.length - 1)
  }

  /** UniformSplit.split(start, end) — the single midpoint
    * (RegionSplitter.java:1054-1057 → Bytes.split(start, end, 1)[1]). */
  def uniformSplit2(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    bytesSplit(a, b, inclusive = false, num = 1)(1)

  def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  private[graft] def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)
}
