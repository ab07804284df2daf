package graft

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.{BlockEncoding, HFileV3}
import graft.codec.HFileV3.HCell

/** Data-block encoding contract (BlockEncoding): decode∘encode
  * identity per encoding over adversarial cell shapes, whole-file
  * round-trips through DATABLKE blocks, point-gets on encoded files,
  * reference-variant decode (tags + mvcc interleaved in the encoded
  * stream), and the single-family invariant the delta encoders
  * inherit from the reference's one-store-file-per-family layout.
  */
class BlockEncodingSpec extends AnyFunSuite {

  private def cell(row: String, qual: String, v: String, ts: Long = 1L,
      typ: Byte = HFileV3.TypePut, fam: String = "d"): HCell =
    HCell(row.getBytes(UTF_8), fam.getBytes(UTF_8), qual.getBytes(UTF_8),
      ts, typ, v.getBytes(UTF_8))

  private val rnd = new scala.util.Random(11)

  /** Shapes chosen to hit every encoder branch: shared row prefixes,
    * multi-cell rows (full-row common prefix), qualifier pairs where
    * one is a prefix of the other (the withTsType guard), repeated
    * values (FAST_DIFF SAME_VALUE), equal and negative timestamps
    * (DIFF sign / diff-vs-absolute choice), mixed types. */
  private def adversarialCells(n: Int): IndexedSeq[HCell] = {
    val quals = Seq("q", "q1", "q12", "qx", "amount", "amount2")
    val vals = Seq("", "v", "shared-value", rnd.alphanumeric.take(60).mkString)
    val cells = (0 until n).map { _ =>
      val ts = rnd.nextInt(6) match {
        case 0 => -5L - rnd.nextInt(3)                 // negative
        case 1 => 1700000000000L + rnd.nextInt(1000)   // 6-byte epoch
        case _ => 1L + rnd.nextInt(4).toLong           // small, often equal
      }
      cell(
        f"user-${rnd.nextInt(40)}%03d",
        quals(rnd.nextInt(quals.size)),
        vals(rnd.nextInt(vals.size)),
        ts = ts,
        typ = if (rnd.nextInt(8) == 0) HFileV3.TypeDeleteColumn else HFileV3.TypePut)
    }
    cells.sortWith((a, b) => HFileV3.compareCells(a, b) < 0).toIndexedSeq
  }

  private def assertSameCells(got: Seq[HCell], want: Seq[HCell]): Unit = {
    assert(got.size == want.size)
    got.zip(want).foreach { case (b, a) =>
      assert(java.util.Arrays.equals(a.row, b.row), "row")
      assert(java.util.Arrays.equals(a.family, b.family), "family")
      assert(java.util.Arrays.equals(a.qualifier, b.qualifier), "qualifier")
      assert(a.ts == b.ts, s"ts ${a.ts} vs ${b.ts}")
      assert(a.typ == b.typ, "type")
      assert(java.util.Arrays.equals(a.value, b.value), "value")
      assert(java.util.Arrays.equals(a.tags, b.tags), "tags")
    }
  }

  private val allIds = Seq(BlockEncoding.IdPrefix, BlockEncoding.IdDiff,
    BlockEncoding.IdFastDiff, BlockEncoding.IdRowIndexV1)

  test("payload roundtrip: decode ∘ encode = id for all four encodings") {
    val cells = adversarialCells(600)
    for (id <- allIds) {
      val payload = BlockEncoding.encodePayload(id, cells)
      // 2-byte big-endian id prefix (DataBlockEncoding.idInBytes)
      assert(((payload(0) & 0xff) << 8 | (payload(1) & 0xff)) == id)
      val back = BlockEncoding.decodePayload(payload,
        withMvcc = false, withTags = false).toSeq
      assertSameCells(back, cells)
    }
  }

  test("delta encoders beat NONE on shared-prefix data (it is a compression)") {
    val cells = adversarialCells(600)
    val noneSize = cells.map(c =>
      8 + HFileV3.cellKeyBytes(c).length + c.value.length).sum
    for (id <- Seq(BlockEncoding.IdPrefix, BlockEncoding.IdDiff, BlockEncoding.IdFastDiff)) {
      val enc = BlockEncoding.encodePayload(id, cells).length
      assert(enc < noneSize, s"${BlockEncoding.nameOf(id)}: $enc !< $noneSize")
    }
  }

  test("whole-file roundtrip through DATABLKE blocks, all encodings, with GZ") {
    val cells = adversarialCells(800)
    for (id <- allIds; gz <- Seq(false, true)) {
      val bos = new ByteArrayOutputStream()
      HFileV3.write(bos, cells.iterator, blockSize = 700, encoding = id,
        compression = if (gz) HFileV3.CompressionGz else HFileV3.CompressionNone)
      val bytes = bos.toByteArray
      // blocks carry the ENCODED_DATA magic; FILE_INFO names the encoding
      val blocks = HFileV3.readAllBlocks(bytes)
      assert(blocks.exists(_.magic == "DATABLKE"))
      assert(!blocks.exists(_.magic == "DATABLK*"))
      val trailer = HFileV3.readTrailer(bytes.takeRight(4096))
      val fi = HFileV3.readFileInfo(bytes, trailer)
      assert(new String(fi("DATA_BLOCK_ENCODING"), UTF_8) == BlockEncoding.nameOf(id))
      assertSameCells(HFileV3.readCells(bytes).toSeq, cells)
    }
  }

  test("point-gets work against encoded files (bloom + index + block decode)") {
    val cells = adversarialCells(500)
    for (id <- allIds) {
      val bos = new ByteArrayOutputStream()
      HFileV3.write(bos, cells.iterator, blockSize = 600, encoding = id)
      val bytes = bos.toByteArray
      val rows = cells.map(c => new String(c.row, UTF_8)).distinct
      val probe = rows.take(5) :+ "user-999"
      for (r <- probe) {
        val want = cells.filter(c => new String(c.row, UTF_8) == r)
        val got = HFileV3.getRow(
          (off, len) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len),
          bytes.length.toLong, r.getBytes(UTF_8))
        assertSameCells(got, want)
      }
    }
  }

  test("reference variant: tags + mvcc interleaved in a PREFIX stream decode") {
    // hand-build the stream the reference writes when includesTags /
    // includesMvcc are on (afterEncodingKeyValue): per cell, cInt tags
    // length + raw tags, then a Hadoop vlong mvcc
    val cells = Seq(
      cell("r1", "qa", "v1", ts = 5L),
      cell("r1", "qb", "v2", ts = 5L),
      cell("r2", "qa", "v3", ts = 4L))
    val out = new ByteArrayOutputStream()
    out.write(0); out.write(2) // PREFIX id
    val szSlot = ByteBuffer.allocate(4).putInt(0).array()
    out.write(szSlot, 0, 4)
    var prevKey: Array[Byte] = Array.emptyByteArray
    val mvccs = Seq(7L, 130L, 1234567L)
    for ((c, mvcc) <- cells.zip(mvccs)) {
      val key = HFileV3.cellKeyBytes(c)
      var common = 0
      val max = math.min(prevKey.length, key.length)
      while (common < max && prevKey(common) == key(common)) common += 1
      BlockEncoding.putCInt(out, key.length - common)
      BlockEncoding.putCInt(out, c.value.length)
      BlockEncoding.putCInt(out, common)
      out.write(key, common, key.length - common)
      out.write(c.value, 0, c.value.length)
      val tags = s"tag-${mvcc}".getBytes(UTF_8)
      BlockEncoding.putCInt(out, tags.length)
      out.write(tags, 0, tags.length)
      // Hadoop WritableUtils vlong
      val vOut = new java.io.DataOutputStream(out)
      if (mvcc >= -112 && mvcc <= 127) vOut.writeByte(mvcc.toInt)
      else {
        var v = mvcc
        var len = 0
        var tmp = v
        while (tmp != 0) { tmp >>>= 8; len += 1 }
        vOut.writeByte(-112 - len)
        var i = len - 1
        while (i >= 0) { vOut.writeByte(((v >> (8 * i)) & 0xff).toInt); i -= 1 }
      }
      prevKey = key
    }
    val back = BlockEncoding.decodePayload(out.toByteArray,
      withMvcc = true, withTags = true).toSeq
    // the decoder now CAPTURES the interleaved tags, not just skips them
    assertSameCells(back, cells.zip(mvccs).map { case (c, m) =>
      c.copy(tags = s"tag-$m".getBytes(UTF_8)) })
    assert(back.map(_.mvcc) == mvccs)
  }

  /** Tag pools shaped to exercise the dictionary: `distinct` unique
    * (type, payload) tags, each cell carrying 0-3 of them with a
    * skewed draw so hits, misses and (when distinct > 127) evictions
    * plus index recycling all occur. */
  private def withRandomTags(cells: IndexedSeq[HCell], distinct: Int): IndexedSeq[HCell] = {
    val pool = (0 until distinct).map(i =>
      ((1 + i % 7).toByte, s"acl-entry-$i".getBytes(UTF_8)))
    cells.map { c =>
      val n = rnd.nextInt(4)
      if (n == 0) c
      else {
        // skew: half the draws from the first 8 pool entries (dict hits)
        val picked = (0 until n).map(_ =>
          if (rnd.nextBoolean()) pool(rnd.nextInt(math.min(8, distinct)))
          else pool(rnd.nextInt(distinct)))
        c.copy(tags = HFileV3.tagBytes(picked))
      }
    }
  }

  test("tagged payload roundtrip: raw and dictionary-compressed, all encodings") {
    val cells = withRandomTags(adversarialCells(400), distinct = 20)
    for (id <- allIds) {
      val raw = BlockEncoding.encodePayload(id, cells, withTags = true)
      assertSameCells(
        BlockEncoding.decodePayload(raw, withMvcc = false, withTags = true).toSeq,
        cells)
      // dictionary-compressed (ROW_INDEX_V1 ignores the flag: raw NoneEncoder framing)
      val dict = BlockEncoding.encodePayload(id, cells, withTags = true, compressTags = true)
      assertSameCells(
        BlockEncoding.decodePayload(dict, withMvcc = false, withTags = true,
          compressTags = true).toSeq,
        cells)
      if (id != BlockEncoding.IdRowIndexV1) {
        // 20 distinct tags over 400 cells: the dictionary must win
        assert(dict.length < raw.length,
          s"${BlockEncoding.nameOf(id)}: dict ${dict.length} !< raw ${raw.length}")
      } else assert(dict.length == raw.length)
    }
  }

  test("tag dictionary eviction lockstep: >127 distinct tags recycle indices exactly") {
    // 300 distinct tags against the 127-capacity per-block dictionary:
    // the encoder evicts and recycles indices; the decoder must replay
    // every move-to-head and eviction in lockstep or entries diverge
    // silently after the first recycled index.
    val cells = withRandomTags(adversarialCells(600), distinct = 300)
    for (id <- Seq(BlockEncoding.IdPrefix, BlockEncoding.IdDiff, BlockEncoding.IdFastDiff)) {
      val payload = BlockEncoding.encodePayload(id, cells, withTags = true, compressTags = true)
      assertSameCells(
        BlockEncoding.decodePayload(payload, withMvcc = false, withTags = true,
          compressTags = true).toSeq,
        cells)
    }
  }

  test("whole-file roundtrip with COMPRESS_TAGS: encoded + tagged + compressed") {
    val cells = withRandomTags(adversarialCells(500), distinct = 150)
    for (id <- Seq(BlockEncoding.IdFastDiff, BlockEncoding.IdPrefix, BlockEncoding.IdRowIndexV1);
         gz <- Seq(false, true)) {
      val bos = new ByteArrayOutputStream()
      HFileV3.write(bos, cells.iterator, blockSize = 700, encoding = id,
        compression = if (gz) HFileV3.CompressionGz else HFileV3.CompressionNone,
        withTags = true, compressTags = true)
      val bytes = bos.toByteArray
      val trailer = HFileV3.readTrailer(bytes.takeRight(4096))
      val fi = HFileV3.readFileInfo(bytes, trailer)
      // HFileWriterImpl.java:873: flag = encoding != NONE && compressTags;
      // Bytes.toBytes(true) = one 0xff byte
      assert(fi("hfile.TAGS_COMPRESSED").sameElements(Array(-1.toByte)))
      assertSameCells(HFileV3.readCells(bytes).toSeq, cells)
    }
    // NONE + withTags keeps the raw short framing; compressTags there is rejected
    val bos = new ByteArrayOutputStream()
    assertThrows[IllegalArgumentException](
      HFileV3.write(bos, cells.iterator, encoding = BlockEncoding.IdNone,
        withTags = true, compressTags = true))
  }

  test("delta encoders reject multi-family blocks (one store file per family)") {
    val cells = IndexedSeq(cell("r1", "q", "v", fam = "a"), cell("r2", "q", "v", fam = "b"))
    for (id <- Seq(BlockEncoding.IdPrefix, BlockEncoding.IdDiff, BlockEncoding.IdFastDiff))
      assertThrows[IllegalArgumentException](BlockEncoding.encodePayload(id, cells))
    // ROW_INDEX_V1 keeps full keys — multi-family is fine there
    val ok = BlockEncoding.decodePayload(
      BlockEncoding.encodePayload(BlockEncoding.IdRowIndexV1, cells),
      withMvcc = false, withTags = false).toSeq
    assertSameCells(ok, cells)
  }

  test("mixed-encoding import: NONE and FAST_DIFF files in one directory-style read") {
    // the importer dispatches per block magic, so files of different
    // encodings coexist — exactly what a real cluster migration sees
    val a = adversarialCells(200)
    val bosNone = new ByteArrayOutputStream()
    HFileV3.write(bosNone, a.iterator, blockSize = 512)
    val bosFd = new ByteArrayOutputStream()
    HFileV3.write(bosFd, a.iterator, blockSize = 512,
      encoding = BlockEncoding.IdFastDiff)
    assertSameCells(HFileV3.readCells(bosNone.toByteArray).toSeq, a)
    assertSameCells(HFileV3.readCells(bosFd.toByteArray).toSeq, a)
  }
}
