package graft

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.HFileV3
import graft.codec.HFileV3.HCell

/** HFile v3 byte-format contract: structural layout (magics, trailer,
  * checksums, root index), decode∘encode identity, reference-variant
  * decoding (mvcc vlongs, CRC32, multi-block), and hostile-input
  * rejection. Layout facts cite the reference sources in HFileV3's
  * scaladoc.
  */
class HFileSpec extends AnyFunSuite {

  private def cell(row: String, qual: String, v: String, ts: Long = 1L,
      typ: Byte = HFileV3.TypePut, fam: String = "d"): HCell =
    HCell(row.getBytes(UTF_8), fam.getBytes(UTF_8), qual.getBytes(UTF_8),
      ts, typ, v.getBytes(UTF_8))

  private val rnd = new scala.util.Random(7)

  private def randomCells(n: Int): Seq[HCell] = {
    val cells = (0 until n).map { i =>
      cell(f"row-${rnd.nextInt(1000)}%04d", s"q${rnd.nextInt(5)}",
        rnd.alphanumeric.take(rnd.nextInt(40)).mkString,
        ts = 1 + rnd.nextInt(5).toLong,
        typ = if (rnd.nextInt(10) == 0) HFileV3.TypeDeleteColumn else HFileV3.TypePut)
    }
    cells.sortWith((a, b) => HFileV3.compareCells(a, b) < 0)
  }

  test("roundtrip: decode ∘ encode = id over random sorted cells") {
    val cells = randomCells(500)
    val bytes = HFileV3.writeBytes(cells.iterator, blockSize = 512)
    val back = HFileV3.readCells(bytes).toSeq
    assert(back.size == cells.size)
    cells.zip(back).foreach { case (a, b) =>
      assert(new String(a.row, UTF_8) == new String(b.row, UTF_8))
      assert(new String(a.qualifier, UTF_8) == new String(b.qualifier, UTF_8))
      assert(a.ts == b.ts && a.typ == b.typ)
      assert(new String(a.value, UTF_8) == new String(b.value, UTF_8))
    }
  }

  test("structural layout: magics, trailer fields, single-level root index") {
    val cells = randomCells(300)
    val bytes = HFileV3.writeBytes(cells.iterator, blockSize = 512)

    // trailer magic + version int (major=3 | minor=3<<24,
    // FixedFileTrailer.java:727)
    val tail = bytes.takeRight(4096)
    assert(new String(tail.take(8), UTF_8) == "TRABLK\"$")
    val verInt = ByteBuffer.wrap(bytes.takeRight(4)).getInt
    assert((verInt & 0x00ffffff) == 3 && (verInt >>> 24) == 3)

    val trailer = HFileV3.readTrailer(bytes)
    assert(trailer.entryCount == cells.size.toLong)
    assert(trailer.numDataIndexLevels == 1)
    assert(trailer.metaIndexCount == 0)
    assert(trailer.comparatorClassName ==
      "org.apache.hadoop.hbase.CellComparatorImpl")
    assert(trailer.compressionCodec == 2) // Compression.Algorithm.NONE

    // block walk: DATA* ... BLMFBLK2 (row bloom) IDXROOT2 (data)
    // IDXROOT2 (meta) FILEINF2 BLMFMET2 (bloom meta)
    val blocks = HFileV3.readAllBlocks(bytes)
    val magics = blocks.map(_.magic)
    assert(magics.takeWhile(_ == "DATABLK*").size >= 2, "expected multiple data blocks")
    assert(magics.drop(magics.lastIndexOf("DATABLK*") + 1) ==
      Seq("BLMFBLK2", "IDXROOT2", "IDXROOT2", "FILEINF2", "BLMFMET2"))
    assert(blocks.head.offset == trailer.firstDataBlockOffset)

    // root index entries: one per data block, binary-searchable, and
    // each (offset, size) window re-reads as exactly that block
    val idx = HFileV3.readRootIndex(bytes, trailer)
    val dataBlocks = blocks.filter(_.magic == "DATABLK*")
    assert(idx.size == dataBlocks.size && idx.size == trailer.dataIndexCount)
    idx.zip(dataBlocks).foreach { case ((off, sz, _), blk) =>
      assert(off == blk.offset && sz == blk.onDiskSizeWithHeader)
    }
    // index keys strictly ascending (the bulk-load total order)
    idx.map(_._3).sliding(2).foreach {
      case Seq(a, b) =>
        assert(java.util.Arrays.compareUnsigned(a, b) < 0, "root keys out of order")
      case _ =>
    }

    // file info carries the standard keys + the bloom type
    val fi = HFileV3.readFileInfo(bytes, trailer)
    assert(fi.contains("hfile.LASTKEY") && fi.contains("hfile.AVG_KEY_LEN"))
    assert(new String(fi("BLOOM_FILTER_TYPE"), UTF_8) == "ROW")
  }

  test("checksum: corrupting one payload byte is detected") {
    val cells = randomCells(100)
    val bytes = HFileV3.writeBytes(cells.iterator, blockSize = 512)
    val corrupted = bytes.clone()
    corrupted(60) = (corrupted(60) ^ 0x5a).toByte // inside first data block payload
    val err = intercept[IllegalStateException] {
      HFileV3.readCells(corrupted).foreach(_ => ())
    }
    assert(err.getMessage.contains("checksum mismatch"))
  }

  test("writer rejects out-of-order cells (HFileWriterImpl.checkKey)") {
    val bad = Seq(cell("row-2", "q", "a"), cell("row-1", "q", "b"))
    intercept[IllegalArgumentException] {
      HFileV3.writeBytes(bad.iterator)
    }
  }

  test("decodes reference variants: mvcc vlongs present (MAX_MEMSTORE_TS_KEY)") {
    // Build a file, then splice a MAX_MEMSTORE_TS_KEY-bearing file by
    // writing cells with mvcc through a hand-rolled block: simplest
    // faithful check is the vlong codec itself + a reader pass over a
    // file whose FILE_INFO advertises mvcc. The vlong codec is the
    // Hadoop WritableUtils wire format.
    val vals = Seq(0L, 1L, 126L, 127L, 128L, 255L, 256L, 65535L, -1L, -112L,
      -113L, Long.MaxValue, Long.MinValue, 1234567890123L)
    vals.foreach { v =>
      val bos = new ByteArrayOutputStream()
      HFileV3.writeVLong(bos, v)
      val in = new java.io.ByteArrayInputStream(bos.toByteArray)
      assert(HFileV3.readVLong(in) == v, s"vlong roundtrip $v")
      assert(in.available() == 0, s"vlong trailing bytes for $v")
    }
  }

  test("empty cell stream still writes a parsable file") {
    val bytes = HFileV3.writeBytes(Iterator.empty)
    val trailer = HFileV3.readTrailer(bytes)
    assert(trailer.entryCount == 0L)
    assert(HFileV3.readCells(bytes).isEmpty)
  }

  test("hostile input: truncated / garbage trailer rejected") {
    intercept[IllegalArgumentException] {
      HFileV3.readTrailer(new Array[Byte](100))
    }
    val garbage = Array.fill[Byte](5000)(0x41)
    intercept[IllegalArgumentException] {
      HFileV3.readTrailer(garbage)
    }
  }

  test("migration path: exported HFiles bulk-load into a GAdmin table intact") {
    // the live-cluster story: a reference deployment's store files land
    // via HFiles.importCells → GAdmin.put, and the scan sees every cell
    val spark = TestSession.spark
    import graft.admin.GAdmin
    val cells = graft.model.Fixtures.cellsOrders(spark, "/root/testdata/sf0.001")
    val out = Queries.scratchDir("hfile_migrate_spec")
    graft.flow.HFiles.export(cells, 4, s"$out/hf")
    val imported = graft.flow.HFiles.importCells(spark, s"$out/hf")
    if (GAdmin.tableExists(spark, "hmig")) GAdmin.deleteTable(spark, "hmig")
    GAdmin.createTable(spark, "hmig", s"$out/tbl", buckets = 2)
    GAdmin.put(spark, "hmig", imported)
    val n = cells.count()
    assert(GAdmin.table(spark, "hmig").count() === n)
    // spot-check value fidelity through the whole loop
    val back = GAdmin.table(spark, "hmig")
      .filter(org.apache.spark.sql.functions.col("qualifier") === "o_totalprice")
      .count()
    val orig = cells
      .filter(org.apache.spark.sql.functions.col("qualifier") === "o_totalprice")
      .count()
    assert(back === orig)
    GAdmin.deleteTable(spark, "hmig")
  }

  test("getRow reads only the row's blocks — positional-read count is index-bounded") {
    // 400 cells, 1-cell blocks → ~400 data blocks; a get must touch
    // trailer + file-info + index + the row's own block(s), never scan
    val cells = (1 to 100).flatMap { i =>
      (1 to 4).map(q => cell(f"row-$i%04d", s"q$q", s"v$i-$q"))
    }.sortWith((a, b) => HFileV3.compareCells(a, b) < 0)
    val bos = new ByteArrayOutputStream()
    HFileV3.write(bos, cells.iterator, blockSize = 1, rowBloom = false)
    val bytes = bos.toByteArray
    assert(HFileV3.readTrailer(bytes).dataIndexCount >= 300)
    var preads = 0
    val pread: HFileV3.PRead = (off, len) => {
      preads += 1
      java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
    }
    val got = HFileV3.getRow(pread, bytes.length.toLong, "row-0042".getBytes(UTF_8))
    assert(got.size == 4)
    assert(got.map(c => new String(c.value, UTF_8)).toSet ==
      Set("v42-1", "v42-2", "v42-3", "v42-4"))
    // trailer(1) + fileinfo(2) + index(2) + 4 one-cell blocks(2 each) +
    // the terminating next-block peek — far below the ~800 a scan costs
    assert(preads <= 20, s"get touched $preads positional reads")

    // absent row: index probe only, no block scan beyond one peek
    preads = 0
    assert(HFileV3.getRow(pread, bytes.length.toLong,
      "row-0042x".getBytes(UTF_8)).isEmpty)
    assert(preads <= 10, s"absent-row get touched $preads reads")

    // row spanning a block boundary is reassembled whole (1-cell blocks
    // mean EVERY row spans blocks)
    val first = HFileV3.getRow(pread, bytes.length.toLong,
      "row-0001".getBytes(UTF_8))
    assert(first.size == 4)
  }

  test("GZ-compressed blocks roundtrip; trailer records the codec") {
    val cells = randomCells(400)
    val bos = new ByteArrayOutputStream()
    HFileV3.write(bos, cells.iterator, blockSize = 512, compression = HFileV3.CompressionGz)
    val bytes = bos.toByteArray
    val plain = HFileV3.writeBytes(cells.iterator, blockSize = 512)
    assert(bytes.length < plain.length, "gz file should be smaller")
    val trailer = HFileV3.readTrailer(bytes)
    assert(trailer.compressionCodec == 1, "GZ = Compression.Algorithm ordinal 1")
    assert(trailer.entryCount == cells.size)
    assert(HFileV3.readTrailer(plain).compressionCodec == 2)
    val back = HFileV3.readCells(bytes).toSeq
    assert(back.size == cells.size)
    cells.zip(back).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a.row, b.row))
      assert(java.util.Arrays.equals(a.value, b.value))
      assert(a.ts == b.ts && a.typ == b.typ)
    }
    // gets work through compressed blocks + compressed bloom chunks
    val handle = new HFileV3.HFileHandle(
      (off, len) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len),
      bytes.length.toLong)
    val someRow = cells(cells.size / 2).row
    assert(handle.get(someRow).nonEmpty)
    assert(handle.get("zz-absent".getBytes(UTF_8)).isEmpty)
  }

  test("SNAPPY / LZ4 / BZIP2 / ZSTD / LZMA blocks roundtrip; trailer ordinals; gets work") {
    val cells = randomCells(400)
    val plain = HFileV3.writeBytes(cells.iterator, blockSize = 512)
    for ((codec, ordinal) <- Seq(
        HFileV3.CompressionSnappy -> 3,
        HFileV3.CompressionLz4 -> 4,
        HFileV3.CompressionBzip2 -> 5,
        HFileV3.CompressionZstd -> 6,
        HFileV3.CompressionLzma -> 7)) {
      val bos = new ByteArrayOutputStream()
      HFileV3.write(bos, cells.iterator, blockSize = 512, compression = codec)
      val bytes = bos.toByteArray
      assert(bytes.length < plain.length, s"codec $ordinal file should be smaller")
      val trailer = HFileV3.readTrailer(bytes)
      assert(trailer.compressionCodec == ordinal)
      val back = HFileV3.readCells(bytes).toSeq
      assert(back.size == cells.size)
      cells.zip(back).foreach { case (a, b) =>
        assert(java.util.Arrays.equals(a.row, b.row))
        assert(java.util.Arrays.equals(a.value, b.value))
        assert(a.ts == b.ts && a.typ == b.typ)
      }
      val handle = new HFileV3.HFileHandle(
        (off, len) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len),
        bytes.length.toLong)
      assert(handle.get(cells(cells.size / 2).row).nonEmpty)
      assert(handle.get("zz-absent".getBytes(UTF_8)).isEmpty)
    }
  }

  test("multi-chunk BlockCompressorStream framing: payload > one 256 KiB chunk") {
    // values sized so one block's payload exceeds the compress chunk —
    // the framing loops [rawLen][compLen][chunk]… like Hadoop's stream
    val big = "x" * 9000
    val cells = (0 until 80).map(i => cell(f"r$i%04d", "q", big + i))
    val bos = new ByteArrayOutputStream()
    HFileV3.write(bos, cells.iterator, blockSize = 1 << 20,
      compression = HFileV3.CompressionLz4)
    val back = HFileV3.readCells(bos.toByteArray).toSeq
    assert(back.size == cells.size)
    cells.zip(back).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a.value, b.value))
    }
  }

  test("multi-level index write: leaf + intermediate levels, gets still exact") {
    // tiny index chunks force depth: leaf chunks flush inline
    // (IDXLEAF2), then intermediate levels (IDXINTE2) build until the
    // root fits — HFileBlockIndex.writeIndexBlocks' loop
    val cells = (0 until 3000).map(i =>
      cell(f"row-$i%06d", "q", s"v$i", ts = 1L))
    val bos = new ByteArrayOutputStream()
    HFileV3.write(bos, cells.iterator, blockSize = 256,
      indexMaxChunk = 200)
    val bytes = bos.toByteArray
    val trailer = HFileV3.readTrailer(bytes)
    assert(trailer.numDataIndexLevels >= 3,
      s"expected >=3 levels, got ${trailer.numDataIndexLevels}")
    val magics = HFileV3.readAllBlocks(bytes).map(_.magic).toSet
    assert(magics.contains("IDXLEAF2") && magics.contains("IDXINTE2"))
    // root entry count is the ROOT level's, far below the block count
    assert(trailer.dataIndexCount < 100 && trailer.dataIndexCount > 0)
    // sequential scan unaffected
    val back = HFileV3.readCells(bytes).toSeq
    assert(back.size == cells.size)
    assert(back.map(c => new String(c.row, UTF_8)) ==
      cells.map(c => new String(c.row, UTF_8)))
    // point-gets descend root → intermediate → leaf → data
    val pread: HFileV3.PRead =
      (off, len) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
    val handle = new HFileV3.HFileHandle(pread, bytes.length.toLong)
    for (i <- Seq(0, 1, 1499, 2998, 2999)) {
      val got = handle.get(f"row-$i%06d".getBytes(UTF_8))
      assert(got.size == 1 && new String(got.head.value, UTF_8) == s"v$i")
    }
    assert(handle.get("row-999999".getBytes(UTF_8)).isEmpty)
    assert(handle.get("a-before-all".getBytes(UTF_8)).isEmpty)
  }

  test("multi-level index: root carries mid-key metadata after the entries") {
    val cells = (0 until 1200).map(i => cell(f"r$i%05d", "q", "v"))
    val bos = new ByteArrayOutputStream()
    HFileV3.write(bos, cells.iterator, blockSize = 256, indexMaxChunk = 300,
      rowBloom = false)
    val bytes = bos.toByteArray
    val trailer = HFileV3.readTrailer(bytes)
    assert(trailer.numDataIndexLevels >= 2)
    // the root payload = entries + 16 bytes {long leafOff, int leafSize,
    // int subEntryIndex} (BlockIndexChunkImpl.getMidKeyMetadata) —
    // readRootIndex must stop at dataIndexCount and ignore the tail
    val idx = HFileV3.readRootIndex(bytes, trailer)
    assert(idx.size == trailer.dataIndexCount)
    // mid-key leaf offset points at a real IDXLEAF2 block
    val blocks = HFileV3.readAllBlocks(bytes)
    val rootBlk = blocks.filter(_.magic == "IDXROOT2").head
    val bb = ByteBuffer.wrap(rootBlk.payload)
    // skip the entries to reach the metadata
    for (_ <- 0 until trailer.dataIndexCount) {
      bb.getLong; bb.getInt
      val klen = bb.get() // vint: all keys here are short, 1-byte vints
      bb.position(bb.position() + klen)
    }
    val midLeafOff = bb.getLong
    assert(blocks.exists(b => b.offset == midLeafOff && b.magic == "IDXLEAF2"))
  }

  test("multi-level index composes with GZ compression and encodings") {
    val cells = (0 until 1500).map(i => cell(f"k$i%05d", "q", s"value-$i"))
    val bos = new ByteArrayOutputStream()
    HFileV3.write(bos, cells.iterator, blockSize = 256, indexMaxChunk = 250,
      compression = HFileV3.CompressionGz, encoding = graft.codec.BlockEncoding.IdFastDiff)
    val bytes = bos.toByteArray
    assert(HFileV3.readTrailer(bytes).numDataIndexLevels >= 2)
    assert(HFileV3.readCells(bytes).size == cells.size)
    val handle = new HFileV3.HFileHandle(
      (off, len) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len),
      bytes.length.toLong)
    val got = handle.get("k00777".getBytes(UTF_8))
    assert(got.size == 1 && new String(got.head.value, UTF_8) == "value-777")
  }

  test("row bloom: no false negatives; absent rows skip data blocks") {
    val cells = (1 to 100).flatMap { i =>
      (1 to 3).map(q => cell(f"row-$i%04d", s"q$q", s"v$i-$q"))
    }.sortWith((a, b) => HFileV3.compareCells(a, b) < 0)
    val bytes = HFileV3.writeBytes(cells.iterator, blockSize = 256)
    val trailer = HFileV3.readTrailer(bytes)
    val dataOffsets = HFileV3.readRootIndex(bytes, trailer).map(_._1).toSet
    val touched = scala.collection.mutable.Set.empty[Long]
    val pread: HFileV3.PRead = (off, len) => {
      touched += off
      java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
    }
    val handle = new HFileV3.HFileHandle(pread, bytes.length.toLong)
    // no false negatives: every present row must be found
    (1 to 100).foreach { i =>
      assert(handle.get(f"row-$i%04d".getBytes(UTF_8)).size == 3,
        s"present row $i must pass the bloom")
    }
    // absent rows: the bloom (FP rate 1%) must reject nearly all
    // WITHOUT a data-block read
    var skipped = 0
    (1 to 200).foreach { i =>
      touched.clear()
      val got = handle.get(f"nope-$i%05d".getBytes(UTF_8))
      assert(got.isEmpty)
      if (touched.forall(o => !dataOffsets.contains(o))) skipped += 1
    }
    assert(skipped >= 180, s"bloom rejected only $skipped/200 absent probes")
  }

  test("ROWCOL bloom: byte format, qualifier-get rejects skip data blocks") {
    // rows all EXIST but carry only q1..q3 — the case ROW blooms can't
    // help with and ROWCOL exists for (StoreFileReader.java:233-243)
    val cells = (1 to 100).flatMap { i =>
      (1 to 3).map(q => cell(f"row-$i%04d", s"q$q", s"v$i-$q"))
    }.sortWith((a, b) => HFileV3.compareCells(a, b) < 0)
    val bos = new ByteArrayOutputStream()
    HFileV3.write(bos, cells.iterator, blockSize = 256, rowColBloom = true)
    val bytes = bos.toByteArray
    val trailer = HFileV3.readTrailer(bytes)
    val fi = HFileV3.readFileInfo(bytes, trailer)
    assert(new String(fi("BLOOM_FILTER_TYPE"), UTF_8) == "ROWCOL")
    // LAST_BLOOM_KEY is the serialized rowcol key of the last cell:
    // 2B rowLen, row, famLen 0, qual, LATEST ts, Type.Maximum
    val lastKey = fi("LAST_BLOOM_KEY")
    val rl = ((lastKey(0) & 0xff) << 8) | (lastKey(1) & 0xff)
    assert(new String(lastKey, 2, rl, UTF_8) == "row-0100")
    assert(lastKey(2 + rl) == 0, "family length byte must be 0")
    assert(lastKey.last == 0xff.toByte, "type byte must be Maximum")
    // bloom meta names the cell comparator (vint-framed class name)
    val metaBlk = HFileV3.readAllBlocks(bytes).filter(_.magic == "BLMFMET2").head
    assert(new String(metaBlk.payload, java.nio.charset.StandardCharsets.ISO_8859_1)
      .contains("org.apache.hadoop.hbase.CellComparatorImpl"))

    val dataOffsets = HFileV3.readRootIndex(bytes, trailer).map(_._1).toSet
    val touched = scala.collection.mutable.Set.empty[Long]
    val pread: HFileV3.PRead = (off, len) => {
      touched += off
      java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
    }
    val handle = new HFileV3.HFileHandle(pread, bytes.length.toLong)
    // no false negatives on present (row, qualifier) pairs
    (1 to 100).foreach { i =>
      val got = handle.get(f"row-$i%04d".getBytes(UTF_8), "q2".getBytes(UTF_8))
      assert(got.size == 1 && new String(got.head.value, UTF_8) == s"v$i-2")
    }
    // absent QUALIFIER on a present row: ROWCOL must reject nearly all
    // without touching a data block — the pread saving ROW can't give
    var skipped = 0
    (1 to 200).foreach { i =>
      touched.clear()
      val got = handle.get(f"row-${(i % 100) + 1}%04d".getBytes(UTF_8),
        s"qq$i".getBytes(UTF_8))
      assert(got.isEmpty)
      if (touched.forall(o => !dataOffsets.contains(o))) skipped += 1
    }
    assert(skipped >= 180, s"ROWCOL rejected only $skipped/200 absent-qual probes")
    // row-only gets still work on a ROWCOL file (bloom just can't help)
    assert(handle.get("row-0050".getBytes(UTF_8)).size == 3)
    assert(handle.get("nope-1".getBytes(UTF_8)).isEmpty)
  }

  test("ROWPREFIX_FIXED_LENGTH bloom: byte format, absent-prefix gets skip data blocks") {
    // rows group by a 7-byte fixed prefix (grp-NNN); the bloom keys
    // the PREFIX (BloomType.java:39, RowPrefixFixedLengthBloomContext
    // .java:55), so a get in an ABSENT group rejects without data
    // I/O even though the file's [first,last] row range covers it —
    // the S4 prefix-scan workload's skip
    val cells = (1 to 40).flatMap { g =>
      (1 to 5).map(i => cell(f"grp-$g%03d-item-$i%02d", "q1", s"v$g-$i"))
    }.sortWith((a, b) => HFileV3.compareCells(a, b) < 0)
    val bos = new ByteArrayOutputStream()
    HFileV3.write(bos, cells.iterator, blockSize = 256,
      rowPrefixBloom = Some(7))
    val bytes = bos.toByteArray
    val trailer = HFileV3.readTrailer(bytes)
    val fi = HFileV3.readFileInfo(bytes, trailer)
    assert(new String(fi("BLOOM_FILTER_TYPE"), UTF_8) == "ROWPREFIX_FIXED_LENGTH")
    // BLOOM_FILTER_PARAM = 4-byte big-endian prefix length
    // (StoreFileReader.loadFileInfo's Bytes.toInt)
    assert(java.nio.ByteBuffer.wrap(fi("BLOOM_FILTER_PARAM")).getInt == 7)
    // LAST_BLOOM_KEY is the last PREFIX, not the last row
    assert(new String(fi("LAST_BLOOM_KEY"), UTF_8) == "grp-040")

    val dataOffsets = HFileV3.readRootIndex(bytes, trailer).map(_._1).toSet
    val touched = scala.collection.mutable.Set.empty[Long]
    val pread: HFileV3.PRead = (off, len) => {
      touched += off
      java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
    }
    val handle = new HFileV3.HFileHandle(pread, bytes.length.toLong)
    // no false negatives: every present row passes its prefix probe
    (1 to 40).foreach { g =>
      assert(handle.get(f"grp-$g%03d-item-03".getBytes(UTF_8)).size == 1,
        s"present group $g must pass")
    }
    // absent row in a PRESENT group: bloom passes (prefix exists),
    // the data read finds nothing — correctness over savings
    assert(handle.get("grp-020-item-99".getBytes(UTF_8)).isEmpty)
    // rows in ABSENT groups: the prefix probe must reject nearly all
    // without a data-block read, even though [first,last] covers them
    var skipped = 0
    (100 to 299).foreach { g =>
      touched.clear()
      val got = handle.get(f"grp-$g%03d-item-01".getBytes(UTF_8))
      assert(got.isEmpty)
      if (touched.forall(o => !dataOffsets.contains(o))) skipped += 1
    }
    assert(skipped >= 180, s"prefix bloom rejected only $skipped/200 absent-group probes")
    // prefix-scan probe surface: present prefix passes, absent rejects,
    // a shorter-than-N prefix cannot use the bloom (reference returns
    // true when commonLength < prefixLength)
    assert(handle.mightContainPrefix("grp-020".getBytes(UTF_8)))
    assert(!handle.mightContainPrefix("grp-200".getBytes(UTF_8)))
    assert(handle.mightContainPrefix("grp-2".getBytes(UTF_8)))
  }

  test("ROWPREFIX vs ROW bloom: absent-prefix scans reject from the CACHED bloom; ROW blooms can't reject them at all") {
    // the c13 win, quantified the way c09's ROWCOL test did: the SAME
    // data written under both bloom types, swept with the S4
    // prefix-scan probe. A ROW bloom keys exact rows, so every
    // absent-prefix probe falls through to a scan; the prefix bloom
    // rejects nearly all of them, and — once its meta + chunk blocks
    // are cached from the first probe — with ZERO further preads.
    val cells = (1 to 40).flatMap { g =>
      (1 to 5).map(i => cell(f"grp-$g%03d-item-$i%02d", "q1", s"v$g-$i"))
    }.sortWith((a, b) => HFileV3.compareCells(a, b) < 0)
    def fileWith(prefix: Option[Int]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      HFileV3.write(bos, cells.iterator, blockSize = 256,
        rowPrefixBloom = prefix)
      bos.toByteArray
    }
    val pfxBytes = fileWith(Some(7))
    val rowBytes = fileWith(None)

    var pfxReads = 0
    val pfxHandle = new HFileV3.HFileHandle((off, len) => {
      pfxReads += 1
      java.util.Arrays.copyOfRange(pfxBytes, off.toInt, off.toInt + len)
    }, pfxBytes.length.toLong)
    val rowHandle = new HFileV3.HFileHandle(
      (off, len) =>
        java.util.Arrays.copyOfRange(rowBytes, off.toInt, off.toInt + len),
      rowBytes.length.toLong)

    // warm probe loads trailer+file-info+bloom meta+the chunk once
    assert(!pfxHandle.mightContainPrefix("grp-100".getBytes(UTF_8)))
    val warmReads = pfxReads
    var rejected = 0
    (101 to 300).foreach { g =>
      val p = f"grp-$g%03d".getBytes(UTF_8)
      if (!pfxHandle.mightContainPrefix(p)) rejected += 1
      // the ROW bloom can NEVER reject a prefix probe — each of these
      // 200 absent-prefix scans has to open the file's data
      assert(rowHandle.mightContainPrefix(p),
        "ROW bloom must fall through on prefix probes")
    }
    assert(rejected >= 190, s"prefix bloom rejected only $rejected/200")
    assert(pfxReads == warmReads,
      s"cached bloom must serve the sweep with zero preads " +
        s"(saw ${pfxReads - warmReads} extra)")
    // present prefixes still pass (no false negatives)
    (1 to 40).foreach { g =>
      assert(pfxHandle.mightContainPrefix(f"grp-$g%03d".getBytes(UTF_8)))
    }
  }

  test("pointGet routes rows to region files and matches a filtered import") {
    val spark = TestSession.spark
    val cells = graft.model.Fixtures.cellsOrders(spark, "/root/testdata/sf0.001")
    val out = Queries.scratchDir("hfile_get_spec")
    // gz on: gets and imports must work through compressed region files
    graft.flow.HFiles.export(cells, 4, s"$out/hf", compression = HFileV3.CompressionGz)
    val some = cells.select("row").distinct().orderBy("row").limit(7)
      .collect().map(_.getString(0)).toSeq
    val probe = some ++ Seq("zzzz-absent")
    val got = graft.flow.HFiles.pointGet(spark, s"$out/hf", probe)
    val expected = graft.flow.HFiles.importCells(spark, s"$out/hf")
      .filter(org.apache.spark.sql.functions.col("row").isin(some: _*))
    assert(got.count() === expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("block boundaries honor the comparator, not row boundaries") {
    // 3 versions of one (row, qual) must decode in ts-descending order
    // even when a block split lands between them
    val cells = Seq(
      cell("r1", "q", "v3", ts = 3), cell("r1", "q", "v2", ts = 2),
      cell("r1", "q", "v1", ts = 1),
      cell("r1", "q2", "del", ts = 5, typ = HFileV3.TypeDeleteColumn),
      cell("r1", "q2", "new", ts = 5), cell("r2", "q", "x", ts = 1))
        .sortWith((a, b) => HFileV3.compareCells(a, b) < 0)
    // DeleteColumn(12) sorts before Put(4) at equal ts (type code desc)
    assert(new String(cells(3).value, UTF_8) == "del")
    val bytes = HFileV3.writeBytes(cells.iterator, blockSize = 1)
    val back = HFileV3.readCells(bytes).toSeq
    assert(back.map(c => new String(c.value, UTF_8)) ==
      Seq("v3", "v2", "v1", "del", "new", "x"))
    // blockSize=1 → one block per cell; root index must cover them all
    val trailer = HFileV3.readTrailer(bytes)
    assert(trailer.dataIndexCount == cells.size)
  }

  test("bufferedPRead hands out copies: writing into a result never changes a re-read") {
    val bytes = Array.tabulate[Byte](64)(_.toByte)
    var reads = 0
    val pread: HFileV3.PRead = (off, len) => {
      reads += 1
      java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
    }
    val bp = HFileV3.bufferedPRead(pread, bytes.length, chunk = 16)
    // a request the size of the whole window, then one inside it
    for ((off, len) <- Seq((0L, 16), (4L, 4))) {
      val got = bp(off, len)
      java.util.Arrays.fill(got, 99.toByte)
      assert(bp(off, len).toSeq === bytes.slice(off.toInt, off.toInt + len).toSeq,
        s"re-read of [$off, ${off + len}) saw a caller's write")
    }
    assert(reads === 1, "every request was served from the one window")
  }
}
