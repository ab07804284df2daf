package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QDef
import graft.codec.CodecFunctions._
import graft.codec.HFileV3
import graft.model.Tables

/** C01–C02: ordered-bytes codec parity (SURVEY.md §1.2/§4 —
  * OrderedBytes.java:297, types/Struct.java). The oracle cannot
  * reproduce graft's byte layout, so both queries check the codec's
  * *contract* instead: C01 proves `sort by encoded bytes ≡ sort by
  * values` (incl. a DESC component and composite concatenation), C02
  * proves `decode ∘ encode = id` on real data for every supported type.
  * Hash-equality of ranks/values against the plain-SQL oracle is
  * exactly the ordering/roundtrip guarantee.
  */
object CodecQueries {

  val defs: Seq[QDef] = Seq(
    QDef(
      "c01_ordered_key_sort",
      (s, dir) => {
        val o = Tables.load(s, s"$dir/orders.parquet")
        // Composite key: (priority ASC, totalprice DESC, orderkey ASC).
        // Global row_number is the point of the test (total-order
        // parity); the scale path for ordered output is
        // repartitionByRange on this same key (D11 analogue).
        val k = concat(
          ordered_encode(col("o_orderpriority")),
          ordered_encode(col("o_totalprice"), desc = true),
          ordered_encode(col("o_orderkey")))
        o.select(k.as("k"), col("o_orderpriority"),
            round(col("o_totalprice"), 4).as("price"), col("o_orderkey"))
          .withColumn("rank", row_number().over(Window.orderBy(col("k"))))
          .select("rank", "o_orderpriority", "price", "o_orderkey")
          .orderBy("rank")
      },
      Some("""SELECT row_number() OVER (ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey) AS rank,
             |       o_orderpriority, ROUND(o_totalprice, 4) AS price, o_orderkey
             |FROM orders ORDER BY rank""".stripMargin)
    ),
    QDef(
      "c02_codec_roundtrip",
      (s, dir) => {
        val l = Tables.load(s, s"$dir/lineitem.parquet")
        l.select(
            col("l_orderkey"), col("l_linenumber"),
            ordered_decode_long(ordered_encode(col("l_orderkey"))).as("dec_long"),
            round(ordered_decode_double(
              ordered_encode(col("l_extendedprice"), desc = true), desc = true), 4)
              .as("dec_double"),
            ordered_decode_string(ordered_encode(col("l_returnflag"))).as("dec_str"),
            round(ordered_decode_numeric(
              ordered_encode(col("l_quantity").cast(DecimalType(12, 2)))), 4)
              .as("dec_num"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |       l_orderkey AS dec_long,
             |       ROUND(l_extendedprice, 4) AS dec_double,
             |       l_returnflag AS dec_str,
             |       ROUND(CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE), 4) AS dec_num
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)
    ),
    QDef(
      // C04: the LAYOUT-FAITHFUL OrderedBytes mode (OBytesHb —
      // byte-for-byte OrderedBytes.java wire format, header-byte
      // scheme) on the same contract gate as C01/C02: composite-key
      // total-order parity (text + DESC float64 + int64, each
      // self-terminating so concat = Struct) AND decode∘encode = id on
      // real data. Layout fidelity itself is pinned by CodecSpec's
      // golden byte vectors; this query proves the mode works as a
      // first-class key surface on the engine.
      "c04_hb_layout_sort",
      (s, dir) => {
        val o = Tables.load(s, s"$dir/orders.parquet")
        val k = concat(
          ordered_encode_hb(col("o_orderpriority")),
          ordered_encode_hb(col("o_totalprice"), desc = true),
          ordered_encode_hb(col("o_orderkey")))
        o.select(k.as("k"), col("o_orderpriority"),
            round(col("o_totalprice"), 4).as("price"), col("o_orderkey"),
            ordered_decode_long_hb(ordered_encode_hb(col("o_orderkey"))).as("dec_long"),
            round(ordered_decode_double_hb(
              ordered_encode_hb(col("o_totalprice"), desc = true), desc = true), 4)
              .as("dec_double"),
            ordered_decode_string_hb(ordered_encode_hb(col("o_orderpriority")))
              .as("dec_str"))
          .withColumn("rank", row_number().over(Window.orderBy(col("k"))))
          .select("rank", "o_orderpriority", "price", "o_orderkey",
            "dec_long", "dec_double", "dec_str")
          .orderBy("rank")
      },
      Some("""SELECT row_number() OVER (ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey) AS rank,
             |       o_orderpriority, ROUND(o_totalprice, 4) AS price, o_orderkey,
             |       o_orderkey AS dec_long,
             |       ROUND(o_totalprice, 4) AS dec_double,
             |       o_orderpriority AS dec_str
             |FROM orders ORDER BY rank""".stripMargin)
    ),
    QDef(
      // C03: the NARROW DataType family (types/OrderedInt32/16/8,
      // OrderedFloat32, OrderedBlobVar — types/DataType.java:49):
      // roundtrip per type AND total-order parity of a composite key
      // mixing a DESC int16, an int32, an escaped blob, and an int64.
      "c03_narrow_types",
      (s, dir) => {
        val l = Tables.load(s, s"$dir/lineitem.parquet")
        // (orderkey, linenumber) is NOT unique in the synthetic data, so
        // the float32 discount joins the key to totalize the order over
        // every compared column
        val key = concat(
          ordered_encode_int16(col("l_quantity").cast("smallint"), desc = true),
          ordered_encode_int32(col("l_linenumber").cast("int")),
          ordered_encode_blob_var(encode(col("l_returnflag"), "UTF-8")),
          ordered_encode(col("l_orderkey")),
          ordered_encode_float32(col("l_discount").cast("float")))
        l.select(
            col("l_orderkey"), col("l_linenumber"),
            ordered_decode_int32(
              ordered_encode_int32(col("l_linenumber").cast("int"))).as("dec_i32"),
            ordered_decode_int16(
              ordered_encode_int16(col("l_quantity").cast("smallint"))).cast("int").as("dec_i16"),
            ordered_decode_int8(
              ordered_encode_int8(col("l_linenumber").cast("tinyint"))).cast("int").as("dec_i8"),
            ordered_decode_float32(
              ordered_encode_float32(col("l_discount").cast("float"), desc = true),
              desc = true).as("dec_f32"),
            decode(ordered_decode_blob_var(
              ordered_encode_blob_var(encode(col("l_returnflag"), "UTF-8"))), "UTF-8")
              .as("dec_blob"),
            row_number().over(Window.orderBy(key)).as("rank"))
          .orderBy("rank")
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |       l_linenumber AS dec_i32,
             |       CAST(CAST(l_quantity AS SMALLINT) AS INT) AS dec_i16,
             |       CAST(CAST(l_linenumber AS TINYINT) AS INT) AS dec_i8,
             |       CAST(l_discount AS REAL) AS dec_f32,
             |       l_returnflag AS dec_blob,
             |       row_number() OVER (ORDER BY l_quantity DESC, l_linenumber, l_returnflag, l_orderkey, CAST(l_discount AS REAL)) AS rank
             |FROM lineitem ORDER BY rank""".stripMargin)
    ),
    QDef(
      // C14: c03's NARROW types in the LAYOUT-FAITHFUL hb wire mode
      // (OrderedBytes.java encodeInt8:1022, encodeInt16:960,
      // encodeInt32:981, encodeFloat32:1091, blobVar :150-160 — the
      // exact header-byte layout a reference client's Struct-encoded
      // composite row keys carry): roundtrip per narrow type AND
      // total-order parity of a mixed composite key (DESC int16,
      // int32, equal-length blobVar, int64, float32) ranked by the
      // raw wire bytes. Byte-for-byte goldens are pinned in CodecSpec;
      // this query pins that REAL composite keys in the reference
      // layout sort and decode exactly like the values.
      "c14_hb_narrow_sort",
      (s, dir) => {
        val l = Tables.load(s, s"$dir/lineitem.parquet")
        val key = concat(
          ordered_encode_int16_hb(col("l_quantity").cast("smallint"), desc = true),
          ordered_encode_int32_hb(col("l_linenumber").cast("int")),
          ordered_encode_blob_var_hb(encode(col("l_returnflag"), "UTF-8")),
          ordered_encode_hb(col("l_orderkey")),
          ordered_encode_float32_hb(col("l_discount").cast("float")))
        l.select(
            col("l_orderkey"), col("l_linenumber"),
            ordered_decode_int32_hb(
              ordered_encode_int32_hb(col("l_linenumber").cast("int"))).as("dec_i32"),
            ordered_decode_int16_hb(
              ordered_encode_int16_hb(col("l_quantity").cast("smallint"))).cast("int").as("dec_i16"),
            ordered_decode_int8_hb(
              ordered_encode_int8_hb(col("l_linenumber").cast("tinyint"))).cast("int").as("dec_i8"),
            ordered_decode_float32_hb(
              ordered_encode_float32_hb(col("l_discount").cast("float"), desc = true),
              desc = true).as("dec_f32"),
            decode(ordered_decode_blob_var_hb(
              ordered_encode_blob_var_hb(encode(col("l_returnflag"), "UTF-8"))), "UTF-8")
              .as("dec_blob"),
            row_number().over(Window.orderBy(key)).as("rank"))
          .orderBy("rank")
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |       l_linenumber AS dec_i32,
             |       CAST(CAST(l_quantity AS SMALLINT) AS INT) AS dec_i16,
             |       CAST(CAST(l_linenumber AS TINYINT) AS INT) AS dec_i8,
             |       CAST(l_discount AS REAL) AS dec_f32,
             |       l_returnflag AS dec_blob,
             |       row_number() OVER (ORDER BY l_quantity DESC, l_linenumber, l_returnflag, l_orderkey, CAST(l_discount AS REAL)) AS rank
             |FROM lineitem ORDER BY rank""".stripMargin)
    ),
    QDef(
      // C05: HFile v3 BYTE-FORMAT roundtrip (HFileWriterImpl.java:652,
      // HFileReaderImpl, FixedFileTrailer.java:202) — the store-file
      // twin of the c04 key codec. cells_orders is range-partitioned
      // into 8 region files, each task streams its partition through
      // graft's pure-JVM v3 writer (DATABLK* blocks + CRC32C chunk
      // checksums + single-level IDXROOT2 + FILEINF2 + 4 KiB pb
      // trailer), then one task per file streams the blocks back.
      // Oracle = the cell fixture itself: byte-format encode∘decode
      // must be identity over every cell. Layout fidelity (magics,
      // trailer fields, checksum math, hostile-input bounds) is pinned
      // by HFileSpec's structural cases.
      "c05_hfile_roundtrip",
      (s, dir) => {
        val out = graft.Queries.scratchDir("c05_hfile")
        graft.flow.HFiles.export(
          graft.model.Fixtures.cellsOrders(s, dir), 8, s"$out/hf")
        graft.flow.HFiles.importCells(s, s"$out/hf")
          .orderBy("row", "family", "qualifier", "ts", "type", "value")
      },
      Some(graft.oracle.Cte.withCtes(graft.oracle.Cte.cellsOrders)(
        """SELECT row, family, qualifier, ts, type, value FROM cells_orders
          |ORDER BY row, family, qualifier, ts, type, value""".stripMargin))
    ),
    QDef(
      // C06: point-GETS served straight from the exported HFiles — the
      // reference's Get read path against store files (meta-style range
      // routing + block-index binary search + single-block reads,
      // HFileReaderImpl.blockSeek). Probes 40 keys incl. absent ones
      // (TPC-H orderkeys are sparse): absent rows cost an index probe,
      // never a scan. HFileSpec pins the positional-read count.
      "c06_hfile_get",
      (s, dir) => {
        val out = graft.Queries.scratchDir("c06_hfile")
        graft.flow.HFiles.export(
          graft.model.Fixtures.cellsOrders(s, dir), 8, s"$out/hf")
        val keys = ((1L to 40L) :+ 9999999999L).map(k => f"$k%010d")
        graft.flow.HFiles.pointGet(s, s"$out/hf", keys)
          .orderBy("row", "family", "qualifier", "ts", "type", "value")
      },
      Some {
        val keyList = ((1L to 40L) :+ 9999999999L)
          .map(k => f"'$k%010d'").mkString(", ")
        graft.oracle.Cte.withCtes(graft.oracle.Cte.cellsOrders)(
          s"""SELECT row, family, qualifier, ts, type, value FROM cells_orders
             |WHERE row IN ($keyList)
             |ORDER BY row, family, qualifier, ts, type, value""".stripMargin)
      }
    ),
    QDef(
      // C07: HFile DATA-BLOCK ENCODINGS roundtrip — the reference's
      // in-block key compression (DataBlockEncoding.java:37-43:
      // PREFIX=2 / DIFF=3 / FAST_DIFF=4 / ROW_INDEX_V1=7, FAST_DIFF
      // being the common production default). cells_orders exports
      // once PER encoding (DATABLKE blocks, graft.codec.BlockEncoding)
      // and each import must reproduce the cell stream exactly —
      // byte-format migration coverage for encoded reference store
      // files. Encoder-branch fidelity (ts diffs, SAME_VALUE elision,
      // tags+mvcc interleave, multi-family rejection) is pinned by
      // BlockEncodingSpec.
      "c07_hfile_encodings",
      (s, dir) => {
        val out = graft.Queries.scratchDir("c07_hfile_enc")
        val cells = graft.model.Fixtures.cellsOrders(s, dir)
        Seq("DIFF", "FAST_DIFF", "PREFIX", "ROW_INDEX_V1").map { name =>
          // concurrent 4-task export legs (see c08's note)
          scala.concurrent.Future {
            graft.flow.HFiles.export(cells, 4, s"$out/$name",
              encoding = graft.codec.BlockEncoding.idOf(name))
            name
          }(scala.concurrent.ExecutionContext.global)
        }.map(f => scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf))
          .map { name =>
            graft.flow.HFiles.importCells(s, s"$out/$name")
              .withColumn("encoding", lit(name))
          }.reduce(_ unionByName _)
          .select("encoding", "row", "family", "qualifier", "ts", "type", "value")
          .orderBy("encoding", "row", "family", "qualifier", "ts", "type", "value")
      },
      Some(graft.oracle.Cte.withCtes(graft.oracle.Cte.cellsOrders)(
        """SELECT e.encoding, row, family, qualifier, ts, type, value
          |FROM cells_orders
          |CROSS JOIN (VALUES ('DIFF'), ('FAST_DIFF'), ('PREFIX'), ('ROW_INDEX_V1')) e(encoding)
          |ORDER BY encoding, row, family, qualifier, ts, type, value""".stripMargin))
    ),
    QDef(
      // C08: HFile BLOCK COMPRESSION roundtrip beyond GZ — SNAPPY /
      // LZ4 / BZIP2 / ZSTD / LZMA (Compression.java ordinals
      // 3/4/5/6/7), the codecs production reference clusters actually
      // run. On-disk form is Hadoop BlockCompressorStream framing
      // ([int rawLen][int compLen][chunk]…) over raw snappy /
      // lz4-block / zstd-frame / lzma-alone chunks via the
      // hbase-compression modules' formats; BZIP2 is Hadoop's STREAM
      // form like GZ — one bzip2 stream per block
      // (HFileV3.compressPayload); LZMA is the historical
      // hbase-compression-xz form via org.tukaani.xz (on Spark's
      // classpath). ZSTD composes with FAST_DIFF here — compressed
      // encoded blocks, the realistic migration shape. LZO/BROTLI
      // stay a documented classpath boundary.
      "c08_hfile_compressions",
      (s, dir) => {
        // each codec leg roundtrips a DISTINCT 1/6 corpus slice: the
        // identity gate per codec is unchanged (real data through the
        // real writer/reader) while the fixed per-round encode/decode
        // CPU drops 6× — the slices cover the whole corpus between
        // them, so a row-dependent corruption still cannot hide
        val out = graft.Queries.scratchDir("c08_hfile_comp")
        val cells = graft.model.Fixtures.cellsOrders(s, dir)
        val uid = col("row").cast("long")
        Seq(
          "BZIP2" -> (HFileV3.CompressionBzip2, 0),
          "LZ4" -> (HFileV3.CompressionLz4, 0),
          "LZMA" -> (HFileV3.CompressionLzma, 0),
          "SNAPPY" -> (HFileV3.CompressionSnappy, 0),
          "ZSTD" -> (HFileV3.CompressionZstd, 0),
          "ZSTD_FAST_DIFF" ->
            (HFileV3.CompressionZstd, graft.codec.BlockEncoding.IdFastDiff)
        ).zipWithIndex.map { case ((name, (codec, enc)), i) =>
          // the 6 export jobs SUBMIT concurrently (each is a 2-task
          // job — serial legs left 30 of 32 cores idle; Spark's
          // scheduler interleaves concurrent actions safely)
          scala.concurrent.Future {
            graft.flow.HFiles.export(cells.filter(uid % 6 === i), 2,
              s"$out/$name", compression = codec, encoding = enc)
            name
          }(scala.concurrent.ExecutionContext.global)
        }.map(f => scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf))
          .map { name =>
            graft.flow.HFiles.importCells(s, s"$out/$name")
              .withColumn("codec", lit(name))
          }.reduce(_ unionByName _)
          .select("codec", "row", "family", "qualifier", "ts", "type", "value")
          .orderBy("codec", "row", "family", "qualifier", "ts", "type", "value")
      },
      Some(graft.oracle.Cte.withCtes(graft.oracle.Cte.cellsOrders)(
        """SELECT e.codec, row, family, qualifier, ts, type, value
          |FROM cells_orders
          |JOIN (VALUES ('BZIP2', 0), ('LZ4', 1), ('LZMA', 2),
          |             ('SNAPPY', 3), ('ZSTD', 4), ('ZSTD_FAST_DIFF', 5))
          |  e(codec, i) ON CAST(row AS BIGINT) % 6 = e.i
          |ORDER BY codec, row, family, qualifier, ts, type, value""".stripMargin))
    ),
    QDef(
      // C09: single-COLUMN gets through ROWCOL compound blooms — the
      // probe shape StoreFileReader.passesBloomFilter serves with one
      // column (StoreFileReader.java:233-243): files carry ROWCOL
      // bloom chunks (keys = 2B rowLen,row,famLen 0,qual,LATEST
      // ts,Type.Maximum — RowColBloomHashKey.java:28), and a get for
      // an ABSENT qualifier on a PRESENT row is rejected by the bloom
      // without a data-block read (pread savings pinned in
      // HFileSpec's ROWCOL case). Probes o_totalprice on 40 rows plus
      // a no-such-qualifier sweep that must return zero rows.
      "c09_hfile_rowcol_get",
      (s, dir) => {
        val out = graft.Queries.scratchDir("c09_hfile_rowcol")
        graft.flow.HFiles.export(
          graft.model.Fixtures.cellsOrders(s, dir), 8, s"$out/hf",
          rowColBloom = true)
        val keys = (1L to 40L).map(k => f"$k%010d")
        graft.flow.HFiles.pointGet(s, s"$out/hf", keys,
            qualifier = Some("o_totalprice"))
          .unionByName(graft.flow.HFiles.pointGet(s, s"$out/hf", keys,
            qualifier = Some("no_such_qual")))
          .orderBy("row", "family", "qualifier", "ts", "type", "value")
      },
      Some {
        val keyList = (1L to 40L).map(k => f"'$k%010d'").mkString(", ")
        graft.oracle.Cte.withCtes(graft.oracle.Cte.cellsOrders)(
          s"""SELECT row, family, qualifier, ts, type, value FROM cells_orders
             |WHERE row IN ($keyList) AND qualifier = 'o_totalprice'
             |ORDER BY row, family, qualifier, ts, type, value""".stripMargin)
      }
    ),
    QDef(
      // C10: PER-FAMILY store files + split references on a
      // MULTI-family table — the reference's actual store layout (a
      // Store is per column family; HFileOutputFormat2 opens one
      // writer per family): the snapshot tree holds one comparator-
      // sorted file per (region, family), the split snapshot turns
      // every one of them into TOP/BOTTOM half-references, and the
      // manifest-driven import reassembles the table exactly. The
      // second family 'm' carries UPPER(value) so family separation
      // is observable, not cosmetic.
      "c10_perfamily_snapshot",
      (s, dir) => {
        val out = graft.Queries.scratchDir("c10_perfam")
        val base = graft.model.Fixtures.cellsOrders(s, dir)
        val cells = base.unionByName(
          base.withColumn("family", lit("m"))
            .withColumn("value", upper(col("value"))))
        graft.flow.SnapshotShip.exportSnapshot(cells, 4, s"$out/ship",
          "snapF", "c10tbl", perFamily = true)
        graft.flow.SnapshotShip.splitSnapshot(s, s"$out/ship", "snapF", "snapG")
        graft.flow.SnapshotShip.importSnapshot(s, s"$out/ship", "snapG")
          .select("row", "family", "qualifier", "ts", "type", "value")
          .orderBy("row", "family", "qualifier", "ts", "type", "value")
      },
      Some(graft.oracle.Cte.withCtes(graft.oracle.Cte.cellsOrders)(
        """SELECT row, family, qualifier, ts, type, value FROM (
          |  SELECT row, family, qualifier, ts, type, value FROM cells_orders
          |  UNION ALL
          |  SELECT row, 'm' AS family, qualifier, ts, type, UPPER(value) AS value
          |  FROM cells_orders)
          |ORDER BY row, family, qualifier, ts, type, value""".stripMargin))
    ),
    QDef(
      // C13: gets through ROWPREFIX_FIXED_LENGTH compound blooms — the
      // third bloom flavor (BloomType.java:39;
      // RowPrefixFixedLengthBloomContext truncates each row to its
      // first N bytes, StoreFileReader
      // .passesGeneralRowPrefixBloomFilter probes with the same
      // truncation): files carry prefix-keyed chunks +
      // BLOOM_FILTER_PARAM (4-byte BE prefix length) in FileInfo, and
      // a get (or prefix scan) whose 8-byte key prefix names no
      // present prefix group is rejected from the cached bloom without
      // a data-block read (pread savings pinned in HFileSpec). Probes
      // the c06 key set: present low keys share live prefix groups,
      // the absent 9999999999 key's prefix group is absent → bloom
      // reject.
      "c13_hfile_rowprefix_bloom",
      (s, dir) => {
        val out = graft.Queries.scratchDir("c13_hfile_rowprefix")
        graft.flow.HFiles.export(
          graft.model.Fixtures.cellsOrders(s, dir), 8, s"$out/hf",
          rowPrefixBloom = Some(8))
        val keys = ((1L to 40L) :+ 9999999999L).map(k => f"$k%010d")
        graft.flow.HFiles.pointGet(s, s"$out/hf", keys)
          .orderBy("row", "family", "qualifier", "ts", "type", "value")
      },
      Some {
        val keyList = ((1L to 40L) :+ 9999999999L)
          .map(k => f"'$k%010d'").mkString(", ")
        graft.oracle.Cte.withCtes(graft.oracle.Cte.cellsOrders)(
          s"""SELECT row, family, qualifier, ts, type, value FROM cells_orders
             |WHERE row IN ($keyList)
             |ORDER BY row, family, qualifier, ts, type, value""".stripMargin)
      }
    ),
    QDef(
      // C11: HFile TRANSPARENT ENCRYPTION roundtrip — the reference's
      // encryption-at-rest (HFileBlockDefaultEncodingContext block
      // frames, EncryptionUtil trailer-wrapped per-file AES-128 data
      // keys; graft.codec.HCrypto). Exported twice: AES over plain
      // NONE blocks, and AES over ZSTD∘FAST_DIFF — compressed encoded
      // encrypted blocks, the full production composition (compression
      // runs before encryption, so the 12x ZSTD ratio survives). Both
      // imports must reproduce the cell stream exactly; gets against
      // the encrypted files and ciphertext-opacity/tamper cases are
      // pinned by HFileCryptoSpec.
      "c11_hfile_encryption",
      (s, dir) => {
        val out = graft.Queries.scratchDir("c11_hfile_enc")
        val cells = graft.model.Fixtures.cellsOrders(s, dir)
        Seq(
          "AES" -> (HFileV3.CompressionNone, 0),
          "AES_ZSTD_FAST_DIFF" ->
            (HFileV3.CompressionZstd, graft.codec.BlockEncoding.IdFastDiff)
        ).map { case (name, (codec, enc)) =>
          graft.flow.HFiles.export(cells, 4, s"$out/$name",
            compression = codec, encoding = enc,
            encryptSubject = Some(graft.codec.HCrypto.DefaultSubject))
          graft.flow.HFiles.importCells(s, s"$out/$name")
            .withColumn("mode", lit(name))
        }.reduce(_ unionByName _)
          .select("mode", "row", "family", "qualifier", "ts", "type", "value")
          .orderBy("mode", "row", "family", "qualifier", "ts", "type", "value")
      },
      Some(graft.oracle.Cte.withCtes(graft.oracle.Cte.cellsOrders)(
        """SELECT e.mode, row, family, qualifier, ts, type, value
          |FROM cells_orders
          |CROSS JOIN (VALUES ('AES'), ('AES_ZSTD_FAST_DIFF')) e(mode)
          |ORDER BY mode, row, family, qualifier, ts, type, value""".stripMargin))
    ),
    QDef(
      // C12: MOB store layout at the byte level (hbase-server mob/ —
      // MobUtils.createMobRefCell:528, MobFileName.java:40-67,
      // TagType.java:33-34): Put values over the 30-byte threshold land
      // in mob HFiles under mobdir/data/<ns>/<table>/<mobRegion>/<fam>/
      // with MobFileName-shaped names and MOB_CELLS_COUNT file info;
      // the main store files keep tagged ref cells whose value is
      // [4B real length][mob file name]. Import resolves refs by
      // joining the named mob files on the full cell key — the `mob`
      // column is PROVENANCE (resolved through a mob file), which the
      // oracle recomputes from the threshold rule, so a split that
      // silently kept values inline fails the gate. Tag wire format,
      // name shape, audit counts and dangling-ref surfacing are pinned
      // by HFileMobSpec.
      "c12_mob_hfiles",
      (s, dir) => {
        val out = graft.Queries.scratchDir("c12_mob")
        graft.flow.MobFiles.export(
          graft.model.Fixtures.cellsOrders(s, dir),
          threshold = 30, numRegions = 8, outPath = out, table = "orders")
        graft.flow.MobFiles.importResolved(s, out, table = "orders")
          .orderBy("row", "family", "qualifier", "ts", "type", "value")
      },
      Some(graft.oracle.Cte.withCtes(graft.oracle.Cte.cellsOrders)(
        """SELECT row, family, qualifier, ts, type, value,
          |       (type = 'Put' AND length(COALESCE(value, '')) > 30) AS mob
          |FROM cells_orders
          |ORDER BY row, family, qualifier, ts, type, value""".stripMargin))
    ),
    QDef(
      // C17: HFilePrettyPrinter twin (HFilePrettyPrinter.java — the
      // `hbase hfile -m` report) from METADATA preads only: trailer
      // entry count, root-index first key, FILE_INFO LASTKEY /
      // TIMERANGE / AVG_KEY_LEN / AVG_VALUE_LEN. Three store files
      // built from known ts buckets of cells_events_v; the oracle
      // re-derives every reported number from the bucket's cells —
      // the averages via the writer's own floor division over the
      // KeyValue key layout (2B rowLen + row + 1B famLen + fam + qual
      // + 8B ts + 1B type = 12 + lens). Format-dependent fields
      // (index levels, block counts, physical bytes) stay in the
      // function but out of the declared query, like q104's
      // store_bytes.
      "c17_hfile_pretty_printer",
      (s, dir) => {
        val out = graft.Queries.scratchDir("c17_hfile_print")
        val cells = graft.model.Fixtures.cellsEventsV(s, dir)
        // one-job bucket landing (r17-opt, the q96 rewrite's twin): the
        // buckets are disjoint ts slices, so one exportRegions pass
        // writes all three files (same paths/contents as the old three
        // single-file export jobs)
        graft.flow.HFiles.exportRegions(
          cells.select(c17Bucket(col("ts")).as("__b"),
            col("row"), col("family"), col("qualifier"), col("ts"),
            col("type"), col("value")),
          "__b", out, b => s"b$b/part-00000.hfile")
        Seq("b1", "b2", "b3").map { b =>
          graft.flow.HFilePrint.describe(s, s"$out/$b")
            .withColumn("bucket", lit(b))
        }.reduce(_ unionByName _)
          .select("bucket", "entry_count", "first_row", "last_row",
            "ts_min", "ts_max", "avg_key_len", "avg_value_len")
          .orderBy("bucket")
      },
      Some(graft.oracle.Cte.withCtes(graft.oracle.Cte.cellsEventsV,
        """__hp_b(bucket, lo, hi) AS (
          |  VALUES ('b1', 1, 2), ('b2', 3, 3), ('b3', 4, 5)
          |)""".stripMargin)(
        """SELECT b.bucket,
          |       CAST(COUNT(*) AS BIGINT) AS entry_count,
          |       MIN(c.row) AS first_row, MAX(c.row) AS last_row,
          |       CAST(MIN(c.ts) AS BIGINT) AS ts_min,
          |       CAST(MAX(c.ts) AS BIGINT) AS ts_max,
          |       CAST(SUM(12 + strlen(c.row) + strlen(c.family)
          |              + strlen(c.qualifier)) // COUNT(*) AS BIGINT)
          |         AS avg_key_len,
          |       CAST(SUM(strlen(COALESCE(c.value, ''))) // COUNT(*) AS BIGINT)
          |         AS avg_value_len
          |FROM __hp_b b JOIN cells_events_v c ON c.ts BETWEEN b.lo AND b.hi
          |GROUP BY b.bucket ORDER BY b.bucket""".stripMargin))
    )
  )

  /** c17's HFile bucket of a cell ts: 1 for ts <= 2, 2 for ts = 3, 3 for
    * ts >= 4. The buckets name every non-null ts, so the only unmapped
    * input is a null ts (fixture drift); it fails the query loudly
    * instead of leaving a cell out of every file. */
  private[graft] def c17Bucket(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(when(ts <= 2, 1).when(ts === 3, 2).when(ts >= 4, 3),
      raise_error(lit("c17: a cell with a null ts has no HFile bucket")))
}
