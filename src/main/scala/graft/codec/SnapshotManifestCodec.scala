package graft.codec

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** The reference's snapshot manifest byte format — `.hbase-snapshot/
  * <name>/.snapshotinfo` (a raw SnapshotDescription proto,
  * SnapshotDescriptionUtils.java:394-400) and `data.manifest` (a raw
  * SnapshotDataManifest proto, SnapshotManifest.java:575-596), so a
  * graft ExportSnapshot ships a layout a reference cluster can adopt
  * directly and graft can ingest a reference cluster's snapshots.
  *
  * Proto schemas (Snapshot.proto:34-87, HBase.proto:32-82):
  *   SnapshotDescription { name=1 str, table=2 str, creation_time=3,
  *     type=4 enum (FLUSH=1), version=5 int32 }
  *   SnapshotDataManifest { table_schema=1, region_manifests=2* }
  *   TableSchema { table_name=1 TableName, column_families=3* }
  *   TableName { namespace=1 bytes, qualifier=2 bytes }
  *   ColumnFamilySchema { name=1 bytes }
  *   SnapshotRegionManifest { version=1, region_info=2 RegionInfo,
  *     family_files=3* FamilyFiles }
  *   RegionInfo { region_id=1, table_name=2, start_key=3, end_key=4 }
  *   FamilyFiles { family_name=1 bytes, store_files=2* StoreFile }
  *   StoreFile { name=1 str, file_size=3 uint64 }
  * Both files are raw (non-delimited) messages. Unknown fields are
  * skipped by wire type on read, so real manifests (attributes,
  * permissions, references) parse.
  */
object SnapshotManifestCodec {

  /** A split-daughter half-file pointer (FS.proto `Reference`:
    * splitkey = the serialized first-on-row cell key of the split row,
    * range TOP(0) = keys >= split, BOTTOM(1) = keys < split —
    * HalfStoreFileReader.java:43-61). */
  final case class RefHalf(splitRow: Array[Byte], top: Boolean)
  final case class StoreFileRef(name: String, fileSize: Long,
      reference: Option[RefHalf] = None)
  final case class FamilyFiles(family: Array[Byte], files: Seq[StoreFileRef])
  final case class RegionManifest(
      regionId: Long, startKey: Array[Byte], endKey: Array[Byte],
      families: Seq[FamilyFiles])
  final case class Snapshot(
      name: String, table: String, creationTime: Long, version: Int,
      families: Seq[Array[Byte]], regions: Seq[RegionManifest])

  /** SnapshotDescription.Type.FLUSH (Snapshot.proto:40). */
  private val TypeFlush = 1L
  /** SnapshotManifestV2.DESCRIPTOR_VERSION — the current manifest
    * format version (SnapshotManifestV2.java). */
  val ManifestVersion = 2

  // --- pb wire helpers ---

  private def writeVarint(out: ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def readVarint(bb: ByteBuffer): Long = {
    var v = 0L; var shift = 0; var b = 0
    do { b = bb.get() & 0xff; v |= (b & 0x7fL) << shift; shift += 7 } while ((b & 0x80) != 0)
    v
  }

  private def vField(out: ByteArrayOutputStream, field: Int, v: Long): Unit = {
    writeVarint(out, (field.toLong << 3) | 0); writeVarint(out, v)
  }

  private def bField(out: ByteArrayOutputStream, field: Int, v: Array[Byte]): Unit = {
    writeVarint(out, (field.toLong << 3) | 2)
    writeVarint(out, v.length.toLong)
    out.write(v, 0, v.length)
  }

  private def sField(out: ByteArrayOutputStream, field: Int, v: String): Unit =
    bField(out, field, v.getBytes(StandardCharsets.UTF_8))

  private def skipField(bb: ByteBuffer, wire: Int): Unit = wire match {
    case 0 => readVarint(bb)
    case 1 => bb.position(bb.position() + 8)
    case 2 => val len = readVarint(bb).toInt; bb.position(bb.position() + len)
    case 5 => bb.position(bb.position() + 4)
    case w => throw new IllegalArgumentException(s"bad pb wire type $w")
  }

  private def tableNameBytes(table: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val (ns, qual) = table.split(":", 2) match {
      case Array(n, q) => (n, q)
      case _ => ("default", table)
    }
    bField(out, 1, ns.getBytes(StandardCharsets.UTF_8))
    bField(out, 2, qual.getBytes(StandardCharsets.UTF_8))
    out.toByteArray
  }

  // --- .snapshotinfo ---

  /** Raw SnapshotDescription bytes. */
  def encodeDescription(s: Snapshot): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    sField(out, 1, s.name)
    sField(out, 2, s.table)
    vField(out, 3, s.creationTime)
    vField(out, 4, TypeFlush)
    vField(out, 5, ManifestVersion.toLong)
    out.toByteArray
  }

  /** Parse a SnapshotDescription: (name, table, creationTime, version). */
  def decodeDescription(bytes: Array[Byte]): (String, String, Long, Int) = {
    val bb = ByteBuffer.wrap(bytes)
    var name = ""; var table = ""; var ct = 0L; var ver = 0
    while (bb.hasRemaining) {
      val tag = readVarint(bb)
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => val l = readVarint(bb).toInt
          val b = new Array[Byte](l); bb.get(b); name = new String(b, StandardCharsets.UTF_8)
        case (2, 2) => val l = readVarint(bb).toInt
          val b = new Array[Byte](l); bb.get(b); table = new String(b, StandardCharsets.UTF_8)
        case (3, 0) => ct = readVarint(bb)
        case (5, 0) => ver = readVarint(bb).toInt
        case (_, w) => skipField(bb, w)
      }
    }
    (name, table, ct, ver)
  }

  // --- data.manifest ---

  /** Raw SnapshotDataManifest bytes. */
  def encodeDataManifest(s: Snapshot): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    // table_schema
    val schema = new ByteArrayOutputStream()
    bField(schema, 1, tableNameBytes(s.table))
    for (fam <- s.families) {
      val cf = new ByteArrayOutputStream()
      bField(cf, 1, fam)
      bField(schema, 3, cf.toByteArray)
    }
    bField(out, 1, schema.toByteArray)
    // region_manifests
    for (r <- s.regions) {
      val rm = new ByteArrayOutputStream()
      vField(rm, 1, ManifestVersion.toLong)
      val ri = new ByteArrayOutputStream()
      vField(ri, 1, r.regionId)
      bField(ri, 2, tableNameBytes(s.table))
      bField(ri, 3, r.startKey)
      bField(ri, 4, r.endKey)
      bField(rm, 2, ri.toByteArray)
      for (ff <- r.families) {
        val f = new ByteArrayOutputStream()
        bField(f, 1, ff.family)
        for (sf <- ff.files) {
          val sfb = new ByteArrayOutputStream()
          sField(sfb, 1, sf.name)
          sf.reference.foreach { r =>
            bField(sfb, 2, referenceProto(r))
          }
          vField(sfb, 3, sf.fileSize)
          bField(f, 2, sfb.toByteArray)
        }
        bField(rm, 3, f.toByteArray)
      }
      bField(out, 2, rm.toByteArray)
    }
    out.toByteArray
  }

  /** Parse a SnapshotDataManifest into (families, regions). */
  def decodeDataManifest(bytes: Array[Byte]): (Seq[Array[Byte]], Seq[RegionManifest]) = {
    val bb = ByteBuffer.wrap(bytes)
    var families = Seq.empty[Array[Byte]]
    val regions = scala.collection.mutable.ArrayBuffer.empty[RegionManifest]
    def sub(len: Int): ByteBuffer = {
      val s = bb.duplicate()
      s.limit(bb.position() + len)
      bb.position(bb.position() + len)
      s
    }
    while (bb.hasRemaining) {
      val tag = readVarint(bb)
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => // table_schema
          val sb = sub(readVarint(bb).toInt)
          while (sb.hasRemaining) {
            val t2 = readVarintOf(sb)
            ((t2 >> 3).toInt, (t2 & 7).toInt) match {
              case (3, 2) => // column_families
                val cfLen = readVarintOf(sb).toInt
                val cfEnd = sb.position() + cfLen
                while (sb.position() < cfEnd) {
                  val t3 = readVarintOf(sb)
                  ((t3 >> 3).toInt, (t3 & 7).toInt) match {
                    case (1, 2) =>
                      val l = readVarintOf(sb).toInt
                      val b = new Array[Byte](l); sb.get(b)
                      families = families :+ b
                    case (_, w) => skipField(sb, w)
                  }
                }
              case (_, w) => skipField(sb, w)
            }
          }
        case (2, 2) => // region_manifests
          val rb = sub(readVarint(bb).toInt)
          var regionId = 0L
          var startKey = Array.emptyByteArray
          var endKey = Array.emptyByteArray
          val fams = scala.collection.mutable.ArrayBuffer.empty[FamilyFiles]
          while (rb.hasRemaining) {
            val t2 = readVarintOf(rb)
            ((t2 >> 3).toInt, (t2 & 7).toInt) match {
              case (2, 2) => // region_info
                val riLen = readVarintOf(rb).toInt
                val riEnd = rb.position() + riLen
                while (rb.position() < riEnd) {
                  val t3 = readVarintOf(rb)
                  ((t3 >> 3).toInt, (t3 & 7).toInt) match {
                    case (1, 0) => regionId = readVarintOf(rb)
                    case (3, 2) =>
                      val l = readVarintOf(rb).toInt
                      startKey = new Array[Byte](l); rb.get(startKey)
                    case (4, 2) =>
                      val l = readVarintOf(rb).toInt
                      endKey = new Array[Byte](l); rb.get(endKey)
                    case (_, w) => skipField(rb, w)
                  }
                }
              case (3, 2) => // family_files
                val fLen = readVarintOf(rb).toInt
                val fEnd = rb.position() + fLen
                var famName = Array.emptyByteArray
                val files = scala.collection.mutable.ArrayBuffer.empty[StoreFileRef]
                while (rb.position() < fEnd) {
                  val t3 = readVarintOf(rb)
                  ((t3 >> 3).toInt, (t3 & 7).toInt) match {
                    case (1, 2) =>
                      val l = readVarintOf(rb).toInt
                      famName = new Array[Byte](l); rb.get(famName)
                    case (2, 2) =>
                      val sfLen = readVarintOf(rb).toInt
                      val sfEnd = rb.position() + sfLen
                      var fname = ""; var fsize = 0L
                      var ref: Option[RefHalf] = None
                      while (rb.position() < sfEnd) {
                        val t4 = readVarintOf(rb)
                        ((t4 >> 3).toInt, (t4 & 7).toInt) match {
                          case (1, 2) =>
                            val l = readVarintOf(rb).toInt
                            val b = new Array[Byte](l); rb.get(b)
                            fname = new String(b, StandardCharsets.UTF_8)
                          case (2, 2) =>
                            val l = readVarintOf(rb).toInt
                            val b = new Array[Byte](l); rb.get(b)
                            ref = Some(parseReferenceProto(b))
                          case (3, 0) => fsize = readVarintOf(rb)
                          case (_, w) => skipField(rb, w)
                        }
                      }
                      files += StoreFileRef(fname, fsize, ref)
                    case (_, w) => skipField(rb, w)
                  }
                }
                fams += FamilyFiles(famName, files.toSeq)
              case (_, w) => skipField(rb, w)
            }
          }
          regions += RegionManifest(regionId, startKey, endKey, fams.toSeq)
        case (_, w) => skipField(bb, w)
      }
    }
    (families, regions.toSeq)
  }

  private def readVarintOf(bb: ByteBuffer): Long = readVarint(bb)

  // --- split-daughter Reference files (io/Reference.java, FS.proto:38) ---

  /** Serialized first-on-row cell key of the split row — what the
    * reference stores as `splitkey` (Reference.java:59-61: "first
    * possible entry on a row: empty column, LATEST_TIMESTAMP"):
    * 2B rowLen, row, 1B famLen=0, 8B Long.MaxValue, 1B Type.Maximum. */
  def splitKeyBytes(splitRow: Array[Byte]): Array[Byte] = {
    val bb = ByteBuffer.allocate(2 + splitRow.length + 1 + 9)
    bb.putShort(splitRow.length.toShort)
    bb.put(splitRow)
    bb.put(0.toByte)
    bb.putLong(Long.MaxValue)
    bb.put(0xff.toByte)
    bb.array()
  }

  /** Raw Reference proto bytes: splitkey=1, range=2 (TOP=0, BOTTOM=1). */
  private def referenceProto(r: RefHalf): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    bField(out, 1, splitKeyBytes(r.splitRow))
    vField(out, 2, if (r.top) 0L else 1L)
    out.toByteArray
  }

  private def parseReferenceProto(bytes: Array[Byte]): RefHalf = {
    val bb = ByteBuffer.wrap(bytes)
    var splitRow = Array.emptyByteArray
    var top = true
    while (bb.hasRemaining) {
      val tag = readVarint(bb)
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) =>
          val l = readVarint(bb).toInt
          val b = new Array[Byte](l); bb.get(b)
          splitRow = HFileV3.rowOfKey(b)
        case (2, 0) => top = readVarint(bb) == 0L
        case (_, w) => skipField(bb, w)
      }
    }
    RefHalf(splitRow, top)
  }

  /** Standalone on-disk reference file ("PBUF" magic + raw proto —
    * Reference.toByteArray prepends the pb magic): the form living in
    * a live daughter region's family dir as `<hfile>.<parentRegion>`. */
  def encodeReferenceFile(r: RefHalf): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write("PBUF".getBytes(StandardCharsets.US_ASCII), 0, 4)
    val p = referenceProto(r)
    out.write(p, 0, p.length)
    out.toByteArray
  }

  def decodeReferenceFile(bytes: Array[Byte]): RefHalf = {
    require(bytes.length > 4 && new String(bytes, 0, 4, StandardCharsets.US_ASCII) == "PBUF",
      "not a Reference file (missing PBUF magic)")
    parseReferenceProto(java.util.Arrays.copyOfRange(bytes, 4, bytes.length))
  }

  /** HFileLink name parse (`HFileLink.LINK_NAME_PATTERN`:
    * `[ns=]table=encodedRegion-hfile`) → (ns, table, region, hfile). */
  private val LinkName =
    "^(?:([_\\p{Digit}\\p{IsAlphabetic}]+)=)?([_\\p{Digit}\\p{IsAlphabetic}][_.\\p{Digit}\\p{IsAlphabetic}-]*)=([0-9a-f]+)-([^=]+)$".r

  def parseLinkName(name: String): Option[(String, String, String, String)] =
    name match {
      case LinkName(ns, table, region, hfile) =>
        Some((Option(ns).getOrElse("default"), table, region, hfile))
      case _ => None
    }
}
