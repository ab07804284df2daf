package graft.flow

import java.io.OutputStream
import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.codec.HFileV3
import graft.codec.HFileV3.HCell

/** MOB store files at the BYTE level — the reference's medium-object
  * layout (hbase-server mob/), so a MOB-enabled table's actual store
  * files migrate in and out of graft:
  *
  *  - Oversized Put values live in separate MOB HFiles under
  *    `mobdir/data/<ns>/<table>/<mobRegion>/<family>/` (MobUtils
  *    .getMobFamilyPath:434-446); the main store file keeps a REF cell
  *    whose value is `[4B BE real value length][mob file name]`
  *    (MobUtils.createMobRefCell:528-533, getMobFileName:683) tagged
  *    with MOB_REFERENCE_TAG_TYPE(5) (empty payload — MobConstants
  *    .MOB_REF_TAG) and MOB_TABLE_NAME_TAG_TYPE(6) = source table
  *    (TagType.java:33-34), which is what snapshot clones use to find
  *    the original mob directory.
  *  - Mob file names are `md5hex(startKey)[32] + yyyymmdd[8] +
  *    uuid32hex + "_" + regionName` (MobFileName.java:40-67); mob
  *    files carry MOB_CELLS_COUNT in FILE_INFO (HStoreFile /
  *    StoreFileWriter.appendMobMetadata).
  *  - The mob cell inside the mob file has the SAME key as the ref
  *    cell (row/family/qualifier/ts) with the full value — resolution
  *    is a key-equality lookup in the named file (HMobStore
  *    .resolve).
  *
  * Scale shape: the main export is the standard region-range layout
  * (one task per region file); the mob export groups big values by
  * (family, day, row-hash bucket) — the reference's per-day mob
  * partitioning plus a bucket knob so one hot day still spreads over
  * many files — and both sides derive the mob FILE NAME from those
  * three columns alone, so ref cells and mob files agree with no
  * cross-job coordination and no driver state. Import resolves refs
  * with one shuffle: ref cells join mob cells on (file, cell key) —
  * there is no per-ref random read, unlike the reference's
  * cache-missing point reads.
  */
object MobFiles {

  val MobRefTagType: Byte = 5
  val MobTableNameTagType: Byte = 6

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** Deterministic MobFileName twin: both the mob export and the main
    * export's ref cells compute it from (table, family, day, bucket)
    * alone. Shape parity with MobFileName.java:61-67 — 32-hex start
    * digest + 8-char date + 32-hex uuid + "_" + region name. */
  def mobFileName(table: String, family: String, dt: String, bucket: Long): String =
    md5hex(s"$family:$dt:$bucket") + dt +
      md5hex(s"uuid:$table:$family:$dt:$bucket") + "_" + mobRegionName(table)

  /** The `.mob` pseudo-region's encoded name (MobUtils
    * .getMobRegionInfo — one fixed region holds the whole mob dir). */
  def mobRegionName(table: String): String = md5hex(s"$table.mob")

  def mobFamilyDir(outPath: String, table: String, family: String): String =
    s"$outPath/${mobFamilyRel(table, family)}"

  private def mobFamilyRel(table: String, family: String): String =
    s"mobdir/data/default/$table/${mobRegionName(table)}/$family"

  /** yyyymmdd of the cell timestamp (the reference partitions mob
    * files by day — MobFileName's date is the flush day). */
  private val DtFormat = "yyyyMMdd"

  private def withMobCols(cells: DataFrame, threshold: Int, numMobBuckets: Int): DataFrame =
    cells
      .withColumn("dt", date_format(timestamp_millis(col("ts")), DtFormat))
      .withColumn("bucket", pmod(xxhash64(col("row")), lit(numMobBuckets.toLong)))
      .withColumn("is_mob",
        col("type") === graft.model.CellType.Put &&
          length(coalesce(col("value"), lit(""))) > threshold)

  /** Export `cells` as a MOB-enabled table: region store files under
    * `outPath/main/` with ref cells for every Put value longer than
    * `threshold` bytes, and the big values in mob HFiles under
    * `outPath/mobdir/...` — the byte-for-byte layout a reference
    * cluster's MOB table ships with. */
  def export(cells: DataFrame, threshold: Int, numRegions: Int,
      outPath: String, table: String = "graft",
      numMobBuckets: Int = 4, blockSize: Int = 65536): Unit = {
    val tagged = withMobCols(cells, threshold, numMobBuckets)

    // --- mob files: one HFile per (family, day, bucket) run ---
    HFiles.writeRuns(
      tagged.filter(col("is_mob"))
        .repartition(math.max(numRegions, 1), col("family"), col("dt"), col("bucket"))
        .sortWithinPartitions(col("family"), col("dt"), col("bucket"),
          col("row"), col("qualifier"), col("ts").desc, HFiles.typeRank.desc)
        .select("row", "family", "qualifier", "ts", "type", "value", "dt", "bucket"),
      outPath, r => (r.getString(1), r.getString(6), r.getLong(7)),
      (_, k: (String, String, Long)) =>
        s"${mobFamilyRel(table, k._1)}/${mobFileName(table, k._1, k._2, k._3)}") {
      (_, out, run) => writeMobFile(out, run, blockSize)
    }

    // --- main store files: ref cells in place of big values ---
    val tags = refTags(table)
    val toCell: Row => HCell = r => {
      val c = HFiles.cellOf(r)
      if (r.getBoolean(8)) refCell(c, c.value.length,
        mobFileName(table, r.getString(1), r.getString(6), r.getLong(7)), tags)
      else c
    }
    writeMainStore(tagged.select("row", "family", "qualifier", "ts", "type",
      "value", "dt", "bucket", "is_mob"), numRegions, outPath, "main", blockSize)(toCell)
  }

  /** Main store files `outPath/dir/part-NNNNN.hfile`: `cells` (the
    * canonical columns first) range-partitioned into `numRegions`
    * row-sorted files, each cell, plain or ref, made by `toCell`. */
  private def writeMainStore(cells: DataFrame, numRegions: Int, outPath: String,
      dir: String, blockSize: Int)(toCell: Row => HCell): Unit =
    HFiles.writeRuns(
      cells.repartitionByRange(numRegions, col("row"))
        .sortWithinPartitions(col("row"), col("family"), col("qualifier"),
          col("ts").desc, HFiles.typeRank.desc),
      outPath, _ => "", (pid, _: String) => f"$dir/part-$pid%05d.hfile", toCell) {
      (_, out, run) => HFileV3.write(out, run, blockSize, withTags = true)
    }

  /** One mob file: the run's cells plus MOB_CELLS_COUNT.
    * `extraFileInfo` is by-name: FILE_INFO serializes after the data
    * stream is consumed, so the count is final by then
    * (StoreFileWriter.appendMobMetadata at close) — the run streams,
    * never buffers. */
  private def writeMobFile(out: OutputStream, run: Iterator[HCell],
      blockSize: Int): Unit = {
    var n = 0L
    HFileV3.write(out, run.map { c => n += 1; c }, blockSize,
      extraFileInfo = Seq("MOB_CELLS_COUNT" -> ByteBuffer.allocate(8).putLong(n).array()))
  }

  /** MOB_REFERENCE + MOB_TABLE_NAME tags of every ref cell. */
  private def refTags(table: String): Array[Byte] = HFileV3.tagBytes(Seq(
    (MobRefTagType, Array.emptyByteArray),
    (MobTableNameTagType, table.getBytes("UTF-8"))))

  /** `c` as a ref cell naming `mobFile`: value = 4-byte value length +
    * file name. */
  private def refCell(c: HCell, valueLen: Int, mobFile: String,
      tags: Array[Byte]): HCell = {
    val fname = mobFile.getBytes("UTF-8")
    c.copy(value = ByteBuffer.allocate(4 + fname.length).putInt(valueLen)
      .put(fname).array(), tags = tags)
  }

  private val refSchema = StructType(Seq(
    StructField("mob_file", StringType, nullable = false),
    StructField("row", StringType, nullable = false),
    StructField("family", StringType, nullable = false),
    StructField("qualifier", StringType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("mob_len", IntegerType, nullable = false)))

  private val mobCellSchema = StructType(Seq(
    StructField("mob_file", StringType, nullable = false),
    StructField("row", StringType, nullable = false),
    StructField("family", StringType, nullable = false),
    StructField("qualifier", StringType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("value", StringType, nullable = true)))

  private def isRef(c: HCell): Boolean =
    HFileV3.parseTags(c.tags).exists(_._1 == MobRefTagType)

  /** Read a MOB table layout back as the resolved cell stream: main
    * store files' plain cells pass through; ref cells join their named
    * mob file's cells on the full cell key and must match the declared
    * length (MobUtils.hasValidMobRefCellValue / getMobValueLength) —
    * a dangling ref or length mismatch is surfaced, not silently
    * dropped, like HMobStore's MOB cell miss counter. */
  def importResolved(spark: SparkSession, outPath: String,
      table: String = "graft"): DataFrame = {
    val (plain, refs, mobCells) = layoutFrames(spark, outPath, table)
    val resolved = refs
      .join(mobCells, Seq("mob_file", "row", "family", "qualifier", "ts"), "left")
      .withColumn("ok",
        col("value").isNotNull && length(col("value")) === col("mob_len"))
    // surface dangling refs / length mismatches as an explicit error
    // value rather than dropping the row — identity gates catch it
    // `mob` = resolved THROUGH a mob file (provenance, not a recompute
    // of the threshold rule): a broken split that never wrote refs
    // shows up as mob=false rows the oracle expects mob=true for
    resolved
      .select(col("row"), col("family"), col("qualifier"), col("ts"),
        col("type"),
        when(col("ok"), col("value"))
          .otherwise(concat(lit("!MOB-MISS:"), col("mob_file"))).as("value"),
        lit(true).as("mob"))
      .unionByName(plain.withColumn("mob", lit(false)))
  }

  /** (path, length) of the main store's files and of `table`'s mob
    * files, in path order. */
  private def mainStoreFiles(fs: FileSystem, outPath: String): Seq[(String, Long)] =
    HFiles.listFiles(fs, s"$outPath/main", "part-*.hfile")

  private def mobStoreFiles(fs: FileSystem, outPath: String,
      table: String): Seq[(String, Long)] =
    HFiles.listFiles(fs, s"$outPath/mobdir/data/default/$table", "*/*/*")

  /** Load a MOB table layout as its three constituent frames:
    * (plain main cells, ref cells with their named mob file + declared
    * length, mob cells keyed by file) — shared by [[importResolved]]
    * and [[compactMobGenerations]]. */
  private def layoutFrames(spark: SparkSession, outPath: String,
      table: String): (DataFrame, DataFrame, DataFrame) = {
    val fs = new Path(outPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverMainDir(fs, outPath)
    val mainFiles = mainStoreFiles(fs, outPath)
    val mobFiles = mobStoreFiles(fs, outPath, table)

    val bconf = ShippedConf.broadcast(spark)
    def openCells(pathStr: String, len: Long): Iterator[HCell] =
      HFileV3.readCellsFrom(HFiles.openInTask(bconf.value.conf, pathStr, len), len)

    val mainRdd = spark.sparkContext
      .parallelize(mainFiles, math.max(mainFiles.size, 1))
      .flatMap { case (p, l) => openCells(p, l).map(c => (c, isRef(c))) }

    val plain = spark.createDataFrame(
      mainRdd.filter(!_._2).map { case (c, _) => HFiles.rowOf(c) },
      HFiles.cellSchema)

    val refs = spark.createDataFrame(
      mainRdd.filter(_._2).map { case (c, _) =>
        val bb = ByteBuffer.wrap(c.value)
        require(c.value.length > 4, "mob ref cell with no file name")
        val mobLen = bb.getInt
        val fname = new String(c.value, 4, c.value.length - 4, "UTF-8")
        Row(fname, new String(c.row, "UTF-8"), new String(c.family, "UTF-8"),
          new String(c.qualifier, "UTF-8"), c.ts,
          HFiles.codeToType(c.typ), mobLen)
      }, refSchema)

    val mobCells = spark.createDataFrame(
      spark.sparkContext.parallelize(mobFiles, math.max(mobFiles.size, 1))
        .flatMap { case (p, l) =>
          val fname = new Path(p).getName
          openCells(p, l).map { c =>
            Row(fname, new String(c.row, "UTF-8"), new String(c.family, "UTF-8"),
              new String(c.qualifier, "UTF-8"), c.ts, new String(c.value, "UTF-8"))
          }
        }, mobCellSchema)

    (plain, refs, mobCells)
  }

  /** Consolidated-generation mob file name: the reference's compactor
    * emits fresh MobFileNames for its output partition (a new uuid per
    * compaction — DefaultMobStoreCompactor/MobFileName.create); graft
    * derives it deterministically from (table, family, partition
    * date) with a "gen" seed disjoint from [[mobFileName]]'s bucket
    * seeds, so output names never collide with any flush-generation
    * file and a re-run rewrites the same consolidated files in place
    * (idempotent).
    *
    * The name's DATE field is `latestDay` — the LATEST constituent
    * flush day in the partition, not the partition floor. The
    * reference dates compaction output by the latest put timestamp
    * (DefaultMobStoreCompactor.java:656 `new Date(fd.latestPutTs)`)
    * precisely so TTL expiry, which deletes by file-name date
    * ([[expiredMobFileCleaner]] / MobUtils.isMobFileExpired), never
    * drops a consolidated file that still holds unexpired cells: a
    * MONTHLY file dated the 1st would be deleted by a mid-month
    * cutoff while containing blobs flushed after it, leaving dangling
    * refs in the main store. The partition key `gdt` seeds the hash
    * fields (grouping identity); `latestDay` fills the date chars
    * 33-40 the cleaner reads. */
  def genMobFileName(table: String, family: String, gdt: String,
      latestDay: String): String =
    md5hex(s"$family:$gdt:gen") + latestDay +
      md5hex(s"uuid:gen:$table:$family:$gdt") + "_" + mobRegionName(table)

  /** MOB generation compaction — the half of
    * DefaultMobStoreCompactor.java:60 ff that [[graft.write.MobStore
    * .compact]]'s logical twin doesn't cover: REWRITE the surviving
    * blobs into fresh CONSOLIDATED mob files (many small per-day
    * flush files → one file per (family, policy partition), the
    * MobCompactPartitionPolicy DAILY/WEEKLY/MONTHLY calendar from
    * MobUtils.fillPartitionId), repoint every main-store ref cell at
    * the new generation, swap the rewritten main store in atomically,
    * and leave the superseded generation for
    * [[sweepUnreferencedMobFiles]] to drop. The partition date comes
    * from each ref's mob FILE NAME (chars 33-40 — the flush day the
    * reference partitions by), never from cell timestamps.
    *
    * Fails closed: any dangling ref or blob/length mismatch aborts
    * before a single byte is written. The main-store swap is
    * write-complete-then-rename (main.next → main, old kept as
    * main.old until the new directory is in place), the same
    * commit-by-rename the reference's bulk-load swap performs.
    *
    * Scale: blobs shuffle ONCE, keyed by (family, partition) — the
    * consolidation key — and stream through the HFile writer per run;
    * the main rewrite is the standard region-range layout. Nothing is
    * collected to the driver.
    *
    * Returns the new generation's mob file names. */
  def compactMobGenerations(spark: SparkSession, outPath: String,
      table: String = "graft", policy: String = "MONTHLY",
      blockSize: Int = 65536): Seq[String] = {
    val (plain, refs, mobCells) = layoutFrames(spark, outPath, table)
    val fs = new Path(outPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nRegions = math.max(mainStoreFiles(fs, outPath).size, 1)
    val nOldMob = math.max(mobStoreFiles(fs, outPath, table).size, 1)

    val day = substring(col("mob_file"), 33, 8)
    val gdt = policy.toUpperCase match {
      case "DAILY" => day
      case "MONTHLY" => concat(substring(col("mob_file"), 33, 6), lit("01"))
      case "WEEKLY" =>
        date_format(date_trunc("week", to_date(day, "yyyyMMdd")), "yyyyMMdd")
      case other =>
        throw new IllegalArgumentException(s"unknown policy: $other")
    }

    // resolve every surviving ref against its named file; abort on any
    // dangling ref BEFORE writing anything
    val joined = refs
      .join(mobCells, Seq("mob_file", "row", "family", "qualifier", "ts"), "left")
      .withColumn("gdt", gdt)
    val dangling = joined
      .filter(col("value").isNull || length(col("value")) =!= col("mob_len"))
      .count()
    require(dangling == 0L,
      s"$dangling dangling/mismatched mob refs — compaction aborted")

    // new generation's names, resolved BEFORE any write: every frame
    // here lazily re-reads the ORIGINAL main files, which the swap
    // below retires. The name's date = the partition's LATEST
    // constituent flush day (see [[genMobFileName]]); the map is
    // (families × partitions)-bounded, so one driver collect feeds
    // both rewrite legs without an extra join.
    val latestByPart: Map[(String, String), String] = joined
      .groupBy("family", "gdt")
      .agg(max(substring(col("mob_file"), 33, 8)).as("latest_day"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getString(2))).toMap
    val newNames = latestByPart.toSeq
      .map { case ((fam, g), ld) => genMobFileName(table, fam, g, ld) }
      .sorted

    // --- new consolidated mob files: one per (family, gdt) run ---
    HFiles.writeRuns(
      joined
        .repartition(nOldMob, col("family"), col("gdt"))
        .sortWithinPartitions(col("family"), col("gdt"),
          col("row"), col("qualifier"), col("ts").desc, HFiles.typeRank.desc)
        .select("row", "family", "qualifier", "ts", "type", "value", "gdt"),
      outPath, r => (r.getString(1), r.getString(6)),
      (_, k: (String, String)) =>
        s"${mobFamilyRel(table, k._1)}/${genMobFileName(table, k._1, k._2, latestByPart(k))}") {
      (_, out, run) => writeMobFile(out, run, blockSize)
    }

    // --- rewritten main store: refs repointed at the new generation ---
    val mainAll = plain
      .withColumn("is_ref", lit(false))
      .withColumn("mob_len", lit(0))
      .withColumn("gdt", lit(""))
      .unionByName(refs
        .withColumn("is_ref", lit(true))
        .withColumn("gdt", gdt)
        .select(col("row"), col("family"), col("qualifier"), col("ts"),
          col("type"), lit(null).cast("string").as("value"),
          col("is_ref"), col("mob_len"), col("gdt")))
    val nextDir = new Path(s"$outPath/main.next")
    if (fs.exists(nextDir)) fs.delete(nextDir, true)
    val tags = refTags(table)
    val toCell: Row => HCell = r => {
      val c = HFiles.cellOf(r)
      if (r.getBoolean(6)) refCell(c, r.getInt(7), genMobFileName(table,
        r.getString(1), r.getString(8), latestByPart((r.getString(1), r.getString(8)))), tags)
      else c
    }
    writeMainStore(mainAll.select("row", "family", "qualifier", "ts", "type",
      "value", "is_ref", "mob_len", "gdt"), nRegions, outPath, "main.next", blockSize)(toCell)

    // commit-by-rename: readers see either the previous generation or
    // the new one. The window between the two renames has no `main/`;
    // a failed or crashed commit is rolled back here (main.old →
    // main), and a crash inside the window is healed by
    // [[recoverMainDir]] on the next layout read — so the scaladoc's
    // whole-or-not-at-all claim holds across failures, not just the
    // happy path.
    val mainDir = new Path(s"$outPath/main")
    val oldDir = new Path(s"$outPath/main.old")
    if (fs.exists(oldDir)) fs.delete(oldDir, true)
    require(fs.rename(mainDir, oldDir), s"could not retire $mainDir")
    val committed =
      try fs.rename(nextDir, mainDir)
      catch {
        case t: Throwable =>
          fs.rename(oldDir, mainDir)
          throw t
      }
    if (!committed) {
      require(fs.rename(oldDir, mainDir),
        s"could not commit $nextDir AND rollback of $oldDir failed — " +
          "recover manually by renaming main.old (or main.next) to main")
      throw new IllegalStateException(
        s"could not commit $nextDir — previous generation restored")
    }
    fs.delete(oldDir, true)

    newNames
  }

  /** Heal a store that crashed inside [[compactMobGenerations]]'s
    * two-rename commit window: if `main/` is missing but `main.old/`
    * (the retired previous generation) is present, restore it — the
    * compaction never committed, and its mob-file output (if any) is
    * unreferenced garbage the sweep reclaims. Called from
    * [[layoutFrames]], so every read/compaction entry point
    * auto-recovers. */
  private def recoverMainDir(fs: org.apache.hadoop.fs.FileSystem,
      outPath: String): Unit = {
    val mainDir = new Path(s"$outPath/main")
    val oldDir = new Path(s"$outPath/main.old")
    if (!fs.exists(mainDir) && fs.exists(oldDir))
      require(fs.rename(oldDir, mainDir),
        s"crash recovery: could not restore $oldDir to $mainDir")
  }

  /** ExpiredMobFileCleaner twin (mob/ExpiredMobFileCleaner.java:55;
    * MobUtils.cleanExpiredMobFiles:286-320): a mob file's name carries
    * its flush DAY, so once the family TTL puts that whole day beyond
    * the cutoff, every value inside is unreadable and the file deletes
    * WHOLESALE — no file is opened. Exactly like the reference, only
    * files strictly OLDER than the cutoff day go (the cutoff day
    * itself may hold still-live evening cells). Refs naming a deleted
    * file are themselves TTL-expired, so no resolved read under the
    * same descriptor can dereference them (HFileMobSpec pins it).
    * Returns the deleted file names. */
  def expiredMobFileCleaner(spark: SparkSession, outPath: String,
      table: String, cutoffDay: String): Seq[String] = {
    require(cutoffDay.matches("\\d{8}"), s"cutoffDay must be yyyyMMdd: $cutoffDay")
    val fs = new Path(outPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = mobStoreFiles(fs, outPath, table).map(f => new Path(f._1))
    // MobFileName layout: md5hex(startKey)[32] + yyyymmdd[8] + uuid —
    // validate the FULL shape (32 hex chars then 8 digits) before
    // treating a file as expirable, so a stray non-mob file in the
    // mob dir can never be deleted by a lexicographic accident.
    val mobName = "(?i)[0-9a-f]{32}(\\d{8}).+".r
    val expired = files.filter { p =>
      p.getName match {
        case mobName(day) => day < cutoffDay
        case _ => false
      }
    }
    expired.foreach(fs.delete(_, false))
    expired.map(_.getName).sorted
  }

  /** MobFileCleanerChore's unused-file sweep
    * (MobFileCleanerChore.java / MobUtils.removeMobFiles): after a
    * mob-aware compaction rewrote the main store, mob files no main
    * store file references anymore are garbage — enumerate the
    * referenced file names FROM the ref cells (one pass over the main
    * files' ref values, never the blobs) and delete the rest.
    * Returns the deleted file names. */
  def sweepUnreferencedMobFiles(spark: SparkSession, outPath: String,
      table: String = "graft"): Seq[String] = {
    val fs = new Path(outPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mainFiles = mainStoreFiles(fs, outPath)
    // Ship the DRIVER's Hadoop settings to the executor-side opens
    // ([[ShippedConf]] — a fresh Configuration() would silently drop
    // credentials/endpoints on non-default filesystems). Any read
    // error fails the job BEFORE the delete below — the sweep fails
    // closed.
    val bconf = ShippedConf.broadcast(spark)
    // referenced-name set: file-count bounded (one name per mob file,
    // not per cell) — safe to collect
    val referenced = spark.sparkContext
      .parallelize(mainFiles, math.max(mainFiles.size, 1))
      .flatMap { case (p, l) =>
        HFileV3.readCellsFrom(HFiles.openInTask(bconf.value.conf, p, l), l)
          .filter(isRef).map(c => new String(c.value, 4, c.value.length - 4, "UTF-8"))
      }
      .distinct().collect().toSet
    val unreferenced = mobStoreFiles(fs, outPath, table).map(f => new Path(f._1))
      .filterNot(p => referenced(p.getName))
    unreferenced.foreach(fs.delete(_, false))
    unreferenced.map(_.getName).sorted
  }

  /** Ref-side audit frame: one row per mob file with its ref count and
    * declared MOB_CELLS_COUNT — the consistency check hbck's mob
    * checker performs. */
  def mobFileAudit(spark: SparkSession, outPath: String,
      table: String = "graft"): DataFrame = {
    val fs = new Path(outPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mobFiles = mobStoreFiles(fs, outPath, table)
    // driver-side loop (file-count bounded, trailer+FILE_INFO reads
    // only) — uses the driver's own Hadoop conf directly
    val rows = mobFiles.map { case (p, l) =>
      val path = new Path(p)
      val (trailer, fi) = HFiles.readMeta(fs, path, l)
      val declared = fi.get("MOB_CELLS_COUNT")
        .map(b => ByteBuffer.wrap(b).getLong).getOrElse(-1L)
      Row(path.getName, trailer.entryCount, declared)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(rows.size, 1)),
      StructType(Seq(
        StructField("mob_file", StringType, nullable = false),
        StructField("n_cells", LongType, nullable = false),
        StructField("declared_count", LongType, nullable = false))))
  }
}
