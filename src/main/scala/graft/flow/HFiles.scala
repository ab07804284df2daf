package graft.flow

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays.compareUnsigned

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.codec.HFileV3
import graft.codec.HFileV3.HCell
import graft.model.CellType

/** The one place graft opens and writes HFile-v3 store files — the
  * `HFile.createReader` / `StoreFileWriter` twin every flush,
  * compaction, bulk load and split goes through — plus the distributed
  * export / import built on them (reference: HFileOutputFormat2 writes
  * one HFile per region per family,
  * `hbase-mapreduce/.../HFileOutputFormat2.java`; LoadIncrementalHFiles
  * / Import read them back).
  *
  * Writing: [[writeRuns]] streams a sorted frame through
  * [[HFileV3.write]] straight onto a Hadoop FileSystem, one task per
  * partition, cutting a new file wherever the caller's run key changes —
  * no driver involvement, no whole-file buffering. [[export]] range-
  * partitions the cell stream on the row key first (total order across
  * files = the region split layout).
  *
  * Opening: [[withStoreFile]] (open, use, close) and [[openInTask]]
  * (closed when the running task ends, for lazily consumed cell
  * iterators) hand out a file's positional reader ([[HFileV3.PRead]])
  * and reject a file shorter than its fixed trailer with an error
  * naming it. Import parallelizes one task per file and streams
  * block-by-block, so a 10 GB reference store file never materializes
  * as one array.
  */
object HFiles {

  private[graft] val typeToCode: Map[String, Byte] = Map(
    CellType.Put -> HFileV3.TypePut,
    CellType.Delete -> HFileV3.TypeDelete,
    CellType.DeleteFamilyVersion -> HFileV3.TypeDeleteFamilyVersion,
    CellType.DeleteColumn -> HFileV3.TypeDeleteColumn,
    CellType.DeleteFamily -> HFileV3.TypeDeleteFamily)

  private[graft] val codeToType: Map[Byte, String] = typeToCode.map(_.swap)

  /** KeyValue type-code rank for the within-(row,fam,qual,ts) sort:
    * CellComparatorImpl orders larger codes first (deletes before
    * puts). */
  private[flow] def typeRank = {
    val pairs = typeToCode.toSeq
    pairs.foldLeft(lit(0)) { case (acc, (name, code)) =>
      when(col("type") === name, lit(code.toInt)).otherwise(acc)
    }
  }

  /** TagType.STRING_VIS_TAG_TYPE (TagType.java:37) — the string form
    * visibility expressions take outside a live label registry. */
  val StringVisTagType: Byte = 7

  val cellSchema: StructType = StructType(Seq(
    StructField("row", StringType, nullable = false),
    StructField("family", StringType, nullable = false),
    StructField("qualifier", StringType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("value", StringType, nullable = true)))

  /** The cell of a row whose first six columns are [[cellSchema]]'s (a
    * null value writes as empty). */
  def cellOf(r: Row): HCell = HCell(
    r.getString(0).getBytes(UTF_8),
    r.getString(1).getBytes(UTF_8),
    r.getString(2).getBytes(UTF_8),
    r.getLong(3), typeToCode(r.getString(4)),
    Option(r.getString(5)).getOrElse("").getBytes(UTF_8))

  /** [[cellOf]]'s inverse: the [[cellSchema]] row of a cell. */
  def rowOf(c: HCell): Row = Row(
    new String(c.row, UTF_8), new String(c.family, UTF_8),
    new String(c.qualifier, UTF_8), c.ts, codeToType(c.typ),
    new String(c.value, UTF_8))

  /** The one store-file writer. Each task streams its partition of
    * `sorted` (already in the order the files need) into files under
    * `dir`, cutting a new file whenever `runKey` of the next row
    * differs. A run's file is `dir/fileName(partitionId, key)`; `write`
    * gets the run's key, the open file and the run's cells (made by
    * `toCell`) and calls [[HFileV3.write]] with that file's arguments.
    * Empty partitions write nothing. */
  def writeRuns[K](sorted: DataFrame, dir: String, runKey: Row => K,
      fileName: (Int, K) => String, toCell: Row => HCell = cellOf)(
      write: (K, OutputStream, Iterator[HCell]) => Unit): Unit = {
    val bconf = ShippedConf.broadcast(sorted.sparkSession)
    sorted.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val pid = TaskContext.getPartitionId()
        val fs = new Path(dir).getFileSystem(bconf.value.conf)
        val rows = it.buffered
        while (rows.hasNext) {
          val key = runKey(rows.head)
          val run = new Iterator[HCell] {
            def hasNext: Boolean = rows.hasNext && runKey(rows.head) == key
            def next(): HCell = toCell(rows.next())
          }
          val out = fs.create(new Path(s"$dir/${fileName(pid, key)}"), true)
          try write(key, out, run) finally out.close()
        }
      }
    }
  }

  /** Run `f` over the positional reader of the `len`-byte store file
    * at `path`, closing it after. */
  def withStoreFile[A](fs: FileSystem, path: Path, len: Long)(
      f: HFileV3.PRead => A): A = {
    val in = openChecked(fs, path, len)
    try f(preadOf(in)) finally in.close()
  }

  /** The trailer and FILE_INFO map of the `len`-byte store file at
    * `path`: the metadata a reader loads when it opens the file. */
  def readMeta(fs: FileSystem, path: Path,
      len: Long): (HFileV3.Trailer, Map[String, Array[Byte]]) =
    withStoreFile(fs, path, len) { pread =>
      val trailer = HFileV3.readTrailer(pread, len)
      (trailer, HFileV3.readFileInfo(pread, trailer))
    }

  /** The positional reader of the `len`-byte store file at `path`, for
    * a task that consumes it lazily: the stream closes when the task
    * ends. */
  def openInTask(conf: Configuration, path: String, len: Long): HFileV3.PRead = {
    val p = new Path(path)
    val in = openChecked(p.getFileSystem(conf), p, len)
    Option(TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => in.close()))
    preadOf(in)
  }

  /** A whole small file (a manifest, Reference file or journal) as
    * bytes. */
  def readAll(fs: FileSystem, path: Path): Array[Byte] = {
    val len = fs.getFileStatus(path).getLen.toInt
    val in = fs.open(path)
    try preadOf(in)(0L, len) finally in.close()
  }

  /** Every store file is at least its fixed trailer long: a shorter one
    * (truncated copy, partial write) fails here, by name, instead of
    * as a negative-offset read. */
  private def openChecked(fs: FileSystem, path: Path,
      len: Long): FSDataInputStream = {
    if (len < HFileV3.TrailerSize)
      throw new java.io.IOException(s"store file $path is $len bytes, " +
        s"shorter than the ${HFileV3.TrailerSize}-byte HFile trailer")
    fs.open(path)
  }

  private def preadOf(in: FSDataInputStream): HFileV3.PRead = (off, n) => {
    val buf = new Array[Byte](n)
    in.readFully(off, buf)
    buf
  }

  /** (path, length) of every file matching `glob` under `dir`, in path
    * order, from one `globStatus` call (none when nothing matches). */
  def listFiles(fs: FileSystem, dir: String, glob: String): Seq[(String, Long)] =
    Option(fs.globStatus(new Path(dir, glob))).getOrElse(Array.empty)
      .filter(_.isFile).map(s => (s.getPath.toString, s.getLen)).toSeq.sortBy(_._1)

  /** Write `cells` (canonical CellSet columns) as `numRegions` HFiles
    * under `outPath` (`part-NNNNN.hfile`, row-range-disjoint and sorted
    * — exactly the layout a reference bulk-load expects). `encoding`
    * selects a data-block encoding ([[graft.codec.BlockEncoding]] ids:
    * PREFIX/DIFF/FAST_DIFF/ROW_INDEX_V1) — FAST_DIFF being the common
    * production default on reference clusters; the delta encoders
    * require a single column family per export, like the reference's
    * one-store-file-per-family layout. */
  def export(cells: DataFrame, numRegions: Int, outPath: String,
      blockSize: Int = 65536, encoding: Int = 0,
      compression: Int = HFileV3.CompressionNone,
      rowColBloom: Boolean = false, perFamily: Boolean = false,
      encryptSubject: Option[String] = None,
      rowPrefixBloom: Option[Int] = None,
      visColumn: Option[String] = None,
      compressTags: Boolean = false,
      indexMaxChunk: Int = 128 * 1024,
      extraFileInfo: Seq[(String, Array[Byte])] = Nil): Unit = {
    // visColumn: each cell persists its visibility expression as a
    // STRING_VIS (type 7) wire tag in the store files; with
    // compressTags + an encoding the tag sections dictionary-compress
    // per block (COMPRESS_TAGS — TagCompressionContext)
    // perFamily: ONE STORE FILE PER COLUMN FAMILY per region — the
    // reference's actual store layout (a Store is per-family;
    // HFileOutputFormat2 opens one writer per family). Sorting puts
    // the family FIRST within the region's row range, so each
    // family's run is itself comparator-sorted and streams through
    // its own writer; multi-family tables then match the reference
    // layout exactly (and the delta encodings' one-family-per-file
    // requirement holds by construction).
    val sortCols =
      if (perFamily)
        Seq(col("family"), col("row"), col("qualifier"),
          col("ts").desc, typeRank.desc)
      else
        Seq(col("row"), col("family"), col("qualifier"),
          col("ts").desc, typeRank.desc)
    val ordered = cells
      .repartitionByRange(numRegions, col("row"))
      .sortWithinPartitions(sortCols: _*)
      .select((Seq("row", "family", "qualifier", "ts", "type", "value") ++
        visColumn.toSeq).map(col): _*)
    val tagged = visColumn.isDefined
    val toCell: Row => HCell = r => {
      val c = cellOf(r)
      if (tagged && r.getString(6) != null && r.getString(6).nonEmpty)
        c.copy(tags = HFileV3.tagBytes(Seq((StringVisTagType,
          r.getString(6).getBytes(UTF_8)))))
      else c
    }
    writeRuns(ordered, outPath,
      runKey = r => if (perFamily) r.getString(1) else "",
      fileName = (pid, fam: String) =>
        if (perFamily) f"part-$pid%05d-$fam%s.hfile" else f"part-$pid%05d.hfile",
      toCell = toCell) { (_, out, run) =>
      HFileV3.write(out, run, blockSize,
        encoding = encoding, compression = compression,
        rowColBloom = rowColBloom, rowPrefixBloom = rowPrefixBloom,
        withTags = tagged, compressTags = compressTags,
        indexMaxChunk = indexMaxChunk,
        encryption = encryptSubject.map(graft.codec.HCrypto.randomCtx),
        extraFileInfo = extraFileInfo)
    }
  }

  /** Export MANY region stores in ONE job — the OutputSink-per-region
    * shape ([[WalRecovery.writeRegionLogs]]'s twin for store files):
    * one shuffle keyed by the integer `regionCol`, each writer task
    * cutting a new HFile on region change (the sort guarantees
    * contiguity), files landing at `outPath/<name(region)>`. Replaces
    * N per-region export jobs (each a full scan + shuffle of the
    * source) with one pass — the difference between O(regions) and
    * O(1) source scans when a fixture or a real table lands its whole
    * region layout at once (HFileOutputFormat2 writes all regions of
    * a bulk load in one job the same way). */
  def exportRegions(cells: DataFrame, regionCol: String, outPath: String,
      name: Int => String, blockSize: Int = 65536,
      indexMaxChunk: Int = 128 * 1024): Unit = {
    val ordered = cells
      .repartition(col(regionCol))
      .sortWithinPartitions(col(regionCol), col("row"), col("family"),
        col("qualifier"), col("ts").desc, typeRank.desc)
      .select(col("row"), col("family"), col("qualifier"), col("ts"),
        col("type"), col("value"), col(regionCol).cast("int"))
    writeRuns(ordered, outPath, _.getInt(6), (_, region: Int) => name(region)) {
      (_, out, run) => HFileV3.write(out, run, blockSize, indexMaxChunk = indexMaxChunk)
    }
  }

  /** Multi-get served straight from an exported HFile directory — the
    * reference's Get path against store files: a driver-side range
    * table (region-count-bounded, 3 positional reads per file — the
    * meta-table location lookup's analogue) routes each row to the one
    * file whose [first, last] range can hold it; one task per touched
    * file then binary-searches the block index and reads ONLY the
    * row's block(s) ([[HFileV3.getRow]]). Absent rows cost an index
    * probe, never a scan. */
  def pointGet(spark: SparkSession, dir: String, rows: Seq[String],
      qualifier: Option[String] = None): DataFrame = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ranges = listFiles(fs, dir, "part-*.hfile").flatMap { case (pathStr, len) =>
      withStoreFile(fs, new Path(pathStr), len) { pread =>
        val trailer = HFileV3.readTrailer(pread, len)
        if (trailer.dataIndexCount == 0) None
        else {
          val firstRow = HFileV3.rowOfKey(HFileV3.readRootIndex(pread, trailer).head._3)
          val lastRow = HFileV3.rowOfKey(
            HFileV3.readFileInfo(pread, trailer)("hfile.LASTKEY"))
          Some((pathStr, len, firstRow, lastRow))
        }
      }
    }
    val targets = rows.distinct.map(_.getBytes(UTF_8))
    val assignments = ranges.flatMap { case (p, len, lo, hi) =>
      val mine = targets.filter(r =>
        compareUnsigned(r, lo) >= 0 && compareUnsigned(r, hi) <= 0)
      if (mine.isEmpty) None else Some((p, len, mine.map(new String(_, UTF_8))))
    }
    val bconf = ShippedConf.broadcast(spark)
    val rdd = spark.sparkContext
      .parallelize(assignments, math.max(assignments.size, 1))
      .flatMap { case (pathStr, len, targetRows) =>
        // open once per file: index/bloom loads amortize across gets
        val handle = new HFileV3.HFileHandle(
          openInTask(bconf.value.conf, pathStr, len), len)
        targetRows.sorted.iterator.flatMap { r =>
          val cells = qualifier match {
            case Some(q) => handle.get(r.getBytes(UTF_8), q.getBytes(UTF_8))
            case None => handle.get(r.getBytes(UTF_8))
          }
          cells.map(rowOf)
        }
      }
    spark.createDataFrame(rdd, cellSchema)
  }

  /** Read every matching HFile under `dir` back into the canonical
    * CellSet frame — one task per file, streaming positional reads.
    * `glob` defaults to a flat export; an epoch glob of the form
    * `"epoch=?" + "/part-?.hfile"` (with `?` = `*`) reads a
    * streaming-backup directory tree. */
  def importCells(spark: SparkSession, dir: String,
      glob: String = "part-*.hfile"): DataFrame =
    importFiles(spark, listFiles(
      new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration), dir, glob))

  /** [[importCells]] over an explicit (path, length) list — the
    * manifest-driven path (SnapshotShip reads the file list from
    * `data.manifest`, never from a glob). */
  def importFiles(spark: SparkSession,
      files: Seq[(String, Long)]): DataFrame =
    importFilesFiltered(spark, files.map { case (p, l) => (p, l, None) })

  /** [[importFiles]] with an optional split-half filter per file —
    * the HalfStoreFileReader twin (Reference semantics: BOTTOM = rows
    * strictly below the split row, TOP = the split row and up), so a
    * snapshot taken after region splits imports without rewriting the
    * parent files. */
  def importFilesFiltered(spark: SparkSession,
      files: Seq[(String, Long, Option[(Array[Byte], Boolean)])]): DataFrame = {
    val bconf = ShippedConf.broadcast(spark)
    val rdd = spark.sparkContext
      .parallelize(files, math.max(files.size, 1))
      .flatMap { case (pathStr, len, half) =>
        val cells = HFileV3.readCellsFrom(
          openInTask(bconf.value.conf, pathStr, len), len)
        val scoped = half match {
          case Some((splitRow, top)) =>
            if (top) cells.filter(c => compareUnsigned(c.row, splitRow) >= 0)
            else cells.filter(c => compareUnsigned(c.row, splitRow) < 0)
          case None => cells
        }
        scoped.map(rowOf)
      }
    spark.createDataFrame(rdd, cellSchema)
  }

  /** [[importCells]] plus each cell's visibility expression extracted
    * from its STRING_VIS wire tag ('' when untagged) — the read half
    * of [[export]]'s `visColumn`, exercising per-cell tag parsing
    * (dictionary-decompressed inside encoded blocks when the file
    * declares COMPRESS_TAGS). */
  def importCellsTagged(spark: SparkSession, dir: String,
      glob: String = "part-*.hfile"): DataFrame = {
    val files = listFiles(
      new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration), dir, glob)
    val bconf = ShippedConf.broadcast(spark)
    val rdd = spark.sparkContext
      .parallelize(files, math.max(files.size, 1))
      .flatMap { case (pathStr, len) =>
        HFileV3.readCellsFrom(openInTask(bconf.value.conf, pathStr, len), len)
          .map { c =>
            val vis = HFileV3.parseTags(c.tags)
              .collectFirst { case (StringVisTagType, data) =>
                new String(data, UTF_8) }
              .getOrElse("")
            Row.fromSeq(rowOf(c).toSeq :+ vis)
          }
      }
    spark.createDataFrame(rdd,
      StructType(cellSchema.fields :+
        StructField("vis", StringType, nullable = false)))
  }
}
