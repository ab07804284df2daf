package graft.flow

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.codec.{HFileV3, PWal}
import graft.codec.HFileV3.HCell

/** Distributed PB-WAL segment export / import — the byte-format twin
  * of the parquet WAL log that S9/D7/D9 consume, so graft can replay a
  * REAL cluster's log directory (WALPlayer.java:76 +
  * WALInputFormat.java semantics) and produce segments a reference
  * cluster's tooling reads back.
  *
  * Scale shape: export range-partitions the WAL frame on (ts, row) —
  * segments are time-contiguous like a regionserver's rolled logs —
  * and each task streams its partition through [[PWal.write]] straight
  * onto the FileSystem. Import parallelizes one task per segment; a
  * segment parses forward-only (the reference reader is one-way too),
  * so memory per task is one entry, not one file.
  */
object PWalFiles {

  /** TagType.STRING_VIS_TAG_TYPE (TagType.java:37). */
  val StringVisTagType: Byte = 7

  val entrySchema: StructType = StructType(Seq(
    StructField("wal_region", StringType, nullable = false),
    StructField("wal_table", StringType, nullable = false),
    StructField("wal_seq", LongType, nullable = false),
    StructField("write_time", LongType, nullable = false),
    StructField("row", StringType, nullable = false),
    StructField("family", StringType, nullable = false),
    StructField("qualifier", StringType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("value", StringType, nullable = true)))

  /** Write `wal` (canonical cell columns) as `numSegments` PB WAL
    * segments under `outPath` (`wal-NNNNN.pwal`). Cells of one
    * (ts, row) group share a WALKey — the reference's one-WALEdit-per-
    * row-mutation shape; log_sequence_number is monotone per segment
    * (startSeq + entry index) and write_time carries the entry ts. */
  def export(wal: DataFrame, numSegments: Int, outPath: String,
      table: String = "graft", withTrailer: Boolean = true,
      compressed: Boolean = false, valueCompression: Int = 0,
      encryptSubject: Option[String] = None,
      visColumn: Option[String] = None,
      tagCompression: Boolean = false): Unit = {
    // visColumn: each cell carries its visibility expression as a
    // STRING_VIS (type 7) wire tag — the string form visibility labels
    // take in REPLICATION WALs (TagType.java:37,
    // VisibilityReplicationEndpoint converts ordinals to strings for
    // the peer), optionally dictionary-compressed like the reference's
    // tag-compressed WAL context
    val ordered = wal
      .repartitionByRange(numSegments, col("ts"), col("row"))
      .sortWithinPartitions(
        col("ts"), col("row"), col("family"), col("qualifier"), col("type"))
      .select((Seq("row", "family", "qualifier", "ts", "type", "value") ++
        visColumn.toSeq).map(col): _*)
    val tableB = table
    val bconf = ShippedConf.broadcast(wal.sparkSession)
    ordered.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val pid = TaskContext.getPartitionId()
        val path = new Path(f"$outPath%s/wal-$pid%05d.pwal")
        val fs = path.getFileSystem(bconf.value.conf)
        val out = fs.create(path, true)
        try {
          val region = f"region-$pid%05d".getBytes("UTF-8")
          val tableBytes = tableB.getBytes("UTF-8")
          var seqNo = pid.toLong * 1000000L
          val entries = new Iterator[PWal.WalEntry] {
            private var pending: Row = if (it.hasNext) it.next() else null
            def hasNext: Boolean = pending != null
            def next(): PWal.WalEntry = {
              val ts = pending.getLong(3)
              val rowKey = pending.getString(0)
              val cells = scala.collection.mutable.ArrayBuffer.empty[HCell]
              while (pending != null && pending.getLong(3) == ts &&
                  pending.getString(0) == rowKey) {
                val tags =
                  if (pending.length > 6 && pending.getString(6) != null &&
                      pending.getString(6).nonEmpty)
                    HFileV3.tagBytes(Seq((StringVisTagType,
                      pending.getString(6).getBytes("UTF-8"))))
                  else Array.emptyByteArray
                cells += HCell(
                  pending.getString(0).getBytes("UTF-8"),
                  pending.getString(1).getBytes("UTF-8"),
                  pending.getString(2).getBytes("UTF-8"),
                  pending.getLong(3),
                  HFiles.typeToCode(pending.getString(4)),
                  Option(pending.getString(5)).getOrElse("").getBytes("UTF-8"),
                  tags = tags)
                pending = if (it.hasNext) it.next() else null
              }
              seqNo += 1L
              PWal.WalEntry(region, tableBytes, seqNo, ts, cells.toIndexedSeq)
            }
          }
          PWal.write(out, entries, withTrailer, compressed, valueCompression,
            encryptSubject, tagCompression)
          ()
        } finally out.close()
      }
    }
  }

  /** One WALKey-denormalized cell from a PB WAL segment. MUST stay
    * public: it backs a `Dataset[PWalCellRow]` encoder, and Spark's
    * whole-stage/encoder codegen emits plain Java that calls the
    * accessors — a `private` (even `private[flow]`) class makes Janino
    * fail compilation and silently demotes the whole CDC stream to the
    * interpreted encoder (a per-row reflection tax at scale). */
  final case class PWalCellRow(
      wal_region: String, wal_table: String, wal_seq: Long, write_time: Long,
      row: String, family: String, qualifier: String, ts: Long,
      cell_type: String, value: String)

  /** Streaming CDC source over a PB WAL segment DIRECTORY — tail a
    * real cluster's log dir live (the ReplicationSource shape, S9's
    * byte-format form): Structured Streaming's binaryFile source
    * delivers each newly-rolled segment whole, and the micro-batch
    * parses it through [[PWal.readBytes]] into the WALKey-denormalized
    * cell frame. Segments are rolled-file-sized (single-digit MB by
    * policy), so one in-flight segment per task is the working set —
    * the same budget the reference's WAL reader holds. */
  def streamEntries(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    import spark.implicits._
    spark.readStream.format("binaryFile")
      .schema(StructType(Seq( // the binaryFile source's fixed schema
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .option("pathGlobFilter", "wal-*.pwal")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .load(dir)
      .select(col("content"))
      .as[Array[Byte]]
      .flatMap { bytes =>
        PWal.readBytes(bytes).flatMap { e =>
          e.cells.map { c =>
            PWalCellRow(new String(e.region, "UTF-8"), new String(e.table, "UTF-8"),
              e.seq, e.writeTime,
              new String(c.row, "UTF-8"), new String(c.family, "UTF-8"),
              new String(c.qualifier, "UTF-8"), c.ts,
              HFiles.codeToType(c.typ), new String(c.value, "UTF-8"))
          }
        }
      }
      .withColumnRenamed("cell_type", "type")
  }

  /** Read every segment under `dir` back into a WALKey-denormalized
    * frame (one output row per cell, the key columns alongside) — the
    * WALInputFormat twin. Feed the cell columns to Jobs.walPlayer /
    * incrementalBackup exactly like the parquet WAL. */
  def importEntries(spark: SparkSession, dir: String,
      glob: String = "wal-*.pwal",
      subject: String = graft.codec.HCrypto.DefaultSubject): DataFrame =
    spark.createDataFrame(readSegments(spark, dir, glob, subject, tagged = false),
      entrySchema)

  /** [[importEntries]] plus each cell's visibility expression,
    * extracted from its STRING_VIS wire tag ('' when untagged) — the
    * read half of the replication-WAL string-tag convention. */
  def importEntriesTagged(spark: SparkSession, dir: String,
      glob: String = "wal-*.pwal"): DataFrame =
    spark.createDataFrame(
      readSegments(spark, dir, glob, graft.codec.HCrypto.DefaultSubject, tagged = true),
      StructType(entrySchema.fields :+ StructField("vis", StringType, nullable = false)))

  /** One task per `glob` segment under `dir`, each read whole
    * ([[HFiles.readAll]]: segments are single-digit MB by roll policy)
    * into one row per cell, plus its STRING_VIS tag when `tagged`. */
  private def readSegments(spark: SparkSession, dir: String, glob: String,
      subject: String, tagged: Boolean): org.apache.spark.rdd.RDD[Row] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = HFiles.listFiles(fs, dir, glob).map(_._1)
    val bconf = ShippedConf.broadcast(spark)
    spark.sparkContext.parallelize(files, math.max(files.size, 1)).flatMap { pathStr =>
      val path = new Path(pathStr)
      val bytes = HFiles.readAll(path.getFileSystem(bconf.value.conf), path)
      PWal.readBytes(bytes, subject).flatMap { e =>
        e.cells.map { c =>
          val key = Seq(new String(e.region, "UTF-8"), new String(e.table, "UTF-8"),
            e.seq, e.writeTime,
            new String(c.row, "UTF-8"), new String(c.family, "UTF-8"),
            new String(c.qualifier, "UTF-8"), c.ts,
            HFiles.codeToType(c.typ), new String(c.value, "UTF-8"))
          if (!tagged) Row.fromSeq(key)
          else Row.fromSeq(key :+ HFileV3.parseTags(c.tags)
            .collectFirst { case (StringVisTagType, data) => new String(data, "UTF-8") }
            .getOrElse(""))
        }
      }
    }
  }

  /** The WAL log-cleaner chain over a segment directory — LogCleaner
    * with its two stock plugins composed: a rolled segment deletes
    * only when EVERY plugin agrees — TimeToLiveLogCleaner (older than
    * hbase.master.logcleaner.ttl, default 10 min, by fs modification
    * time) AND ReplicationLogCleaner (replication has SHIPPED past it:
    * `shippedThrough` is the last fully-processed segment name — the
    * streaming checkpoint's high-water mark, playing the reference's
    * ZK replication-queue offsets; segments compare by their PARSED
    * numeric index, not raw name — lexicographic compare inverts once
    * the roll counter outgrows its zero-pad (wal-100000 < wal-99999 as
    * strings), which would delete still-queued segments. None = no
    * replication consumer, the reference's no-peers case — TTL alone
    * decides). Returns the deleted segment names. */
  def cleanupWals(spark: SparkSession, dir: String,
      ttlMillis: Long = 600000L,
      now: Long = System.currentTimeMillis(),
      shippedThrough: Option[String] = None): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shippedIdx = shippedThrough.map(segmentIndex)
    Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(dir, "wal-*.pwal")))
      .getOrElse(Array.empty).toSeq
      .filter { st =>
        now - st.getModificationTime > ttlMillis &&
          shippedIdx.forall(segmentIndex(st.getPath.getName) <= _)
      }
      .map { st => fs.delete(st.getPath, false); st.getPath.getName }
      .sorted
  }

  /** Roll index of a `wal-<n>.pwal` segment name (AbstractFSWAL's
    * filenum compare parses the numeric suffix the same way); a name
    * with no digit run sorts first (never protected by itself). */
  def segmentIndex(name: String): Long = {
    val digits = name.dropWhile(!_.isDigit).takeWhile(_.isDigit)
    if (digits.isEmpty) -1L else digits.toLong
  }

  /** ReplicationHFileCleaner's protected set (HBASE-13153's
    * hfile-refs ZK nodes): store files named by BULK_LOAD descriptors
    * in segments replication has NOT shipped yet. Feed the result to
    * [[graft.flow.SnapshotShip.cleanupArchive]]'s `extraRefs` so a
    * compaction-retired (archived) bulk-loaded file survives until its
    * descriptor applies on every peer. Driver-side scan of the
    * unshipped segments' marker cells — markers are event-count-sized,
    * never data-sized. */
  def pendingBulkLoadRefs(spark: SparkSession, dir: String,
      shippedThrough: Option[String] = None): Set[String] = {
    import graft.stream.WalMeta
    val shippedIdx = shippedThrough.map(segmentIndex).getOrElse(-1L)
    val pendingGlobs = {
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      Option(fs.globStatus(new Path(dir, "wal-*.pwal"))).getOrElse(Array.empty)
        .map(_.getPath.getName).filter(segmentIndex(_) > shippedIdx)
    }
    if (pendingGlobs.isEmpty) Set.empty
    else pendingGlobs.flatMap { seg =>
      importEntries(spark, dir, glob = seg)
        .filter(org.apache.spark.sql.functions.col("family") === WalMeta.MetaFamily &&
          org.apache.spark.sql.functions.col("qualifier") === WalMeta.BulkLoad)
        .select("value").collect()
        .flatMap(r => WalMeta.bulkLoadFilesOf(r.getString(0)))
        .map(f => new Path(f).getName)
    }.toSet
  }
}
