package graft.flow

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.codec.HFileV3

/** HFilePrettyPrinter twin (hbase-server/.../io/hfile/
  * HFilePrettyPrinter.java — the `hbase hfile -m -s` diagnostic): one
  * report row per store file, built from METADATA preads only —
  * trailer (entry count, index levels, comparator, compression
  * ordinal), root index (first key), and FILE_INFO (LASTKEY,
  * TIMERANGE, AVG_KEY_LEN, AVG_VALUE_LEN) — never a data-block scan.
  * The file LIST is driver metadata; the per-file preads parallelize
  * one task per file, so describing a 100 TB store costs three preads
  * per file across the fleet.
  */
object HFilePrint {

  final case class FileReport(file: String, entry_count: Long,
      index_levels: Long, comparator: String, codec: Long,
      first_row: String, last_row: String, ts_min: Long, ts_max: Long,
      avg_key_len: Long, avg_value_len: Long, file_bytes: Long)

  private def beInt(b: Array[Byte]): Int =
    ByteBuffer.wrap(b).getInt

  final case class HbckReport(checked: Long, corrupt: Seq[String],
      quarantined: Seq[String], missing: Seq[String], failures: Seq[String])

  /** hbck's HFileCorruptionChecker twin (util/hbck/
    * HFileCorruptionChecker.java:92-140): walk every store file under
    * `rootDir/<table>/<region>/<cf>/`, attempt the reader open
    * (trailer parse + FILE_INFO pread — the open path's own checks);
    * a corrupt file (bad magic, truncated trailer) quarantines into
    * the MIRRORED path `rootDir/.corrupt/<table>/<region>/<cf>/<file>`
    * (createQuarantinePath) when `quarantine` is set; a file that
    * vanished mid-walk counts as missing (compaction/split races are
    * normal), and a failed quarantine move lands in failures. */
  def checkCorruption(spark: SparkSession, rootDir: String,
      quarantine: Boolean = true): HbckReport = {
    val root = new Path(rootDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val corrupt = collection.mutable.ArrayBuffer.empty[String]
    val quarantined = collection.mutable.ArrayBuffer.empty[String]
    val missing = collection.mutable.ArrayBuffer.empty[String]
    val failures = collection.mutable.ArrayBuffer.empty[String]
    var checked = 0L
    HFiles.listFiles(fs, rootDir, "*/*/*/*.hfile").foreach { case (ps, len) =>
      val p = new Path(ps)
      checked += 1
      val ok =
        try {
          HFiles.readMeta(fs, p, len)
          true
        } catch {
          case _: java.io.FileNotFoundException =>
            missing += p.toString; true // not corrupt — compacted away
          case _: Exception => false
        }
      if (!ok) {
        corrupt += p.toString
        if (quarantine) {
          // mirror table/region/cf under .corrupt
          val cf = p.getParent
          val region = cf.getParent
          val table = region.getParent
          val dest = new Path(new Path(new Path(new Path(root, ".corrupt"),
            table.getName), region.getName), cf.getName)
          if (fs.mkdirs(dest) && fs.rename(p, new Path(dest, p.getName)))
            quarantined += new Path(dest, p.getName).toString
          else failures += p.toString
        }
      }
    }
    HbckReport(checked, corrupt.toSeq, quarantined.toSeq, missing.toSeq,
      failures.toSeq)
  }

  /** Describe every `glob` file under `dir`. */
  def describe(spark: SparkSession, dir: String,
      glob: String = "*.hfile"): DataFrame = {
    import spark.implicits._
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = HFiles.listFiles(fs, dir, glob)
    val bconf = ShippedConf.broadcast(spark)
    spark.sparkContext.parallelize(files, math.max(files.size, 1))
      .map { case (pathStr, len) =>
        val p = new Path(pathStr)
        HFiles.withStoreFile(p.getFileSystem(bconf.value.conf), p, len) { pread =>
          val trailer = HFileV3.readTrailer(pread, len)
          val info = HFileV3.readFileInfo(pread, trailer)
          def rowOf(key: Array[Byte]) = new String(HFileV3.rowOfKey(key), UTF_8)
          val firstRow = HFileV3.readRootIndex(pread, trailer).headOption
            .map(e => rowOf(e._3)).getOrElse("")
          val lastRow = info.get("hfile.LASTKEY").map(rowOf).getOrElse("")
          val (tsMin, tsMax) =
            HFileV3.parseTimeRange(info).getOrElse((0L, 0L))
          FileReport(p.getName, trailer.entryCount,
            trailer.numDataIndexLevels.toLong,
            trailer.comparatorClassName, trailer.compressionCodec.toLong,
            firstRow, lastRow, tsMin, tsMax,
            info.get("hfile.AVG_KEY_LEN").map(beInt(_).toLong).getOrElse(0L),
            info.get("hfile.AVG_VALUE_LEN").map(beInt(_).toLong).getOrElse(0L),
            len)
        }
      }
      .toDS().toDF()
  }
}
