package graft.write

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The at-scale persistence of the canonical cell store: bucketed
  * parquet, hashed on the row key and sorted on the cell coordinate —
  * the reference's region/HFile organization as far as Spark bucketing
  * reaches (regions partition the key space; HFiles are
  * coordinate-sorted). Readers of a bucketed table get the
  * partitioning from metadata, so cell-coordinate joins
  * (SyncTable/VerifyReplication diffs), per-row groupBys, and the
  * resolve pass plan with NO exchange over the store — at 100 TB that
  * is the difference between a bucket-aligned merge and re-shuffling
  * the whole table per query.
  *
  * It differs from the in-session `cells_orders` store, which holds
  * one contiguous key RANGE per partition (`Fixtures.cellsOrders`).
  * Spark bucketing is hash-only, so a bucket holds scattered keys and
  * bucket order is not key order: a scan over this table still takes
  * the range-sort exchange for its total order. In exchange, two tables
  * bucketed alike are co-partitioned, which two range layouts never
  * are.
  */
object BucketedStore {

  /** "ROWPREFIX:<n>" bloom-type spec (ColumnFamilyDescriptor
    * BLOOMFILTER => 'ROWPREFIX_FIXED_LENGTH' +
    * RowPrefixFixedLengthBloomContext's prefix length). */
  private val RowPrefixRe = "ROWPREFIX:(\\d+)".r

  /** Write a cell set as a bucketed table. `buckets` plays the role of
    * the region count (SimpleTotalOrderPartitioner/HRegionPartitioner
    * pick splits the same way, SURVEY §2.7 D11).
    *
    * Each file also carries a parquet bloom filter on `row` — the twin
    * of the reference's per-HFile ROW bloom
    * (ColumnFamilyDescriptor BLOOMFILTER, BloomType.ROW;
    * StoreFileReader.passesBloomFilter): a point Get probes the bloom
    * before touching data pages, so at 100 TB a multi-get over a
    * bucketed store reads the one bucket the hash names and then skips
    * every row-group whose bloom rejects the key. Sorting already gives
    * min/max pruning; the bloom additionally rejects ABSENT keys inside
    * a covering range (the exact case HBase blooms exist for).
    * `bloomNdv` sizes the filter (expected distinct rows per file).
    * Parquet materializes the bloom only where it adds power: a row
    * group whose `row` column stays fully dictionary-encoded (small
    * files, few distinct keys) already exposes exact membership via
    * the dictionary, and the writer drops the redundant bloom there —
    * at real store cardinalities the dictionary falls back to plain
    * and every file carries the filter (BucketedStoreSpec). */
  def write(cells: DataFrame, table: String, path: String, buckets: Int,
      bloomNdv: Long = 1000000L, bloom: String = "ROW"): Unit = {
    val (frame, bloomOpts) = bloom match {
      case "ROW" => (cells, Map.empty[String, String])
      case "ROWCOL" =>
        // BloomType.ROWCOL (StoreFileReader.passesGeneralRowColBloomFilter
        // :311): the bloom key is row+qualifier, so a Get naming a
        // specific column can reject a file that HAS the row but NOT
        // that column. Stored as a derived concat column (NUL
        // separator — absent from both key spaces) with its own
        // parquet bloom; the ROW bloom stays too (the reference's
        // rowBloomKey fallback probe for family markers, :405-406).
        (cells.withColumn("__rowcol",
          concat(col("row"), lit("\u0000"), col("qualifier"))),
          Map("parquet.bloom.filter.enabled#__rowcol" -> "true",
            "parquet.bloom.filter.expected.ndv#__rowcol" -> (bloomNdv * 4).toString))
      case RowPrefixRe(n) =>
        // BloomType.ROWPREFIX_FIXED_LENGTH (BloomType.java:39;
        // RowPrefixFixedLengthBloomContext truncates the row to the
        // first N bytes): the bloom key is a derived fixed-length
        // prefix column, so a PREFIX SCAN (the S4 shape) can reject a
        // file whose row range covers the prefix but which holds no
        // row of it — the case neither min/max pruning (covering
        // range) nor the ROW bloom (exact keys only) can reject.
        // Prefix cardinality is keys/prefix-group sized, so size the
        // bloom to bloomNdv (an over-estimate just lowers FP rate).
        (cells.withColumn("__rowprefix", substring(col("row"), 1, n.toInt)),
          Map("parquet.bloom.filter.enabled#__rowprefix" -> "true",
            "parquet.bloom.filter.expected.ndv#__rowprefix" -> bloomNdv.toString))
      case other =>
        throw new IllegalArgumentException(s"unknown bloom type: $other")
    }
    bloomOpts.foldLeft(frame.write
        .mode(SaveMode.Overwrite)
        .option("path", path)
        .option("parquet.bloom.filter.enabled#row", "true")
        .option("parquet.bloom.filter.expected.ndv#row", bloomNdv.toString)) {
        case (w, (k, v)) => w.option(k, v)
      }
      .bucketBy(buckets, "row")
      .sortBy("row", "family", "qualifier")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Point-column probe predicate for a ROWCOL store: pushes to the
    * `__rowcol` bloom so a file holding the row but lacking the
    * column is skipped before its data pages are read. */
  def rowColPred(row: String, qualifier: String): Column =
    col("__rowcol") === s"$row\u0000$qualifier"

  /** Prefix-scan probe predicate for a ROWPREFIX:<n> store: the
    * equality on the derived fixed-length prefix column pushes to ITS
    * parquet bloom (StoreFileReader
    * .passesGeneralRowPrefixBloomFilter's probe key), while the
    * startsWith on `row` keeps min/max pruning and the exact scan
    * semantics. The bloom leg only applies when `prefix` is exactly
    * the store's fixed length `n`; any other length falls through to
    * the startsWith-only predicate — the reference's "bloom unusable
    * => scan" rule (RowPrefixFixedLengthBloomContext returns true for
    * keys shorter than the fixed length) — instead of an equality on
    * the derived column that would silently drop every longer-prefix
    * row. Pass the store's `n`; callers that don't know it get the
    * safe fall-through by default (`n = -1` never matches). */
  def rowPrefixPred(prefix: String, n: Int = -1): Column =
    if (prefix.length == n)
      col("__rowprefix") === prefix && col("row").startsWith(prefix)
    else col("row").startsWith(prefix)

  /** Read back the canonical cell view (derived bloom-key columns
    * dropped). */
  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table).drop("__rowcol").drop("__rowprefix")

  /** Raw table read including derived bloom-key columns (for probes
    * via [[rowColPred]] / [[rowPrefixPred]]). */
  def readRaw(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
}
