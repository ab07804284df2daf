package graft

import org.apache.spark.sql.functions._

import graft.flow.{HFilePrint, PWalFiles, WalPrint}
import graft.model.Fixtures

/** The two diagnostic printers: WALPrettyPrinter's region/sequence
  * filters (partitioning-dependent, so spec-pinned on a single-segment
  * WAL where both are deterministic) and HFilePrettyPrinter's
  * format-side fields that the declared query c15 leaves out. */
class PrintToolsSpec extends SparkSpec {

  test("WalPrint: region and sequence filters on a single-segment WAL") {
    val tmp = java.nio.file.Files.createTempDirectory("walprint").toString
    val cells = Fixtures.cellsEventsV(spark, sf0001).limit(200)
    // one segment → region-00000, sequences start at 0 and are
    // monotone per (ts, row) entry
    PWalFiles.export(cells, 1, s"$tmp/wals")
    val entries = PWalFiles.importEntries(spark, s"$tmp/wals").cache()

    val all = WalPrint.print(entries).count()
    assert(all == entries.count() && all > 0)
    // the single region matches everything; an absent one, nothing
    assert(WalPrint.print(entries,
      region = Some("region-00000")).count() == all)
    assert(WalPrint.print(entries, region = Some("region-zzz")).count() == 0)

    // sequence filter: exactly the cells of that one WALEdit (one
    // (ts, row) group — the reference's one-edit-per-row-mutation)
    val firstSeq = entries.agg(min("wal_seq")).head.getLong(0)
    val seqRows = WalPrint.print(entries, sequence = Some(firstSeq))
    val groups = entries.filter(col("wal_seq") === firstSeq)
      .select("row", "ts").distinct().count()
    assert(groups == 1 && seqRows.count() > 0)

    // row and rowPrefix refuse to compose (the reference's CLI does)
    intercept[IllegalArgumentException] {
      WalPrint.print(entries, row = Some("x"), rowPrefix = Some("y"))
    }
    // values off by default: value column is null, value_len is not
    assert(WalPrint.print(entries).filter(col("value").isNotNull).count() == 0)
    assert(WalPrint.print(entries, outputValues = true)
      .filter(col("value").isNull).count() == 0)
    // row-key-only mode collapses to the single row column
    assert(WalPrint.print(entries, outputOnlyRowKey = true)
      .columns.toSeq == Seq("row"))
    entries.unpersist()
  }

  test("HFilePrint: format-side fields (levels, codec, comparator, bytes)") {
    val tmp = java.nio.file.Files.createTempDirectory("hfprint").toString
    val cells = Fixtures.cellsOrders(spark, sf0001).limit(2000)
    graft.flow.HFiles.export(cells, 1, s"$tmp/plain")
    graft.flow.HFiles.export(cells, 1, s"$tmp/zstd",
      compression = graft.codec.HFileV3.CompressionZstd)

    val plain = HFilePrint.describe(spark, s"$tmp/plain").head()
    assert(plain.getAs[Long]("entry_count") == 2000L)
    assert(plain.getAs[Long]("index_levels") >= 1L)
    assert(plain.getAs[Long]("codec") == 2L) // NONE ordinal
    assert(plain.getAs[String]("comparator").nonEmpty)
    assert(plain.getAs[Long]("file_bytes") > 0L)
    assert(plain.getAs[String]("first_row") <= plain.getAs[String]("last_row"))
    assert(plain.getAs[Long]("avg_key_len") > 12L)

    val zstd = HFilePrint.describe(spark, s"$tmp/zstd").head()
    assert(zstd.getAs[Long]("codec") == 6L)
    // logical stats identical across codecs; physical size differs
    assert(zstd.getAs[Long]("entry_count") == 2000L)
    assert(zstd.getAs[String]("first_row") == plain.getAs[String]("first_row"))
    assert(zstd.getAs[Long]("file_bytes") < plain.getAs[Long]("file_bytes"))
  }

  test("c17 bucketing fails loudly on a null ts instead of dropping the cell") {
    import spark.implicits._
    import graft.queries.CodecQueries.c17Bucket
    val ts = Seq(Some(1L), Some(2L), Some(3L), Some(4L), Some(9L), None).toDF("ts")
    val named = ts.filter(col("ts").isNotNull).select(c17Bucket(col("ts")))
      .as[Int].collect().toSeq
    assert(named === Seq(1, 1, 2, 3, 3))
    val e = intercept[Exception](ts.select(c17Bucket(col("ts"))).collect())
    assert(e.getMessage.contains("null ts"), e.getMessage)
  }
}
