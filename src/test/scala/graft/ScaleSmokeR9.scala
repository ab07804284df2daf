package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× scale smoke for the round-9 byte-format additions: a ×10
  * cells-orders corpus exported/imported through FAST_DIFF+ZSTD (the
  * production store-file shape), plain NONE for the throughput
  * baseline, the PB WAL segment roundtrip, and the split-snapshot
  * (Reference half-file) import. The contract under audit is
  * corpus-linear cost with per-file parallelism — no driver-side
  * bottleneck as file counts grow. Run:
  * `sbt "Test/runMain graft.ScaleSmokeR9"` (32 threads, Bench config).
  */
object ScaleSmokeR9 {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val dir = "/root/testdata/sf0.1"

    def runCount(name: String, df: => DataFrame): Unit = {
      val (c, s) = time(df.count())
      println(f"$name%-34s $s%6.2f s   ($c rows)")
    }

    val cells = graft.model.Fixtures.cellsOrders(spark, dir)
    val cells10 = (0 until 10).map(i =>
        cells.withColumn("row", concat(lit(i.toString), col("row"))))
      .reduce(_ unionByName _).persist()
    println(s"cells10: ${cells10.count()} rows")

    val out = Queries.scratchDir("smoke_r9_x10")
    def dirBytes(p: String): Long = {
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
    }

    val (_, tNone) = time(graft.flow.HFiles.export(cells10, 32, s"$out/none"))
    println(f"export x10 NONE                    $tNone%6.2f s   (${dirBytes(s"$out/none") / 1048576} MiB)")
    val (_, tFdZ) = time(graft.flow.HFiles.export(cells10, 32, s"$out/fdz",
      encoding = graft.codec.BlockEncoding.IdFastDiff,
      compression = graft.codec.HFileV3.CompressionZstd))
    println(f"export x10 FAST_DIFF+ZSTD          $tFdZ%6.2f s   (${dirBytes(s"$out/fdz") / 1048576} MiB)")
    runCount("import x10 NONE",
      graft.flow.HFiles.importCells(spark, s"$out/none"))
    runCount("import x10 FAST_DIFF+ZSTD",
      graft.flow.HFiles.importCells(spark, s"$out/fdz"))

    val (_, tWal) = time(graft.flow.PWalFiles.export(cells10, 32, s"$out/wals"))
    println(f"pwal export x10                    $tWal%6.2f s   (${dirBytes(s"$out/wals") / 1048576} MiB)")
    runCount("pwal import x10",
      graft.flow.PWalFiles.importEntries(spark, s"$out/wals"))

    val (_, tSnap) = time(graft.flow.SnapshotShip.exportSnapshot(
      cells10, 32, s"$out/ship", "snapX", "smoke10"))
    println(f"snapshot export x10                $tSnap%6.2f s")
    val (_, tSplit) = time(graft.flow.SnapshotShip.splitSnapshot(
      spark, s"$out/ship", "snapX", "snapY"))
    println(f"snapshot split (64 daughters)      $tSplit%6.2f s")
    runCount("split-snapshot import x10 (halves)",
      graft.flow.SnapshotShip.importSnapshot(spark, s"$out/ship", "snapY"))

    spark.stop()
  }
}
