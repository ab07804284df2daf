package graft

import org.apache.spark.sql.functions._

import graft.flow.{HFiles, RegionRefs}

/** Round-14 soak: the metadata-only split (RegionRefs) vs the
  * materializing half-read split at 1×/4×/16× parent-store size. The
  * 100 TB claim under q113 is that a split's cost does NOT scale with
  * the data: it writes two Reference markers per store file and zero
  * cells, while the materializing form rewrites every cell twice. The
  * metered quantities are wall time and bytes written by each split
  * form, plus the read-through daughters' correctness (cell-count
  * identity) and the janitor GC.
  * Run: `sbt -batch "Test/runMain graft.ScaleSoakR14"`; results table
  * goes to dev/PLANS.md.
  */
object ScaleSoakR14 {

  private def du(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Long =
    if (!fs.exists(p)) 0L
    else fs.getContentSummary(p).getLength

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val sf = "/root/testdata/sf0.01"

    println("== metadata-only split vs materializing split ==")
    println(f"${"scale"}%5s ${"cells"}%9s ${"store MB"}%9s " +
      f"${"ref ms"}%7s ${"ref out B"}%10s ${"mat ms"}%7s ${"mat out MB"}%11s " +
      f"${"read ok"}%8s ${"gc"}%3s")
    for (sc <- Seq(1, 4, 16)) {
      val base = graft.model.Fixtures.cellsOrders(spark, sf)
      val cells =
        if (sc == 1) base
        else (0 until sc).map(i => base.withColumn("row",
          concat(format_string("%02d", lit(i)), col("row"))))
          .reduce(_ unionByName _)
      val n = cells.count()
      val root = java.nio.file.Files.createTempDirectory(s"soakref$sc").toString
      val table = s"$root/data/t"
      HFiles.export(cells, 1, s"$table/p1/d", blockSize = 65536)
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val storeMb = du(fs, new org.apache.hadoop.fs.Path(s"$table/p1/d")) / 1048576.0

      // metadata-only split: time + bytes it wrote (the two ref files)
      var t0 = System.nanoTime()
      val row = RegionRefs.splitRegion(spark, table, "p1", "d1", "d2")
      val refMs = (System.nanoTime() - t0) / 1e6
      require(row.nonEmpty)
      val refBytes = du(fs, new org.apache.hadoop.fs.Path(s"$table/d1")) +
        du(fs, new org.apache.hadoop.fs.Path(s"$table/d2"))

      // materializing split of the SAME parent for comparison
      t0 = System.nanoTime()
      graft.admin.GAdmin.splitRegionStore(spark, s"$table/p1/d",
        s"$root/matbot", s"$root/mattop")
      val matMs = (System.nanoTime() - t0) / 1e6
      val matMb = (du(fs, new org.apache.hadoop.fs.Path(s"$root/matbot")) +
        du(fs, new org.apache.hadoop.fs.Path(s"$root/mattop"))) / 1048576.0

      // read-through correctness + the janitor lifecycle
      val readN = RegionRefs.importStore(spark, table, "d1").count() +
        RegionRefs.importStore(spark, table, "d2").count()
      RegionRefs.compactRefs(spark, table, "d1")
      RegionRefs.compactRefs(spark, table, "d2")
      val gcd = RegionRefs.catalogJanitor(spark, table, s"$root/archive")

      println(f"$sc%5d $n%9d $storeMb%9.1f $refMs%7.0f $refBytes%10d " +
        f"$matMs%7.0f $matMb%11.1f ${readN == n}%8s ${gcd.size}%3d")
    }

    // WAL split (q116): ONE shuffle keyed by region; wall time and
    // shuffled bytes must stay flat PER UNIT of log as the dead
    // server's WAL grows
    println("\n== WAL split (WALSplitter twin) ==")
    println(f"${"scale"}%5s ${"cells"}%9s ${"regions"}%8s " +
      f"${"split sec"}%10s ${"ms/10k cells"}%13s ${"replay ok"}%10s")
    for (sc <- Seq(1, 4, 16)) {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val base = graft.model.Fixtures.cellsEventsV(spark, sf)
        .withColumn("value", coalesce(col("value"), lit("")))
      val cells =
        if (sc == 1) base
        else (0 until sc).map(i => base.withColumn("row",
          concat(format_string("%02d", lit(i)), col("row"))))
          .reduce(_ unionByName _)
      val uid = abs(hash(col("row"))).cast("long")
      val w = Window.partitionBy(col("wal_region"))
        .orderBy(col("ts"), col("row"))
      val entries = cells
        .withColumn("wal_region",
          concat(lit("r"), lpad((uid % 32).cast("string"), 2, "0")))
        .withColumn("wal_table", lit("events"))
        .withColumn("wal_seq", dense_rank().over(w).cast("long"))
        .withColumn("write_time", col("ts"))
        .persist()
      val n = entries.count()
      val out = java.nio.file.Files.createTempDirectory(s"soakwal$sc").toString
      val t0 = System.nanoTime()
      graft.flow.WalRecovery.splitWal(spark, entries, out)
      val sec = (System.nanoTime() - t0) / 1e9
      val replayed = (0 until 32).map(i =>
        graft.flow.WalRecovery.replayRecoveredEdits(
          spark, out, f"r$i%02d", 0L).count()).sum
      println(f"$sc%5d $n%9d ${32}%8d $sec%10.2f " +
        f"${sec * 1e4 * 1000 / n}%13.1f ${replayed == n}%10s")
      entries.unpersist()
    }
    spark.stop()
  }
}
