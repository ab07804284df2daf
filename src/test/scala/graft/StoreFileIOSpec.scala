package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}

import graft.codec.HFileV3
import graft.codec.HFileV3.HCell
import graft.flow.{HFilePrint, HFiles, SplitPolicies}
import graft.model.CellType

/** The store-file writer and opener behind every export: seeded random
  * cell sets (two or three families, puts and all four tombstone kinds)
  * written flat, per family and per region must land as the expected
  * sorted runs and import back as the same multiset; the
  * bulk-load shape plans a pinned number of jobs; and a file shorter
  * than its trailer fails by name.
  */
class StoreFileIOSpec extends SparkSpec {

  private val types = CellType.all

  /** Distinct (row, family, qualifier, ts, type) cells; tombstones
    * carry an empty value (the form an import returns). */
  private def randomCells(rnd: Random, n: Int): Seq[Row] = {
    val fams = Seq("a", "b", "cf")
    (0 until n).map { _ =>
      val typ = types(rnd.nextInt(types.size))
      val qual = if (typ == CellType.DeleteFamily) "" else s"q${rnd.nextInt(4)}"
      Row(f"r${rnd.nextInt(60)}%03d", fams(rnd.nextInt(fams.size)), qual,
        rnd.nextInt(5).toLong, typ,
        if (typ == CellType.Put) rnd.alphanumeric.take(rnd.nextInt(20)).mkString else "")
    }.distinctBy(r => (0 until 5).map(r.get))
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), HFiles.cellSchema)

  private def sorted(rows: Seq[Row]): Seq[HCell] =
    rows.map(HFiles.cellOf).sortWith((a, b) => HFileV3.compareCells(a, b) < 0)

  private def show(cells: Seq[HCell]): Seq[Row] = cells.map(HFiles.rowOf)

  /** name → cells of every `glob` file under `dir`. */
  private def files(dir: String, glob: String): Seq[(String, Seq[HCell])] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new Path(dir, glob))).getOrElse(Array.empty).toSeq
      .map(_.getPath)
      .map(p => (p.toUri.getPath.stripPrefix(dir + "/"),
        HFileV3.readCells(Files.readAllBytes(Paths.get(p.toUri))).toSeq))
      .sortBy(_._1)
  }

  private def assertSameMultiset(got: DataFrame, want: Seq[Row]): Unit = {
    def key(r: Row) = r.toSeq.mkString("\u0000")
    assert(got.collect().map(key).sorted.toSeq === want.map(key).sorted)
  }

  test("flat, per-family and region exports write the sorted runs and import back") {
    for (seed <- Seq(11, 12, 13)) {
      val rnd = new Random(seed)
      val rows = randomCells(rnd, 200 + rnd.nextInt(200))
      val cells = frame(rows)
      val out = Queries.scratchDir(s"store_file_io_$seed")
      val families = rows.map(_.getString(1)).distinct.sorted

      // flat, one region: the whole input in cell order
      HFiles.export(cells, 1, s"$out/flat1")
      assert(files(s"$out/flat1", "*.hfile").map { case (n, c) => (n, show(c)) } ===
        Seq(("part-00000.hfile", show(sorted(rows)))))
      assertSameMultiset(HFiles.importCells(spark, s"$out/flat1"), rows)

      // flat, three regions: files in name order concatenate to the
      // input in cell order, and no row spans two files
      HFiles.export(cells, 3, s"$out/flat3")
      val flat3 = files(s"$out/flat3", "*.hfile")
      assert(flat3.forall(_._1.matches("part-\\d{5}\\.hfile")))
      assert(show(flat3.flatMap(_._2)) === show(sorted(rows)))
      val rowSets = flat3.map(_._2.map(c => new String(c.row, UTF_8)).toSet)
      assert(rowSets.map(_.size).sum === rows.map(_.getString(0)).distinct.size)
      assertSameMultiset(HFiles.importCells(spark, s"$out/flat3"), rows)

      // one store file per family, one region
      HFiles.export(cells, 1, s"$out/fam", perFamily = true)
      assert(files(s"$out/fam", "*.hfile").map { case (n, c) => (n, show(c)) } ===
        families.map(f => (s"part-00000-$f.hfile",
          show(sorted(rows.filter(_.getString(1) == f))))))
      assertSameMultiset(HFiles.importCells(spark, s"$out/fam"), rows)

      // region export: a file per region, in a per-family subdirectory
      val regionOf = (r: Row) => r.getString(0).hashCode.abs % 4
      val withRegion = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row.fromSeq(r.toSeq :+ regionOf(r))), 3),
        HFiles.cellSchema.add("region", "int"))
      HFiles.exportRegions(withRegion, "region", s"$out/regions",
        name = r => f"g${r % 2}/region-$r%03d.hfile", blockSize = 256)
      val byRegion = rows.groupBy(regionOf).toSeq.sortBy(_._1)
      assert(files(s"$out/regions", "*/*.hfile").map { case (n, c) => (n, show(c)) } ===
        byRegion.map { case (r, rs) => (f"g${r % 2}/region-$r%03d.hfile", show(sorted(rs))) }
          .sortBy(_._1))
      assertSameMultiset(HFiles.importCells(spark, s"$out/regions", "*/*.hfile"), rows)
    }
  }

  test("export(cells, 2, dir) plus importCells(dir) runs a pinned number of jobs") {
    // the bulk-load shape: export's range-sampling, shuffle and writer
    // jobs, then one import job over both files
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val cells = frame(randomCells(new Random(7), 300))
    val out = Queries.scratchDir("store_file_io_jobs")
    val sc = spark.sparkContext
    val Tag = "graft.test.bulkload"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Tag)).foreach {
          case "op" => jobs.incrementAndGet()
          case "drain" => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, "op")
      try {
        HFiles.export(cells, 2, out)
        HFiles.importCells(spark, out).collect()
      } finally sc.setLocalProperty(Tag, "drain")
      // the bus delivers one listener's events in order
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(Tag, null)
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get() === 4)
    } finally sc.removeSparkListener(listener)
  }

  test("a store file shorter than its trailer fails by name") {
    val dir = Queries.scratchDir("store_file_io_truncated")
    val path = s"$dir/part-00000.hfile"
    Files.write(Paths.get(path), Array.fill[Byte](100)(7))
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    val onImport = intercept[Exception](HFiles.importCells(spark, dir).collect())
    assert(messages(onImport).contains(path), messages(onImport))
    val onSplit = intercept[Exception](SplitPolicies.storeSplitPoint(spark, dir))
    assert(messages(onSplit).contains(path), messages(onSplit))

    // hbck still names the file corrupt
    val root = Queries.scratchDir("store_file_io_hbck")
    Files.createDirectories(Paths.get(root, "t", "r", "d"))
    Files.copy(Paths.get(path), Paths.get(root, "t", "r", "d", "part-00000.hfile"))
    val report = HFilePrint.checkCorruption(spark, root, quarantine = false)
    assert(report.corrupt.map(p => new Path(p).getName) === Seq("part-00000.hfile"))
  }
}
