package graft

import org.apache.spark.sql.functions._

import graft.ext.Dedup
import graft.flow.HFiles
import graft.read.Resolve

/** Round-16 soak, wave 3: the CORE STORE PATH and two more dedup
  * detectors at sf10 scale — cellsOrders replicated to ~54M cells
  * (row-prefixed so replicas are distinct keys), one shot each:
  *
  *  1. exportRegions → 32 region stores through the real HFileV3
  *     writer; importCells full read-back; Resolve.latest over the
  *     cell stream — the Get/Scan substrate everything rides on;
  *  2. SimHash near-dup (e03's detector);
  *  3. segment dedup (e29's C4-style paragraph dedup).
  *
  * Run: `sbt -batch "Test/runMain graft.ScaleSoakR16c"`.
  */
object ScaleSoakR16c {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val sf = "/root/testdata/sf0.1"

    def t(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }

    println(f"${"path"}%-14s ${"scale"}%5s ${"units"}%9s ${"sec"}%8s " +
      f"${"sec/1M units"}%13s ${"out"}%9s")

    // ---- 1. store substrate: export -> import -> resolve ----------
    for (scale <- Seq(1, 10, 100)) {
      val base = graft.model.Fixtures.cellsOrders(spark, sf)
      val cells = (
        if (scale == 1) base
        else (0 until scale).map(i => base.withColumn("row",
          concat(format_string("%03d", lit(i)), col("row"))))
          .reduce(_ unionByName _)
        ).persist()
      val n = cells.count()
      val out = java.nio.file.Files
        .createTempDirectory(s"soakstore$scale").toString
      val uid = abs(hash(col("row"))).cast("long")
      val (expSec, _) = t {
        HFiles.exportRegions(cells.withColumn("rr", (uid % 32).cast("int")),
          "rr", out, r => f"r$r%02d/part-00000.hfile")
        0L
      }
      println(f"${"hfile_export"}%-14s $scale%5d $n%9d $expSec%8.2f " +
        f"${expSec * 1e6 / n}%13.3f ${32}%9d")
      val (impSec, impN) = t { HFiles.importCells(spark, s"$out/r00").count() * 32 }
      println(f"${"hfile_imp1/32"}%-14s $scale%5d $n%9d $impSec%8.2f " +
        f"${impSec * 32 * 1e6 / n}%13.3f $impN%9d")
      val (resSec, resN) = t { Resolve.latest(cells).count() }
      println(f"${"resolve"}%-14s $scale%5d $n%9d $resSec%8.2f " +
        f"${resSec * 1e6 / n}%13.3f $resN%9d")
      cells.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }

    // ---- 2/3. simhash + segment dedup over the 500k-doc corpus ----
    val docs = graft.model.Tables.load(spark, s"$sf/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
    def corpus(scale: Int) = (0 until scale).map { i =>
      docs.select(concat(lit(s"s$i-"), col("doc_id")).as("doc_id"),
        if (i == 0) col("text")
        else regexp_replace(col("text"),
          "((\\S+\\s+){4})", s"$$1zrep$i ").as("text"))
    }.reduce(_ unionByName _)
    // the synthetic corpus is LOW-ENTROPY (small vocabulary): simhash
    // segment buckets collapse and the uncapped join goes quadratic
    // (3.3M pairs from 5k docs at hamming 3) — run the uncapped form
    // at small scales only to show the curve, the capped form through
    // 100× (the r15 text-LSH soak protocol)
    for ((scale, modes) <- Seq(1 -> Seq("uncapped", "capped"),
        4 -> Seq("uncapped", "capped"), 10 -> Seq("capped"),
        100 -> Seq("capped"))) {
      val c = corpus(scale).persist()
      val n = c.count()
      for (mode <- modes) {
        val cap = if (mode == "capped") 64 else 0
        val (shSec, shRows) = t {
          Dedup.simHashNearDups(c, maxHamming = 3, maxBucket = cap).count()
        }
        println(f"${"simhash/" + mode}%-14s $scale%5d $n%9d $shSec%8.2f " +
          f"${shSec * 1e6 / n}%13.3f $shRows%9d")
      }
      val (sgSec, sgRows) = t {
        Dedup.segmentDedup(c, width = 20).count()
      }
      println(f"${"segment_dedup"}%-14s $scale%5d $n%9d $sgSec%8.2f " +
        f"${sgSec * 1e6 / n}%13.3f $sgRows%9d")
      c.unpersist()
    }
    spark.stop()
  }
}
