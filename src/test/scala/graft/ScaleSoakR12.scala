package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.flow.{Compactions, HFiles, PWalFiles, StripeStore}
import graft.flow.Compactions.DtKnobs
import graft.flow.StripeStore.SKnobs
import graft.stream.WalStream

/** Round-12 store-maintenance soak: measure PER-STAGE shuffle bytes of
  * the new compaction operators at 1×/4×/16× so their 100 TB claims
  * are measured like the round-11 flagships' —
  *  - `dateTieredMajorCompact`: the single-pass windowed rewrite (one
  *    shuffle keyed by window, one writer per run) must stay FLAT per
  *    unit of input;
  *  - stripe BOUNDARY distribution (L0 → existing stripes): one
  *    shuffle keyed by target stripe, flat per unit;
  *  - the PB-WAL CDC STREAM (binaryFile source → PWal.readBytes →
  *    PWalCellRow encoder): zero shuffle by construction; the metered
  *    quantity is per-unit WALL TIME, which must stay flat now that
  *    the encoder codegen compiles (PWalCellRow public — the r12
  *    Janino fallback paid per-row reflection instead).
  * (Exploring/FIFO/DT-minor rewrites are single-writer streams with no
  * shuffle at all — nothing to meter.)
  * Run: `sbt -batch "Test/runMain graft.ScaleSoakR12"`; results table
  * goes to dev/PLANS.md.
  */
object ScaleSoakR12 {

  private def mb(b: Long): String = f"${b / 1048576.0}%9.1f"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val meter = new ScaleSoak100x.StageMeter
    spark.sparkContext.addSparkListener(meter)

    val baseRows = 20000

    def cellsAt(rows: Int, ts: Long): DataFrame =
      spark.range(rows.toLong)
        .select(
          format_string("r%09d", col("id")).as("row"),
          lit("d").as("family"), lit("q").as("qualifier"),
          lit(ts).as("ts"), lit("Put").as("type"),
          concat(lit("v"), col("id"), lit("-" * 40)).as("value"))

    def run(name: String)(body: Int => (Long, Long)): Unit = {
      println(s"== $name ==")
      println(f"${"scale"}%5s ${"cells"}%12s ${"sec"}%8s ${"shufW MB"}%10s " +
        f"${"shufW/unit MB"}%14s")
      Seq(1, 4, 16).foreach { sc =>
        meter.reset()
        val t0 = System.nanoTime()
        val (n, w0) = body(sc)
        val secs = (System.nanoTime() - t0) / 1e9
        val w = if (w0 >= 0) w0 else meter.snapshot().map(_._2).sum
        println(f"$sc%5d $n%12d $secs%8.2f ${mb(w)} ${mb(w / sc)}")
      }
    }

    run("dateTieredMajorCompact (single-pass windowed rewrite)") { sc =>
      val dir = java.nio.file.Files.createTempDirectory(s"soakdt$sc").toString
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      (1 to 12).foreach { i =>
        val tmp = java.nio.file.Files.createTempDirectory(s"soakdtf$i").toString
        HFiles.export(cellsAt(baseRows * sc, i.toLong * 1000), 1, tmp)
        fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/part-00000.hfile"),
          new org.apache.hadoop.fs.Path(f"$dir/part-$i%05d.hfile"))
      }
      meter.reset() // the build is setup, not the measured operator
      val dt = DtKnobs(baseWindowMillis = 3000, windowsPerTier = 2,
        maxTierAgeMillis = 1000000, incomingWindowMin = 3,
        maxStoreFileAgeMillis = 1000000)
      Compactions.dateTieredMajorCompact(spark, dir, dt, now = 13000L)
      val n = HFiles.importCells(spark, dir).count()
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      (n, -1L)
    }

    run("stripe boundary distribution (L0 -> existing stripes)") { sc =>
      val dir = java.nio.file.Files.createTempDirectory(s"soakst$sc").toString
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val k = SKnobs(l0MinFiles = 3, minFiles = 12, initialCount = 8,
        sizeToSplit = Long.MaxValue / 4)
      (1 to 3).foreach(i =>
        StripeStore.stripeFlush(cellsAt(baseRows * sc, i.toLong), dir))
      StripeStore.stripeCompact(spark, dir, k, now = 100L) // initial split
      (4 to 6).foreach(i =>
        StripeStore.stripeFlush(cellsAt(baseRows * sc, i.toLong), dir))
      meter.reset() // meter ONLY the boundary distribution round
      StripeStore.stripeCompact(spark, dir, k, now = 100L)
      val n = HFiles.importCells(spark, dir, "{l0,stripe}-*.hfile").count()
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      (n, -1L)
    }

    run("audio banded near-dup (fingerprint -> (band,slice) self-join)") { sc =>
      import graft.ext.Multimodal
      val docs = spark.range(500L * sc).select(col("id").as("doc_id"))
      meter.reset()
      val out = Multimodal.audioNearDup(Multimodal.ingestWavDup(docs))
      val n = out.count()
      out.unpersist(blocking = false)
      (n, -1L)
    }

    run("pwal CDC stream (segments -> PWal.readBytes, codegen'd encoder)") { sc =>
      val out = java.nio.file.Files.createTempDirectory(s"soakpw$sc").toString
      PWalFiles.export(cellsAt(baseRows * sc, 1L), 8, s"$out/wals")
      meter.reset() // meter ONLY the streaming read-back
      val stream = PWalFiles.streamEntries(spark, s"$out/wals",
          maxFilesPerTrigger = 8)
        .select("row", "family", "qualifier", "ts", "type", "value")
      val n = WalStream.runAvailableNow(stream, s"soakpw$sc",
        mode = "append").count()
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      (n, -1L)
    }

    spark.stop()
  }
}
