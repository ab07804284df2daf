package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-11 100× scale soak (the round-9/10 carried task): run the
  * three flagship shapes — q36 chain verify, Dedup.minHashNearDups,
  * TextAnalysis.bm25TopK — at 1×/10×/100× of the sf0.1 fixtures under
  * `GraftSession.local()` and record PER-STAGE shuffle bytes, so the
  * "plans you'd want at 100 TB" claim is measured, not argued. A stage whose
  * shuffle grows super-linearly in the input is the scale hazard this
  * hunts (candidate-pair blow-ups, single-partition windows).
  *
  * Corpus replication keeps per-replica statistics identical while
  * keeping replicas DISJOINT (every token gets a per-replica suffix),
  * so dup groups and retrieval matches never straddle replicas —
  * exactly 100 independent corpora, the honest linear-scale model.
  * Run: `sbt "Test/runMain graft.ScaleSoak100x"`; results table goes
  * to dev/PLANS.md.
  */
object ScaleSoak100x {

  final class StageMeter extends SparkListener {
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long, Long)] // stageId, shufWrite, shufRead, input
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        val m = s.stageInfo.taskMetrics
        rows += ((s.stageInfo.stageId, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.inputMetrics.bytesRead))
      }
    def reset(): Unit = synchronized(rows.clear())
    def snapshot(): Seq[(Int, Long, Long, Long)] = synchronized(rows.toSeq)
  }

  private def mb(b: Long): String = f"${b / 1048576.0}%9.1f"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val meter = new StageMeter
    spark.sparkContext.addSparkListener(meter)
    val dir = "/root/testdata/sf0.1"

    // Inputs are PERSISTED (and counted) before the timer starts: the
    // soak measures the OPERATOR's scaling over a stored table — the
    // 100 TB deployment shape — not fixture replication. Replication
    // is a crossJoin with a replica range (a 100-way union self-joins
    // into a 200-leg plan Catalyst takes minutes to codegen — that
    // finding is part of why the stored-input shape is the right one).
    def soak(name: String, mkInput: Int => DataFrame,
        op: DataFrame => DataFrame,
        scales: Seq[Int] = Seq(1, 10, 100)): Unit = {
      println(s"== $name ==")
      println(f"${"scale"}%5s ${"in_rows"}%12s ${"out_rows"}%12s ${"sec"}%8s " +
        f"${"shufW MB"}%10s ${"shufR MB"}%10s ${"maxStageW MB"}%13s  top stages")
      val totals = scales.map { sc =>
        val in = mkInput(sc).persist()
        val nIn = in.count()
        meter.reset()
        val t0 = System.nanoTime()
        val n = op(in).count()
        val secs = (System.nanoTime() - t0) / 1e9
        val st = meter.snapshot()
        val w = st.map(_._2).sum; val r = st.map(_._3).sum
        val maxW = if (st.isEmpty) 0L else st.map(_._2).max
        println(f"$sc%5d $nIn%12d $n%12d $secs%8.2f ${mb(w)} ${mb(r)} " +
          f"${mb(maxW)}    " + st.sortBy(-_._2).take(5)
            .map(s => s"s${s._1}:${s._2 / 1048576}M").mkString(" "))
        in.unpersist()
        (sc, w)
      }
      // linearity: shuffle bytes per unit of scale must not grow
      val perUnit = totals.map { case (sc, w) => w.toDouble / sc }
      println(f"   shuffle-bytes/scale-unit: ${perUnit.map(v =>
        f"${v / 1048576}%.1fM").mkString(" -> ")}\n")
    }

    // (a) q36 chain verify: k disjoint ITBLL chains (id-offset)
    val chain1 = graft.model.Fixtures.chain(spark)
    def chainAt(k: Int) = chain1
      .crossJoin(spark.range(k).select(col("id").as("rep")))
      .select((col("id") + col("rep") * lit(100000L)).as("id"),
        (col("prev") + col("rep") * lit(100000L)).as("prev"))
    soak("q36 chain verify (broken links)", chainAt, { c =>
      val p = c.select(col("id").as("pid"))
      c.filter(col("prev").isNotNull)
        .join(p, col("prev") === col("pid"), "left_anti")
    })

    // replica-disjoint document corpus: suffix every token with the
    // replica id so shingle/token spaces never collide across replicas
    val docs1 = graft.model.Tables.load(spark, s"$dir/documents.parquet")
    def docsAt(k: Int) = docs1
      .crossJoin(spark.range(k).select(col("id").as("rep")))
      .select((col("doc_id") + col("rep") * lit(10000000L)).as("doc_id"),
        regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1x"), col("rep"))).as("text"),
        col("source"), col("lang"))

    // (b) MinHash+LSH near-dup: banded candidates, never all-pairs
    soak("minHashNearDups (banded LSH)", docsAt,
      d => graft.ext.Dedup.minHashNearDups(d))

    // (c) BM25 top-k retrieval: query slice scales with the corpus
    soak("bm25TopK (queries = ids%50)", docsAt,
      d => graft.ext.TextAnalysis.bm25TopK(d, col("doc_id") % 50 === 0, k = 5))

    // (d) e84 audio near-dup: per-row WAV decode + 64-bit fingerprint
    // (map-side) into the banded (band, slice) self-join. The shuffle
    // carried is the fingerprint frame (linear), but the soak's FIRST
    // run found the uncapped self-join melting at 100×: the synthetic
    // law's fingerprints cluster, (band, slice) buckets go hot, and
    // candidates grow quadratically (4.5k pairs at 1× → 259k at 10× →
    // the 100× leg did not finish in 18 min). That IS the 100 TB
    // hazard on any low-entropy fingerprint corpus, so: uncapped to
    // 10× (the honest blow-up measurement), then the production
    // hot-bucket cap (Multimodal.capBuckets) carries the 100× leg and
    // must be flat per unit.
    soak("audioNearDup UNCAPPED (quadratic on low-entropy fingerprints)",
      k => graft.ext.Multimodal.ingestWavDup(docsAt(k)),
      m => graft.ext.Multimodal.audioNearDup(m), scales = Seq(1, 10))
    soak("audioNearDup maxBucket=64 (hot buckets dropped)",
      k => graft.ext.Multimodal.ingestWavDup(docsAt(k)),
      m => graft.ext.Multimodal.audioNearDup(m, maxBucket = 64))

    // (e) e86 video near-dup: MJPEG-in-AVI frame decodes feed the
    // temporal-mean fingerprint; same banded join shape. 8 frames ×
    // 64×64 JPEG per doc makes the 100× decode leg heavy on one box —
    // 1×/10× suffices to read the shuffle slope (map-side decode cost
    // is embarrassingly parallel by construction)
    soak("videoNearDup (banded fingerprints)",
      k => graft.ext.Multimodal.ingestAviDup(docsAt(k)),
      m => graft.ext.Multimodal.videoNearDup(m), scales = Seq(1, 10))

    // (f) the chore family: per-store/per-marker DRIVER metadata
    // passes (the reference's per-regionserver shape — fleet
    // parallelism is across stores). Fabricate sc×20 stores (2-file
    // ladders, below minFiles → the chore's watch pass), sc×40
    // snapshot markers (half expired) and sc×40 rolled WAL segments,
    // then time one full chore sweep; wall-time per unit must stay
    // flat and NOTHING may shuffle (clusterMetrics' distributed
    // trailer sweep is measured alongside).
    println("== chore family (per-store metadata passes) ==")
    println(f"${"scale"}%5s ${"stores"}%7s ${"snaps"}%6s ${"wals"}%5s " +
      f"${"chore sec"}%10s ${"metrics sec"}%12s ${"cleaners sec"}%13s ${"ms/store"}%9s")
    for (sc <- Seq(1, 10, 100)) {
      val root = java.nio.file.Files.createTempDirectory(s"soakchore$sc").toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val nStores = sc * 20
      val cellsOf = (i: Int, f: Int) => (0 until 8).iterator.map { r =>
        graft.codec.HFileV3.HCell(f"r$i%05d-$r%02d".getBytes, "d".getBytes,
          "q".getBytes, f.toLong + 1, 4.toByte, s"v$r".getBytes)
      }
      (0 until nStores).foreach { i =>
        val dir = new org.apache.hadoop.fs.Path(
          s"$root/data/t${i % 7}/r$i/d")
        fs.mkdirs(dir)
        (0 until 2).foreach { f =>
          val out = fs.create(
            new org.apache.hadoop.fs.Path(dir, f"part-$f%05d.hfile"), true)
          try out.write(graft.codec.HFileV3.writeBytes(cellsOf(i, f)))
          finally out.close()
        }
      }
      val nSnaps = sc * 40
      (0 until nSnaps).foreach { i =>
        val p = new org.apache.hadoop.fs.Path(
          s"$root/snaps/s$i/.snapshotinfo")
        val out = fs.create(p, true)
        // half the snapshots expired (ttl 1s, created at epoch)
        try out.write(
          s"created=1000;ttl=${if (i % 2 == 0) 1 else 0}".getBytes("UTF-8"))
        finally out.close()
      }
      val nWals = sc * 40
      (0 until nWals).foreach { i =>
        val out = fs.create(new org.apache.hadoop.fs.Path(
          f"$root%s/wals/wal-$i%05d.pwal"), true)
        try out.write(1) finally out.close()
      }
      val now = System.currentTimeMillis()
      val storeDirs = (0 until nStores)
        .map(i => s"$root/data/t${i % 7}/r$i/d")
      val t0 = System.nanoTime()
      val verdicts = storeDirs.map(d =>
        graft.flow.Compactions.compactionChore(spark, d, now))
      val choreSec = (System.nanoTime() - t0) / 1e9
      require(verdicts.forall(_ == "clean"), "watch pass must not rewrite")
      meter.reset()
      val t1 = System.nanoTime()
      val nRows = graft.admin.GAdmin.clusterMetrics(spark, root).count()
      val metricsSec = (System.nanoTime() - t1) / 1e9
      require(nRows == nStores.toLong, s"metrics rows $nRows != $nStores")
      val shuf = meter.snapshot().map(_._2).sum
      require(shuf == 0L, s"metrics sweep must not shuffle ($shuf B)")
      val t2 = System.nanoTime()
      val dropped = graft.admin.GAdmin.cleanupSnapshots(
        spark, s"$root/snaps", now = now)
      val reaped = graft.flow.PWalFiles.cleanupWals(spark, s"$root/wals",
        ttlMillis = 1, now = now + 600000,
        shippedThrough = Some(f"wal-${nWals / 2}%05d.pwal"))
      val cleanSec = (System.nanoTime() - t2) / 1e9
      require(dropped.size == nSnaps / 2 && reaped.size == nWals / 2 + 1,
        s"cleaner census drifted: ${dropped.size}/${reaped.size}")
      println(f"$sc%5d $nStores%7d $nSnaps%6d $nWals%5d $choreSec%10.2f " +
        f"$metricsSec%12.2f $cleanSec%13.2f ${choreSec * 1000 / nStores}%9.1f")
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
    }

    spark.stop()
  }
}
