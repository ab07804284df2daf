package graft

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Round-15 soak: the TEXT MinHash LSH hot-bucket cap (the r14
  * perceptual soak's twin — `Dedup.capTextBuckets`). An adversarial
  * low-entropy corpus plants one boilerplate text across a fraction of
  * the docs: every copy shares EVERY band signature, so one bucket of
  * size h contributes h²/2 candidate pairs with both shingle arrays
  * attached — the uncapped self-join goes quadratic on a data shape,
  * not a plan. The metered claim: uncapped cost explodes with the hot
  * bucket (run at small scale only), the capped form stays flat per
  * unit through 16× while still finding every NORMAL near-dup pair
  * (declared e02/e80 semantics are untouched — the cap is the opt-in
  * 100 TB form).
  * Run: `sbt -batch "Test/runMain graft.ScaleSoakR15"`; results table
  * goes to dev/PLANS.md.
  */
object ScaleSoakR15 {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val docs = graft.model.Tables.load(
      spark, "/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))

    val boiler = "cookie banner accept all rights reserved navigation " +
      "menu home about contact privacy policy terms of service"

    def corpus(scale: Int) = {
      val base = (0 until scale).map(i =>
        docs.select(concat(lit(s"s$i-"), col("doc_id")).as("doc_id"),
          col("text"))).reduce(_ unionByName _)
      // 30% of docs replaced by the SAME boilerplate text: one hot
      // (band, sig) bucket per band holding 0.3n members
      base.withColumn("text",
        when(abs(hash(col("doc_id"))) % 10 < 3, lit(boiler))
          .otherwise(col("text")))
    }

    println("== text LSH: uncapped vs capped (maxBucket=64) ==")
    println(f"${"scale"}%5s ${"docs"}%8s ${"mode"}%9s ${"pairs"}%10s " +
      f"${"sec"}%8s ${"sec/10k docs"}%13s")
    for ((scale, modes) <- Seq(1 -> Seq("uncapped", "capped"),
        4 -> Seq("uncapped", "capped"), 16 -> Seq("uncapped", "capped"),
        64 -> Seq("capped"))) {
      val c = corpus(scale).persist()
      val n = c.count()
      for (mode <- modes) {
        val cap = if (mode == "capped") 64 else 0
        val t0 = System.nanoTime()
        val pairs = Dedup.minHashNearDups(c, k = 16, bands = 4,
          threshold = 0.8, maxBucket = cap).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"$scale%5d $n%8d $mode%9s $pairs%10d $sec%8.2f " +
          f"${sec * 1e4 / n}%13.3f")
      }
      c.unpersist()
    }

    // sync-replication dual-write (q117's engine): ONE region-keyed
    // shuffle, the PB log encoded once and byte-teed to two
    // filesystems — per-unit cost must FALL with scale (job-setup
    // floor amortizes), and the remote replay must reproduce every
    // entry at every scale
    println("\n== sync replication dual-write (DualAsyncFSWAL twin) ==")
    println(f"${"scale"}%5s ${"cells"}%9s ${"dual sec"}%9s " +
      f"${"ms/10k cells"}%13s ${"replay ok"}%10s")
    for (sc <- Seq(1, 4, 16)) {
      import org.apache.spark.sql.expressions.Window
      import graft.stream.SyncReplication
      import graft.stream.SyncReplication._
      val base = graft.model.Fixtures.cellsEventsV(spark, "/root/testdata/sf0.01")
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
      val root = java.nio.file.Files.createTempDirectory(s"soaksync$sc").toString
      val peer = SyncPeer("p1", s"$root/remote", Active)
      val t0 = System.nanoTime()
      SyncReplication.dualWrite(peer, entries, s"$root/local")
      val sec = (System.nanoTime() - t0) / 1e9
      val da = peer.copy(state = DowngradeActive)
      val replayed = (0 until 32).map(i =>
        SyncReplication.syncUpReplay(spark, da, f"r$i%02d", 0L).count()).sum
      println(f"$sc%5d $n%9d $sec%9.2f ${sec * 1e4 * 1000 / n}%13.1f " +
        f"${replayed == n}%10s")
      entries.unpersist()
    }

    // semantics guard: on a NORMAL corpus (no hot bucket) the capped
    // and uncapped forms return identical pairs
    val normal = docs.limit(2000).persist()
    normal.count()
    val un = Dedup.minHashNearDups(normal, 16, 4, 0.8)
      .select("i", "j").as[(String, String)].collect().toSet
    val cp = Dedup.minHashNearDups(normal, 16, 4, 0.8, maxBucket = 64)
      .select("i", "j").as[(String, String)].collect().toSet
    println(s"\nnormal-corpus parity: uncapped=${un.size} capped=${cp.size} " +
      s"equal=${un == cp}")
    normal.unpersist()
    spark.stop()
  }
}
