package graft

import org.apache.spark.sql.functions._

import graft.ext.{AnnIndex, Dedup}

/** Round-16 soak: the three flagship scale paths ONCE at a real SF —
  * sf10-equivalent corpora built by replicating sf0.1 100× with
  * per-replica perturbation (documents get a replica token every 4
  * words so replicas are NOT near-dups — the trigram shingles break —
  * and embeddings get a replica-keyed dimension shift so directions
  * spread), per the r15 verdict's ask: the cheapest way to catch a
  * constant the toy soaks hide (JIT budgets, broadcast limits, driver
  * frames).
  *
  *  1. capped-LSH text dedup (Dedup.minHashNearDups maxBucket=64) at
  *     5k / 50k / 500k docs — sec/10k-docs must stay ~flat;
  *  2. ANN IVF,SQ8 durable index build + probed query at 2k / 20k /
  *     200k vectors (nlist 64, the 100 TB list-size shape);
  *  3. sync-replication dual-write + full remote replay at 1× / 10× /
  *     100× of the sf0.1 event cells — per-unit cost must fall
  *     (job-setup floor amortizes) with exact replay at every scale.
  *
  * Run: `sbt -batch "Test/runMain graft.ScaleSoakR16"`; results table
  * goes to dev/PLANS.md.
  */
object ScaleSoakR16 {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()

    val sf = "/root/testdata/sf0.1"

    // ---- 1. capped text LSH at sf10 scale --------------------------
    val docs = graft.model.Tables.load(spark, s"$sf/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
    def docCorpus(scale: Int) = (0 until scale).map { i =>
      docs.select(concat(lit(s"s$i-"), col("doc_id")).as("doc_id"),
        // a replica token every 4 words: every trigram shingle window
        // near a token differs across replicas, so replication adds
        // corpus VOLUME, not near-dup clusters
        if (i == 0) col("text")
        else regexp_replace(col("text"),
          "((\\S+\\s+){4})", s"$$1zrep$i ").as("text"))
    }.reduce(_ unionByName _)

    println("== capped text LSH (maxBucket=64) at sf10 scale ==")
    println(f"${"scale"}%5s ${"docs"}%8s ${"pairs"}%10s ${"sec"}%8s " +
      f"${"sec/10k docs"}%13s")
    for (scale <- Seq(1, 10, 100)) {
      val c = docCorpus(scale).persist()
      val n = c.count()
      val t0 = System.nanoTime()
      val pairs = Dedup.minHashNearDups(c, k = 16, bands = 4,
        threshold = 0.8, maxBucket = 64).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$scale%5d $n%8d $pairs%10d $sec%8.2f " +
        f"${sec * 1e4 / n}%13.3f")
      c.unpersist()
    }

    // ---- 2. ANN IVF,SQ8 durable index at sf10 scale ----------------
    val emb = graft.model.Tables.load(spark, s"$sf/embeddings.parquet")
    def embCorpus(scale: Int) = (0 until scale).map { i =>
      emb.select(
        (col("vec_id") + lit(i.toLong * 10_000_000L)).as("vec_id"),
        // replica-keyed shift on one dimension: directions spread
        // instead of collapsing into 100-way duplicates
        transform(col("embedding"), (x, idx) =>
          x + when(idx === lit(i % 64),
            lit(0.05f * (i % 7))).otherwise(lit(0.0f))).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)

    println("\n== ANN IVF,SQ8 index (nlist=64, nprobe=4) at sf10 scale ==")
    println(f"${"scale"}%5s ${"vecs"}%8s ${"build sec"}%10s " +
      f"${"probe sec"}%10s ${"rows"}%6s")
    for (scale <- Seq(1, 10, 100)) {
      val c = embCorpus(scale).persist()
      val n = c.count()
      val idx = java.nio.file.Files
        .createTempDirectory(s"soakann$scale").toString
      val t0 = System.nanoTime()
      AnnIndex.build(c, idx, nlist = 64)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val queries = c.filter(col("vec_id") < 100)
      val t1 = System.nanoTime()
      val rows = AnnIndex.query(spark, idx, queries, k = 5).count()
      val probeSec = (System.nanoTime() - t1) / 1e9
      println(f"$scale%5d $n%8d $buildSec%10.2f $probeSec%10.2f $rows%6d")
      c.unpersist()
    }

    // ---- 3. sync-replication dual-write at sf10 scale --------------
    import org.apache.spark.sql.expressions.Window
    import graft.stream.SyncReplication
    import graft.stream.SyncReplication._
    println("\n== sync replication dual-write + full replay at sf10 scale ==")
    println(f"${"scale"}%5s ${"cells"}%9s ${"dual sec"}%9s " +
      f"${"ms/10k cells"}%13s ${"replay ok"}%10s ${"replay sec"}%11s")
    for (sc <- Seq(1, 10, 100)) {
      val base = graft.model.Fixtures.cellsEventsV(spark, sf)
        .withColumn("value", coalesce(col("value"), lit("")))
      val cells =
        if (sc == 1) base
        else (0 until sc).map(i => base.withColumn("row",
          concat(format_string("%03d", lit(i)), col("row"))))
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
      val root = java.nio.file.Files
        .createTempDirectory(s"soaksync$sc").toString
      val peer = SyncPeer("p1", s"$root/remote", Active)
      val t0 = System.nanoTime()
      SyncReplication.dualWrite(peer, entries, s"$root/local")
      val sec = (System.nanoTime() - t0) / 1e9
      val da = peer.copy(state = DowngradeActive)
      val t1 = System.nanoTime()
      val replayed = (0 until 32).map(i =>
        SyncReplication.syncUpReplay(spark, da, f"r$i%02d", 0L).count()).sum
      val rsec = (System.nanoTime() - t1) / 1e9
      println(f"$sc%5d $n%9d $sec%9.2f ${sec * 1e4 * 1000 / n}%13.1f " +
        f"${replayed == n}%10s $rsec%11.2f")
      entries.unpersist()
      // reclaim the multi-GB logs before the next leg
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(root))
    }
    spark.stop()
  }
}
