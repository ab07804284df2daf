package graft

import org.apache.spark.sql.functions._

import graft.ext.{AnnIndex, Pipeline}
import graft.read.Resolve

/** Round-17 soak: the two declared-path changes of the round at sf10
  * scale, one shot each at 1×/10×/100×:
  *
  *  1. `Resolve.latest` with the size-derived shuffle-partition hedge
  *     (r16 measured 0.57→0.99 s/1M at 75M cells from spill through
  *     the fixed-32-partition window exchange; the hedge sizes that
  *     one exchange off the input estimate — target: flat ≤0.65 s/1M
  *     at 75M);
  *  2. the e50 ANN index build with the quantizer trained on the
  *     deterministic 10% hashSample (vs the full corpus — r16's
  *     full-train build was 39.6 s at 200k vectors; sample-training
  *     cuts the k-means passes ~10× while coding still covers all).
  *
  * Run: `sbt -batch "Test/runMain graft.ScaleSoakR17"`.
  */
object ScaleSoakR17 {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val sf = "/root/testdata/sf0.1"

    // ---- 1. resolve with the sized-exchange hedge ------------------
    println(f"${"path"}%-16s ${"scale"}%5s ${"cells"}%9s ${"sec"}%8s " +
      f"${"sec/1M"}%8s ${"parts"}%6s")
    for (scale <- Seq(1, 10, 100)) {
      val base = graft.model.Fixtures.cellsOrders(spark, sf)
      val cells = (
        if (scale == 1) base
        else (0 until scale).map(i => base.withColumn("row",
          concat(format_string("%03d", lit(i)), col("row"))))
          .reduce(_ unionByName _)
        ).persist()
      val n = cells.count()
      val parts = Resolve.sizedShufflePartitions(cells)
      val t0 = System.nanoTime()
      val out = Resolve.latest(cells).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"${"resolve"}%-16s $scale%5d $n%9d $sec%8.2f " +
        f"${sec * 1e6 / n}%8.3f ${parts.getOrElse(32)}%6d")
      require(out > 0)
      cells.unpersist()
    }

    // ---- 2. sample-trained vs full-trained ANN index build ---------
    val emb = graft.model.Tables.load(spark, s"$sf/embeddings.parquet")
    def embCorpus(scale: Int) = (0 until scale).map { i =>
      emb.select(
        (col("vec_id") + lit(i.toLong * 10_000_000L)).as("vec_id"),
        transform(col("embedding"), (x, idx) =>
          x + when(idx === lit(i % 64),
            lit(0.05f * (i % 7))).otherwise(lit(0.0f))).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)

    println("\n== ANN index build: full-train vs 10% hashSample train ==")
    println(f"${"mode"}%-12s ${"scale"}%5s ${"vecs"}%8s " +
      f"${"build sec"}%10s ${"probe sec"}%10s ${"rows"}%6s")
    for (scale <- Seq(10, 100)) {
      val c = embCorpus(scale).persist()
      val n = c.count()
      for (mode <- Seq("full", "sample")) {
        val idx = java.nio.file.Files
          .createTempDirectory(s"soakann17$mode$scale").toString
        graft.ext.Similarity.invalidateIvfCache()
        val train =
          if (mode == "full") None
          else Some(Pipeline.hashSample(c, 0.1, idCol = "vec_id",
            salt = "annTrain"))
        val t0 = System.nanoTime()
        AnnIndex.build(c, idx, nlist = 64, trainOn = train)
        val buildSec = (System.nanoTime() - t0) / 1e9
        val queries = c.filter(col("vec_id") < 100)
        val t1 = System.nanoTime()
        val rows = AnnIndex.query(spark, idx, queries, k = 5).count()
        val probeSec = (System.nanoTime() - t1) / 1e9
        println(f"$mode%-12s $scale%5d $n%8d $buildSec%10.2f " +
          f"$probeSec%10.2f $rows%6d")
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(idx))
      }
      c.unpersist()
    }
    spark.stop()
  }
}
