package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× scale smoke for the round-7 additions (dev/PLANS.md table):
  * ×10 id-shifted documents/embeddings replicas driving bm25 / RRF /
  * nDCG, and a ×10 cells-orders HFile export+import roundtrip. Run:
  * `sbt "Test/runMain graft.ScaleSmokeR7"` (32 threads, Bench config).
  */
object ScaleSmokeR7 {

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
      println(f"$name%-28s $s%6.2f s   ($c rows)")
    }

    val docs = graft.model.Tables.load(spark, s"$dir/documents.parquet")
    val docs10 = (0 until 10).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _).persist()
    println(s"docs10: ${docs10.count()} rows")

    val emb = graft.model.Tables.load(spark, s"$dir/embeddings.parquet")
    val emb10 = (0 until 10).map(i =>
        emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _).persist()
    println(s"emb10: ${emb10.count()} rows")

    import graft.ext.{Similarity, TextAnalysis}
    // query slices stay FIXED-size while the corpus scales 10× — the
    // contract under audit is corpus-linear cost
    runCount("bm25TopK x10 docs",
      TextAnalysis.bm25TopK(docs10, col("doc_id") % 5000 === 0))
    runCount("rrfFuse x10",
      Similarity.rrfFuse(docs10, emb10,
        col("doc_id") % 5000 === 0, col("vec_id") % 5000 === 0))
    runCount("retrievalNdcg x10 vecs",
      Similarity.retrievalNdcg(emb10, col("vec_id") % 5000 === 0))

    val cells = graft.model.Fixtures.cellsOrders(spark, dir)
    val cells10 = (0 until 10).map(i =>
        cells.withColumn("row", concat(lit(i.toString), col("row"))))
      .reduce(_ unionByName _)
    val out = Queries.scratchDir("smoke_hfile_x10")
    val (_, tExp) = time(graft.flow.HFiles.export(cells10, 32, s"$out/hf"))
    println(f"hfile export x10 cells      $tExp%6.2f s")
    runCount("hfile import x10",
      graft.flow.HFiles.importCells(spark, s"$out/hf"))

    spark.stop()
  }
}
