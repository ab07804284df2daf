package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, DedupIndex, TextAnalysis}

/** Round-16 soak, wave 2: four more pipeline families at the sf10
  * corpus (documents ×100 = 500k docs, same replica-token perturbation
  * as ScaleSoakR16) — the ANN finding (a JIT-budget constant invisible
  * below 100k rows) says the rest of the text stack deserves the same
  * one-shot at-scale look:
  *
  *  1. BM25 top-k (postings-bucketed inverted index);
  *  2. BPE merge training (word-frequency-table trick);
  *  3. durable MinHash dedup index: build + a 5k-doc batch query
  *     (the index scans, the batch broadcasts);
  *  4. boilerplate purge (corpus-frequency segment cleaning).
  *
  * Run: `sbt -batch "Test/runMain graft.ScaleSoakR16b"`; table goes to
  * dev/PLANS.md.
  */
object ScaleSoakR16b {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()

    val docs = graft.model.Tables.load(
        spark, "/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
    def corpus(scale: Int) = (0 until scale).map { i =>
      docs.select(concat(lit(s"s$i-"), col("doc_id")).as("doc_id"),
        if (i == 0) col("text")
        else regexp_replace(col("text"),
          "((\\S+\\s+){4})", s"$$1zrep$i ").as("text"))
    }.reduce(_ unionByName _)

    def t(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }

    println(f"${"family"}%-14s ${"scale"}%5s ${"docs"}%8s ${"sec"}%8s " +
      f"${"sec/10k docs"}%13s ${"rows"}%8s")
    for (scale <- Seq(1, 10, 100)) {
      val c = corpus(scale).persist()
      val n = c.count()

      val (bmSec, bmRows) = t {
        TextAnalysis.bm25TopK(c,
          col("doc_id").endsWith("-1") && col("doc_id").startsWith("s0-"),
          nQueryTerms = 6, k = 10).count()
      }
      println(f"${"bm25"}%-14s $scale%5d $n%8d $bmSec%8.2f " +
        f"${bmSec * 1e4 / n}%13.3f $bmRows%8d")

      val (bpeSec, bpeRows) = t {
        TextAnalysis.bpeMerges(c, rounds = 3).count()
      }
      println(f"${"bpe_train"}%-14s $scale%5d $n%8d $bpeSec%8.2f " +
        f"${bpeSec * 1e4 / n}%13.3f $bpeRows%8d")

      val idx = java.nio.file.Files
        .createTempDirectory(s"soakdix$scale").toString
      val (dixbSec, _) = t {
        DedupIndex.build(c, s"soak_dix_$scale", s"$idx/idx",
          k = 16, bands = 4, buckets = 32)
        0L
      }
      val batch = docs.limit(5000)
        .select(concat(lit("q-"), col("doc_id")).as("doc_id"), col("text"))
      val (dixqSec, dixRows) = t {
        DedupIndex.query(spark, s"soak_dix_$scale", batch,
          k = 16, bands = 4, threshold = 0.8).count()
      }
      println(f"${"dix_build"}%-14s $scale%5d $n%8d $dixbSec%8.2f " +
        f"${dixbSec * 1e4 / n}%13.3f ${0}%8d")
      println(f"${"dix_query5k"}%-14s $scale%5d $n%8d $dixqSec%8.2f " +
        f"${dixqSec * 1e4 / n}%13.3f $dixRows%8d")

      val (bpSec, bpRows) = t {
        Dedup.boilerplatePurge(c, width = 20, minDocs = 3).count()
      }
      println(f"${"boilerplate"}%-14s $scale%5d $n%8d $bpSec%8.2f " +
        f"${bpSec * 1e4 / n}%13.3f $bpRows%8d")

      c.unpersist()
    }
    spark.stop()
  }
}
