package graft

import org.apache.spark.sql.functions._

import graft.ext.{Pipeline, TokenizerStore}

/** Round-17 soak, wave 2: the three pipeline families no prior sf10
  * wave measured, at 5k/50k/500k docs (the 100×-replicated perturbed
  * corpus of the r16 waves), one shot each:
  *
  *  1. decontamination — broadcast form (e20) AND the bloom-prescreen
  *     form (e75, the unbroadcastable-bench path);
  *  2. PII scrub (e19) — pure map-side regex, expected flat;
  *  3. tokenizer encode-from-store (e71) — artifact built once on the
  *     5k base, then pure map-side encode at every scale.
  *
  * Run: `sbt -batch "Test/runMain graft.ScaleSoakR17b"`.
  */
object ScaleSoakR17b {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val sf = "/root/testdata/sf0.1"

    val docs = graft.model.Tables.load(spark, s"$sf/documents.parquet")
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

    println(f"${"family"}%-18s ${"scale"}%5s ${"docs"}%8s ${"sec"}%8s " +
      f"${"sec/10k"}%8s ${"out"}%10s")
    // tokenizer artifact: built ONCE on the base corpus (the 100 TB
    // shape — train on a slice, encode everything)
    val tokDir = java.nio.file.Files
      .createTempDirectory("soaktok17").toString
    TokenizerStore.build(docs, tokDir)

    for (scale <- Seq(1, 10, 100)) {
      val c = corpus(scale).persist()
      val n = c.count()
      // every 97th doc is "benchmark" — a bounded eval suite whose
      // size still grows with the corpus
      val benchPred = abs(hash(col("doc_id"))) % 97 === 0

      val (dSec, dOut) = t {
        Pipeline.decontaminate(c, benchPred).count() }
      println(f"${"decon_bcast"}%-18s $scale%5d $n%8d $dSec%8.2f " +
        f"${dSec * 1e4 / n}%8.3f $dOut%10d")

      val (bSec, bOut) = t {
        Pipeline.decontaminateBloom(c, benchPred).count() }
      println(f"${"decon_bloom"}%-18s $scale%5d $n%8d $bSec%8.2f " +
        f"${bSec * 1e4 / n}%8.3f $bOut%10d")

      val (pSec, pOut) = t {
        Pipeline.piiScrub(c, "doc_id", "text")
          .agg(count(lit(1))).head().getLong(0) }
      println(f"${"pii_scrub"}%-18s $scale%5d $n%8d $pSec%8.2f " +
        f"${pSec * 1e4 / n}%8.3f $pOut%10d")

      val (eSec, eOut) = t {
        TokenizerStore.encode(spark, tokDir, c)
          .agg(count(lit(1))).head().getLong(0) }
      println(f"${"encode_store"}%-18s $scale%5d $n%8d $eSec%8.2f " +
        f"${eSec * 1e4 / n}%8.3f $eOut%10d")

      c.unpersist()
    }
    spark.stop()
  }
}
