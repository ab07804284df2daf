package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× scale smoke for the round-5 operators (dev/PLANS.md table):
  * id-shifted ×10 replication of the sf0.1 events cell store, timing
  * the scoped/gated resolves against the plain resolve, plus hb-mode
  * encode throughput over lineitem. Run:
  * `sbt "Test/runMain graft.ScaleSmoke10x"` (32 threads, Bench config).
  */
object ScaleSmoke10x {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val dir = "/root/testdata/sf0.1"

    val base = graft.model.Fixtures.cellsEventsV(spark, dir)
    val x10 = (0 until 10).map(i =>
        base.withColumn("row", concat(lit(i.toString), col("row"))))
      .reduce(_ unionByName _)
      .withColumn("vis",
        when(col("ts") % 3 === 0, "public").when(col("ts") % 3 === 1, "a&b"))
      .withColumn("acl",
        when((col("ts") + length(col("row"))) % 2 === 0, "alice:R"))
      .repartition(32, col("row")).persist()
    val n = x10.count()
    println(s"store: $n cells (10x)")

    def runCount(name: String, df: => DataFrame): Unit = {
      val (c, s) = time(df.count())
      println(f"$name%-28s $s%6.2f s   ($c rows)")
    }

    import graft.read.Resolve
    runCount("resolve plain", Resolve.latest(x10, maxVersions = 2))
    runCount("resolve vis-scoped",
      Resolve.latest(x10, maxVersions = 2, visScope = Some("vis")))
    runCount("resolve acl-gated",
      Resolve.latest(x10, maxVersions = 2, cellFilter =
        Some(graft.functions.AclFunctions.acl_check(col("acl"), "alice"))))

    val l = graft.model.Tables.load(spark, s"$dir/lineitem.parquet")
    val l10 = (0 until 10).map(i =>
        l.withColumn("l_orderkey", col("l_orderkey") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
    import graft.codec.CodecFunctions._
    runCount("hb-encode 3-col key 10x",
      l10.select(concat(
        ordered_encode_hb(col("l_returnflag")),
        ordered_encode_hb(col("l_extendedprice"), desc = true),
        ordered_encode_hb(col("l_orderkey"))).as("k"))
        .filter(length(col("k")) > 0))
    runCount("graft-encode 3-col key 10x",
      l10.select(concat(
        ordered_encode(col("l_returnflag")),
        ordered_encode(col("l_extendedprice"), desc = true),
        ordered_encode(col("l_orderkey"))).as("k"))
        .filter(length(col("k")) > 0))

    // e35/e36 shapes (round-5 late additions): 10× the documents table
    val d = graft.model.Tables.load(spark, s"$dir/documents.parquet")
    val d10 = (0 until 10).map(i =>
        d.withColumn("doc_id", col("doc_id") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
    runCount("chunkDocs 64/48 10x docs",
      graft.ext.Pipeline.chunkDocs(d10, width = 64, stride = 48))
    runCount("urlDedup 10x docs", {
      val url = format_string(
        "HTTPS://WWW.%s.Example.COM:443/p/%d/?utm_source=s%d&id=%d",
        col("source"), pmod(col("doc_id"), lit(25)),
        pmod(col("doc_id"), lit(3)), pmod(col("doc_id"), lit(100)))
      graft.ext.Pipeline.urlDedup(d10.withColumn("url", url), col("url"))
    })

    // e37/e38/e39 shapes (round-6 additions) over the ×10 documents
    runCount("tfidfTopTerms 10x docs",
      graft.ext.TextAnalysis.tfidfTopTerms(d10, k = 3))
    runCount("pplBuckets thresholds 10x docs",
      // the 100 TB path: sampled cutoffs, map-side bucketing
      graft.ext.TextAnalysis.pplBuckets(d10, thresholds = Some((-7.0, -7.5))))
    runCount("canonicalKeep 10x docs",
      graft.ext.Dedup.canonicalKeep(d10))
    runCount("gopherRules 10x docs",
      graft.ext.TextAnalysis.gopherRules(d10))
    runCount("corpusReport 10x docs",
      graft.ext.TextAnalysis.corpusReport(d10))
    runCount("sourceOverlap 10x docs",
      graft.ext.Dedup.sourceOverlapMatrix(d10))

    // e46/e48/e49 shapes (round-7 additions): ×10 the embeddings table
    // (id-shifted copies — ANN scans/windows see 10× candidate volume)
    val e = graft.model.Tables.load(spark, s"$dir/embeddings.parquet")
    val e10 = (0 until 10).map(i =>
        e.withColumn("vec_id", col("vec_id") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
    runCount("annSq8TopK 10x vecs",
      graft.ext.Similarity.annSq8TopK(e10, col("vec_id") < 10, k = 5))
    runCount("annPqTopK 10x vecs (incl train)",
      graft.ext.Similarity.annPqTopK(e10, col("vec_id") < 10, k = 5))
    runCount("annPqTopK 10x vecs (warm index)",
      graft.ext.Similarity.annPqTopK(e10, col("vec_id") < 10, k = 5))
    runCount("clusterBalancedSample 10x vecs",
      graft.ext.Similarity.clusterBalancedSample(e10, cap = 20))

    // e56-e69 shapes (round-9 additions) over the ×10 docs/vecs
    runCount("bpeMerges 3 rounds 10x docs",
      graft.ext.TextAnalysis.bpeMerges(d10, rounds = 3))
    runCount("bpeEncode 10x docs",
      graft.ext.TextAnalysis.bpeEncode(d10, rounds = 3))
    runCount("vocabCoverage 10x docs",
      graft.ext.TextAnalysis.vocabCoverage(d10))
    runCount("dsirSample 10x docs",
      graft.ext.Pipeline.dsirSample(d10, col("source") === "src0"))
    runCount("noveltyScore 10x docs",
      graft.ext.TextAnalysis.noveltyScore(d10))
    runCount("windowPpl 10x docs",
      graft.ext.TextAnalysis.windowPpl(d10))
    runCount("memorizedSpans 10x docs",
      graft.ext.Dedup.memorizedSpans(d10))
    runCount("ccnetVerdict 10x docs",
      graft.ext.Pipeline.ccnetVerdict(d10))
    runCount("imageHash 10x docs (encode+decode)",
      graft.ext.Multimodal.imageFeatures(
        graft.ext.Multimodal.ingestPng(d10)).toDF())
    runCount("marginMine 10x vecs",
      graft.ext.Similarity.marginMine(e10,
        col("vec_id") % 2 === 0 && col("vec_id") < 40, col("vec_id") % 2 === 1))
    runCount("clusterCards 10x (docs x vecs)",
      // d10/e10 ids are shifted identically, so members stay aligned
      graft.ext.Similarity.clusterCards(e10, d10))
    runCount("uncertaintySample 10x vecs",
      graft.ext.Similarity.uncertaintySample(e10, col("vec_id") % 20 === 1))
    runCount("temperatureMix 10x docs",
      graft.ext.Pipeline.temperatureMix(d10, alpha = 0.5))

    // q81 shape: RMW post-images over the ×10 events stream
    val ev = graft.model.Fixtures.events(spark, dir)
    val ev10 = (0 until 10).map(i =>
        ev.withColumn("user_id", col("user_id") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
    runCount("rmwReturning 10x events",
      graft.write.Mutations.rmwReturning(ev10, Seq(col("user_id")),
        col("value"), col("event_type"), Seq(col("ts"), col("event_id"))))

    // e75 shape: per-train verdicts against a bounded eval slice — the
    // output must scale with the TRAIN side only (eval stays broadcast)
    runCount("embedDecontam 10x vecs",
      graft.ext.Similarity.embedDecontam(e10, col("vec_id") % 17 === 3))

    // q79 shape: serial apply over the ×10 store with a conflicting resend
    runCount("serialApply 10x store", {
      val wal = x10.withColumn("seq", col("ts") * 10 + 1)
      val resend = wal
        .filter(col("type") === "Put" && col("qualifier") === "event_type")
        .withColumn("seq", col("seq") + 5)
        .withColumn("value", concat(lit("v2:"), col("value")))
      graft.stream.WalStream.applyBatch(wal.unionByName(resend),
        seqCol = Some("seq"))
    })

    spark.stop()
  }
}
