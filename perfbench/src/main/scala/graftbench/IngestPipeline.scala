package graftbench

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, TextAnalysis}

/** The LLM-data-pipeline operators over generated documents (with seeded
  * near-duplicate copies) and clustered embedding vectors: MinHash-LSH
  * near-dup detection, brute-force and IVF cosine top-k, and BM25 top-k.
  * Executor-CPU bound; the dedup candidate volume follows the duplicate
  * rate. */
final class ExtOps(args: Args) {
  import ReadMix.collectOp

  /** Documents per source, in source order (source ids are 0-based). */
  private val perSource: Array[Long] = Inputs.longs(args, "sources.txt")
  private val nDocs: Long = perSource.sum
  private val nVecs: Long = Inputs.lines(args, "vectors.txt").head.trim.toLong
  private var docsPath: String = _
  private var embPath: String = _

  private def spark = org.apache.spark.sql.SparkSession.active
  private def docs: DataFrame = spark.read.parquet(docsPath)
  private def emb: DataFrame = spark.read.parquet(embPath)

  def setup(env: Env): Unit = {
    docsPath = s"${env.inputs}/documents.parquet"
    embPath = s"${env.inputs}/embeddings.parquet"
    // the IVF coarse quantizer is trained once per corpus and cached by
    // the engine: an index build, so it belongs to setup
    env.phase("materialize") {
      Similarity.annIvfTopK(emb, col("vec_id") === -1L, 1, ExtOps.NList,
        ExtOps.NProbe).collect()
    }
  }

  private def queries(rng: Random, n: Int, domain: Long): Seq[Long] =
    Seq.fill(n)((rng.nextDouble() * domain).toLong).distinct.sorted

  def op(kind: String, rng: Random): Op = kind match {
    case "ext.dedup" =>
      // half of the sources, so every dedup op scans a similar share
      val s = rng.shuffle((0 until perSource.length).toList).take(perSource.length / 2).sorted
      val items = s.map(perSource(_)).sum
      collectOp("ext.dedup", Json.obj("sources" -> s), () =>
        Dedup.minHashNearDups(docs.filter(col("source").isin(s.map(i => s"s$i"): _*)))
          .orderBy("i", "j"), items)
    case "ext.ann_topk" =>
      val q = queries(rng, 8, nVecs)
      collectOp("ext.ann_topk", Json.obj("queries" -> q, "k" -> 10), () =>
        Similarity.annIvfTopK(emb, col("vec_id").isin(q: _*), 10, ExtOps.NList,
          ExtOps.NProbe).orderBy("query_id", "rank"), nVecs)
    case "ext.brute_topk" =>
      val q = queries(rng, 8, nVecs)
      collectOp("ext.brute_topk", Json.obj("queries" -> q, "k" -> 10), () =>
        Similarity.bruteTopK(emb, col("vec_id").isin(q: _*), 10).orderBy("query_id", "rank"),
        nVecs)
    case "ext.bm25" =>
      val q = queries(rng, 5, nDocs)
      collectOp("ext.bm25", Json.obj("queries" -> q, "k" -> 5), () =>
        TextAnalysis.bm25TopK(docs, col("doc_id").isin(q: _*), 6, 5).orderBy("query_id", "rank"),
        nDocs)
  }

  /** Candidate pairs the LSH band join produced, and the share of them the
    * exact Jaccard check kept. */
  def extras(traced: Seq[Rec]): Seq[(String, Double)] = {
    val ds = traced.filter(r => r.ok && r.kind == "ext.dedup")
    if (ds.isEmpty) Nil
    else {
      val sources = ds.map(r => "\\d+".r.findAllIn(r.params).map(_.toInt).toSeq)
      val cands = sources.map { s =>
        val bandRows = Dedup.minHashNearDups(docs.filter(col("source").isin(s.map(i => s"s$i"): _*)),
          threshold = 0.0)
        bandRows.count()
      }
      val kept = ds.map(_.out).sum.toDouble
      Seq("ext.dedup.candidate_pairs" -> cands.sum.toDouble / ds.size,
        "ext.dedup.kept_ratio" -> kept / cands.sum.max(1L))
    }
  }
}

object ExtOps {
  val NList = 16
  val NProbe = 4
}

/** Mutation batches and the LLM-pipeline operators in one fixed cycle per
  * batch: commit, replay, two read-your-writes checks and a bulk load, then
  * near-dup detection, IVF and brute-force top-k, and BM25 top-k over the
  * ingested corpus. */
final class IngestPipeline(args: Args) extends Workload {
  private val write = new WriteCdc(args)
  private val ext = new ExtOps(args)
  private var pendingExt: List[String] = Nil

  def setup(env: Env): Unit = {
    write.setup(env)
    ext.setup(env)
    pendingExt = Nil
  }

  def next(rng: Random): Op = pendingExt match {
    case k :: rest =>
      pendingExt = rest
      ext.op(k, rng)
    case Nil =>
      val op = write.next(rng)
      if (write.atCycleStart)
        pendingExt = List("ext.dedup", "ext.ann_topk", "ext.brute_topk", "ext.bm25")
      op
  }

  def atCycleStart: Boolean = pendingExt.isEmpty && write.atCycleStart
  override def confDrift: Int = write.confDrift
  override def extras(traced: Seq[Rec]): Seq[(String, Double)] =
    write.extras(traced) ++ ext.extras(traced)
}
