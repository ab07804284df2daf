package graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{AnnIndex, Dedup, DedupIndex, Multimodal, Pipeline, Similarity, TextAnalysis, TokenizerStore}
import graft.flow.{Compactions, HFiles, PWalFiles, RegionRefs, SnapshotShip, StripeStore, WalRecovery}
import graft.model.{Fixtures, Tables}
import graft.read.Resolve
import graft.stream.{SyncReplication, WalStream}

/** The scale harness: a registry of named families, each a fixture, a
  * scale ladder, an input builder and timed steps, and one runner that
  * replicates, times, meters and reports them all alike. A stage whose
  * shuffle grows faster than its input is the scale hazard it hunts
  * (candidate-pair blow-ups, single-partition windows).
  *
  * Per family and scale the runner builds the input, persists and
  * counts it before any timer starts (it measures the operator over a
  * stored table, not the replication), then runs each step: its setup
  * untimed, its body timed and metered. Every step prints one row:
  * family/step, scale, input rows, output count, seconds, seconds per
  * 1M input rows, shuffle-write MB, largest-stage shuffle-write MB and
  * spill bytes. A failed check or a thrown step is a failure named by
  * family, step and scale; it ends that family's scale and the run
  * exits non-zero.
  *
  * Run: `sbt "Test/runMain graft.Scale [family-prefix…]"` (every family
  * when no prefix is given). */
object Scale {

  /** A step's view of one family at one scale: the persisted input, its
    * row count, the fixture directory and a scratch directory the runner
    * deletes afterwards. */
  final class Run private[Scale] (val spark: SparkSession, val data: String,
      val scale: Int, val in: DataFrame, val inRows: Long, val scratch: String,
      meter: StageMeter) {
    lazy val fs = new Path(scratch).getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** Fails the step, saying what does not hold. */
    def check(ok: Boolean, what: => String): Unit =
      if (!ok) throw new CheckFailed(what)

    /** Shuffle bytes written so far in the timed body. */
    def shuffleSoFar: Long = meter.snapshot(spark).map(_._1).sum

    /** Files under `dir`, recursively. */
    def filesUnder(dir: String): Long = {
      val it = fs.listFiles(new Path(dir), true)
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
  }

  final class CheckFailed(what: String) extends RuntimeException(what)

  /** A step: `setup` runs untimed, then `body` is timed and metered and
    * returns its output count (rows, or files for a step that writes
    * store files). `upTo` is the largest scale the step runs at. */
  final case class Step(name: String, body: Run => Long,
      setup: Run => Unit = _ => (), upTo: Int = Int.MaxValue)

  /** A family: `input(spark, data, scale)` builds the input from the
    * fixture directory `data` (the synthetic families ignore it). */
  final case class Family(name: String, data: String, scales: Seq[Int],
      input: (SparkSession, String, Int) => DataFrame, steps: Step*)

  /** A step counting the rows of `op` over the input. */
  private def rows(name: String, upTo: Int = Int.MaxValue)(op: DataFrame => DataFrame): Step =
    Step(name, r => op(r.in).count(), upTo = upTo)

  /** Per-stage shuffle-write and spill bytes. Listener events arrive
    * late, so a snapshot first runs a marker job and waits for its end:
    * every stage that finished before it has been delivered by then. */
  final class StageMeter extends SparkListener {
    private val stages = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    private val markerStages = scala.collection.mutable.Set.empty[Int]
    private var markerJobs = Set.empty[Int]
    @volatile private var markersEnded = 0
    private var markersRun = 0

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(StageMeter.Marker) != null)) {
        markerJobs += e.jobId
        markerStages ++= e.stageIds
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val m = s.stageInfo.taskMetrics
      if (!markerStages(s.stageInfo.stageId))
        stages += ((m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (markerJobs(e.jobId)) markersEnded += 1
    }

    def reset(spark: SparkSession): Unit = { drain(spark); synchronized(stages.clear()) }

    /** (shuffle-write, spill) bytes of every stage since the reset. */
    def snapshot(spark: SparkSession): Seq[(Long, Long)] = {
      drain(spark)
      synchronized(stages.toSeq)
    }

    private def drain(spark: SparkSession): Unit = {
      val sc = spark.sparkContext
      sc.setLocalProperty(StageMeter.Marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(StageMeter.Marker, null)
      markersRun += 1
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (markersEnded < markersRun && System.nanoTime() < deadline) Thread.sleep(5)
    }
  }
  private object StageMeter { val Marker = "graft.scale.marker" }

  /** `k` replicas of `base`, each row carrying its replica id `rep`
    * (a crossJoin with a replica range: a k-way union self-joins into a
    * 2k-leg plan Catalyst takes minutes to codegen). */
  private def replicate(base: DataFrame, k: Int): DataFrame =
    base.crossJoin(base.sparkSession.range(k).select(col("id").as("rep")))

  /** Cells with each replica's rows prefixed by its id in `fmt`, so
    * replicas are distinct keys; scale 1 is the base store itself. */
  private def prefixRows(cells: DataFrame, k: Int, fmt: String): DataFrame =
    if (k == 1) cells
    else replicate(cells, k)
      .withColumn("row", concat(format_string(fmt, col("rep")), col("row"))).drop("rep")

  /** `table`'s replicas with `idCol` shifted by `step` per replica. */
  private def offsetIds(spark: SparkSession, data: String, table: String, k: Int,
      idCol: String, step: Long): DataFrame =
    replicate(Tables.load(spark, s"$data/$table.parquet"), k)
      .withColumn(idCol, col(idCol) + col("rep") * lit(step)).drop("rep")

  private def mb(b: Long) = b / 1048576.0

  /** Run `families` at their own ladders over their own fixtures, or at
    * `scales` over `data` where given. Prints one row per step and scale
    * and returns the failures, each named `family/step @ scale`. */
  def run(spark: SparkSession, families: Seq[Family], data: Option[String] = None,
      scales: Option[Seq[Int]] = None): Seq[String] = {
    val meter = new StageMeter
    spark.sparkContext.addSparkListener(meter)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    println(f"${"family/step"}%-38s ${"scale"}%5s ${"in_rows"}%10s ${"out"}%10s " +
      f"${"sec"}%8s ${"s/1M in"}%9s ${"shufW MB"}%9s ${"maxStgW MB"}%10s ${"spill B"}%12s")
    try for (f <- families; sc <- scales.getOrElse(f.scales)) {
      val scratch = java.nio.file.Files.createTempDirectory(s"scale-${f.name}-").toString
      var in: DataFrame = null
      var at = "input"
      try {
        val dir = data.getOrElse(f.data)
        in = f.input(spark, dir, sc).persist()
        val r = new Run(spark, dir, sc, in, in.count(), scratch, meter)
        for (s <- f.steps if sc <= s.upTo) {
          at = s.name
          s.setup(r)
          meter.reset(spark)
          val t0 = System.nanoTime()
          val out = s.body(r)
          val secs = (System.nanoTime() - t0) / 1e9
          val st = meter.snapshot(spark)
          val w = st.map(_._1)
          println(f"${s"${f.name}/${s.name}"}%-38s $sc%5d ${r.inRows}%10d $out%10d " +
            f"$secs%8.2f ${secs * 1e6 / math.max(r.inRows, 1L)}%9.3f ${mb(w.sum)}%9.1f " +
            f"${mb(w.maxOption.getOrElse(0L))}%10.1f ${st.map(_._2).sum}%12d")
        }
      } catch {
        case NonFatal(e) =>
          val why = e match {
            case c: CheckFailed => c.getMessage
            case _ => s"${e.getClass.getSimpleName}: ${e.getMessage}"
          }
          failures += s"${f.name}/$at @ ${sc}x: $why"
          println(s"FAIL ${failures.last}")
      } finally {
        if (in != null) in.unpersist()
        Queries.deleteTree(java.nio.file.Paths.get(scratch))
      }
    } finally spark.sparkContext.removeSparkListener(meter)
    failures.toSeq
  }

  private val TestData = "/root/testdata"
  private val Sf01 = s"$TestData/sf0.1"
  private val Sf001 = s"$TestData/sf0.01"

  // ---- input builders ----------------------------------------------

  /** Synthetic single-column cells `r%09d` with a 40-byte value. */
  private def synthCells(spark: SparkSession, rows: Long): DataFrame =
    spark.range(rows).select(format_string("r%09d", col("id")).as("row"),
      lit("d").as("family"), lit("q").as("qualifier"), lit(0L).as("ts"),
      lit("Put").as("type"), concat(lit("v"), col("id"), lit("-" * 40)).as("value"))

  /** Replica-disjoint documents: every token and id carries the replica,
    * so dup groups and retrieval matches never straddle replicas. */
  private def disjointDocs(spark: SparkSession, data: String, k: Int): DataFrame =
    replicate(Tables.load(spark, s"$data/documents.parquet"), k)
      .select((col("doc_id") + col("rep") * lit(10000000L)).as("doc_id"),
        regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1x"), col("rep"))).as("text"),
        col("source"), col("lang"))

  /** String-id documents `s<rep>-<id>`; replicas past the first get a
    * replica token every 4 words, so they add volume, not near-dups. */
  private def tokenDocs(spark: SparkSession, data: String, k: Int): DataFrame =
    replicate(Tables.load(spark, s"$data/documents.parquet"), k)
      .select(concat(lit("s"), col("rep"), lit("-"), col("doc_id").cast("string")).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(regexp_replace(col("text"),
          lit("((\\S+\\s+){4})"), concat(lit("$1zrep"), col("rep"), lit(" ")))).as("text"))

  /** Embeddings with one replica-keyed dimension shifted, so directions
    * spread instead of collapsing into duplicates. */
  private def shiftedVecs(spark: SparkSession, data: String, k: Int): DataFrame =
    replicate(Tables.load(spark, s"$data/embeddings.parquet"), k)
      .select((col("vec_id") + col("rep") * lit(10000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) => x + when(i === pmod(col("rep"), lit(64)),
          (pmod(col("rep"), lit(7)) * lit(0.05f)).cast("float")).otherwise(lit(0.0f)))
          .as("embedding"),
        col("label"))

  /** Event cells as WAL entries over 32 regions, sequenced per region. */
  private def walEntries(spark: SparkSession, data: String, k: Int, fmt: String): DataFrame = {
    val cells = prefixRows(Fixtures.cellsEventsV(spark, data)
      .withColumn("value", coalesce(col("value"), lit(""))), k, fmt)
    val uid = abs(hash(col("row"))).cast("long")
    cells
      .withColumn("wal_region", concat(lit("r"), lpad((uid % 32).cast("string"), 2, "0")))
      .withColumn("wal_table", lit("events"))
      .withColumn("wal_seq", dense_rank().over(
        Window.partitionBy(col("wal_region")).orderBy(col("ts"), col("row"))).cast("long"))
      .withColumn("write_time", col("ts"))
  }

  // ---- shared steps --------------------------------------------------

  private def regions = 0 until 32

  private val walSteps = Seq(
    Step("wal-split", r => {
      WalRecovery.splitWal(r.spark, r.in, s"${r.scratch}/recovered")
      r.filesUnder(s"${r.scratch}/recovered")
    }),
    Step("wal-replay", r => {
      val n = regions.map(i => WalRecovery.replayRecoveredEdits(
        r.spark, s"${r.scratch}/recovered", f"r$i%02d", 0L).count()).sum
      r.check(n == r.inRows, s"replay restored $n of ${r.inRows} entries")
      n
    }))

  private def syncPeer(r: Run) =
    SyncReplication.SyncPeer("p1", s"${r.scratch}/remote", SyncReplication.Active)

  private val syncSteps = Seq(
    Step("dual-write", r => {
      SyncReplication.dualWrite(syncPeer(r), r.in, s"${r.scratch}/local")
      r.filesUnder(s"${r.scratch}/local")
    }),
    Step("sync-replay", r => {
      val peer = syncPeer(r).copy(state = SyncReplication.DowngradeActive)
      val n = regions.map(i =>
        SyncReplication.syncUpReplay(r.spark, peer, f"r$i%02d", 0L).count()).sum
      r.check(n == r.inRows, s"remote replay restored $n of ${r.inRows} entries")
      n
    }))

  private def annSteps(mode: String) = {
    val idx = (r: Run) => s"${r.scratch}/ann-$mode"
    Seq(
      Step(s"build-$mode", r => {
        Similarity.invalidateIvfCache()
        val train =
          if (mode == "full") None
          else Some(Pipeline.hashSample(r.in, 0.1, idCol = "vec_id", salt = "annTrain"))
        AnnIndex.build(r.in, idx(r), nlist = 64, trainOn = train)
        r.filesUnder(idx(r))
      }),
      Step(s"probe-$mode", r =>
        AnnIndex.query(r.spark, idx(r), r.in.filter(col("vec_id") < 100), k = 5).count()))
  }

  /** Compaction chore fixtures: `stores` flat stores of two 8-cell
    * files (below minFiles: the chore's watch pass), twice as many
    * snapshot markers (half expired) and rolled WAL segments. */
  private def fabricateChoreRoot(r: Run): Unit = {
    val stores = r.inRows.toInt
    for (i <- 0 until stores; f <- 0 until 2) {
      val cells = (0 until 8).iterator.map(row => graft.codec.HFileV3.HCell(
        f"r$i%05d-$row%02d".getBytes, "d".getBytes, "q".getBytes, f.toLong + 1, 4.toByte,
        s"v$row".getBytes))
      val out = r.fs.create(new Path(f"${r.scratch}/data/t${i % 7}/r$i/d/part-$f%05d.hfile"), true)
      try out.write(graft.codec.HFileV3.writeBytes(cells)) finally out.close()
    }
    for (i <- 0 until 2 * stores) {
      val snap = r.fs.create(new Path(s"${r.scratch}/snaps/s$i/.snapshotinfo"), true)
      try snap.write(s"created=1000;ttl=${if (i % 2 == 0) 1 else 0}".getBytes("UTF-8"))
      finally snap.close()
      val wal = r.fs.create(new Path(f"${r.scratch}/wals/wal-$i%05d.pwal"), true)
      try wal.write(1) finally wal.close()
    }
  }

  // ---- the registry --------------------------------------------------

  val families: Seq[Family] = Seq(
    // round-5..9 ×10 smokes: the ext kernels and store paths at 10× sf0.1
    Family("events-resolve", Sf01, Seq(10),
      (s, d, k) => prefixRows(Fixtures.cellsEventsV(s, d), k, "%d")
        .withColumn("vis", when(col("ts") % 3 === 0, "public").when(col("ts") % 3 === 1, "a&b"))
        .withColumn("acl", when((col("ts") + length(col("row"))) % 2 === 0, "alice:R"))
        .repartition(32, col("row")),
      rows("resolve-plain")(Resolve.latest(_, maxVersions = 2)),
      rows("resolve-vis-scoped")(Resolve.latest(_, maxVersions = 2, visScope = Some("vis"))),
      rows("resolve-acl-gated")(Resolve.latest(_, maxVersions = 2, cellFilter =
        Some(graft.functions.AclFunctions.acl_check(col("acl"), "alice")))),
      rows("serial-apply") { in =>
        val wal = in.withColumn("seq", col("ts") * 10 + 1)
        val resend = wal.filter(col("type") === "Put" && col("qualifier") === "event_type")
          .withColumn("seq", col("seq") + 5).withColumn("value", concat(lit("v2:"), col("value")))
        WalStream.applyBatch(wal.unionByName(resend), seqCol = Some("seq"))
      }),
    Family("lineitem-encode", Sf01, Seq(10),
      (s, d, k) => offsetIds(s, d, "lineitem", k, "l_orderkey", 10000000L),
      rows("hb-encode") { l =>
        import graft.codec.CodecFunctions.ordered_encode_hb
        l.select(concat(ordered_encode_hb(col("l_returnflag")),
          ordered_encode_hb(col("l_extendedprice"), desc = true),
          ordered_encode_hb(col("l_orderkey"))).as("k")).filter(length(col("k")) > 0)
      },
      rows("graft-encode") { l =>
        import graft.codec.CodecFunctions.ordered_encode
        l.select(concat(ordered_encode(col("l_returnflag")),
          ordered_encode(col("l_extendedprice"), desc = true),
          ordered_encode(col("l_orderkey"))).as("k")).filter(length(col("k")) > 0)
      }),
    Family("docs-ext", Sf01, Seq(10),
      (s, d, k) => offsetIds(s, d, "documents", k, "doc_id", 10000000L),
      rows("chunk-docs")(Pipeline.chunkDocs(_, width = 64, stride = 48)),
      rows("url-dedup") { d =>
        val url = format_string("HTTPS://WWW.%s.Example.COM:443/p/%d/?utm_source=s%d&id=%d",
          col("source"), pmod(col("doc_id"), lit(25)), pmod(col("doc_id"), lit(3)),
          pmod(col("doc_id"), lit(100)))
        Pipeline.urlDedup(d.withColumn("url", url), col("url"))
      },
      rows("tfidf-top-terms")(TextAnalysis.tfidfTopTerms(_, k = 3)),
      rows("ppl-buckets")(TextAnalysis.pplBuckets(_, thresholds = Some((-7.0, -7.5)))),
      rows("canonical-keep")(Dedup.canonicalKeep(_)),
      rows("gopher-rules")(TextAnalysis.gopherRules(_)),
      rows("corpus-report")(TextAnalysis.corpusReport(_)),
      rows("source-overlap")(Dedup.sourceOverlapMatrix(_)),
      rows("bpe-merges")(TextAnalysis.bpeMerges(_, rounds = 3)),
      rows("bpe-encode")(TextAnalysis.bpeEncode(_, rounds = 3)),
      rows("vocab-coverage")(TextAnalysis.vocabCoverage(_)),
      rows("dsir-sample")(Pipeline.dsirSample(_, col("source") === "src0")),
      rows("novelty-score")(TextAnalysis.noveltyScore(_)),
      rows("window-ppl")(TextAnalysis.windowPpl(_)),
      rows("memorized-spans")(Dedup.memorizedSpans(_)),
      rows("ccnet-verdict")(Pipeline.ccnetVerdict(_)),
      rows("image-hash")(d => Multimodal.imageFeatures(Multimodal.ingestPng(d)).toDF()),
      rows("temperature-mix")(Pipeline.temperatureMix(_, alpha = 0.5))),
    Family("vecs-ext", Sf01, Seq(10),
      (s, d, k) => offsetIds(s, d, "embeddings", k, "vec_id", 10000000L),
      rows("ann-sq8-topk")(Similarity.annSq8TopK(_, col("vec_id") < 10, k = 5)),
      rows("ann-pq-topk-train")(Similarity.annPqTopK(_, col("vec_id") < 10, k = 5)),
      rows("ann-pq-topk-warm")(Similarity.annPqTopK(_, col("vec_id") < 10, k = 5)),
      rows("cluster-balanced-sample")(Similarity.clusterBalancedSample(_, cap = 20)),
      rows("margin-mine")(e => Similarity.marginMine(e,
        col("vec_id") % 2 === 0 && col("vec_id") < 40, col("vec_id") % 2 === 1)),
      // the docs replicas shift ids like the vectors, so members align
      Step("cluster-cards", r => Similarity.clusterCards(r.in,
        offsetIds(r.spark, r.data, "documents", r.scale, "doc_id", 10000000L)).count()),
      rows("uncertainty-sample")(Similarity.uncertaintySample(_, col("vec_id") % 20 === 1)),
      rows("embed-decontam")(Similarity.embedDecontam(_, col("vec_id") % 17 === 3))),
    Family("events-rmw", Sf01, Seq(10),
      (s, d, k) => replicate(Fixtures.events(s, d), k)
        .withColumn("user_id", col("user_id") + col("rep") * lit(10000000L)).drop("rep"),
      rows("rmw-returning")(ev => graft.write.Mutations.rmwReturning(ev, Seq(col("user_id")),
        col("value"), col("event_type"), Seq(col("ts"), col("event_id"))))),
    // query slices stay fixed while the corpus scales: cost must be corpus-linear
    Family("retrieval-docs", Sf01, Seq(10),
      (s, d, k) => offsetIds(s, d, "documents", k, "doc_id", 1000000L),
      rows("bm25-topk")(TextAnalysis.bm25TopK(_, col("doc_id") % 5000 === 0)),
      Step("rrf-fuse", r => Similarity.rrfFuse(r.in,
        offsetIds(r.spark, r.data, "embeddings", r.scale, "vec_id", 1000000L),
        col("doc_id") % 5000 === 0, col("vec_id") % 5000 === 0).count())),
    Family("retrieval-vecs", Sf01, Seq(10),
      (s, d, k) => offsetIds(s, d, "embeddings", k, "vec_id", 1000000L),
      rows("retrieval-ndcg")(Similarity.retrievalNdcg(_, col("vec_id") % 5000 === 0))),
    // store-file formats at 10×: per-file parallelism, no driver bottleneck
    Family("store-formats", Sf01, Seq(10),
      (s, d, k) => prefixRows(Fixtures.cellsOrders(s, d), k, "%d"),
      Step("export-none", r => {
        HFiles.export(r.in, 32, s"${r.scratch}/none")
        r.filesUnder(s"${r.scratch}/none")
      }),
      Step("export-fast-diff-zstd", r => {
        HFiles.export(r.in, 32, s"${r.scratch}/fdz",
          encoding = graft.codec.BlockEncoding.IdFastDiff,
          compression = graft.codec.HFileV3.CompressionZstd)
        r.filesUnder(s"${r.scratch}/fdz")
      }),
      Step("import-none", r => HFiles.importCells(r.spark, s"${r.scratch}/none").count()),
      Step("import-fast-diff-zstd", r => HFiles.importCells(r.spark, s"${r.scratch}/fdz").count()),
      Step("pwal-export", r => {
        PWalFiles.export(r.in, 32, s"${r.scratch}/wals")
        r.filesUnder(s"${r.scratch}/wals")
      }),
      Step("pwal-import", r => PWalFiles.importEntries(r.spark, s"${r.scratch}/wals").count()),
      Step("snapshot-export", r => {
        SnapshotShip.exportSnapshot(r.in, 32, s"${r.scratch}/ship", "snapX", "scale")
        r.filesUnder(s"${r.scratch}/ship")
      }),
      Step("snapshot-split", r => {
        SnapshotShip.splitSnapshot(r.spark, s"${r.scratch}/ship", "snapX", "snapY")
        r.filesUnder(s"${r.scratch}/ship")
      }),
      Step("snapshot-import", r =>
        SnapshotShip.importSnapshot(r.spark, s"${r.scratch}/ship", "snapY").count())),
    // round-11 1/10/100 soak over sf0.1
    Family("chain-verify", Sf01, Seq(1, 10, 100),
      (s, _, k) => replicate(Fixtures.chain(s), k)
        .select((col("id") + col("rep") * lit(100000L)).as("id"),
          (col("prev") + col("rep") * lit(100000L)).as("prev")),
      rows("broken-links") { c =>
        c.filter(col("prev").isNotNull)
          .join(c.select(col("id").as("pid")), col("prev") === col("pid"), "left_anti")
      }),
    Family("docs-disjoint", Sf01, Seq(1, 10, 100), disjointDocs,
      rows("minhash-near-dups")(Dedup.minHashNearDups(_)),
      rows("bm25-topk")(TextAnalysis.bm25TopK(_, col("doc_id") % 50 === 0, k = 5))),
    // the synthetic fingerprints cluster: uncapped candidates grow
    // quadratically, so only the capped form runs at 100×
    Family("audio-dup", Sf01, Seq(1, 10, 100),
      (s, d, k) => Multimodal.ingestWavDup(disjointDocs(s, d, k)),
      Step("uncapped", r => countUnpersist(Multimodal.audioNearDup(r.in)), upTo = 10),
      Step("cap-64", r => countUnpersist(Multimodal.audioNearDup(r.in, maxBucket = 64)))),
    Family("video-dup", Sf01, Seq(1, 10),
      (s, d, k) => Multimodal.ingestAviDup(disjointDocs(s, d, k)),
      Step("near-dup", r => countUnpersist(Multimodal.videoNearDup(r.in)))),
    // driver metadata passes per store: flat per store, and nothing shuffles
    Family("chores", Sf01, Seq(1, 10, 100), (s, _, k) => s.range(20L * k).toDF("store"),
      Step("compaction-chore", r => {
        val now = System.currentTimeMillis()
        val verdicts = (0 until r.inRows.toInt).map(i =>
          Compactions.compactionChore(r.spark, s"${r.scratch}/data/t${i % 7}/r$i/d", now))
        r.check(verdicts.forall(_ == "clean"),
          s"watch pass rewrote: ${verdicts.filter(_ != "clean").distinct.mkString(",")}")
        verdicts.size.toLong
      }, setup = fabricateChoreRoot),
      Step("cluster-metrics", r => {
        // an RDD count: a frame's count() adds its own one-row-per-partition exchange
        val n = graft.admin.GAdmin.clusterMetrics(r.spark, r.scratch).rdd.count()
        r.check(n == r.inRows, s"metrics rows $n != ${r.inRows} stores")
        r.check(r.shuffleSoFar == 0L, s"metrics sweep shuffled ${r.shuffleSoFar} B")
        n
      }),
      Step("cleaners", r => {
        val now = System.currentTimeMillis()
        val snaps = 2 * r.inRows.toInt
        val dropped = graft.admin.GAdmin.cleanupSnapshots(r.spark, s"${r.scratch}/snaps", now = now)
        val reaped = PWalFiles.cleanupWals(r.spark, s"${r.scratch}/wals", ttlMillis = 1,
          now = now + 600000, shippedThrough = Some(f"wal-${snaps / 2}%05d.pwal"))
        r.check(dropped.size == snaps / 2 && reaped.size == snaps / 2 + 1,
          s"cleaners dropped ${dropped.size} snapshots and ${reaped.size} WALs")
        (dropped.size + reaped.size).toLong
      })),
    // round-12 store maintenance at 1/4/16 × 20k synthetic rows
    Family("dt-compact", "", Seq(1, 4, 16), (s, _, k) => synthCells(s, 20000L * k),
      Step("major-compact", r => {
        Compactions.dateTieredMajorCompact(r.spark, s"${r.scratch}/store",
          Compactions.DtKnobs(baseWindowMillis = 3000, windowsPerTier = 2,
            maxTierAgeMillis = 1000000, incomingWindowMin = 3, maxStoreFileAgeMillis = 1000000),
          now = 13000L)
        r.filesUnder(s"${r.scratch}/store")
      }, setup = r => (1 to 12).foreach { i =>
        HFiles.export(r.in.withColumn("ts", lit(i * 1000L)), 1, s"${r.scratch}/f$i")
        r.fs.rename(new Path(s"${r.scratch}/f$i/part-00000.hfile"),
          new Path(f"${r.scratch}/store/part-$i%05d.hfile"))
      }),
      Step("read-back", r => HFiles.importCells(r.spark, s"${r.scratch}/store").count())),
    Family("stripe-boundary", "", Seq(1, 4, 16), (s, _, k) => synthCells(s, 20000L * k),
      Step("boundary-compact", r => {
        StripeStore.stripeCompact(r.spark, s"${r.scratch}/store", stripeKnobs, now = 100L)
        r.filesUnder(s"${r.scratch}/store")
      }, setup = r => {
        val flush = (ts: Long) =>
          StripeStore.stripeFlush(r.in.withColumn("ts", lit(ts)), s"${r.scratch}/store")
        (1 to 3).foreach(i => flush(i.toLong))
        StripeStore.stripeCompact(r.spark, s"${r.scratch}/store", stripeKnobs, now = 100L)
        (4 to 6).foreach(i => flush(i.toLong))
      }),
      Step("read-back", r =>
        HFiles.importCells(r.spark, s"${r.scratch}/store", "{l0,stripe}-*.hfile").count())),
    Family("audio-bands", "", Seq(1, 4, 16),
      (s, _, k) => Multimodal.ingestWavDup(s.range(500L * k).toDF("doc_id")),
      Step("near-dup", r => countUnpersist(Multimodal.audioNearDup(r.in)))),
    Family("pwal-stream", "", Seq(1, 4, 16), (s, _, k) => synthCells(s, 20000L * k),
      Step("stream", r => {
        val stream = PWalFiles.streamEntries(r.spark, s"${r.scratch}/wals", maxFilesPerTrigger = 8)
          .select("row", "family", "qualifier", "ts", "type", "value")
        WalStream.runAvailableNow(stream, s"scale_pwal_${r.scale}", mode = "append").count()
      }, setup = r => PWalFiles.export(r.in, 8, s"${r.scratch}/wals"))),
    // round-14: the metadata-only split vs the materializing one
    Family("region-split", Sf001, Seq(1, 4, 16),
      (s, d, k) => prefixRows(Fixtures.cellsOrders(s, d), k, "%02d"),
      Step("reference-split", r => {
        r.check(RegionRefs.splitRegion(r.spark, s"${r.scratch}/t", "p1", "d1", "d2").nonEmpty,
          "no split row")
        r.filesUnder(s"${r.scratch}/t/d1") + r.filesUnder(s"${r.scratch}/t/d2")
      }, setup = r => HFiles.export(r.in, 1, s"${r.scratch}/t/p1/d", blockSize = 65536)),
      Step("materializing-split", r => {
        graft.admin.GAdmin.splitRegionStore(r.spark, s"${r.scratch}/t/p1/d",
          s"${r.scratch}/matbot", s"${r.scratch}/mattop")
        r.filesUnder(s"${r.scratch}/matbot") + r.filesUnder(s"${r.scratch}/mattop")
      }),
      Step("read-through", r => {
        val n = Seq("d1", "d2").map(RegionRefs.importStore(r.spark, s"${r.scratch}/t", _).count()).sum
        r.check(n == r.inRows, s"daughters read $n of ${r.inRows} cells")
        n
      }),
      Step("janitor", r => {
        Seq("d1", "d2").foreach(RegionRefs.compactRefs(r.spark, s"${r.scratch}/t", _))
        RegionRefs.catalogJanitor(r.spark, s"${r.scratch}/t", s"${r.scratch}/archive").size.toLong
      })),
    // WAL split (one region-keyed shuffle) and sync-replication dual-write
    Family("wal-entries", Sf001, Seq(1, 4, 16), (s, d, k) => walEntries(s, d, k, "%02d"),
      walSteps ++ syncSteps: _*),
    // round-15: a boilerplate text planted in 30% of the docs makes one hot
    // bucket per band; uncapped is quadratic, capped must stay flat
    Family("text-lsh-hot", Sf001, Seq(1, 4, 16, 64),
      (s, d, k) => replicate(Tables.load(s, s"$d/documents.parquet"), k)
        .select(concat(lit("s"), col("rep"), lit("-"), col("doc_id").cast("string")).as("doc_id"),
          col("text"))
        .withColumn("text", when(abs(hash(col("doc_id"))) % 10 < 3, lit(HotText))
          .otherwise(col("text"))),
      rows("uncapped", upTo = 16)(Dedup.minHashNearDups(_, k = 16, bands = 4, threshold = 0.8)),
      rows("cap-64")(Dedup.minHashNearDups(_, k = 16, bands = 4, threshold = 0.8, maxBucket = 64))),
    // with no hot bucket the cap must not change a single pair
    Family("lsh-parity", Sf001, Seq(1),
      (s, d, _) => Tables.load(s, s"$d/documents.parquet")
        .select(col("doc_id").cast("string").as("doc_id"), col("text")).limit(2000),
      Step("capped-equals-uncapped", r => {
        def pairs(cap: Int) = Dedup.minHashNearDups(r.in, k = 16, bands = 4, threshold = 0.8,
          maxBucket = cap).select("i", "j").collect().map(p => (p.getString(0), p.getString(1))).toSet
        val (un, cp) = (pairs(0), pairs(64))
        r.check(un == cp, s"capped ${cp.size} pairs != uncapped ${un.size}")
        un.size.toLong
      })),
    // rounds 16-17: the text stack once at sf10 (sf0.1 × 100)
    Family("docs-token", Sf01, Seq(1, 10, 100), tokenDocs,
      rows("lsh-cap-64")(Dedup.minHashNearDups(_, k = 16, bands = 4, threshold = 0.8,
        maxBucket = 64)),
      rows("bm25-topk")(TextAnalysis.bm25TopK(_,
        col("doc_id").endsWith("-1") && col("doc_id").startsWith("s0-"), nQueryTerms = 6, k = 10)),
      rows("bpe-train")(TextAnalysis.bpeMerges(_, rounds = 3)),
      Step("dedup-index-build", r => {
        DedupIndex.build(r.in, s"scale_dix_${r.scale}", s"${r.scratch}/dix", k = 16, bands = 4,
          buckets = 32)
        r.filesUnder(s"${r.scratch}/dix")
      }),
      Step("dedup-index-query-5k", r => {
        val batch = Tables.load(r.spark, s"${r.data}/documents.parquet").limit(5000)
          .select(concat(lit("q-"), col("doc_id").cast("string")).as("doc_id"), col("text"))
        try DedupIndex.query(r.spark, s"scale_dix_${r.scale}", batch, k = 16, bands = 4,
          threshold = 0.8).count()
        finally r.spark.sql(s"DROP TABLE IF EXISTS scale_dix_${r.scale}")
      }),
      rows("boilerplate-purge")(Dedup.boilerplatePurge(_, width = 20, minDocs = 3)),
      rows("decontam-broadcast")(Pipeline.decontaminate(_, abs(hash(col("doc_id"))) % 97 === 0)),
      rows("decontam-bloom")(Pipeline.decontaminateBloom(_, abs(hash(col("doc_id"))) % 97 === 0)),
      rows("pii-scrub")(Pipeline.piiScrub(_, "doc_id", "text")),
      // the artifact trains once on the base corpus, then encodes everything
      Step("tokenizer-encode",
        r => TokenizerStore.encode(r.spark, s"${r.scratch}/tok", r.in).count(),
        setup = r => TokenizerStore.build(tokenDocs(r.spark, r.data, 1), s"${r.scratch}/tok"))),
    // the synthetic corpus is low-entropy: uncapped simhash buckets go
    // quadratic, so only the capped form runs past 4×
    Family("docs-simhash", Sf01, Seq(1, 4, 10, 100), tokenDocs,
      rows("simhash-uncapped", upTo = 4)(Dedup.simHashNearDups(_, maxHamming = 3)),
      rows("simhash-cap-64")(Dedup.simHashNearDups(_, maxHamming = 3, maxBucket = 64)),
      rows("segment-dedup")(Dedup.segmentDedup(_, width = 20))),
    Family("sync-replication", Sf01, Seq(1, 10, 100), (s, d, k) => walEntries(s, d, k, "%03d"),
      syncSteps: _*),
    // IVF,SQ8 durable index (nlist 64): quantizer trained on all vectors
    // or on the deterministic 10% hashSample
    Family("ann-index", Sf01, Seq(1, 10, 100), shiftedVecs,
      annSteps("full") ++ annSteps("sample"): _*),
    // the store substrate: region export, one region's read-back, resolve
    Family("cells-store", Sf01, Seq(1, 10, 100),
      (s, d, k) => prefixRows(Fixtures.cellsOrders(s, d), k, "%03d"),
      Step("export-regions", r => {
        HFiles.exportRegions(r.in.withColumn("rr", (abs(hash(col("row"))) % 32).cast("int")),
          "rr", s"${r.scratch}/store", i => f"r$i%02d/part-00000.hfile")
        r.filesUnder(s"${r.scratch}/store")
      }),
      Step("import-one-region", r => HFiles.importCells(r.spark, s"${r.scratch}/store/r00").count()),
      Step("resolve", r => {
        val n = Resolve.latest(r.in).count()
        r.check(n > 0, "resolve returned no rows")
        n
      })))

  private val HotText = "cookie banner accept all rights reserved navigation " +
    "menu home about contact privacy policy terms of service"

  private def stripeKnobs = StripeStore.SKnobs(l0MinFiles = 3, minFiles = 12,
    initialCount = 8, sizeToSplit = Long.MaxValue / 4)

  /** The near-dup kernels return a persisted frame; count it and free it. */
  private def countUnpersist(out: DataFrame): Long =
    try out.count() finally out.unpersist(blocking = false)

  def main(args: Array[String]): Unit = {
    val picked = families.filter(f => args.isEmpty || args.exists(f.name.startsWith))
    if (picked.isEmpty) {
      System.err.println(s"no family matches ${args.mkString(" ")}; families: " +
        families.map(_.name).mkString(" "))
      sys.exit(2)
    }
    val spark = GraftSession.local()
    val failures = try run(spark, picked) finally spark.stop()
    println(s"${failures.size} failure(s)" + failures.map("\n  " + _).mkString)
    if (failures.nonEmpty) sys.exit(1)
  }
}
