package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext._

/** Physical-plan pins for the round-9 operator family — the scale
  * contracts the scaladocs claim, asserted against the actual executed
  * plan strings (the same style as VisibilitySpec's exchange-parity and
  * DedupIndexSpec's no-shuffle pins):
  *   - map-side ops really are exchange-free,
  *   - bounded side tables really broadcast (no sort-merge join ever
  *     lands on a corpus-sized stream against a fixed-size table),
  *   - the one intentionally-flat scan (marginMine's bounded query
  *     broadcast) is the ONLY nested-loop join in its plan.
  */
class PlanShapeSpec extends SparkSpec {

  private lazy val docs =
    graft.model.Tables.load(spark, s"$sf0001/documents.parquet")
  private lazy val emb =
    graft.model.Tables.load(spark, s"$sf0001/embeddings.parquet")

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def count(p: String, token: String): Int =
    token.r.findAllIn(p).length

  // Tables.load adds ONE deliberate REPARTITION_BY_NUM exchange (the
  // documented scan-parallelism repair); map-side contracts therefore
  // pin the OP-induced exchanges — ENSURE_REQUIREMENTS — at zero.
  test("imageFeatures is exchange-free (pure map chain, decode included)") {
    val p = plan(Multimodal.imageFeatures(Multimodal.ingestPng(docs)).toDF())
    assert(count(p, "ENSURE_REQUIREMENTS") === 0, s"unexpected shuffle:\n$p")
  }

  test("audio decode/features/fingerprint are exchange-free map chains") {
    for (df <- Seq(
        Multimodal.audioFeatures(Multimodal.ingestWav(docs)).toDF(),
        Multimodal.audioFingerprint(Multimodal.ingestWav(docs)))) {
      val p = plan(df)
      assert(count(p, "ENSURE_REQUIREMENTS") === 0, s"unexpected shuffle:\n$p")
    }
  }

  test("audioNearDup candidates come from the banded equi-join, never all-pairs") {
    // the persisted result's lineage still carries the join plan; the
    // pin is on the WHOLE tree string (InMemoryRelation prints its
    // cached child), so a cartesian anywhere in the lineage would show
    val out = Multimodal.audioNearDup(Multimodal.ingestWavDup(docs))
    val p = out.queryExecution.withCachedData.toString +
      plan(out)
    assert(count(p, "CartesianProduct") === 0, s"no cartesian:\n$p")
    assert(count(p, "BroadcastNestedLoopJoin") === 0, s"no flat scan:\n$p")
    out.unpersist(blocking = false)
  }

  test("gopher/repetition/token analyses are exchange-free") {
    for (df <- Seq(TextAnalysis.gopherRules(docs),
        TextAnalysis.repetitionSignals(docs), TextAnalysis.tokenStats(docs))) {
      val p = plan(df)
      assert(count(p, "ENSURE_REQUIREMENTS") === 0, s"unexpected shuffle:\n$p")
    }
  }

  test("dsirSample joins the token stream only against broadcasts") {
    val p = plan(Pipeline.dsirSample(docs, col("source") === "src0"))
    assert(count(p, "BroadcastHashJoin") >= 2,
      s"bucket tables must broadcast:\n$p")
    assert(count(p, "SortMergeJoin") === 0,
      s"no corpus-stream sort-merge join:\n$p")
  }

  test("bpeMerges keeps per-round winners as broadcasts") {
    val p = plan(TextAnalysis.bpeMerges(docs, rounds = 2))
    assert(count(p, "BroadcastExchange") >= 1, s"winners must broadcast:\n$p")
    assert(count(p, "SortMergeJoin") === 0, s"no sort-merge join:\n$p")
  }

  test("TokenizerStore.encode is join-free (learned pairs are plan literals)") {
    val dir = java.nio.file.Files.createTempDirectory("bpe_plan").toString
    TokenizerStore.build(docs, dir, rounds = 2)
    val p = plan(TokenizerStore.encode(spark, dir, docs))
    assert(count(p, "Join") === 0, s"no joins in the store-backed encode:\n$p")
    assert(count(p, "BroadcastExchange") === 0, s"no broadcasts either:\n$p")
  }

  test("marginMine's flat scan is its only nested-loop join, derived once") {
    val p = plan(Similarity.marginMine(emb,
      col("vec_id") % 2 === 0 && col("vec_id") < 40, col("vec_id") % 2 === 1))
    assert(count(p, "BroadcastNestedLoopJoin") === 1,
      s"exactly the bounded query×corpus scan:\n$p")
    assert(count(p, "CartesianProduct") === 0, s"no cartesian:\n$p")
    assert(count(p, "SortMergeJoin") === 0,
      s"k-sums ride the rank windows, never a join back:\n$p")
  }

  test("clusterCards broadcasts df/cluster-count tables; no cartesian on the token stream") {
    val p = plan(Similarity.clusterCards(emb, docs))
    assert(count(p, "BroadcastHashJoin") >= 1, s"df table must broadcast:\n$p")
    assert(count(p, "CartesianProduct") === 0, s"no cartesian:\n$p")
    assert(count(p, "SortMergeJoin") === 0, s"no sort-merge join:\n$p")
  }

  test("global top-k operators plan as TakeOrderedAndProject, not a one-partition window") {
    // dsirSample/uncertaintySample/memorizedSpans rank a frame that can
    // be corpus-scale; the plan must bound it with a parallel partial
    // top-k (TakeOrderedAndProject) BEFORE any partition-less rank
    // window — the window may only ever see the ≤k survivors.
    val cases = Seq(
      "e58" -> Pipeline.dsirSample(docs, col("source") === "src0",
        buckets = 256, k = 100),
      "e66" -> Similarity.uncertaintySample(emb, col("vec_id") % 20 === 1),
      "e68" -> Dedup.memorizedSpans(docs))
    import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec,
      GlobalLimitExec, CollectLimitExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    for ((name, df) <- cases) {
      val phys = unwrap(df.queryExecution.executedPlan)
      assert(phys.find(_.isInstanceOf[TakeOrderedAndProjectExec]).isDefined,
        s"$name: expected a parallel partial top-k:\n$phys")
      val unbounded = phys.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
          w.child.find {
            case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
                 _: CollectLimitExec => true
            case _ => false
          }.isEmpty => w
      }
      assert(unbounded.isEmpty,
        s"$name: partition-less window over an unbounded frame:\n$phys")
    }
  }

  test("pplBuckets default plan has no single-partition window") {
    // the r9 verdict's one default-path scale flag: the exact-ntile
    // global sort must be OPT-IN only — the default derives cutoffs
    // with a mergeable approx_percentile and buckets map-side
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    val phys = unwrap(
      TextAnalysis.pplBuckets(docs).queryExecution.executedPlan)
    val unbounded = phys.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(unbounded.isEmpty,
      s"default pplBuckets must not window partition-less:\n$phys")
    // the opt-in exact path IS the one-partition ntile (the oracle twin)
    val exact = unwrap(TextAnalysis.pplBuckets(docs, exactNtile = true)
      .queryExecution.executedPlan)
    assert(exact.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.nonEmpty)
  }

  test("bm25 prunes the postings stream with broadcasts only; no corpus sort-merge") {
    val p = plan(TextAnalysis.bm25TopK(docs, col("doc_id") % 50 === 0))
    assert(count(p, "SortMergeJoin") === 0, s"no corpus-stream sort-merge:\n$p")
    assert(count(p, "BroadcastHashJoin") >= 3,
      s"query terms / queries / df must broadcast:\n$p")
    assert(count(p, "CartesianProduct") === 0, s"no cartesian:\n$p")
  }

  test("rrf fusion windows only the bounded fused lists") {
    val p = plan(Similarity.rrfFuse(docs, emb,
      col("doc_id") % 50 === 0, col("vec_id") % 50 === 0))
    // the one full-outer join runs on (queries × k) frames; the corpus
    // streams must never cartesian beyond bruteTopK's bounded
    // query-broadcast scan
    assert(count(p, "CartesianProduct") === 0, s"no cartesian:\n$p")
    // exactly two bounded nested-loops are by-design: bruteTopK's
    // query-broadcast scan (non-equi self-exclusion) and bm25's 1-row
    // stats cross join
    assert(count(p, "BroadcastNestedLoopJoin") <= 2,
      s"only the two bounded-by-design nested-loops may appear:\n$p")
  }

  test("retrievalNdcg joins label/weight tables as broadcasts") {
    val p = plan(Similarity.retrievalNdcg(emb, col("vec_id") % 50 === 0))
    assert(count(p, "SortMergeJoin") === 0, s"bounded frames must not SMJ:\n$p")
    assert(count(p, "CartesianProduct") === 0, s"no cartesian:\n$p")
  }

  test("windowPpl and noveltyScore never nested-loop or cartesian join") {
    for (df <- Seq(TextAnalysis.windowPpl(docs),
        TextAnalysis.noveltyScore(docs))) {
      val p = plan(df)
      assert(count(p, "CartesianProduct") === 0, s"no cartesian:\n$p")
      assert(count(p, "BroadcastNestedLoopJoin") <= 1,
        s"only the 1-row total may nest:\n$p")
    }
  }

  // The audited single-partition-global-window set: every declared
  // query whose RETURNED plan carries a Window with no partitionSpec,
  // each bounded by construction —
  //   c01/c03/c04/c14: rank-parity checks over the already-sorted
  //     roundtrip output (the declared result IS the ordered census);
  //   e38: quantile thresholds over the k-bucket frame;
  //   e57: the vocab-bounded coverage curve;
  //   e58/e63/e66/e78: rank/pick windows over orderBy+limit survivors
  //     or fixed bucket/judge frames (≤ m rows by the time the window
  //     runs — the scaladocs pin the TakeOrderedAndProject split);
  //   e68: the ≤topN repeated-span survivors;
  //   q104: the store-count-sized hbtop ranking.
  //   q121: the slow-log response rank — input is the per-server rings
  //     (servers × ringSize rows by construction, volume-independent).
  // A NEW name landing here means someone put a potentially
  // corpus-sized global window in a declared query — stop and
  // repartition (or orderBy+limit first) instead of extending the
  // list.
  private val AllowedGlobalWindows: Set[String] = Set(
    "c01_ordered_key_sort", "c03_narrow_types", "c04_hb_layout_sort",
    "c14_hb_narrow_sort", "e38_ppl_buckets", "e57_vocab_coverage",
    "e58_dsir_sample", "e63_ccnet_verdict", "e66_uncertainty",
    "e68_memorized_spans", "e78_retrieval_ndcg", "q104_cluster_metrics",
    "q121_slow_log")

  test("declared queries: the global-window set is pinned exactly") {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // plan-only sweep at the driver's correctness SF (some lifecycle
    // fixtures legitimately need sf0.01's distribution — q101's
    // normalizer plan census): q.fn runs its fixture/lifecycle side
    // effects but the returned frame is PLANNED, never executed
    val offenders = graft.Queries.all.flatMap { q =>
      val wins = q.fn(spark, "/root/testdata/sf0.01")
        .queryExecution.sparkPlan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty =>
            w.getClass.getSimpleName
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
            w.getClass.getSimpleName
        }
      if (wins.nonEmpty) Some(q.name) else None
    }.toSet
    assert(offenders == AllowedGlobalWindows,
      s"global-window set drifted; new: ${(offenders -- AllowedGlobalWindows).toSeq.sorted}, " +
        s"gone: ${(AllowedGlobalWindows -- offenders).toSeq.sorted}")
  }

  // the adaptive plan's current plan: exchanges already inserted
  private def physical(df: DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  // materialized first, as every reader of the store finds it: the
  // cached plan's row-range partitioning is known once it has run
  private lazy val store = {
    val cells = graft.model.Fixtures.cellsOrders(spark, sf0001)
    cells.count()
    cells
  }

  private def shuffles(phys: org.apache.spark.sql.execution.SparkPlan) =
    phys.collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }

  // no mask broadcast, no rank window and no exchange of any kind
  private def assertNoExchange(name: String, df: DataFrame) = {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val phys = physical(df)
    assert(phys.collect { case b: BroadcastExchangeExec => b }.isEmpty,
      s"$name: no broadcast:\n$phys")
    assert(phys.collect { case w: WindowExec => w }.isEmpty, s"$name: no window:\n$phys")
    assert(shuffles(phys).isEmpty, s"$name: no exchange:\n$phys")
    phys
  }

  test("get, scan, raw scan and multiGet plan no exchange over the cell store") {
    // the one-pass resolve groups by row, which the store's row-range
    // layout already satisfies: no mask broadcasts, no rank window. The
    // pass keeps the store's partitions, whose index order is key
    // order, so every forward read sorts locally
    import graft.read.{GScan, GTable, Resolve}
    import spark.implicits._
    assert(Resolve.rowRanged(store) && Resolve.rowRanged(store.filter(col("row") > "0")))
    val range = GScan().withRange("0000000001", "0000000500")
    for ((name, df) <- Seq(
        "get" -> GTable.get(store, "0000000007"),
        "paged get" -> GTable.get(store, "0000000007", GScan(maxResultsPerCf = Some(2))),
        "scan" -> GTable.scan(store, range),
        "raw scan" -> GTable.scan(store, range.copy(raw = true)),
        "multiGet" -> GTable.multiGet(store,
          Seq("0000000007", "0000000123", "0000000456").toDF("row"))))
      assertNoExchange(name, df)
    // the declared reads take GTable's order as it comes: no second,
    // global sort over it
    for (name <- Seq("q01_get", "q02_scan_range", "q03_prefix_scan", "q05_projection", "q50_multi_get")) {
      val phys = assertNoExchange(name, Queries.all.find(_.name == name).get.fn(spark, sf0001))
      assert(phys.collect { case s: org.apache.spark.sql.execution.SortExec if s.global => s }.isEmpty,
        s"$name: no global sort:\n$phys")
    }
  }

  test("a resolved get, scan and multiGet walk the store's InternalRows: no Row encoder round trip") {
    // the pass reads each cell where the plan holds it: no
    // createexternalrow deserializer builds a Row per cell, no
    // getexternalrowfield serializer reads one back
    import org.apache.spark.sql.catalyst.expressions.objects.{CreateExternalRow, GetExternalRowField}
    import org.apache.spark.sql.graft.RowWalkExec
    import graft.read.{GScan, GTable}
    import spark.implicits._
    val range = GScan().withRange("0000000001", "0000000500")
    for ((name, df) <- Seq(
        "get" -> GTable.get(store, "0000000007"),
        "scan" -> GTable.scan(store, range),
        "multiGet" -> GTable.multiGet(store,
          Seq("0000000007", "0000000123", "0000000456").toDF("row")))) {
      val phys = assertNoExchange(name, df)
      val encoded = phys.collect { case p => p.expressions }.flatten.flatMap(_.collect {
        case e @ (_: CreateExternalRow | _: GetExternalRowField) => e.prettyName
      })
      assert(encoded.isEmpty, s"$name: no Row encoder ($encoded):\n$phys")
      assert(phys.collect { case m: RowWalkExec => m }.size === 1, s"$name: one pass:\n$phys")
    }
  }

  test("an SCVF filtered scan over the cell store decides its filter in the pass") {
    // the row filter runs as a per-row program inside the one resolve
    // pass: one walk over the store's partitions, and the store's layout
    // spares every exchange
    import org.apache.spark.sql.graft.RowWalkExec
    import graft.filter.ParseFilter
    import graft.read.{GScan, GTable}
    val range = GScan().withRange("0000000001", "0000000500")
    val scvf = "SingleColumnValueFilter('d', 'o_orderstatus', =, 'binary:F')"
    for ((name, f) <- Seq(
        "SCVF scan" -> scvf,
        "SCVF and per-cell scan" -> s"$scvf AND ValueFilter(=, 'substring:URGENT')",
        "per-cell scan" -> "ValueFilter(=, 'substring:URGENT')")) {
      val phys = assertNoExchange(name, GTable.scanFiltered(store, range, ParseFilter.parse(f)))
      if (name.startsWith("SCVF"))
        assert(phys.collect { case m: RowWalkExec => m }.size === 1, s"$name: one pass:\n$phys")
    }
  }

  test("a reversed scan, or one over a hash-laid-out or unmaterialized copy, plans one range sort") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import graft.read.{GScan, GTable, Resolve}
    val range = GScan().withRange("0000000001", "0000000500")
    val hashed = store.repartition(4, col("row")).persist()
    val unrun = store.repartitionByRange(4, col("row")).persist()
    try {
      hashed.count()
      assert(!Resolve.rowRanged(hashed) && !Resolve.rowRanged(unrun))
      for ((name, df) <- Seq(
          "reversed" -> GTable.scan(store, range.copy(reversed = true)),
          "hash-laid-out" -> GTable.scan(hashed, range),
          "unmaterialized" -> GTable.scan(unrun, range))) {
        val phys = physical(df)
        val ranges = shuffles(phys).filter(_.outputPartitioning.isInstanceOf[RangePartitioning])
        assert(ranges.size === 1, s"$name: exactly the final range sort:\n$phys")
        // the unmaterialized copy reports no layout yet, so the pass
        // takes its one row exchange too
        assert(shuffles(phys).size === (if (name == "unmaterialized") 2 else 1),
          s"$name:\n$phys")
      }
    } finally { hashed.unpersist(); unrun.unpersist() }
  }

  test("sync and verify diffs re-exchange only the row-ranged side on row") {
    // cells_orders_mut stays hash-laid-out: Spark co-partitions no range
    // layout with another child, so each row join re-exchanges its
    // row-ranged side into the hashed side's layout — the digest join
    // the ranged per-row summaries, the sync's divergent-row semi-join
    // the ranged cells. Two ranged sides would re-exchange both.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import graft.flow.Jobs
    val mut = graft.model.Fixtures.cellsOrdersMut(spark, sf0001)
    mut.count()
    def rowExchanges(df: DataFrame) = shuffles(physical(df)).count(_.outputPartitioning match {
      case h: HashPartitioning => h.expressions.map(_.sql) == Seq("row")
      case _ => false
    })
    assert(rowExchanges(Jobs.verifyReplication(store, mut)) === 1)
    assert(rowExchanges(Jobs.syncDiffCounts(store, mut)) === 2)
  }

  test("reads over the hash-laid stores keep their layout, with the spill hedge too") {
    // cells_orders_mut and cells_events_v are hash-laid on row, which
    // already clusters the pass's rows: no exchange and so no adaptive
    // plan, also when the input is large enough for the hedge to size
    // a row exchange
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import graft.read.{GTable, Resolve}
    val mut = graft.model.Fixtures.cellsOrdersMut(spark, sf0001)
    val events = graft.model.Fixtures.cellsEventsV(spark, sf0001)
    mut.count()
    events.count()
    def reads() = Seq(
      "get" -> GTable.get(mut, "0000000007"),
      "latestNvb" -> Resolve.latestNvb(events.withColumn("seq", col("ts"))))
    def assertKept(hedge: String) = for ((name, df) <- reads()) {
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case a: AdaptiveSparkPlanExec => a }.isEmpty, s"$name$hedge: adaptive:\n$plan")
      assert(plan.collect { case e: Exchange => e }.isEmpty, s"$name$hedge: exchange:\n$plan")
    }
    assertKept("")
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
      assert(Resolve.sizedShufflePartitions(mut).isDefined && Resolve.sizedShufflePartitions(events).isDefined)
      assertKept(" (hedged)")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("a Get over unclustered parquet plans exactly one row exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val root = java.nio.file.Files.createTempDirectory("get_plan")
    try {
      val dir = root.resolve("cells").toString
      store.write.parquet(dir)
      val phys = physical(graft.read.GTable.get(spark.read.parquet(dir), "0000000007"))
      val shuffles = phys.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      assert(shuffles.size === 1 && (shuffles.head match {
        case h: HashPartitioning => h.expressions.map(_.sql) == Seq("row")
        case _ => false
      }), s"one hashpartitioning(row) exchange:\n$phys")
    } finally Queries.deleteTree(root)
  }

  test("a Page/WhileMatch-free filter tree of each kind is one pass over the cell store") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.graft.RowWalkExec
    import graft.filter._
    import graft.read.{GScan, GTable}
    val scvf = SingleColumnValueFilter("d", "o_orderstatus", CompareOp.Equal, BinaryComparator("F"))
    val value = ValueFilter(CompareOp.Equal, SubstringComparator("URGENT"))
    val trees = Seq(scvf,
      SingleColumnValueExcludeFilter("d", "o_orderstatus", CompareOp.Equal, BinaryComparator("F")),
      DependentColumnFilter("d", "o_orderstatus"), ColumnCountGetFilter(3),
      ColumnPaginationFilter(2, 1), SkipFilter(value), KeyOnlyFilter(lenAsVal = true),
      FirstKeyOnlyFilter(), FilterList.and(scvf, SkipFilter(value), KeyOnlyFilter()),
      FilterList.or(scvf, FirstKeyOnlyFilter(), FilterList.and(value, ColumnCountGetFilter(1))))
    for (f <- trees) {
      val plans = Seq(
        "scanFiltered" -> GTable.scanFiltered(store, GScan().withRange("0000000001", "0000000500"), f),
        "raw scanFiltered" -> GTable.scanFiltered(store,
          GScan(raw = true).withRange("0000000001", "0000000500"), f),
        "admittedRows" -> FilterCompiler.admittedRows(store, f))
      for ((name, df) <- plans) {
        val phys = physical(df)
        val clue = s"$name $f:\n$phys"
        assert(phys.collect { case m: RowWalkExec => m }.size === 1, s"one pass: $clue")
        assert(phys.collect { case w: WindowExec => w }.isEmpty, s"no window: $clue")
        assert(phys.collect { case b: BroadcastExchangeExec => b }.isEmpty, s"no broadcast: $clue")
        assert(phys.collect { case j: BaseJoinExec => j }.isEmpty, s"no join: $clue")
      }
    }
  }

  test("a Get, scan, multiGet and filtered scan over the cell store each run one job") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    import graft.filter.ParseFilter
    import graft.read.{GScan, GTable}
    val Tag = "graft.test.op"
    val started = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
          .foreach(started.put(e.jobId, _))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    val sc = spark.sparkContext
    // jobs an action ran, once the listener has seen a later marker job
    // end (the bus delivers one listener's events in order)
    def jobs(op: String)(action: => Unit): Int = {
      sc.setLocalProperty(Tag, op)
      try action finally sc.setLocalProperty(Tag, "drain")
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(Tag, null)
      val deadline = System.nanoTime() + 30000000000L
      def drained = started.asScala.exists { case (id, t) => t == "drain" && ended.contains(id) }
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      assert(drained, "listener bus did not drain")
      val n = started.asScala.count(_._2 == op)
      started.clear()
      n
    }
    import spark.implicits._
    sc.addSparkListener(listener)
    try {
      store
      val range = GScan().withRange("0000000001", "0000000500")
      val keys = Seq("0000000007", "0000000123", "0000000456").toDF("row")
      def filtered(f: String) = GTable.scanFiltered(store, range, ParseFilter.parse(f))
      for ((op, df) <- Seq(
          "get" -> GTable.get(store, "0000000007"),
          "scan" -> GTable.scan(store, range),
          "multiGet" -> GTable.multiGet(store, keys),
          "scvf" -> filtered("SingleColumnValueFilter('d', 'o_orderstatus', =, 'binary:F')"),
          "per-cell" -> filtered("ValueFilter(=, 'substring:URGENT')")))
        assert(jobs(op)(df.collect()) === 1, op)
    } finally sc.removeSparkListener(listener)
  }

  test("reads over the cell store plan no adaptive stages") {
    // the store's cached plan is a plain scan and the pass walks its
    // partitions with no required distribution, so nothing in these
    // reads makes the planner wrap them in an AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import graft.filter._
    import graft.read.{GScan, GTable}
    import spark.implicits._
    val range = GScan().withRange("0000000001", "0000000500")
    val scvf = SingleColumnValueFilter("d", "o_orderstatus", CompareOp.Equal, BinaryComparator("F"))
    for ((name, df) <- Seq(
        "get" -> GTable.get(store, "0000000007"),
        "paged get" -> GTable.get(store, "0000000007", GScan(maxResultsPerCf = Some(2))),
        "scan" -> GTable.scan(store, range),
        "raw scan" -> GTable.scan(store, range.copy(raw = true)),
        "multiGet" -> GTable.multiGet(store,
          Seq("0000000007", "0000000123", "0000000456").toDF("row")),
        "SCVF scan" -> GTable.scanFiltered(store, range, scvf),
        "per-cell scan" -> GTable.scanFiltered(store, range,
          ValueFilter(CompareOp.Equal, SubstringComparator("URGENT"))),
        "admittedRows" -> FilterCompiler.admittedRows(store, scvf))) {
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case a: AdaptiveSparkPlanExec => a }.isEmpty, s"$name: adaptive:\n$plan")
    }
  }

  test("the declared SCVF, skip and SCVE queries sort the store locally: no exchange") {
    for (name <- Seq("q10_scvf", "q19_skip_filter", "q53_scv_exclude"))
      assertNoExchange(name, Queries.all.find(_.name == name).get.fn(spark, sf0001))
  }

  test("latestNvb over cells_events_v is one pass: no generate, aggregate, join or exchange") {
    // the NEW_VERSION_BEHAVIOR tracker walks each row inside the resolve
    // pass, whose grouping the store's row hash layout meets: no
    // per-column collect, family-marker join or explode
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.graft.RowWalkExec
    import graft.read.Resolve
    val events = graft.model.Fixtures.cellsEventsV(spark, sf0001)
    events.count()
    // q65's seq: puts at ts*10, markers interleaved
    val seq = when(col("type") === "Put", col("ts") * 10)
      .when(col("type") === "DeleteColumn", lit(25L))
      .when(col("type") === "DeleteFamily", lit(15L))
      .otherwise(lit(35L))
    val phys = assertNoExchange("latestNvb",
      Resolve.latestNvb(events.withColumn("seq", seq), maxVersions = 2))
    val passes = phys.collect { case m: RowWalkExec => m }
    assert(passes.size === 1, s"one pass:\n$phys")
    assert(phys.collect { case g: GenerateExec => g }.isEmpty, s"no generate:\n$phys")
    assert(phys.collect { case a: BaseAggregateExec => a }.isEmpty, s"no aggregate:\n$phys")
    assert(phys.collect { case j: BaseJoinExec => j }.isEmpty, s"no join:\n$phys")
  }
}
