package graft

/** Driver-run benchmark: ONE JSON line with per-query wall-clock at
  * the target scale factor — the headline "value" is the sum of
  * per-query MINIMA over (default) 3 within-JVM reps, with per-rep
  * totals in the same record ("rep_totals") so a contended box shows
  * up as spread-across-reps in the record itself instead of reading
  * as a plan regression. The full per-query minima map and every raw
  * per-rep map go to a sidecar (dev/bench_raw_last.json) — the
  * printed line must fit the driver's 2000-char stdout tail.
  *
  * Methodology: a warmup pass at the smallest scale factor first (when
  * present) so the timed pass measures steady-state plans — Catalyst
  * planning caches, generated code, and JIT-compiled hot paths — not
  * first-query JVM warmup. This matches how a long-lived Spark cluster
  * actually runs (the 100 TB target is never a cold JVM per query);
  * the per-query times below still include full planning + execution
  * of each query at the target SF.
  *
  * The timed action is [[run]]: every row and column a query returns
  * is computed, sorts included, and nothing is collected.
  */
object Bench {
  /** Run `df` to completion as a caller would read it: a `noop`-format
    * write computes every row and column of the plan, where a `count()`
    * would let Catalyst drop its sorts and unused columns. */
  def run(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession.local(cpus)

    // a harness failure is counted and named (name -> exception class),
    // never swallowed: a broken load or warmup would read as a fast bench
    val loadErrors, warmupErrors = scala.collection.concurrent.TrieMap[String, String]()
    def attempt(errors: collection.mutable.Map[String, String], name: String)(body: => Any) =
      try { body; () } catch { case e: Throwable => errors(name) = e.getClass.getSimpleName }

    // iteration aids: SPARK_GRAFT_BENCH_ONLY=q1,q2 times (and warms) a
    // subset; SPARK_GRAFT_BENCH_REPS=n overrides the repeat count.
    //
    // REPS defaults to 3 and the record is SELF-DEFENDING: "queries"
    // and "value" report per-query MINIMA across reps (the contention
    // control — a one-off noisy pass on a contended box cannot
    // masquerade as plan drift), while "reps" carries every raw
    // per-rep map so the noise itself stays auditable in one line.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(3)
    val bench = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })

    val warmupDir = sys.env.get("SPARK_GRAFT_WARMUP_DIR")
      .orElse(Some("/root/testdata/sf0.001").filter(d =>
        d != sfDir && new java.io.File(d).isDirectory))
    // Warmup runs CONCURRENTLY (wall-clock only — it precedes the timed
    // region): queries are independent (per-query scratch dirs/tables,
    // CellStore.materialize is putIfAbsent-safe), and the timed pass
    // below remains strictly serial. A straggler-heavy serial warmup
    // otherwise adds ~60-90 s of wall time and inflates rep-1 totals.
    warmupDir.foreach { d =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      bench.toSeq
        .map { case (name, fn) =>
          pool.submit(new Runnable {
            def run(): Unit = attempt(warmupErrors, name)(Bench.run(fn(spark, d)))
          })
        }
        .foreach(_.get())
      pool.shutdown()
    }
    // the session conf the timed pass plans under: a warmup query that
    // leaked a conf write would show here
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")

    // Per-query parallelism evidence for the scaling contract: a
    // listener tracks the max number of CONCURRENTLY RUNNING tasks
    // while each query executes. The driver runs this bench at
    // different $SPARK_GRAFT_CPUS values; a query whose wall-clock is
    // flat across core counts is legible as fixed-cost (par stays low
    // or the task count is tiny) versus one that actually scales.
    val runningTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val parMaxBox = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskStart(
            ts: org.apache.spark.scheduler.SparkListenerTaskStart): Unit = {
          val n = runningTasks.incrementAndGet()
          var cur = parMaxBox.get()
          while (n > cur && !parMaxBox.compareAndSet(cur, n))
            cur = parMaxBox.get()
        }
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          runningTasks.decrementAndGet()
          ()
        }
      })

    // Load phase: materialize the canonical cell store at the target SF
    // (the engine's tables ARE the cell form; deriving them from the
    // driver's row-parquet is ingest, not query latency — the reference
    // likewise serves reads from an already-written MemStore/HFiles).
    // Reported separately as load_sec for transparency.
    val l0 = System.nanoTime()
    val loads: Seq[(String, () => Any)] = Seq(
      "cells_orders" -> (() => model.Fixtures.cellsOrders(spark, sfDir).count()),
      "cells_events_v" -> (() => model.Fixtures.cellsEventsV(spark, sfDir).count()),
      "cells_orders_mut" -> (() => model.Fixtures.cellsOrdersMut(spark, sfDir).count()),
      "events" -> (() => model.Fixtures.events(spark, sfDir).count()),
      "chain" -> (() => model.Fixtures.chain(spark).count())) ++
      // ANN index builds (IVF centroids, PQ codebooks) are likewise
      // load-time jobs — the trained index is the durable artifact
      Seq("e13_ann_ivf", "e48_ann_pq").flatMap(q =>
        SparkEntry.queries.get(q).map(f => q -> (() => f(spark, sfDir).count())))
    loads.foreach { case (name, load) => attempt(loadErrors, name)(load()) }
    val loadS = (System.nanoTime() - l0) / 1e9


    // a failing query must be VISIBLE in the bench record (it would
    // otherwise read as a fast time): timing stays numeric for the
    // driver, the exception class lands in a parallel "errors" map;
    // a query only counts as errored if it failed in EVERY rep (a
    // transient single-rep failure still surfaces in "flaky")
    val repErrors = Array.fill(reps)(
      scala.collection.mutable.LinkedHashMap[String, String]())
    // max concurrent tasks seen while the query ran, max over reps —
    // the scaling-legibility sidecar evidence (listener events can lag
    // a query boundary by a few ms; this is parallelism evidence, not
    // a timing input)
    val parMax = scala.collection.mutable.LinkedHashMap[String, Int]()
    val repResults = (0 until reps).map { r =>
      bench.map { case (name, fn) =>
        parMaxBox.set(0)
        val t0 = System.nanoTime()
        try { run(fn(spark, sfDir)) } catch {
          case e: Throwable => repErrors(r)(name) = e.getClass.getSimpleName
        }
        val dt = (System.nanoTime() - t0) / 1e9
        parMax(name) = math.max(parMax.getOrElse(name, 0), parMaxBox.get())
        name -> dt
      }
    }
    // ms precision keeps the one-line record compact (159+ queries ×
    // reps at full double precision overflow log-tail buffers)
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def jmap(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val names = bench.keys.toSeq
    // per-query minimum over SUCCESSFUL reps; all-rep failures keep
    // their last time-to-exception but are excluded from the total
    val minQ = names.map { n =>
      val ok = (0 until reps).filter(r => !repErrors(r).contains(n))
      val src = if (ok.nonEmpty) ok else 0 until reps
      n -> src.map(r => repResults(r)(n)).min
    }
    val hardFail = names.filter(n => (0 until reps).forall(repErrors(_).contains(n)))
    val flaky = names.filter(n =>
      !hardFail.contains(n) && (0 until reps).exists(repErrors(_).contains(n)))
    val es = hardFail.map(n => "\"" + n + "\":\"" + repErrors.collectFirst {
        case m if m.contains(n) => m(n) }.get + "\"")
      .mkString("{", ",", "}")
    val fl = flaky.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = minQ.collect { case (n, v) if !hardFail.contains(n) => v }.sum
    val repTotals = (0 until reps).map(r =>
      f3(repResults(r).collect {
        case (n, v) if !repErrors(r).contains(n) => v }.sum))
      .mkString("[", ",", "]")
    // the one-line record must stay small enough for the driver's
    // stdout capture: the driver keeps only the LAST 2000 chars of
    // stdout, so a full 187-query minima map (~6 KB) truncates the
    // line's opening brace and the record lands unparseable (the r8
    // lesson recurring at r11 as the query count grew). The LINE
    // carries the headline total + the TOP-N slowest minima only;
    // the full minima map and every raw per-rep map go to the
    // sidecar file for audits.
    val repsJson = (0 until reps).map(r => jmap(repResults(r))).mkString("[", ",", "]")
    def errJson(key: String, errors: collection.Map[String, String], order: Seq[String]) = {
      val first = order.find(errors.contains).fold("")(n => s"$n:${errors(n)}")
      s""""${key}_errors":${errors.size},"${key}_error_first":"$first""""
    }
    val harness = Seq(
      errJson("load", loadErrors, loads.map(_._1)),
      errJson("warmup", warmupErrors, bench.keys.toSeq),
      s""""shuffle_partitions":$shufflePartitions""").mkString(",")
    val sidecar = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RAW", "dev/bench_raw_last.json"))
    // a failed sidecar write is a counted, named harness error on the line
    val sidecarError = try {
      Option(sidecar.getParent).foreach(java.nio.file.Files.createDirectories(_))
      val parJson = parMax
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      java.nio.file.Files.write(sidecar,
        s"""{"sf":"$sfDir","cpus":$cpus,"n_reps":$reps,"n_queries":${names.size},"load_sec":${f3(loadS)},$harness,"rep_totals":$repTotals,"query_min":${jmap(minQ)},"par_max":$parJson,"reps":$repsJson}"""
          .getBytes("UTF-8"))
      None
    } catch { case scala.util.control.NonFatal(e) => Some(e.getClass.getSimpleName) }
    val sidecarJson = errJson("sidecar", sidecarError.map(sidecar.toString -> _).toMap, Seq(sidecar.toString))
    val sidecarNote = if (sidecarError.isEmpty) s"full map in $sidecar" else "sidecar write failed"
    val topN = minQ.sortBy(-_._2).take(15)
    // parallelism evidence inline for the TOP-15 the driver reads, plus
    // a census over all queries (how many ever exceeded 1 / half the
    // cores) so flat 8-vs-32 totals are attributable to fixed-cost
    // paths without the sidecar
    val parTop = topN.map { case (n, _) => "\"" + n + "\":" + parMax.getOrElse(n, 0) }
      .mkString("{", ",", "}")
    val halfCores = math.max(2, cpus / 2)
    val parGeHalf = names.count(n => parMax.getOrElse(n, 0) >= halfCores)
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","agg":"per_query_min","n_reps":$reps,"n_queries":${names.size},"load_sec":${f3(loadS)},$harness,$sidecarJson,"n_errors":${hardFail.size},"errors":$es,"flaky":$fl,"queries":${jmap(topN)},"queries_note":"top15_by_min_of_${names.size}; $sidecarNote","par_top":$parTop,"par_note":"max_concurrent_tasks_at_cpus=$cpus; ge_half_cores=$parGeHalf/${names.size}","rep_totals":$repTotals,"sf":"$sfDir"}""")
    spark.stop()
  }
}
