package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. `work` is a scratch
  * directory that holds the generated inputs and receives every file the
  * run writes. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, cpus: Int)

/** The timed unit of a workload. `plan` builds the DataFrames of the op and
  * forces their physical plans; the thunk it returns runs the actions. */
final case class Op(kind: String, params: String, plan: () => (() => Outcome))

/** What an op returned: a JSON value the checker compares with its own
  * expectation, how many items (cells, docs, vectors) it processed, and
  * how many rows it returned. */
final case class Outcome(result: String, items: Long, out: Long)

/** One executed op as it is written to `ops.jsonl`. */
final case class Rec(i: Int, phase: String, kind: String, params: String,
    startMs: Double, planMs: Double, execMs: Double, ok: Boolean, err: String,
    result: String, items: Long, out: Long) {
  def json: String =
    s"""{"i":$i,"phase":"$phase","kind":"$kind","params":$params,"start_ms":${Json.num(startMs)},""" +
      s""""plan_ms":${Json.num(planMs)},"exec_ms":${Json.num(execMs)},"ok":$ok,""" +
      s""""err":${Json.str(err)},"items":$items,"out":$out,"result":${if (result.isEmpty) "null" else result}}"""
}

/** Context handed to a workload: the live session, where its inputs are,
  * the run's seed, and the setup-phase clock. */
final class Env(val spark: SparkSession, val args: Args, val rep: Int) {
  val inputs: String = new File(args.work, "inputs").getAbsolutePath
  /** A directory private to this setup repetition. */
  val scratch: String = {
    val d = new File(args.work, s"rep$rep"); d.mkdirs(); d.getAbsolutePath
  }
  val phases: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Time a setup phase; the phase names feed `model.setup.*`. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    r
  }
}

/** A benchmark workload: a setup that lands its inputs, then an endless
  * stream of seeded ops. */
trait Workload {
  def setup(env: Env): Unit
  /** The next op; `rng` is the only source of randomness. */
  def next(rng: scala.util.Random): Op
  /** Extra per-layer measures, from the records of the traced loop. */
  def extras(traced: Seq[Rec]): Seq[(String, Double)] = Nil
  /** Session-conf drift the workload observed inside its ops. */
  def confDrift: Int = 0
  /** Whether the next op starts a new op cycle. Warmup and the measured
    * loops stop only there, so every loop covers whole cycles: the same mix
    * of op kinds on every run, and write state that is never half done. */
  def atCycleStart: Boolean
}

object Main {

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("cpus").toInt)
  }

  def workload(name: String, args: Args): Workload = name match {
    case "read-mix"     => new ReadMix(args)
    case "ingest-pipeline" => new IngestPipeline(args)
    case other => sys.error(s"unknown workload $other")
  }

  /** Setup repetitions: each builds a fresh session and lands the inputs
    * again; the run keeps the last and reports the median. */
  val SetupReps = 3


  def session(args: Args, rep: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.default.parallelism", args.cpus.toString)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(args.work, s"warehouse$rep").getAbsolutePath)
      .config("spark.local.dir", new File(args.work, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def confSnapshot(spark: SparkSession): Map[String, String] =
    spark.sessionState.conf.getAllConfs

  def drift(a: Map[String, String], b: Map[String, String]): Int =
    (a.keySet ++ b.keySet).count(k => a.get(k) != b.get(k))

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val work = new File(args.work)
    val opsOut = new PrintWriter(new File(work, "ops.jsonl"), "UTF-8")
    val wl = workload(args.workload, args)

    // ---- setup: fresh session + landing, repeated; a failure aborts ----
    var spark: SparkSession = null
    val setups = (0 until SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(args, rep)
      val tSession = (System.nanoTime() - t0) / 1e9
      val env = new Env(spark, args, rep)
      wl.setup(env)
      val total = (System.nanoTime() - t0) / 1e9
      Map("total" -> total, "session" -> tSession) ++ env.phases
    }
    // the working set setup leaves behind: heap in use after a full GC
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val sc = spark.sparkContext
    // attached only for the traced loop, so untraced figures carry no
    // listener cost
    val ledger = new JobLedger
    val confBase = confSnapshot(spark)
    val tracer = new Tracer

    var seq = 0
    def runOp(op: Op, phase: String, traced: Boolean): Rec = {
      val i = seq; seq += 1
      val tag = s"$phase:$i"
      if (traced) sc.setLocalProperty(JobLedger.TagKey, tag)
      val t0 = System.nanoTime()
      val opSpan = if (traced) tracer.open(op.kind, tag) else -1
      var t1 = t0
      val rec =
        try {
          val planSpan = if (traced) tracer.open("plan", tag) else -1
          val exec = op.plan()
          t1 = System.nanoTime()
          if (traced) tracer.close(planSpan)
          val execSpan = if (traced) tracer.open("exec", tag) else -1
          val out = exec()
          if (traced) tracer.close(execSpan)
          val t2 = System.nanoTime()
          Rec(i, phase, op.kind, op.params, (t0 - runStart) / 1e6, (t1 - t0) / 1e6,
            (t2 - t1) / 1e6, ok = true, "", out.result, out.items, out.out)
        } catch {
          case NonFatal(e) =>
            val t2 = System.nanoTime()
            if (t1 == t0) t1 = t2
            Rec(i, phase, op.kind, op.params, (t0 - runStart) / 1e6, (t1 - t0) / 1e6,
              (t2 - t1) / 1e6, ok = false, e.toString.take(500), "", 0L, 0L)
        } finally {
          if (traced) {
            tracer.closeAllFrom(opSpan)
            sc.setLocalProperty(JobLedger.TagKey, null)
          }
        }
      opsOut.println(rec.json)
      rec
    }

    // ---- warmup: one whole op cycle, so every run starts measuring at the
    // same op position and the same compiled-code state ----
    val rngWarm = new scala.util.Random(args.seed * 7919 + 1)
    val warmStart = System.nanoTime()
    var warmOps = 0
    var warmErrors = 0
    while (warmOps == 0 || !wl.atCycleStart) {
      val r = runOp(wl.next(rngWarm), "warm", traced = false)
      if (!r.ok) {
        warmErrors += 1
        if (warmErrors <= 3) System.err.println(s"[graftbench] warmup error in ${r.kind}: ${r.err}")
      }
      warmOps += 1
    }
    val warmSeconds = (System.nanoTime() - warmStart) / 1e9
    if (warmErrors > 0)
      System.err.println(s"[graftbench] warmup errors: $warmErrors of $warmOps ops")

    // ---- measured closed loop (one client): whole op cycles, until the
    // first cycle boundary at or after `seconds` ----
    def loop(phase: String, traced: Boolean, seconds: Double): (Seq[Rec], Double) = {
      val rng = new scala.util.Random(args.seed)
      val out = mutable.ArrayBuffer.empty[Rec]
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < seconds || !wl.atCycleStart)
        out += runOp(wl.next(rng), phase, traced)
      (out.toSeq, (System.nanoTime() - t0) / 1e9)
    }
    val gcBefore = gcMs()
    val (_, measuredS) = loop("measure", traced = false, args.seconds)
    val gcMeasured = gcMs() - gcBefore
    val traced = if (!args.trace) None else {
      sc.addSparkListener(ledger)
      Some(loop("trace", traced = true, args.seconds))
    }
    val confAfter = confSnapshot(spark)
    val confDrift = drift(confBase, confAfter) + wl.confDrift
    if (confDrift > 0)
      System.err.println(s"[graftbench] session conf drift: " +
        (confBase.keySet ++ confAfter.keySet).filter(k => confBase.get(k) != confAfter.get(k))
          .map(k => s"$k: ${confBase.get(k)} -> ${confAfter.get(k)}").mkString(", "))

    // ---- per-layer ledger of the traced loop ----
    val layer = mutable.LinkedHashMap.empty[String, Double]
    traced.foreach { case (recs, tracedS) =>
      ledger.drain(spark)
      val selfMs = tracer.selfTimes()
      recs.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (kind, rs) =>
        val n = rs.size.toDouble
        val tags = rs.map(r => s"trace:${r.i}").toSet
        val jobs = ledger.jobsOf(tags)
        def mean(f: String => Double) = rs.map(r => f(s"trace:${r.i}")).sum / n
        layer(s"$kind.plan_ms") = mean(t => selfMs.getOrElse((t, "plan"), 0.0))
        layer(s"$kind.exec_ms") = mean(t => selfMs.getOrElse((t, "exec"), 0.0))
        layer(s"$kind.jobs") = jobs.size / n
        layer(s"$kind.stages") = ledger.stagesOf(jobs) / n
        layer(s"$kind.task_ms") = ledger.taskMsOf(jobs) / n
        layer(s"$kind.shuffle_bytes") = ledger.shuffleBytesOf(jobs) / n
      }
      val allJobs = ledger.jobsOf(recs.map(r => s"trace:${r.i}").toSet)
      val execWall = recs.map(_.execMs).sum
      layer("spark.driver_ms") =
        (execWall - ledger.jobUnionMs(allJobs)).max(0.0) / recs.size
      layer("spark.spill_bytes") = ledger.spillBytesOf(allJobs)
      // the loop's wall time that no plan or exec span covers: op
      // generation, tracing and recording between the ops
      val spanMs = recs.map(r => selfMs.getOrElse((s"trace:${r.i}", "plan"), 0.0) +
        selfMs.getOrElse((s"trace:${r.i}", "exec"), 0.0)).sum
      layer("trace.unaccounted_pct") = 100.0 * (1.0 - spanMs / (tracedS * 1000.0))
      tracer.write(new File(work, "spans.jsonl"))
    }
    layer("jvm.gc_ms") = gcMeasured
    layer("stream.conf_drift") = confDrift
    traced.foreach { case (recs, _) => wl.extras(recs).foreach { case (k, v) => layer(k) = v } }

    opsOut.close()
    val setupJson = setups.map(m => m.map { case (k, v) => s""""$k":${Json.num(v)}""" }
      .mkString("{", ",", "}")).mkString("[", ",", "]")
    val layerJson = layer.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    val summary =
      s"""{"setups":$setupJson,"measured_s":${Json.num(measuredS)},""" +
        s""""traced_s":${Json.num(traced.map(_._2).getOrElse(0.0))},""" +
        s""""warm_ops":$warmOps,"warm_errors":$warmErrors,"warm_s":${Json.num(warmSeconds)},""" +
        s""""heap_live_mb":${Json.num(heapMb)},"gc_ms":${Json.num(gcMeasured)},""" +
        s""""conf_drift":$confDrift,"layer":$layerJson}"""
    val pw = new PrintWriter(new File(work, "summary.json"), "UTF-8")
    pw.println(summary); pw.close()
    spark.stop()
  }

  private val runStart = System.nanoTime()

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
}

/** Minimal JSON rendering for the harness's own records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case '\r' => b ++= "\\r"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def any(v: Any): String = v match {
    case null           => "null"
    case s: String      => str(s)
    case d: Double      => num(d)
    case f: Float       => num(f.toDouble)
    case n: Long        => n.toString
    case n: Int         => n.toString
    case b: Boolean     => b.toString
    case bd: java.math.BigDecimal => bd.toPlainString
    case xs: scala.collection.Seq[_] => xs.map(any).mkString("[", ",", "]")
    case other          => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${any(v)}" }.mkString("{", ",", "}")
  /** Rows of a collected DataFrame as a JSON array of arrays. */
  def rows(rs: Array[org.apache.spark.sql.Row]): String =
    rs.map(r => r.toSeq.map(any).mkString("[", ",", "]")).mkString("[", ",", "]")
}
