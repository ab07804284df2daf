package graftbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** In-memory span recorder. A span has a name, start, end, parent and the
  * tag of the op it belongs to; spans are written out when the run ends. */
final class Tracer {
  private final class Span(val id: Int, val name: String, val tag: String, val parent: Int,
      val start: Long) { var end: Long = -1L }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]

  def open(name: String, tag: String): Int = {
    val id = spans.size
    spans += new Span(id, name, tag, stack.headOption.getOrElse(-1), System.nanoTime())
    stack.push(id)
    id
  }

  def close(id: Int): Unit = {
    spans(id).end = System.nanoTime()
    while (stack.nonEmpty && stack.top >= id) stack.pop()
  }

  /** Close `id` and every span opened after it that is still open. */
  def closeAllFrom(id: Int): Unit = if (id >= 0) {
    val now = System.nanoTime()
    spans.iterator.drop(id).filter(_.end < 0).foreach(_.end = now)
    while (stack.nonEmpty && stack.top >= id) stack.pop()
  }

  /** Self time per (op tag, span name): the span's duration minus the part
    * its child spans cover. */
  def selfTimes(): Map[(String, String), Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end)).sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      (s.tag, s.name) -> (s.end - s.start - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def write(f: File): Unit = {
    val pw = new PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      pw.println(Json.obj("id" -> s.id, "name" -> s.name, "op" -> s.tag,
        "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end))
    } finally pw.close()
  }
}

object JobLedger {
  /** Local property that carries the op tag onto every job it starts. */
  val TagKey = "graftbench.op"
}

/** Spark listener that attributes jobs, stages and task metrics to the op
  * that started them, through the op tag local property. */
final class JobLedger extends SparkListener {
  private final class JobInfo(val tag: String, val start: Long) {
    @volatile var end: Long = -1L
  }
  private final class StageAcc {
    var completed = false
    var runMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()

  private def acc(stageId: Int) = stages.computeIfAbsent(stageId, _ => new StageAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(JobLedger.TagKey)))
      .getOrElse("")
    jobs.put(e.jobId, new JobInfo(tag, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    acc(e.stageInfo.stageId).synchronized { acc(e.stageInfo.stageId).completed = true }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(e.stageId)
      a.synchronized {
        a.runMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Block until every event posted so far has been delivered: run a
    * marker job and wait for its end event. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(JobLedger.TagKey, "drain")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(JobLedger.TagKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    def done = jobs.values.asScala.exists(j => j.tag == "drain" && j.end >= 0)
    while (!done && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def jobsOf(tags: Set[String]): Seq[Int] =
    jobs.asScala.collect { case (id, j) if tags(j.tag) => id }.toSeq

  private def stagesOfJobs(js: Seq[Int]): Seq[StageAcc] = {
    val set = js.toSet
    stageJob.asScala.collect { case (s, j) if set(j) => Option(stages.get(s)) }
      .flatten.filter(_.completed).toSeq
  }
  def stagesOf(js: Seq[Int]): Double = stagesOfJobs(js).size.toDouble
  def taskMsOf(js: Seq[Int]): Double = stagesOfJobs(js).map(_.runMs).sum.toDouble
  def shuffleBytesOf(js: Seq[Int]): Double = stagesOfJobs(js).map(_.shuffleBytes).sum.toDouble
  def spillBytesOf(js: Seq[Int]): Double = stagesOfJobs(js).map(_.spillBytes).sum.toDouble

  /** Length of the union of the jobs' [start, end] intervals, in ms. */
  def jobUnionMs(js: Seq[Int]): Double = {
    val iv = js.flatMap(id => Option(jobs.get(id))).filter(_.end >= 0)
      .map(j => (j.start, j.end)).sortBy(_._1)
    var total = 0L; var s = Long.MinValue; var e = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > e) { if (e > s) total += e - s; s = a; e = b } else e = math.max(e, b)
    }
    if (e > s) total += e - s
    total.toDouble
  }
}
