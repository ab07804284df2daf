package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageCompleted}
import scala.collection.concurrent.TrieMap

/** Diagnostic (dev-only, not a declared surface): run named queries
  * with a listener that prints per-job wall-clock + description and
  * per-stage shuffle/spill totals, so lifecycle queries (many small
  * jobs) show WHERE their seconds go. Args = query names. Env:
  * SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default: all cores),
  * SPARK_GRAFT_PROFILE_REPS (default 2 — rep 1 absorbs JIT, read rep 2).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "2").toInt
    val spark = GraftSession.local()
    val starts = TrieMap.empty[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts(js.jobId) = (System.nanoTime(),
          Option(js.properties.getProperty("spark.job.description"))
            .getOrElse(""))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, desc) =>
          val ms = (System.nanoTime() - t0) / 1e6
          if (ms >= 20)
            println(f"    job ${je.jobId}%4d ${ms / 1000}%8.3fs  $desc")
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        val sh = m.shuffleWriteMetrics.bytesWritten
        val sp = m.diskBytesSpilled
        val run = m.executorRunTime
        val gc = m.jvmGCTime
        val wall = (sc.stageInfo.completionTime.getOrElse(0L) -
          sc.stageInfo.submissionTime.getOrElse(0L)) / 1e3
        if (sh > 64L * 1024 * 1024 || sp > 0 || run > 1000)
          println(f"      stage ${sc.stageInfo.stageId}%4d wall=$wall%7.2fs " +
            f"taskSum=${run / 1e3}%8.2fs gc=${gc / 1e3}%6.2fs " +
            f"tasks=${sc.stageInfo.numTasks}%4d " +
            f"shufW=${sh / 1e6}%8.1fMB spill=${sp / 1e6}%8.1fMB " +
            s"${sc.stageInfo.name.takeWhile(_ != '(')}")
      }
    })
    args.foreach { n =>
      val fn = SparkEntry.queries(n)
      (1 to reps).foreach { rep =>
        println(s"===== $n rep $rep =====")
        val t0 = System.nanoTime()
        fn(spark, sfDir).count() // the bench's own timed action
        println(f"  TOTAL ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
