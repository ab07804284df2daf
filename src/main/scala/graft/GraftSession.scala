package graft

import org.apache.spark.sql.SparkSession

/** The one session definition: every harness (Verify, Bench, Profile,
  * PlanDump, the Scale mains) and the test suites build their session
  * here, so they all plan under the same config. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A local session on `cpus` cores with one shuffle partition per core
    * (the existing session if one is already active). */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the cell store is hash-partitioned on row (a subset of every
      // cell-coordinate join key); allow subset co-partitioning so those
      // joins reuse the stored layout instead of re-exchanging
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
