package graft

import org.apache.spark.sql.SparkSession

/** The one session definition: every harness (Verify, Bench, Profile,
  * PlanDump, the `graft.Scale` families) and the test suites build their
  * session here, so they all plan under the same config and see the same
  * SQL functions ([[GraftExtensions]]). */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A local session on `cpus` cores with one shuffle partition per core
    * and graft's SQL functions installed (the existing session if one is
    * already active). */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the cell stores are partitioned on row (a subset of every
      // cell-coordinate join key); allow subset co-partitioning so the
      // joins of two hash-laid-out stores reuse the stored layout
      // instead of re-exchanging
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the audited global windows (PlanShapeSpec pins the set) each log
    // "No Partition Defined" on every run, which floods the bench's
    // stdout tail; only that logger is raised, the root stays at WARN
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
    s
  }
}
