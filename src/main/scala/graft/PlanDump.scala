package graft

/** Diagnostic: print the formatted physical plan of selected declared
  * queries (args = query names; default = the scale-sensitive set).
  * Used to audit plan shapes — no BroadcastNestedLoopJoin in the
  * near-dup paths, digest-only sync/verify, one-pass SCVF. Each query
  * runs once first and is built again for the dump, so the plan is the
  * one a repeated query runs: the cached stores it reads are
  * materialized, and a row-ranged store's layout is known.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local()
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("e03_simhash", "q30_verify_replication", "q29_sync_diff",
        "q10_scvf", "q11_scvf_missing_pass", "q42_cas_filter_guard")
    names.foreach { n =>
      println(s"===== $n =====")
      Bench.run(SparkEntry.queries(n)(spark, sfDir))
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
