package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared-compatibility query (SURVEY.md §2.9): a Spark
  * realization + its DuckDB oracle SQL. Column names/order and row
  * order must match exactly between the two (the driver hash-compares).
  */
final case class QDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object Queries {
  /** Stable per-name scratch dir for queries that pass through a
    * durable write boundary (export/import, compaction landing, bulk
    * mutation batches): reps of the same query overwrite ONE slot
    * instead of accumulating a fresh copy per invocation when the
    * bench loops (SPARK_GRAFT_BENCH_REPS). */
  def scratchDir(name: String): String = {
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-q", name)
    if (java.nio.file.Files.exists(root)) deleteTree(root)
    java.nio.file.Files.createDirectories(root).toString
  }

  /** Delete `root` and everything under it, children first. */
  def deleteTree(root: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close() // the stream holds open DirectoryStreams
  }

  /** Populated by the per-module registries; SparkEntry exposes it. */
  def all: Seq[QDef] =
    queries.ScanQueries.defs ++
      queries.FilterQueries.defs ++
      queries.AggQueries.defs ++
      queries.MutationQueries.defs ++
      queries.StreamQueries.defs ++
      queries.ExtQueries.defs ++
      queries.PipelineQueries.defs ++
      queries.CodecQueries.defs ++
      queries.ReplayQueries.defs ++
      queries.FlowQueries.defs ++
      queries.OpsQueries.defs
}
