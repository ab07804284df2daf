package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt): the
  * harnesses' session at 4 cores, which the plan pins assume. */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** `cells` cached range-partitioned on row into four partitions and
    * sorted in cell order, then run once: a row-ranged store, laid out
    * as `cells_orders` is, over which the resolve pass walks partitions
    * in place. The caller unpersists it. */
  def rangedStore(cells: DataFrame): DataFrame = {
    val ranged = cells.repartitionByRange(4, col("row"))
      .sortWithinPartitions(graft.read.GTable.cellOrder(): _*).persist()
    ranged.count()
    ranged
  }
}
