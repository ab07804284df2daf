package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.{RowWalkExec, RowWalkStrategy, shim}

import graft.model.{CellType, GCell}
import graft.read.GTable

/** The resolve pass's plan node is planned by graft's own strategy,
  * which every session a read is built in, or rebound to, holds once
  * among its extra strategies; registering it sets no conf. */
class RowWalkSpec extends SparkSpec {

  private def strategies(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental.extraStrategies
      .count(_ == RowWalkStrategy)

  private def cells(s: SparkSession): DataFrame = s.createDataFrame(Seq(
    GCell("r1", "d", "a", 1L, CellType.Put, "old"), GCell("r1", "d", "a", 2L, CellType.Put, "new"),
    GCell("r1", "d", "b", 1L, CellType.Put, "gone"), GCell("r1", "d", "b", 1L, CellType.DeleteColumn, null),
    GCell("r2", "d", "a", 1L, CellType.Put, "other")))

  private def values(df: DataFrame): Seq[String] = df.collect().map(_.getAs[String]("value")).toSeq

  private def walks(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect { case w: RowWalkExec => w }.size

  test("repeated reads on one session register the strategy once and set no conf") {
    val before = spark.sessionState.conf.getAllConfs
    for (_ <- 1 to 3) assert(values(GTable.get(cells(spark), "r1")) === Seq("new"))
    assert(strategies(spark) === 1)
    assert(spark.sessionState.conf.getAllConfs === before)
  }

  test("a new session plans and runs a Get") {
    val fresh = spark.newSession()
    val get = GTable.get(cells(fresh), "r1")
    assert(strategies(fresh) === 1 && walks(get) === 1)
    assert(values(get) === Seq("new"))
  }

  test("a walk frame rebound into a session that never built one plans and runs") {
    val get = GTable.get(cells(spark), "r1")
    val other = spark.newSession()
    assert(strategies(other) === 0)
    val rebound = shim.ofRows(other, get.queryExecution.analyzed)
    assert(strategies(other) === 1 && walks(rebound) === 1)
    assert(values(rebound) === Seq("new"))
  }

  test("a read joins with itself: the copy's walk takes fresh columns") {
    val get = GTable.scan(cells(spark), graft.read.GScan())
    val pairs = get.as("a").join(get.as("b"), org.apache.spark.sql.functions.col("a.row") ===
      org.apache.spark.sql.functions.col("b.row"))
    assert(pairs.count() === 2)
  }
}
