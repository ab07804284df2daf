package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.CellType
import graft.read.Resolve
import graft.read.Resolve.TimeRange

/** The relational form of [[graft.read.Resolve]], kept as the
  * equivalence oracle for the one-pass resolve: the four tombstone
  * kinds as four mask legs (two anti-joins on exact-ts markers, two
  * left joins on per-column and per-family newest range markers), then
  * a `row_number` rank window as the version gate. Same signatures and
  * knob semantics as the engine's `latest`, `maskedView` and
  * `maskTombstones`; slower, but built from plain operators whose
  * meaning is easy to check by eye. Puts tied on ts rank by value,
  * larger first, as in the pass.
  */
object ResolveReference {

  def latest(
      cells: DataFrame,
      maxVersions: Int = 1,
      timeRange: Option[TimeRange] = None,
      ttlCutoff: Option[Long] = None,
      cellFilter: Option[Column] = None,
      cfTimeRanges: Map[String, TimeRange] = Map.empty,
      minVersions: Int = 0,
      keepDeleted: Boolean = false,
      premasked: Boolean = false,
      visScope: Option[String] = None
  ): DataFrame = {
    val masked =
      if (premasked) cells
      else maskedView(cells, timeRange, cfTimeRanges, keepDeleted, visScope)
    val ranged = (Resolve.preGatePreds(timeRange, cfTimeRanges, ttlCutoff, minVersions)
      ++ cellFilter).foldLeft(masked)((df, p) => df.filter(p))
    val w = Window
      .partitionBy(col("row"), col("family"), col("qualifier"))
      .orderBy(col("ts").desc, col("value").desc)
    val gated = ranged
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxVersions)
    val retained = (ttlCutoff, minVersions) match {
      case (Some(cut), mv) if mv > 0 =>
        gated.filter(col("ts") >= cut || col("__rn") <= mv)
      case _ => gated
    }
    retained.drop("__rn")
  }

  def maskedView(cells: DataFrame, timeRange: Option[TimeRange],
      cfTimeRanges: Map[String, TimeRange], keepDeleted: Boolean,
      visScope: Option[String] = None): DataFrame =
    if (keepDeleted && (timeRange.isDefined || cfTimeRanges.nonEmpty)) {
      val base = timeRange.map(tr => lit(tr.max)).getOrElse(lit(Long.MaxValue))
      val ceil = cfTimeRanges.foldLeft(base) {
        case (acc, (f, tr)) => when(col("family") === f, lit(tr.max)).otherwise(acc)
      }
      maskTombstones(cells, tombVisible = Some(col("ts") < ceil),
        visScope = visScope)
    } else maskTombstones(cells, visScope = visScope)

  def maskTombstones(cells: DataFrame,
      tombVisible: Option[Column] = None,
      visScope: Option[String] = None): DataFrame = {
    val src = visScope.fold(cells)(v => cells.withColumn("__vc",
      graft.functions.VisibilityFunctions.vis_canonical(col(v))))
    val vc = if (visScope.isDefined) Seq("__vc") else Nil
    val puts = src.filter(col("type") === CellType.Put)
    val tombSrc = tombVisible.fold(src)(src.filter)

    val dFam = tombSrc
      .filter(col("type") === CellType.DeleteFamily)
      .groupBy((Seq("row", "family") ++ vc).map(col): _*)
      .agg(max("ts").as("__dfam_ts"))
    val dCol = tombSrc
      .filter(col("type") === CellType.DeleteColumn)
      .groupBy((Seq("row", "family", "qualifier") ++ vc).map(col): _*)
      .agg(max("ts").as("__dcol_ts"))
    val dVer = tombSrc
      .filter(col("type") === CellType.Delete)
      .select((Seq("row", "family", "qualifier", "ts") ++ vc).map(col): _*)
      .distinct()
    val dFamVer = tombSrc
      .filter(col("type") === CellType.DeleteFamilyVersion)
      .select((Seq("row", "family", "ts") ++ vc).map(col): _*)
      .distinct()

    puts
      .join(dVer, Seq("row", "family", "qualifier", "ts") ++ vc, "left_anti")
      .join(dFamVer, Seq("row", "family", "ts") ++ vc, "left_anti")
      .join(dCol, Seq("row", "family", "qualifier") ++ vc, "left")
      .filter(col("__dcol_ts").isNull || col("ts") > col("__dcol_ts"))
      .drop("__dcol_ts")
      .join(dFam, Seq("row", "family") ++ vc, "left")
      .filter(col("__dfam_ts").isNull || col("ts") > col("__dfam_ts"))
      .drop("__dfam_ts")
      .drop(vc: _*)
  }
}
