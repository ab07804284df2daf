package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.filter._
import graft.model.CellType

/** The relational form of [[graft.filter.FilterCompiler]], kept as the
  * equivalence oracle for the per-row filter program the resolve pass
  * runs: every row-level filter as a semi/anti-join or rank-window
  * rewrite over the cell set, applied in list order. Slower, but built
  * from plain operators whose meaning is easy to check by eye. Two
  * points differ from the form FilterCompiler used before the program
  * replaced it, both as the program does: FirstKeyOnly breaks ties on
  * (row, family, qualifier, ts) by markers first, then the larger
  * value, as the pass orders cells (the old window picked any one), and
  * the output keeps the input's column order (the old
  * DependentColumnFilter join moved `ts` second).
  */
object FilterReference {

  def apply(cells: DataFrame, f: GFilter): DataFrame = FilterCompiler.cellPredicate(f) match {
    case Some(p) => cells.filter(p)
    case None    => rewrite(cells, f).select(cells.columns.toSeq.map(col): _*)
  }

  /** Rows with at least one admitted cell. */
  def admittedRows(cells: DataFrame, f: GFilter): DataFrame =
    apply(cells, f).select("row").distinct()

  private def rewrite(cells: DataFrame, f: GFilter): DataFrame = f match {

    case SingleColumnValueFilter(fam, q, op, c, ifMissing, latestOnly) =>
      scvf(cells, fam, q, op, c, ifMissing, latestOnly)

    case SingleColumnValueExcludeFilter(fam, q, op, c, ifMissing, latestOnly) =>
      scvf(cells, fam, q, op, c, ifMissing, latestOnly)
        .filter(!(col("family") === fam && col("qualifier") === q))

    case DependentColumnFilter(fam, q, drop, valueCmp) =>
      // intra-row ts-join against the reference column's ts set
      val ref0 = cells.filter(col("family") === fam && col("qualifier") === q)
      val ref = valueCmp.fold(ref0) { case (op, c) => ref0.filter(c.test(col("value"), op)) }
      val joined = cells.join(ref.select("row", "ts"), Seq("row", "ts"), "left_semi")
      if (drop) joined.filter(!(col("family") === fam && col("qualifier") === q)) else joined

    case PageFilter(n) =>
      val firstRows = cells.select("row").distinct().orderBy("row").limit(n)
      cells.join(broadcast(firstRows), Seq("row"), "left_semi")

    case ColumnCountGetFilter(n) =>
      withColRank(cells).filter(col("__crank") <= n).drop("__crank")

    case ColumnPaginationFilter(limit, offset) =>
      withColRank(cells)
        .filter(col("__crank") > offset && col("__crank") <= offset + limit)
        .drop("__crank")

    case SkipFilter(inner) =>
      val p = FilterCompiler.cellPredicate(inner).getOrElse(
        throw new IllegalArgumentException("SkipFilter requires a cell-level inner filter"))
      // any failing cell vetoes the whole row; a null predicate is a reject
      val vetoed = cells.filter(!(p <=> lit(true))).select("row").distinct()
      cells.join(vetoed, Seq("row"), "left_anti")

    case WhileMatchFilter(inner, reversed) =>
      // the strict prefix before the first rejected row: a cell-level
      // inner rejects a row with any failing cell, a row-level one a
      // row it admits none of the cells of
      val rejects = FilterCompiler.cellPredicate(inner) match {
        case Some(p) => cells.filter(!(p <=> lit(true))).select("row")
        case None =>
          cells.select("row")
            .join(apply(cells, inner).select("row").distinct(), Seq("row"), "left_anti")
      }
      val firstReject = rejects
        .agg((if (reversed) max(col("row")) else min(col("row"))).as("__stop"))
      cells.join(broadcast(firstReject))
        .filter(col("__stop").isNull ||
          (if (reversed) col("row") > col("__stop") else col("row") < col("__stop")))
        .drop("__stop")

    case KeyOnlyFilter(lenAsVal) =>
      if (lenAsVal) cells.withColumn("value", octet_length(col("value")).cast("string"))
      else cells.withColumn("value", lit(null).cast("string"))

    case FirstKeyOnlyFilter() =>
      val w = Window.partitionBy(col("row")).orderBy(col("family").asc, col("qualifier").asc,
        col("ts").desc, (col("type") === CellType.Put).asc, col("value").desc)
      cells.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")

    case FilterList(FilterList.MustPassAll, fs) =>
      fs.foldLeft(cells)((df, g) => apply(df, g))

    case FilterList(FilterList.MustPassOne, fs) =>
      // KeyOnly children admit every cell and transform the whole
      // list's output, so the gates' set union is taken untransformed
      val (transformers, gates) = fs.partition {
        case KeyOnlyFilter(_) => true
        case _                => false
      }
      val admitted =
        if (transformers.nonEmpty || gates.isEmpty) cells
        else gates.map(apply(cells, _)).reduce(_ unionByName _)
          .dropDuplicates(cells.columns.toIndexedSeq)
      transformers.foldLeft(admitted)((df, t) => rewrite(df, t))

    case other =>
      throw new IllegalArgumentException(s"unsupported filter $other")
  }

  /** Row-level SCVF: for `latestVersionOnly` the newest version's value
    * (ts, then value, larger first) decides; otherwise any matching
    * version passes. A null comparison is a no-match. */
  private def scvfVerdict(cells: DataFrame, fam: String, q: String,
      op: CompareOp, c: GComparator, latestVersionOnly: Boolean): DataFrame = {
    val colCells = cells.filter(col("family") === fam && col("qualifier") === q)
    if (latestVersionOnly) {
      val w = Window.partitionBy(col("row")).orderBy(col("ts").desc, col("value").desc)
      colCells.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("row"), c.test(col("value"), op).as("__m"))
    } else
      colCells.groupBy("row")
        .agg((max(when(c.test(col("value"), op), 1).otherwise(0)) === 1).as("__m"))
  }

  private def scvf(cells: DataFrame, fam: String, q: String, op: CompareOp,
      c: GComparator, filterIfMissing: Boolean, latestVersionOnly: Boolean): DataFrame = {
    val verdict = scvfVerdict(cells, fam, q, op, c, latestVersionOnly)
    if (filterIfMissing)
      cells.join(verdict.filter(col("__m") <=> lit(true)).select("row"), Seq("row"), "left_semi")
    else
      // rows lacking the column pass; rows having it must match
      cells.join(verdict.filter(!(col("__m") <=> lit(true))).select("row"), Seq("row"), "left_anti")
  }

  /** Per-row column rank by (family, qualifier); versions of the same
    * column share a rank. */
  private def withColRank(cells: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("row")).orderBy(col("family").asc, col("qualifier").asc)
    cells.withColumn("__crank", dense_rank().over(w))
  }
}
