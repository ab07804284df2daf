package graft.filter

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.read.{Resolve, RowProgram}, RowProgram._

/** Compiles the [[GFilter]] AST against a canonical CellSet DataFrame.
  *
  * Cell-level filters become one fused `Column` predicate (→ Catalyst
  * pushdown, whole-stage codegen — the analogue of the reference's
  * server-side `filterCell` fast path plus its seek-hint skipping,
  * SURVEY §4 O3). Every other tree without a PageFilter or
  * WhileMatchFilter becomes a [[program]] that the resolve pass runs on
  * each row's cells, the reference's per-row Filter visitor: no join,
  * window or exchange is planned for it. Page and WhileMatch read other
  * rows, so they, and the lists holding them, stay a small relational
  * step over the outputs of such passes; so does a list in which a
  * filter reads the values a KeyOnlyFilter rewrote, since a program
  * rewrites values only at its end.
  */
object FilterCompiler {

  /** Pure cell predicate, when the filter has one (None ⇒ needs a
    * DataFrame rewrite). */
  def cellPredicate(f: GFilter): Option[Column] = f match {
    case RowFilter(op, c)       => Some(c.test(col("row"), op))
    case FamilyFilter(op, c)    => Some(c.test(col("family"), op))
    case QualifierFilter(op, c) => Some(c.test(col("qualifier"), op))
    case ValueFilter(op, c)     => Some(c.test(col("value"), op))
    case ColumnValueFilter(fam, q, op, c) =>
      // "return the matched cell only" (ColumnValueFilter.java:39 doc,
      // filterCell:102-113): other columns are skipped via
      // NEXT_COL/NEXT_ROW, so only the tested column's matching cells
      // survive — unlike SCVF, which admits the whole row.
      Some(col("family") === fam && col("qualifier") === q &&
        c.test(col("value"), op))
    case PrefixFilter(p)        => Some(col("row").startsWith(p))
    case InclusiveStopFilter(s, reversed) =>
      Some(if (reversed) col("row") >= s else col("row") <= s)
    case MultiRowRangeFilter(ranges) =>
      // empty range list matches nothing (no range can contain a row)
      Some(ranges.map { r =>
        val lo = if (r.loInclusive) col("row") >= r.lo else col("row") > r.lo
        val hi = if (r.hiInclusive) col("row") <= r.hi else col("row") < r.hi
        lo && hi
      }.reduceOption(_ || _).getOrElse(lit(false)))
    case FuzzyRowFilter(fixed) =>
      // no fixed positions constrains nothing — every row fuzzy-matches
      Some(fixed.map { case (pos, lit0) =>
        substring(col("row"), pos + 1, lit0.length) === lit0
      }.reduceOption(_ && _).getOrElse(lit(true)))
    case FuzzyRowMaskFilter(patterns) =>
      // general wildcard-mask form: OR over patterns; each pattern's
      // maximal fixed runs compile to substring equalities (one per
      // run, not per byte — fewer comparisons, same semantics)
      Some(patterns.map { case (pat, mask) =>
        require(pat.length == mask.length,
          s"fuzzy mask length ${mask.length} != pattern length ${pat.length}")
        val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        var i = 0
        while (i < mask.length) {
          if (mask(i) == 0) {
            val st = i
            while (i < mask.length && mask(i) == 0) i += 1
            runs += ((st, i - st))
          } else i += 1
        }
        runs.map { case (st, len) =>
          substring(col("row"), st + 1, len) === pat.substring(st, st + len)
        }.reduceOption(_ && _).getOrElse(lit(true))
      }.reduceOption(_ || _).getOrElse(lit(false)))
    case ColumnPrefixFilter(p) => Some(col("qualifier").startsWith(p))
    case MultipleColumnPrefixFilter(ps) =>
      Some(ps.map(p => col("qualifier").startsWith(p))
        .reduceOption(_ || _).getOrElse(lit(false)))
    case ColumnRangeFilter(min, minInc, max, maxInc) =>
      val lo = if (minInc) col("qualifier") >= min else col("qualifier") > min
      val hi = if (maxInc) col("qualifier") <= max else col("qualifier") < max
      Some(lo && hi)
    case TimestampsFilter(tss) => Some(col("ts").isin(tss: _*))
    case RandomRowFilter(chance, seed) =>
      // portable md5-derived coin (TextHash.hash48 has an exact DuckDB
      // twin), so the sampled row set is engine-independent
      Some(graft.ext.TextHash.hash48(col("row"), lit(s"rrf$seed")) % 10000
        < (chance * 10000).toInt)
    case FilterList(op, fs) =>
      val children = fs.map(cellPredicate)
      if (children.forall(_.isDefined)) {
        val preds = children.flatten
        // empty FilterList passes everything (FilterList.java: INCLUDE
        // when no filters are present), for both operators
        Some(op match {
          case FilterList.MustPassAll => preds.reduceOption(_ && _).getOrElse(lit(true))
          case FilterList.MustPassOne => preds.reduceOption(_ || _).getOrElse(lit(true))
        })
      } else None
    case _ => None
  }

  /** Propagate scan reversed-ness into the filter tree — the graft twin
    * of the server's `filter.setReversed(scan.isReversed())` (applied
    * on scanner open, so Scan.setReversed reaches every direction-
    * sensitive filter without the client hand-threading it). */
  def withReversed(f: GFilter, reversed: Boolean): GFilter = f match {
    case InclusiveStopFilter(s, _)  => InclusiveStopFilter(s, reversed)
    case WhileMatchFilter(inner, _) => WhileMatchFilter(withReversed(inner, reversed), reversed)
    case SkipFilter(inner)          => SkipFilter(withReversed(inner, reversed))
    case FilterList(op, fs)         => FilterList(op, fs.map(withReversed(_, reversed)))
    case other                      => other
  }

  /** Apply a filter to a CellSet DataFrame: every cell, markers too, is
    * one the filter sees. */
  def apply(cells: DataFrame, f: GFilter): DataFrame = (cellPredicate(f), f) match {
    case (Some(p), _) => cells.filter(p)
    // a lone transform needs no row: one projection
    case (None, KeyOnlyFilter(lenAsVal)) => cells.withColumn("value", keyOnly(lenAsVal, col("value")))
    case (None, _) if rowLocal(f) => Resolve.rawPass(cells, Some(program(f)))
    case _ => relational(cells, f)
  }

  // LEN_AS_VAL is the value's BYTE length (KeyOnlyFilter.java:53 stores
  // Bytes.toBytes(value.length) of the serialized value), so
  // octet_length, not character length
  private def keyOnly(lenAsVal: Boolean, value: Column): Column =
    if (lenAsVal) octet_length(value).cast("string") else lit(null).cast("string")

  /** Rows with at least one admitted LIVE cell in `timeRange`: the
    * check read a CAS guard needs, one masking pass emitting row keys
    * for a row-local tree, else the tree over the masked view. */
  def admittedRows(cells: DataFrame, f: GFilter,
      timeRange: Option[Resolve.TimeRange] = None): DataFrame =
    if (rowLocal(f)) Resolve.rowVerdicts(cells, program(f), raw = false, admitted = true, timeRange)
    else {
      val live = Resolve.maskedView(cells, None, Map.empty, keepDeleted = false)
      apply(Resolve.timeRangePred(timeRange, Map.empty).fold(live)(live.filter), f).select("row").distinct()
    }

  /** True for a tree that compiles to a [[program]]: it holds no
    * PageFilter or WhileMatchFilter, the two filters that read other
    * rows, and no KeyOnlyFilter whose values a later filter reads. */
  def rowLocal(f: GFilter): Boolean = staged(f).isDefined

  /** True for a tree whose KeyOnlyFilters rewrite its output's values. */
  def transforms(f: GFilter): Boolean = staged(f).exists(_._2.nonEmpty)

  /** A [[rowLocal]] tree as its gate (None: every cell) and then the
    * KeyOnly transforms of its output; None for any other tree. An OR
    * list with a KeyOnly child keeps every cell (FilterList.transformCell
    * delegates to each child); an AND list transforms only at its end. */
  private def staged(f: GFilter): Option[(Option[GFilter], Seq[KeyOnlyFilter])] = f match {
    case _: PageFilter | _: WhileMatchFilter => None
    case k: KeyOnlyFilter => Some((None, Seq(k)))
    case FilterList(FilterList.MustPassOne, fs) => fs.collect { case k: KeyOnlyFilter => k } match {
      case Nil => Option.when(fs.forall(g => staged(g).exists(_._2.isEmpty)))((Some(f), Nil))
      case ks => Some((None, ks))
    }
    case FilterList(FilterList.MustPassAll, fs) =>
      fs.foldLeft(Option((Seq.empty[GFilter], Seq.empty[KeyOnlyFilter]))) { (acc, g) =>
        for ((gates, ts) <- acc; (gate, more) <- staged(g) if ts.isEmpty || gate.isEmpty)
          yield (gates ++ gate, ts ++ more)
      }.map { case (gates, ts) => (Option.when(gates.nonEmpty)(FilterList.and(gates: _*)), ts) }
    case _ => Some((Some(f), Nil))
  }

  /** The per-row program of a [[rowLocal]] tree, `last` (a per-cell
    * predicate: a scan's projection and filter) applied to its output
    * ahead of the tree's KeyOnly transforms. Every cell-level leaf
    * becomes one boolean column. */
  def program(f: GFilter, last: Option[Column] = None): RowProgram = {
    val (gate, ts) = staged(f).getOrElse(throw new IllegalArgumentException(s"not a row-local filter: $f"))
    val b = new RowProgram.Builder
    def tested(fam: String, q: String) = col("family") === fam && col("qualifier") === q
    // a node, and the cells that can change its output (`reads`) and
    // that can be in it (`keeps`)
    final case class Compiled(node: Node, reads: Column, keeps: Column)
    def whole(node: Node) = Compiled(node, lit(true), lit(true))
    def test(p: Column) = { val t = b.flag(p); Compiled(Test(t), lit(false), b.ref(t)) }
    def columnValue(fam: String, q: String, op: CompareOp, c: GComparator, exclude: Boolean,
        ifMissing: Boolean, latestOnly: Boolean) = {
      val n = b.columnValue(tested(fam, q), c.test(col("value"), op), exclude, ifMissing, latestOnly)
      Compiled(n, b.ref(n.sees), n.keep.fold(lit(true))(b.ref))
    }
    def compile(g: GFilter): Compiled = cellPredicate(g) match {
      case Some(p) => test(p)
      case None => g match {
        case SingleColumnValueFilter(fam, q, op, c, ifMissing, latestOnly) =>
          columnValue(fam, q, op, c, exclude = false, ifMissing, latestOnly)
        case SingleColumnValueExcludeFilter(fam, q, op, c, ifMissing, latestOnly) =>
          columnValue(fam, q, op, c, exclude = true, ifMissing, latestOnly)
        case DependentColumnFilter(fam, q, dropRef, valueCmp) =>
          val ref = b.flag(valueCmp.foldLeft(tested(fam, q)) { case (t, (op, c)) =>
            t && c.test(col("value"), op) })
          val keep = Option.when(dropRef)(b.flag(!tested(fam, q)))
          Compiled(Dependent(ref, keep), b.ref(ref), keep.fold(lit(true))(b.ref))
        case ColumnCountGetFilter(n) => whole(Columns(0, n))
        case ColumnPaginationFilter(limit, offset) => whole(Columns(offset, limit))
        case FirstKeyOnlyFilter() => whole(FirstKey)
        case SkipFilter(inner) =>
          val pass = b.flag(cellPredicate(inner).getOrElse(
            throw new IllegalArgumentException("SkipFilter requires a cell-level inner filter")))
          Compiled(Skip(pass), lit(true), b.ref(pass))
        case FilterList(FilterList.MustPassAll, fs) =>
          val steps = fs.scanLeft(Compiled(And(Nil), lit(false), lit(true))) { (acc, g) =>
            val c = compile(g)
            // a later step reads only what the earlier ones keep
            Compiled(c.node, acc.reads || (acc.keeps && c.reads), acc.keeps && c.keeps)
          }
          steps.last.copy(node = And(steps.tail.map(_.node)))
        case FilterList(FilterList.MustPassOne, fs) =>
          val gs = fs.map(compile)
          Compiled(Or(gs.map(_.node)), gs.map(_.reads).foldLeft(lit(false))(_ || _),
            gs.map(_.keeps).reduce(_ || _))
        case other =>
          throw new IllegalArgumentException(s"not a row-local filter: $other")
      }
    }
    val tree = gate.fold(Compiled(And(Nil), lit(false), lit(true)))(compile)
    val all = last.fold(tree) { p =>
      val t = test(p)
      Compiled(And(Seq(tree.node, t.node)), tree.reads, tree.keeps && t.keeps)
    }
    b.build(all.node, all.reads || all.keeps,
      Option.when(ts.nonEmpty)(ts.foldLeft(col("value"))((v, k) => keyOnly(k.lenAsVal, v))))
  }

  /** The relational step of a tree holding a PageFilter or
    * WhileMatchFilter; its row-local subtrees run through [[apply]]. */
  private def relational(cells: DataFrame, f: GFilter): DataFrame = f match {
    case PageFilter(n) =>
      // exact global limit: first n rows in row order, all their cells
      val firstRows = cells.select("row").distinct().orderBy("row").limit(n)
      cells.join(broadcast(firstRows), Seq("row"), "left_semi")

    case WhileMatchFilter(inner, reversed) =>
      // the strict prefix before the first rejected row
      // (WhileMatchFilter.java:39): scalar min(row) (max for reversed
      // scans) over rejects, one tiny agg (broadcast) + one filter. A
      // cell-level inner rejects a row with any failing cell, any other
      // a row it admits none of the cells of. Declared boundary (SURVEY
      // §7 watch list): the reference's mid-row stop is not reproduced.
      val rejects = cellPredicate(inner) match {
        case Some(p) => cells.filter(!(p <=> lit(true))).select("row")
        case None if rowLocal(inner) =>
          Resolve.rowVerdicts(cells, program(inner), raw = true, admitted = false)
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

    case FilterList(FilterList.MustPassAll, fs) =>
      // AND: sequential application (intersection)
      fs.foldLeft(cells)((df, g) => apply(df, g))

    case FilterList(FilterList.MustPassOne, fs) =>
      // KeyOnly children keep every cell and transform the whole output
      // (FilterList.transformCell delegates to every child); otherwise
      // the set union, as in the program's Or node
      val (transforms, gates) = fs.partition(_.isInstanceOf[KeyOnlyFilter])
      val admitted =
        if (transforms.nonEmpty || gates.isEmpty) cells
        else gates.map(apply(cells, _)).reduce(_ unionByName _).dropDuplicates(cells.columns.toIndexedSeq)
      transforms.foldLeft(admitted)((df, t) => apply(df, t))

    case other =>
      throw new IllegalArgumentException(s"unsupported filter $other")
  }
}
