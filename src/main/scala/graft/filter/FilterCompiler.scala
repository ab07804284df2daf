package graft.filter

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.read.Resolve

/** Compiles the [[GFilter]] AST against a canonical CellSet DataFrame.
  *
  * Cell-level filters become one fused `Column` predicate (→ Catalyst
  * pushdown, whole-stage codegen — the analogue of the reference's
  * server-side `filterCell` fast path plus its seek-hint skipping,
  * SURVEY §4 O3). Row-level filters become semi/anti-join or window
  * rewrites, chosen so the build side is the small one (broadcastable).
  * A scan's SCVF trees skip those rewrites: [[rowGate]] hands them to
  * the resolve pass, which decides the verdict at row end.
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

  /** Apply a filter to a CellSet DataFrame. */
  def apply(cells: DataFrame, f: GFilter): DataFrame = cellPredicate(f) match {
    case Some(p) => cells.filter(p)
    case None    => rewrite(cells, f)
  }

  /** Rows with at least one admitted cell — the row-membership view of
    * [[apply]] (what a CAS guard needs). OR-lists union row sets
    * directly instead of materializing + deduping admitted cells, and
    * the SCVF pass-case reads its verdict aggregate without the
    * cells-side semi-join at all. */
  def admittedRows(cells: DataFrame, f: GFilter): DataFrame = f match {
    // OR of column-value guards: ONE verdict-matrix pass instead of a
    // union of per-filter subplans. All tested columns rank in one
    // window (per-column latest), then one grouped aggregate computes
    // every child's verdict as an int column — a single exchange on
    // row-hash, where the union form ran a sort+aggregate+exchange
    // PER child and then a distinct over the union.
    case FilterList(FilterList.MustPassOne, fs)
        if fs.size > 1 && fs.forall {
          case SingleColumnValueFilter(_, _, _, _, true, _) => true
          case _ => false
        } =>
      val svs = fs.collect { case s: SingleColumnValueFilter => s }
      val colCells = cells.filter(
        svs.map(s => col("family") === s.family && col("qualifier") === s.qualifier)
          .reduce(_ || _))
      // per-column newest version (same (ts, value) ordering as the
      // single-SCVF verdict); non-latest-only children ignore the rank
      val w = Window.partitionBy(col("row"), col("family"), col("qualifier"))
        .orderBy(col("ts").desc, col("value").desc)
      val ranked = colCells.withColumn("__rn", row_number().over(w))
      val verdicts = svs.zipWithIndex.map { case (s, i) =>
        val colMatch = col("family") === s.family && col("qualifier") === s.qualifier
        val scope = if (s.latestVersionOnly) colMatch && col("__rn") === 1 else colMatch
        max(when(scope && (s.cmp.test(col("value"), s.op) <=> lit(true)), 1)
          .otherwise(0)).as(s"__v$i")
      }
      ranked.groupBy("row").agg(verdicts.head, verdicts.tail: _*)
        .filter(svs.indices.map(i => col(s"__v$i") === 1).reduce(_ || _))
        .select("row")
    case FilterList(FilterList.MustPassOne, fs) if fs.nonEmpty =>
      fs.map(admittedRows(cells, _)).reduce(_ unionByName _).distinct()
    case SingleColumnValueFilter(fam, q, op, c, true, latestOnly) =>
      scvfVerdict(cells, fam, q, op, c, latestOnly)
        .filter(col("__m") <=> lit(true)).select("row")
    case _ => apply(cells, f).select("row").distinct()
  }

  private val colOrder = Seq(col("family").asc, col("qualifier").asc, col("ts").desc)

  private def rewrite(cells: DataFrame, f: GFilter): DataFrame = f match {

    case SingleColumnValueFilter(fam, q, op, c, ifMissing, latestOnly) =>
      scvf(cells, fam, q, op, c, ifMissing, latestOnly)

    case SingleColumnValueExcludeFilter(fam, q, op, c, ifMissing, latestOnly) =>
      scvf(cells, fam, q, op, c, ifMissing, latestOnly)
        .filter(!(col("family") === fam && col("qualifier") === q))

    case DependentColumnFilter(fam, q, drop, valueCmp) =>
      // intra-row ts-join against the reference column's ts set
      // (DependentColumnFilter.java:46) — the reference's only join.
      val ref0 = cells.filter(col("family") === fam && col("qualifier") === q)
      val ref = valueCmp.fold(ref0) { case (op, c) => ref0.filter(c.test(col("value"), op)) }
      // no distinct on the reference side: a semi-join ignores duplicate
      // build rows anyway, and the distinct's (row, ts) aggregate
      // exchange would break the cell store's hash(row) co-partitioning
      // (subset co-partitioning keeps the semi-join exchange-free).
      val joined = cells.join(ref.select("row", "ts"), Seq("row", "ts"), "left_semi")
      if (drop) joined.filter(!(col("family") === fam && col("qualifier") === q)) else joined

    case PageFilter(n) =>
      // exact global limit: first n rows in row order, all their cells
      val firstRows = cells.select("row").distinct().orderBy("row").limit(n)
      cells.join(broadcast(firstRows), Seq("row"), "left_semi")

    case ColumnCountGetFilter(n) =>
      withColRank(cells).filter(col("__crank") <= n).drop("__crank")

    case ColumnPaginationFilter(limit, offset) =>
      withColRank(cells)
        .filter(col("__crank") > offset && col("__crank") <= offset + limit)
        .drop("__crank")

    case SkipFilter(inner) =>
      val p = cellPredicate(inner).getOrElse(
        throw new IllegalArgumentException("SkipFilter requires a cell-level inner filter"))
      // any failing cell vetoes the whole row (SkipFilter.java:49);
      // a null predicate (e.g. unparseable numeric value) is a reject,
      // so compare null-safely against true
      val vetoed = cells.filter(!(p <=> lit(true))).select("row").distinct()
      cells.join(vetoed, Seq("row"), "left_anti")

    case WhileMatchFilter(inner, reversed) =>
      // keep the prefix of the stream before the first rejected row
      // (WhileMatchFilter.java:39): scalar min(row) (max for reversed
      // scans) over rejects, then the strict prefix before it. One tiny
      // agg (broadcast) + one filter. Declared capability boundary
      // (SURVEY §7 watch list): the rewrite is ROW-granular — the
      // reference's cell-granular mid-row stop is not reproduced.
      val rejects = (cellPredicate(inner), inner) match {
        case (Some(p), _) => cells.filter(!(p <=> lit(true))).select("row")
        case (None, SingleColumnValueFilter(fam, q, op, c, ifMissing, latestOnly)) =>
          // fast path: rejected rows read straight off the shared
          // verdict aggregate (one guard-column aggregate, no
          // admitted-cells materialization + anti-join)
          val v = scvfVerdict(cells, fam, q, op, c, latestOnly)
          val falseRows = v.filter(!(col("__m") <=> lit(true))).select("row")
          if (!ifMissing) falseRows
          else falseRows.unionByName(
            cells.select("row").distinct()
              .join(v.select("row"), Seq("row"), "left_anti"))
        case (None, _) =>
          // ROW-level inner: a row is rejected iff the inner filter
          // admits none of its cells — the same row granularity as the
          // cell-predicate branch
          cells.select("row")
            .join(apply(cells, inner).select("row").distinct(),
              Seq("row"), "left_anti")
      }
      val firstReject = rejects
        .agg((if (reversed) max(col("row")) else min(col("row"))).as("__stop"))
      cells.join(broadcast(firstReject))
        .filter(col("__stop").isNull ||
          (if (reversed) col("row") > col("__stop") else col("row") < col("__stop")))
        .drop("__stop")

    case KeyOnlyFilter(lenAsVal) =>
      // LEN_AS_VAL is the value's BYTE length (KeyOnlyFilter.java:53
      // stores Bytes.toBytes(value.length) of the serialized value),
      // so octet_length, not character length
      if (lenAsVal) cells.withColumn("value", octet_length(col("value")).cast("string"))
      else cells.withColumn("value", lit(null).cast("string"))

    case FirstKeyOnlyFilter() =>
      val w = Window.partitionBy(col("row")).orderBy(colOrder: _*)
      cells.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")

    case FilterList(FilterList.MustPassAll, fs) =>
      // AND of mixed cell/row-level: sequential application (intersection)
      fs.foldLeft(cells)((df, g) => apply(df, g))

    case FilterList(FilterList.MustPassOne, fs) =>
      // OR of mixed cell/row-level children (FilterListWithOR.java:34):
      // a cell passes if ANY child admits it. Transform-only children
      // (KeyOnly — filterCell always INCLUDEs, transformCell rewrites)
      // follow the reference exactly: they admit EVERY cell, and their
      // transform applies to the whole list's output (FilterList
      // .transformCell delegates to every child), so the union is
      // computed over untransformed gates first — no duplicate
      // coordinates with diverging values can arise — and transforms
      // run once at the end.
      val (transformers, gates) = fs.partition {
        case KeyOnlyFilter(_) => true
        case _                => false
      }
      val admitted =
        if (transformers.nonEmpty || gates.isEmpty) cells
        else {
          val (cellKids, rowKids) = gates.partition(cellPredicate(_).isDefined)
          val cellPart =
            if (cellKids.isEmpty) Nil
            else Seq(cells.filter(cellKids.flatMap(cellPredicate).reduce(_ || _)))
          val parts = cellPart ++ rowKids.map(rewrite(cells, _))
          // cell sets are coordinate-unique and untransformed, so the
          // dedup only collapses the same cell admitted by >1 child
          parts.reduce(_ unionByName _).dropDuplicates(cells.columns.toIndexedSeq)
        }
      transformers.foldLeft(admitted)((df, t) => rewrite(df, t))

    case other =>
      throw new IllegalArgumentException(s"unsupported filter $other")
  }

  /** The per-row verdict aggregate shared by [[scvf]] and
    * [[admittedRows]]: (row, __m) for every row HAVING the column.
    *
    * Row-level semantics of SCVF (SingleColumnValueFilter.java:65-74):
    * for `latestVersionOnly` the tested value is the newest version's
    * (max by ts; ties break on value, deterministically); otherwise any
    * version matching passes. A null predicate result (unparseable
    * value under a numeric comparator) is a no-match, so the verdict is
    * compared null-safely. [[rowGate]] decides the same verdict inside
    * the resolve pass.
    */
  private def scvfVerdict(cells: DataFrame, fam: String, q: String,
      op: CompareOp, c: GComparator, latestVersionOnly: Boolean): DataFrame = {
    val colCells = cells.filter(col("family") === fam && col("qualifier") === q)
    if (latestVersionOnly) {
      // the check reads the column's newest version (ts ties broken by
      // value, the exact ordering of max(struct(ts, value))) — realized
      // as a rank window, NOT a struct max: a struct-with-string agg
      // buffer is not hash-aggregable, so the max form planned
      // SortAggregate pairs (two full sorts per verdict) everywhere a
      // latest-only SCVF appeared (q42's guard paid it four times)
      val w = Window.partitionBy(col("row"))
        .orderBy(col("ts").desc, col("value").desc)
      colCells.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("row"), c.test(col("value"), op).as("__m"))
    } else
      colCells.groupBy("row")
        .agg((max(when(c.test(col("value"), op), 1).otherwise(0)) === 1).as("__m"))
  }

  /** The SCVF verdicts of a scan's filter tree as a row gate for the
    * resolve pass: a SingleColumnValue(Exclude)Filter alone, or an AND
    * list (nested ANDs flattened) of such filters and per-cell filters.
    * None for any other tree. List order is kept, as the sequential
    * AND rewrite keeps it: a per-cell filter ahead of an SCVF limits
    * what the SCVF reads, one after it only what is emitted, and an
    * Exclude filter's column is gone for everything after it. The
    * verdicts equal [[scvf]]'s over the same masked view; no join,
    * window or exchange is planned for them. */
  def rowGate(f: GFilter): Option[Resolve.RowGate] = {
    def steps(g: GFilter): Seq[GFilter] = g match {
      case FilterList(FilterList.MustPassAll, fs) => fs.flatMap(steps)
      case other => Seq(other)
    }
    def tested(fam: String, q: String) = col("family") === fam && col("qualifier") === q
    val start = Option((lit(true), Vector.empty[Resolve.ColumnTest]))
    steps(f).foldLeft(start) {
      case (Some((admitted, tests)), step) => step match {
        case SingleColumnValueFilter(fam, q, op, c, ifMissing, latestOnly) =>
          Some((admitted,
            tests :+ Resolve.ColumnTest(fam, q, admitted, c.test(col("value"), op),
              ifMissing, latestOnly)))
        case SingleColumnValueExcludeFilter(fam, q, op, c, ifMissing, latestOnly) =>
          Some((admitted && !tested(fam, q),
            tests :+ Resolve.ColumnTest(fam, q, admitted, c.test(col("value"), op),
              ifMissing, latestOnly)))
        case other => cellPredicate(other).map(p => (admitted && p, tests))
      }
      case (None, _) => None
    }.collect { case (emit, tests) if tests.nonEmpty => Resolve.RowGate(tests, emit) }
  }

  private def scvf(cells: DataFrame, fam: String, q: String, op: CompareOp,
      c: GComparator, filterIfMissing: Boolean, latestVersionOnly: Boolean): DataFrame = {
    val verdict = scvfVerdict(cells, fam, q, op, c, latestVersionOnly)
    if (filterIfMissing)
      cells.join(verdict.filter(col("__m") <=> lit(true)).select("row"),
        Seq("row"), "left_semi")
    else
      // rows lacking the column pass; rows having it must match
      cells.join(verdict.filter(!(col("__m") <=> lit(true))).select("row"),
        Seq("row"), "left_anti")
  }

  /** Per-row column rank by (family,qualifier); versions of the same
    * column share a rank (dense_rank over the column coordinates). */
  private def withColRank(cells: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("row")).orderBy(col("family").asc, col("qualifier").asc)
    cells.withColumn("__crank", dense_rank().over(w))
  }
}
