package graft

import scala.util.Random

import graft.filter._
import graft.model.{CellType, GCell}

/** Randomized equivalence of the compiled filter algebra against a
  * naive in-memory evaluator (the SURVEY §5 device ResolvePropertySpec
  * uses for resolve, applied to the largest correctness surface in the
  * repo): random filter TREES over random cell sets ⇒ identical output
  * cell multisets. The naive evaluator re-implements the documented
  * semantics of each filter independently of FilterCompiler's
  * join/window rewrites, so a divergence in either is caught. Seeded —
  * deterministic.
  */
class FilterPropertySpec extends SparkSpec {
  import spark.implicits._

  // ---- fixture ------------------------------------------------------------

  private val rowsPool  = (1 to 8).map(i => f"r$i%02d")
  private val famsPool  = Seq("d", "e")
  private val qualsPool = Seq("a", "b", "c")
  private val valsPool  = Seq("alpha", "beta", "0", "42", "100", "x1", "Alp")

  private def genCells(rnd: Random): Seq[GCell] = {
    val n = 20 + rnd.nextInt(25)
    (0 until n).map { _ =>
      GCell(rowsPool(rnd.nextInt(rowsPool.size)),
        famsPool(rnd.nextInt(famsPool.size)),
        qualsPool(rnd.nextInt(qualsPool.size)),
        1L + rnd.nextInt(3), CellType.Put,
        valsPool(rnd.nextInt(valsPool.size)))
    }.groupBy(c => (c.row, c.family, c.qualifier, c.ts)).map(_._2.head).toSeq
  }

  /** [[genCells]] plus what a raw cell set also holds: markers (cells
    * like any other to a filter), null values, and a few cells that
    * appear twice. */
  private def genRawCells(rnd: Random): Seq[GCell] = {
    val cells = genCells(rnd).map { c =>
      rnd.nextInt(10) match {
        case 0 => c.copy(`type` = CellType.DeleteColumn, value = null)
        case 1 => c.copy(`type` = CellType.DeleteFamily, qualifier = "", value = null)
        case 2 => c.copy(value = null)
        case _ => c
      }
    }
    cells ++ cells.filter(_ => rnd.nextInt(8) == 0)
  }

  // ---- naive comparator / predicate mirrors -------------------------------

  private def cmpOrd(op: CompareOp, c: Int): Boolean = op match {
    case CompareOp.Less           => c < 0
    case CompareOp.LessOrEqual    => c <= 0
    case CompareOp.Equal          => c == 0
    case CompareOp.NotEqual       => c != 0
    case CompareOp.GreaterOrEqual => c >= 0
    case CompareOp.Greater        => c > 0
  }

  /** Three-valued → two-valued: a null predicate result never matches
    * (the compiled side's `<=> lit(true)` handling). */
  private def cmpTest(cmp: GComparator, subject: String, op: CompareOp): Boolean =
    subject != null && (cmp match {
      case BinaryComparator(v)       => cmpOrd(op, subject.compareTo(v))
      case BinaryPrefixComparator(p) => cmpOrd(op, subject.take(p.length).compareTo(p))
      case SubstringComparator(s) =>
        val c = subject.toLowerCase(java.util.Locale.ROOT)
          .contains(s.toLowerCase(java.util.Locale.ROOT))
        op match {
          case CompareOp.Equal    => c
          case CompareOp.NotEqual => !c
          case other => sys.error(s"unsupported $other")
        }
      case LongComparator(v) =>
        subject.toLongOption.exists(l => cmpOrd(op, java.lang.Long.compare(l, v)))
      case other => sys.error(s"naive mirror lacks $other")
    })

  private def cellPred(f: GFilter, c: GCell): Boolean = f match {
    case RowFilter(op, cmp)       => cmpTest(cmp, c.row, op)
    case FamilyFilter(op, cmp)    => cmpTest(cmp, c.family, op)
    case QualifierFilter(op, cmp) => cmpTest(cmp, c.qualifier, op)
    case ValueFilter(op, cmp)     => cmpTest(cmp, c.value, op)
    case ColumnValueFilter(fam, q, op, cmp) =>
      c.family == fam && c.qualifier == q && cmpTest(cmp, c.value, op)
    case PrefixFilter(p)          => c.row.startsWith(p)
    case InclusiveStopFilter(s, rev) => if (rev) c.row >= s else c.row <= s
    case MultiRowRangeFilter(rs) => rs.exists { r =>
      (if (r.loInclusive) c.row >= r.lo else c.row > r.lo) &&
        (if (r.hiInclusive) c.row <= r.hi else c.row < r.hi)
    }
    case FuzzyRowFilter(fixed) =>
      fixed.forall { case (pos, lit0) => c.row.drop(pos).take(lit0.length) == lit0 }
    case FuzzyRowMaskFilter(patterns) =>
      patterns.exists { case (pat, mask) =>
        mask.indices.forall(i => mask(i) != 0 ||
          (i < c.row.length && c.row.charAt(i) == pat.charAt(i)))
      }
    case ColumnPrefixFilter(p) => c.qualifier.startsWith(p)
    case MultipleColumnPrefixFilter(ps) => ps.exists(c.qualifier.startsWith)
    case ColumnRangeFilter(min, minInc, max, maxInc) =>
      (if (minInc) c.qualifier >= min else c.qualifier > min) &&
        (if (maxInc) c.qualifier <= max else c.qualifier < max)
    case TimestampsFilter(tss) => tss.contains(c.ts)
    case FilterList(op, fs) if fs.forall(isCellLevel) =>
      op match {
        case FilterList.MustPassAll => fs.forall(cellPred(_, c))
        case FilterList.MustPassOne => fs.isEmpty || fs.exists(cellPred(_, c))
      }
    case other => sys.error(s"not a cell-level filter: $other")
  }

  private def isCellLevel(f: GFilter): Boolean = f match {
    case FilterList(_, fs) => fs.forall(isCellLevel)
    case _: RowFilter | _: FamilyFilter | _: QualifierFilter | _: ValueFilter |
        _: ColumnValueFilter | _: PrefixFilter | _: InclusiveStopFilter |
        _: MultiRowRangeFilter | _: FuzzyRowFilter | _: FuzzyRowMaskFilter |
        _: ColumnPrefixFilter | _: MultipleColumnPrefixFilter |
        _: ColumnRangeFilter | _: TimestampsFilter => true
    case _ => false
  }

  // ---- naive row-level evaluator ------------------------------------------

  private def colRank(cells: Seq[GCell]): Map[GCell, Int] =
    cells.groupBy(_.row).values.flatMap { rc =>
      val ranks = rc.map(c => (c.family, c.qualifier)).distinct.sorted.zipWithIndex.toMap
      rc.map(c => c -> (ranks((c.family, c.qualifier)) + 1))
    }.toMap

  // null values sort below every value, as in Catalyst's DESC NULLS LAST
  private val valueOrd: Ordering[String] = Ordering.Option[String].on(Option(_))

  private def naive(cells: Seq[GCell], f: GFilter): Seq[GCell] = f match {
    case g if isCellLevel(g) => cells.filter(cellPred(g, _))

    case SingleColumnValueFilter(fam, q, op, cmp, ifMissing, latestOnly) =>
      scvfKeep(cells, fam, q, op, cmp, ifMissing, latestOnly)

    case SingleColumnValueExcludeFilter(fam, q, op, cmp, ifMissing, latestOnly) =>
      scvfKeep(cells, fam, q, op, cmp, ifMissing, latestOnly)
        .filterNot(c => c.family == fam && c.qualifier == q)

    case DependentColumnFilter(fam, q, drop, valueCmp) =>
      val ref = cells.filter(c => c.family == fam && c.qualifier == q)
        .filter(c => valueCmp.forall { case (op, cmp) => cmpTest(cmp, c.value, op) })
      val keys = ref.map(c => (c.row, c.ts)).toSet
      val kept = cells.filter(c => keys.contains((c.row, c.ts)))
      if (drop) kept.filterNot(c => c.family == fam && c.qualifier == q) else kept

    case PageFilter(n) =>
      val keep = cells.map(_.row).distinct.sorted.take(n).toSet
      cells.filter(c => keep.contains(c.row))

    case ColumnCountGetFilter(n) =>
      val rank = colRank(cells); cells.filter(rank(_) <= n)

    case ColumnPaginationFilter(limit, offset) =>
      val rank = colRank(cells)
      cells.filter(c => rank(c) > offset && rank(c) <= offset + limit)

    case SkipFilter(inner) =>
      val vetoed = cells.filter(!cellPred(inner, _)).map(_.row).toSet
      cells.filterNot(c => vetoed.contains(c.row))

    case WhileMatchFilter(inner, rev) =>
      // a cell-level inner rejects a row with any failing cell; a
      // row-level one (q20's SCVF) a row it admits none of the cells of
      val rejects =
        if (isCellLevel(inner)) cells.filter(!cellPred(inner, _)).map(_.row)
        else { val kept = naive(cells, inner).map(_.row).toSet; cells.map(_.row).filterNot(kept) }
      if (rejects.isEmpty) cells
      else if (rev) { val stop = rejects.max; cells.filter(_.row > stop) }
      else { val stop = rejects.min; cells.filter(_.row < stop) }

    case KeyOnlyFilter(lenAsVal) =>
      cells.map(c => c.copy(value =
        if (lenAsVal && c.value != null) c.value.getBytes("UTF-8").length.toString else null))

    case FirstKeyOnlyFilter() =>
      // cell order; ties: markers first, then the larger value
      cells.groupBy(_.row).values.map(_.minBy(c => (c.family, c.qualifier, -c.ts,
        c.`type` == CellType.Put, Option(c.value)))(Ordering.Tuple5(Ordering.String,
        Ordering.String, Ordering.Long, Ordering.Boolean, Ordering.Option(valueOrd.reverse))))
        .toSeq

    case FilterList(FilterList.MustPassAll, fs) =>
      fs.foldLeft(cells)(naive)

    case FilterList(FilterList.MustPassOne, fs) =>
      val (transformers, gates) = fs.partition {
        case KeyOnlyFilter(_) => true
        case _                => false
      }
      val admitted =
        if (transformers.nonEmpty || gates.isEmpty) cells
        else gates.flatMap(naive(cells, _)).distinct
      transformers.foldLeft(admitted)(naive)

    case other => sys.error(s"naive evaluator lacks $other")
  }

  private def scvfKeep(cells: Seq[GCell], fam: String, q: String, op: CompareOp,
      cmp: GComparator, ifMissing: Boolean, latestOnly: Boolean): Seq[GCell] = {
    val verdict: Map[String, Boolean] = cells
      .filter(c => c.family == fam && c.qualifier == q)
      .groupBy(_.row)
      .map { case (r, cs) =>
        r -> (if (latestOnly)
                cmpTest(cmp, cs.maxBy(c => (c.ts, c.value))(Ordering.Tuple2(Ordering.Long,
                  valueOrd)).value, op)
              else cs.exists(c => cmpTest(cmp, c.value, op)))
      }
    if (ifMissing) cells.filter(c => verdict.getOrElse(c.row, false))
    else cells.filter(c => verdict.getOrElse(c.row, true))
  }

  // ---- random filter generator --------------------------------------------

  private def genComparator(rnd: Random): (GComparator, CompareOp) =
    rnd.nextInt(4) match {
      case 0 => (BinaryComparator(valsPool(rnd.nextInt(valsPool.size))),
        CompareOp.all(rnd.nextInt(CompareOp.all.size)))
      case 1 => (BinaryPrefixComparator(Seq("al", "4", "x")(rnd.nextInt(3))),
        CompareOp.all(rnd.nextInt(CompareOp.all.size)))
      case 2 => (SubstringComparator(Seq("lp", "1", "ET")(rnd.nextInt(3))),
        if (rnd.nextBoolean()) CompareOp.Equal else CompareOp.NotEqual)
      case _ => (LongComparator(Seq(0L, 42L, 99L)(rnd.nextInt(3))),
        CompareOp.all(rnd.nextInt(CompareOp.all.size)))
    }

  private def genCellLeaf(rnd: Random): GFilter = rnd.nextInt(12) match {
    case 0 =>
      // any comparator is fair on rows: numeric ones simply never
      // match (both sides treat an unparseable subject as no-match)
      if (rnd.nextBoolean())
        RowFilter(CompareOp.all(rnd.nextInt(6)),
          BinaryComparator(rowsPool(rnd.nextInt(rowsPool.size))))
      else { val (c, op) = genComparator(rnd); RowFilter(op, c) }
    case 1 => val (c, op) = genComparator(rnd); ValueFilter(op, c)
    case 2 => QualifierFilter(CompareOp.all(rnd.nextInt(6)),
      BinaryComparator(qualsPool(rnd.nextInt(qualsPool.size))))
    case 3 => val (c, op) = genComparator(rnd)
      ColumnValueFilter(famsPool(rnd.nextInt(2)), qualsPool(rnd.nextInt(3)), op, c)
    case 4 => PrefixFilter(if (rnd.nextBoolean()) "r0" else "r")
    case 5 => InclusiveStopFilter(rowsPool(rnd.nextInt(rowsPool.size)), rnd.nextBoolean())
    case 6 => MultiRowRangeFilter(Seq(
      RowRange("r01", rnd.nextBoolean(), "r04", rnd.nextBoolean()),
      RowRange("r06", rnd.nextBoolean(), "r08", rnd.nextBoolean())))
    case 7 => if (rnd.nextBoolean()) FuzzyRowFilter(Seq(1 -> "0"))
      else FuzzyRowMaskFilter(Seq(
        ("r03", Seq(0, 1, 0)), ("r05", Seq(1, 0, 0))))
    case 8 => if (rnd.nextBoolean()) ColumnPrefixFilter("a")
      else MultipleColumnPrefixFilter(Seq("a", "c"))
    case 9 => ColumnRangeFilter("a", rnd.nextBoolean(), "b", rnd.nextBoolean())
    case 10 => TimestampsFilter(Seq(1L, 3L))
    case _ => FamilyFilter(CompareOp.Equal, BinaryComparator("d"))
  }

  private def genRowLeaf(rnd: Random): GFilter = rnd.nextInt(8) match {
    case 0 => val (c, op) = genComparator(rnd)
      SingleColumnValueFilter(famsPool(rnd.nextInt(2)), qualsPool(rnd.nextInt(3)),
        op, c, filterIfMissing = rnd.nextBoolean(), latestVersionOnly = rnd.nextBoolean())
    case 1 => val (c, op) = genComparator(rnd)
      SingleColumnValueExcludeFilter("d", "a", op, c, rnd.nextBoolean(), rnd.nextBoolean())
    case 2 => DependentColumnFilter("d", "b", rnd.nextBoolean(),
      if (rnd.nextBoolean()) None
      else Some((CompareOp.Equal, BinaryComparator("alpha"))))
    case 3 => PageFilter(1 + rnd.nextInt(5))
    case 4 => if (rnd.nextBoolean()) ColumnCountGetFilter(1 + rnd.nextInt(3))
      else ColumnPaginationFilter(1 + rnd.nextInt(2), rnd.nextInt(3))
    case 5 => SkipFilter(genCellLeaf(rnd))
    case 6 => WhileMatchFilter(
      if (rnd.nextBoolean()) genCellLeaf(rnd) else genRowLeaf(rnd), rnd.nextBoolean())
    case _ => if (rnd.nextBoolean()) KeyOnlyFilter(rnd.nextBoolean())
      else FirstKeyOnlyFilter()
  }

  private def genFilter(rnd: Random, depth: Int): GFilter =
    if (depth == 0 || rnd.nextInt(3) == 0) {
      if (rnd.nextBoolean()) genCellLeaf(rnd) else genRowLeaf(rnd)
    } else {
      val kids = (0 to 1 + rnd.nextInt(2)).map(_ => genFilter(rnd, depth - 1))
      // a Page or WhileMatch among the children of one list in four
      val stateful =
        if (rnd.nextInt(4) > 0) Nil
        else Seq(if (rnd.nextBoolean()) PageFilter(1 + rnd.nextInt(5))
                 else WhileMatchFilter(genRowLeaf(rnd), rnd.nextBoolean()))
      FilterList(if (rnd.nextBoolean()) FilterList.MustPassAll
                 else FilterList.MustPassOne,
        new Random(rnd.nextLong()).shuffle(kids ++ stateful))
    }

  // ---- the property -------------------------------------------------------

  private def asTuples(cells: Seq[GCell]): Set[(String, String, String, Long, String)] =
    cells.map(c => (c.row, c.family, c.qualifier, c.ts,
      Option(c.value).getOrElse(" null"))).toSet

  private def asMultiset(cells: Seq[GCell]): Seq[(String, String, String, Long, String, String)] =
    cells.map(c => (c.row, c.family, c.qualifier, c.ts, c.`type`,
      Option(c.value).getOrElse(" null"))).sorted

  test("compiled filters equal the naive evaluator on 80 random trees") {
    // raw cell sets: markers, null values and duplicate cells, compared
    // as multisets
    val rnd = new Random(20260812)
    (1 to 80).foreach { i =>
      val cells = genRawCells(rnd)
      val f     = genFilter(rnd, depth = 2)
      val got = FilterCompiler(cells.toDF(), f).as[GCell].collect().toSeq
      assert(asMultiset(got) === asMultiset(naive(cells, f)), s"case $i filter=$f cells=$cells")
    }
  }

  test("non-raw scanFiltered masks deletes BEFORE the tree on 40 random cases") {
    import graft.read.{GScan, GTable}
    val rnd = new Random(20260814)
    // cells with tombstones mixed in
    def genCellsT(): Seq[GCell] = {
      val n = 20 + rnd.nextInt(25)
      (0 until n).map { _ =>
        val t = rnd.nextInt(8) match {
          case 0 => CellType.Delete
          case 1 => CellType.DeleteColumn
          case 2 => CellType.DeleteFamily
          case 3 => CellType.DeleteFamilyVersion
          case _ => CellType.Put
        }
        val q = if (t == CellType.DeleteFamily || t == CellType.DeleteFamilyVersion) ""
                else qualsPool(rnd.nextInt(qualsPool.size))
        GCell(rowsPool(rnd.nextInt(rowsPool.size)),
          famsPool(rnd.nextInt(famsPool.size)), q,
          1L + rnd.nextInt(3), t,
          if (t == CellType.Put) valsPool(rnd.nextInt(valsPool.size)) else null)
      }.groupBy(c => (c.row, c.family, c.qualifier, c.ts, c.`type`))
        .map(_._2.head).toSeq
    }
    // naive delete masking (no time-travel knobs on a default GScan)
    def mask(cells: Seq[GCell]): Seq[GCell] =
      cells.filter(_.`type` == CellType.Put).filterNot { p =>
        cells.exists { d =>
          d.row == p.row && d.family == p.family && (d.`type` match {
            case CellType.Delete =>
              d.qualifier == p.qualifier && d.ts == p.ts
            case CellType.DeleteColumn =>
              d.qualifier == p.qualifier && p.ts <= d.ts
            case CellType.DeleteFamily        => p.ts <= d.ts
            case CellType.DeleteFamilyVersion => p.ts == d.ts
            case _ => false
          })
        }
      }
    (1 to 40).foreach { i =>
      val cells = genCellsT()
      val f     = genFilter(rnd, depth = 2)
      val got = GTable.scanFiltered(cells.toDF(), GScan(), f)
        .collect()
        .map(r => (r.getAs[String]("row"), r.getAs[String]("family"),
          r.getAs[String]("qualifier"), r.getAs[Long]("ts"),
          Option(r.getAs[String]("value")).getOrElse(" null")))
        .toSet
      // mask → filter tree → newest-1 version gate (filter precedes
      // version counting, so the gate runs on the tree's survivors);
      // scanFiltered normalizes the tree's reversed flags to the scan's
      val want = naive(mask(cells), FilterCompiler.withReversed(f, reversed = false))
        .groupBy(c => (c.row, c.family, c.qualifier)).values
        .flatMap(cs => cs.sortBy(-_.ts).take(1))
      assert(got === asTuples(want.toSeq), s"case $i filter=$f cells=$cells")
    }
  }

  test("scanFiltered equals naive(reversed-propagated tree) + range on 40 random cases") {
    import graft.read.{GScan, GTable}
    val rnd = new Random(20260813)
    (1 to 40).foreach { i =>
      val cells = genCells(rnd)
      val f     = genFilter(rnd, depth = 2)
      val reversed = rnd.nextBoolean()
      val (lo, hi) = {
        val a = rowsPool(rnd.nextInt(rowsPool.size))
        val b = rowsPool(rnd.nextInt(rowsPool.size))
        if (a <= b) (a, b) else (b, a)
      }
      val s = GScan(startRow = Some(lo), stopRow = Some(hi),
        stopInclusive = rnd.nextBoolean(), reversed = reversed, raw = true)
      val got = GTable.scanFiltered(cells.toDF(), s, f)
        .collect()
        .map(r => (r.getAs[String]("row"), r.getAs[String]("family"),
          r.getAs[String]("qualifier"), r.getAs[Long]("ts"),
          Option(r.getAs[String]("value")).getOrElse(" null")))
        .toSet
      // naive twin: range-prune FIRST (server filters see only in-range
      // cells), then the reversed-propagated filter tree
      // (raw scan — Put-only fixture, so resolve is identity)
      val ranged = cells.filter { c =>
        c.row >= lo && (if (s.stopInclusive) c.row <= hi else c.row < hi)
      }
      val filtered = naive(ranged, FilterCompiler.withReversed(f, reversed))
      assert(got === asTuples(filtered), s"case $i rev=$reversed filter=$f")
    }
  }
}
