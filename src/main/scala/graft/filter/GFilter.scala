package graft.filter

/** The filter algebra — graft's AST twin of the reference's ~30-filter
  * `Filter` hierarchy (hbase-client/.../filter/, SURVEY §2.3).
  *
  * Two classes of semantics:
  *  - **cell-level** filters are pure predicates over one cell's
  *    (row,family,qualifier,ts,value) → compile to a Catalyst `Column`
  *    (whole-stage-codegen'd, pushdown-eligible);
  *  - **row-level / stateful** filters (SCVF, Skip, DependentColumn,
  *    ColumnCount/Pagination, FirstKeyOnly, the KeyOnly transform) read
  *    the whole row → compile to a per-row program the resolve pass
  *    runs on each row's cells; Page and WhileMatch depend on scan
  *    order across rows → a small relational step over pass outputs.
  *
  * [[FilterCompiler]] performs both compilations.
  */
sealed trait GFilter

// ----- cell-level predicates ------------------------------------------------

/** F1 RowFilter.java:44 — compare the row key. */
final case class RowFilter(op: CompareOp, cmp: GComparator) extends GFilter
/** F2 FamilyFilter.java:48 */
final case class FamilyFilter(op: CompareOp, cmp: GComparator) extends GFilter
/** F3 QualifierFilter.java:45 */
final case class QualifierFilter(op: CompareOp, cmp: GComparator) extends GFilter
/** F4 ValueFilter.java:45 */
final case class ValueFilter(op: CompareOp, cmp: GComparator) extends GFilter
/** F5 ColumnValueFilter.java:39 — "return the matched cell only": keeps
  * matching cells of the one (f,q) column; all other cells are skipped
  * (filterCell:102 returns NEXT_COL/NEXT_ROW off-column). */
final case class ColumnValueFilter(family: String, qualifier: String,
    op: CompareOp, cmp: GComparator) extends GFilter
/** F9 PrefixFilter.java:39 — row key starts-with. */
final case class PrefixFilter(prefix: String) extends GFilter
/** F12 InclusiveStopFilter.java:38 — stop after including given row;
  * `reversed` matches the scan direction (a reversed scan keeps rows
  * >= stopRow, as the reference honors via filterRowKey + reversal). */
final case class InclusiveStopFilter(stopRow: String,
    reversed: Boolean = false) extends GFilter
/** F10 MultiRowRangeFilter.java:53 — union of [lo, hi) row ranges. */
final case class MultiRowRangeFilter(ranges: Seq[RowRange]) extends GFilter
final case class RowRange(lo: String, loInclusive: Boolean,
    hi: String, hiInclusive: Boolean)
/** F11 FuzzyRowFilter.java:67 — fixed-position wildcard match: a list of
  * (position, literal) constraints on the row key (0-based). */
final case class FuzzyRowFilter(fixed: Seq[(Int, String)]) extends GFilter
/** F11 general form (FuzzyRowFilter.java:64 doc): OR over (pattern,
  * mask) pairs; mask(i) == 0 ⇒ row(i) must equal pattern(i), mask(i)
  * == 1 ⇒ position i is a wildcard. Fixed positions must lie within
  * the row (shorter rows fail their fixed runs, as on the server). */
final case class FuzzyRowMaskFilter(patterns: Seq[(String, Seq[Int])]) extends GFilter
/** F16 ColumnPrefixFilter.java:42 — qualifier starts-with. */
final case class ColumnPrefixFilter(prefix: String) extends GFilter
/** F17 MultipleColumnPrefixFilter.java:46 */
final case class MultipleColumnPrefixFilter(prefixes: Seq[String]) extends GFilter
/** F18 ColumnRangeFilter.java:46 — qualifier range with inclusivity flags. */
final case class ColumnRangeFilter(min: String, minInclusive: Boolean,
    max: String, maxInclusive: Boolean) extends GFilter
/** F19 TimestampsFilter.java:46 — ts ∈ explicit set. */
final case class TimestampsFilter(timestamps: Seq[Long]) extends GFilter
/** F22 RandomRowFilter.java:34 — seeded deterministic variant: keeps a
  * row iff hash(row, seed) mod 10000 < chance*10000. */
final case class RandomRowFilter(chance: Double, seed: Int = 42) extends GFilter

// ----- projection-as-filter -------------------------------------------------

/** P3/F20 KeyOnlyFilter.java:53 — strip values (optionally → length). */
final case class KeyOnlyFilter(lenAsVal: Boolean = false) extends GFilter
/** P4/F21 FirstKeyOnlyFilter.java:37 — only the first cell of each row. */
final case class FirstKeyOnlyFilter() extends GFilter

// ----- row-level / stateful -------------------------------------------------

/** F6 SingleColumnValueFilter.java:65 — keep the whole row iff its
  * (family,qualifier) cell matches; rows lacking the column pass when
  * `filterIfMissing=false` (the reference default). */
final case class SingleColumnValueFilter(family: String, qualifier: String,
    op: CompareOp, cmp: GComparator,
    filterIfMissing: Boolean = false, latestVersionOnly: Boolean = true) extends GFilter
/** F7 SingleColumnValueExcludeFilter.java:41 — F6 + drop the tested column. */
final case class SingleColumnValueExcludeFilter(family: String, qualifier: String,
    op: CompareOp, cmp: GComparator,
    filterIfMissing: Boolean = false, latestVersionOnly: Boolean = true) extends GFilter
/** F8 DependentColumnFilter.java:46 — keep cells whose ts exists in the
  * row's reference column (family,qualifier); optional value compare on
  * the reference cells; optionally drop the reference column itself. */
final case class DependentColumnFilter(family: String, qualifier: String,
    dropDependentColumn: Boolean = false,
    valueCompare: Option[(CompareOp, GComparator)] = None) extends GFilter
/** F13 PageFilter.java:42 — declared exact-limit form: first n rows in
  * row order, all their cells (the reference's per-region page is a
  * physical artifact; SURVEY §2.3 F13). */
final case class PageFilter(numRows: Int) extends GFilter
/** F14 ColumnCountGetFilter.java:38 — at most n columns per row. */
final case class ColumnCountGetFilter(limit: Int) extends GFilter
/** F15 ColumnPaginationFilter.java:47 — per-row column limit+offset. */
final case class ColumnPaginationFilter(limit: Int, offset: Int) extends GFilter
/** F23 SkipFilter.java:49 — drop the whole row if the wrapped filter
  * excludes ANY of its cells. */
final case class SkipFilter(inner: GFilter) extends GFilter
/** F24 WhileMatchFilter.java:39 — prefix-of-stream: stop at the first
  * row/cell the wrapped filter rejects. `reversed` matches the scan
  * direction (a reversed scan's prefix is the row-DESC prefix). */
final case class WhileMatchFilter(inner: GFilter,
    reversed: Boolean = false) extends GFilter
/** F25 FilterList.java:46 — boolean composition, nestable. */
final case class FilterList(op: FilterList.Op, filters: Seq[GFilter]) extends GFilter
object FilterList {
  sealed trait Op
  case object MustPassAll extends Op // AND (FilterListWithAND.java:34)
  case object MustPassOne extends Op // OR  (FilterListWithOR.java:34)
  def and(fs: GFilter*): FilterList = FilterList(MustPassAll, fs)
  def or(fs: GFilter*): FilterList  = FilterList(MustPassOne, fs)
}
