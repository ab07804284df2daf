package graft.read

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VisKernel
import graft.model.CellType

/** Read-time reconciliation of the multi-version cell set: tombstone
  * masking × version gate × time range × TTL — the Spark rewrite of the
  * reference's server-side querymatcher
  * (hbase-server/.../querymatcher/ScanQueryMatcher.java:252,
  * ScanDeleteTracker.java:46,70,102; tombstone kinds Cell.java:146-155).
  *
  * Semantics (matching ScanDeleteTracker):
  *   - Delete               masks the put with the exact same (row,family,qualifier,ts)
  *   - DeleteColumn         masks puts of (row,family,qualifier) with ts <= marker
  *   - DeleteFamily         masks puts of (row,family)          with ts <= marker
  *   - DeleteFamilyVersion  masks puts of (row,family)          with ts == marker
  * then the scan time range filters surviving cells, then the per-column
  * version gate keeps the newest `maxVersions` (timestamp DESC).
  *
  * Scale notes: the resolve is ONE partition-local pass, not a plan of
  * joins. Cells group by row and each row streams through a tracker in
  * (family, qualifier, ts DESC, value DESC) order, the order the
  * reference's StoreScanner feeds ScanQueryMatcher, so state is bounded
  * by one family's markers (and, under a filter program, by the row's
  * live cells it holds back), never by the table. The pass is one
  * `RowWalk` plan node: it needs only rows clustered on row, which the
  * materialized cell stores already are (by range or by hash), so over
  * them it walks the store's partitions in place with no exchange, no
  * broadcast and no adaptive stages, and over a row-ranged store
  * ([[rowRanged]]) its output is in key order by partition; unclustered
  * inputs (replica parquet, unions) take exactly one row exchange, which
  * [[Resolve.sizedShufflePartitions]] sizes when the input would spill.
  * Building a read registers the node's planner strategy, once, among
  * its session's extra strategies (`shim.ofRows` does the same for a
  * session a read is rebound to); the pass sets no conf. Its output is
  * the surviving Puts in the input's schema, each row's cells in one
  * partition and in pass order. The same pass also runs
  * a row-local filter tree ([[RowProgram]]: the reference's per-row
  * Filter visitor, `filterRow` on the assembled row included) between
  * masking and the version gate, and per-family pagination after it, so
  * a filtered or paged scan clusters once.
  *
  * The unit of work is the row: one row's cells are one group in one
  * task, as a row never spans regions in the reference, so a single
  * very wide row is not split across tasks. The tracker reads each
  * cell's fields in place from the plan's InternalRow (no encoder
  * builds a Row or a String per cell) in a Scala closure, not
  * generated code; on unclustered parquet input (local[4] on 4 cores,
  * 4 shuffle partitions, ~3% markers) the Row-encoded form of the pass
  * cost about half of the relational mask-join form per cell at 1M to
  * 16M cells. Larger inputs, and the regime where the spill hedge
  * fires, are unmeasured.
  */
object Resolve {

  /** Time range [min, max) on cell ts; reference TimeRange semantics. */
  final case class TimeRange(min: Long, max: Long)

  /** The combined [min,max) time-range predicate: per-CF ranges
    * (Scan.setColumnFamilyTimeRange, Scan.java:330 / Query.java:236)
    * OVERRIDE the scan-global range for their family; other families
    * fall back to the global range (or pass, if none). */
  def timeRangePred(global: Option[TimeRange],
      perCf: Map[String, TimeRange]): Option[org.apache.spark.sql.Column] = {
    if (global.isEmpty && perCf.isEmpty) None
    else {
      def in(tr: TimeRange) = col("ts") >= tr.min && col("ts") < tr.max
      Some(perCf.foldLeft(global.map(in).getOrElse(lit(true))) {
        case (acc, (f, tr)) => when(col("family") === f, in(tr)).otherwise(acc)
      })
    }
  }

  /** Latest-view resolve. `cells` is a canonical CellSet DataFrame.
    *
    * @param maxVersions  keep newest n versions per (row,family,qualifier)
    * @param timeRange    optional [min,max) pre-version-gate ts filter
    * @param ttlCutoff    optional absolute ts floor (now - ttl); cells
    *                     strictly older are invisible (ScanInfo.getTtl)
    * @param cfTimeRanges per-family [min,max) overrides of `timeRange`
    *                     (Scan.setColumnFamilyTimeRange, Scan.java:330)
    * @param minVersions  keep the newest n versions per column even when
    *                     TTL-expired (ColumnFamilyDescriptorBuilder
    *                     MIN_VERSIONS, default 0 = TTL wins)
    * @param keepDeleted  KEEP_DELETED_CELLS=TRUE time-travel reads
    *                     (ColumnFamilyDescriptorBuilder.java:147 ff):
    *                     with a time range, tombstones at/after the
    *                     range max have not "happened yet" in the as-of
    *                     view, so they do not mask. (A
    *                     NEW_VERSION_BEHAVIOR family, whose masking
    *                     follows write order, reads through
    *                     [[latestNvb]] over a seq-bearing frame.)
    * @param program      a row-local filter decided in the pass, after
    *                     masking and the ts checks and before the version
    *                     gate ([[RowProgram]]; `cellFilter` runs ahead of it)
    * @param cfOffset     per-family values to skip in each row
    *                     (Scan.setRowOffsetPerColumnFamily, Scan.java:523)
    * @param cfLimit      per-family values to keep after the offset
    *                     (Scan.setMaxResultsPerColumnFamily, Scan.java:514)
    */
  def latest(
      cells: DataFrame,
      maxVersions: Int = 1,
      timeRange: Option[TimeRange] = None,
      ttlCutoff: Option[Long] = None,
      cellFilter: Option[org.apache.spark.sql.Column] = None,
      cfTimeRanges: Map[String, TimeRange] = Map.empty,
      minVersions: Int = 0,
      keepDeleted: Boolean = false,
      visScope: Option[String] = None,
      program: Option[RowProgram] = None,
      cfOffset: Int = 0,
      cfLimit: Option[Int] = None
  ): DataFrame = {
    val retainFrom = if (minVersions > 0) ttlCutoff else None
    val pass = Pass(maxVersions, retainFrom, minVersions, visScope, cfOffset = cfOffset,
      cfLimit = cfLimit.getOrElse(Int.MaxValue))
    withProgram(checked(cells, timeRange, ttlCutoff, cellFilter, cfTimeRanges, minVersions,
      keepDeleted), program, pass)
  }

  /** The cells the tracker sees: time-travel markers dropped, then the
    * ts checks and `cellFilter` on the Puts (they run BEFORE version
    * counting in the matcher, UserScanQueryMatcher.java:195). Markers
    * pass untouched, so they still mask. */
  private def checked(cells: DataFrame, timeRange: Option[TimeRange], ttlCutoff: Option[Long],
      cellFilter: Option[Column], cfTimeRanges: Map[String, TimeRange], minVersions: Int,
      keepDeleted: Boolean): DataFrame =
    filtered(cells, markerCeiling(timeRange, cfTimeRanges, keepDeleted).toSeq ++
      (preGatePreds(timeRange, cfTimeRanges, ttlCutoff, minVersions) ++ cellFilter)
        .map(col("type") =!= CellType.Put || _))

  /** `cells` under the conjunction of `preds`: one Dataset step. */
  private[read] def filtered(cells: DataFrame, preds: Seq[Column]): DataFrame =
    preds.reduceOption(_ && _).fold(cells)(cells.filter)

  /** The pass over `cells` under `program`, if any, in `cells`' schema. */
  private def withProgram(cells: DataFrame, program: Option[RowProgram], p: Pass): DataFrame =
    program.fold(resolvePass(cells, p)) { prog =>
      resolvePass(prog.flagged(cells, pruned = true, p.raw), p.copy(program = Some(prog.code)))
        .drop(prog.columns.indices.map(RowProgram.name): _*)
    }

  /** The keys of the rows `program` admits any (`admitted`) or none of
    * the live cells in `timeRange` of (when `raw`, of all cells): the
    * row-membership view of a CAS guard and a WhileMatch stop, with no
    * version gate. Only an admitted search prunes: a rejected row may
    * hold no cell the program reads or emits. */
  def rowVerdicts(cells: DataFrame, program: RowProgram, raw: Boolean, admitted: Boolean,
      timeRange: Option[TimeRange] = None): DataFrame = {
    val in = if (raw) cells else checked(cells, timeRange, None, None, Map.empty, 0, false)
    tracked(program.flagged(in, pruned = admitted, raw),
      Pass(Int.MaxValue, None, 0, None, program = Some(program.code), raw = raw),
      StructType(Seq(cells.schema("row"))))(
      (t, rs) => if (t.run(rs).hasNext == admitted) Iterator(InternalRow(t.row)) else Iterator.empty)
  }

  /** [[shim.sizedShufflePartitions]] of `cells`' size estimate. */
  private[graft] def sizedShufflePartitions(cells: DataFrame): Option[Int] =
    shim.sizedShufflePartitions(cells.queryExecution.optimizedPlan.stats.sizeInBytes,
      cells.sparkSession.sessionState.conf)

  /** Whether `cells` reads, through filters and projections alone, a
    * materialized store range-partitioned on `row` ascending and on
    * nothing else. The pass keeps that layout (it walks each partition
    * in place), so each partition holds one key range, partition index
    * order is key order, and a local sort gives the total cell order.
    * The layout is read off the scan node the planner puts over the
    * cached relation: a [[graft.model.CellStore]] store reports it as
    * soon as it is materialized, a frame persisted any other way only
    * once its cached plan has run, and no other input reports one. The
    * check finds cached data the way planning does, with no optimizer
    * pass. */
  private[graft] def rowRanged(cells: DataFrame): Boolean = {
    val plan = cells.queryExecution.withCachedData
    @scala.annotation.tailrec
    def store(p: LogicalPlan): Option[InMemoryRelation] = p match {
      case r: InMemoryRelation => Some(r)
      case f: Filter => store(f.child)
      case pr: Project => store(pr.child)
      case _ => None
    }
    (plan.output.find(_.name == "row"), store(plan)) match {
      case (Some(row), Some(r)) =>
        InMemoryTableScanExec(r.output, Nil, r).outputPartitioning match {
          case RangePartitioning(Seq(SortOrder(a: Attribute, Ascending, _, _)), _) =>
            a.exprId == row.exprId
          case _ => false
        }
      case _ => false
    }
  }

  /** Per-cell TTL liveness (Mutation.setTTL → TagType.TTL_TAG_TYPE;
    * ScanQueryMatcher.isCellTTLExpired, ScanQueryMatcher.java:143): a
    * cell carrying a non-null `ttlCol` is dead once ts + ttl < now.
    * The matcher runs this in preCheck — BEFORE the delete tracker and
    * the version gate — so apply it as a PRE-mask filter on the cell
    * frame: expired cells neither mask (an expired marker is inert)
    * nor consume version slots. Per-cell TTL cannot EXTEND life beyond
    * the family TTL (ScanQueryMatcher.java:159) — the family
    * `ttlCutoff` still applies downstream as usual.
    */
  def cellTtlLive(now: Long, ttlCol: String = "ttl"): org.apache.spark.sql.Column =
    col(ttlCol).isNull || col("ts") + col(ttlCol) >= lit(now)

  /** NEW_VERSION_BEHAVIOR resolve (ColumnFamilyDescriptorBuilder
    * .java:197, NewVersionBehaviorTracker.java): mvcc-sensitive
    * masking over a SEQ-BEARING cell frame (`seqCol`, the per-cell
    * write order — the WAL sequence-id analogue, read as a long). A
    * delete marker only masks cells written before it; deleted versions
    * still consume version slots inside their mvcc segment; a Put with
    * the ts of the column's previous Put is masked.
    *
    * The same per-row pass as [[latest]], with an [[NvbTracker]] in
    * place of the default matcher: each row's cells are walked in
    * (family, family-scope markers first, qualifier, ts DESC, type code
    * DESC, seq DESC) order, the reference's CellComparator order with
    * mvcc last, and each Put is decided on arrival. Over the cell
    * stores' row layouts the pass plans no exchange, no aggregate and
    * no join. Cells of an unknown type are ignored.
    *
    * Returns the canonical columns (row, family, qualifier, ts, type,
    * value) plus `seqCol`, the surviving Puts newest-first per column.
    */
  def latestNvb(
      cells: DataFrame,
      maxVersions: Int = 1,
      resultMaxVersions: Int = Int.MaxValue,
      ttlCutoff: Option[Long] = None,
      minVersions: Int = 0,
      seqCol: String = "seq"
  ): DataFrame = {
    require(maxVersions > 0 && resultMaxVersions > 0,
      "latestNvb: maxVersions and resultMaxVersions must be positive")
    val in = cells.select(col("row"), col("family"), col("qualifier"), col("ts"), col("type"),
      col("value"), col(seqCol).cast("long").as(seqCol))
    val famScope = col("type").isin(CellType.DeleteFamily, CellType.DeleteFamilyVersion)
    val code = NvbTracker.codes.foldLeft(lit(-1)) { case (acc, (t, c)) =>
      when(col("type") === t, lit(c)).otherwise(acc)
    }
    val order = Seq(col("family"), !famScope, when(!famScope, col("qualifier")),
      col("ts").desc, code.desc, col(seqCol).desc)
    val oldestTs = ttlCutoff.getOrElse(Long.MinValue)
    val s = in.schema
    val ix = NvbTracker.Ix(s.fieldIndex("family"), s.fieldIndex("qualifier"), s.fieldIndex("ts"),
      s.fieldIndex("type"), s.fieldIndex(seqCol))
    perRow(in, order, s)((row, rs) =>
      new NvbTracker(ix, row != null, maxVersions, resultMaxVersions, oldestTs, minVersions).run(rs))
  }

  /** The matcher's pre-filter ts checks: scan/per-CF time range, and
    * TTL as a pre-gate cut unless MIN_VERSIONS needs expired cells to
    * keep ranking (they may still be retained after the gate). Shared
    * by [[latest]] and the filter-visibility view in GTable so the two
    * cannot drift. */
  def preGatePreds(timeRange: Option[TimeRange],
      cfTimeRanges: Map[String, TimeRange], ttlCutoff: Option[Long],
      minVersions: Int): Seq[org.apache.spark.sql.Column] = Seq(
    timeRangePred(timeRange, cfTimeRanges),
    if (minVersions == 0) ttlCutoff.map(cut => col("ts") >= cut) else None
  ).flatten

  /** The delete-masked (live) view under the scan's visibility knobs —
    * the cell set every LATER stage of the matcher sees (delete
    * tracking runs first, ScanQueryMatcher.java:252). */
  def maskedView(cells: DataFrame, timeRange: Option[TimeRange],
      cfTimeRanges: Map[String, TimeRange], keepDeleted: Boolean,
      visScope: Option[String] = None): DataFrame =
    maskTombstones(filtered(cells, markerCeiling(timeRange, cfTimeRanges, keepDeleted).toSeq),
      visScope = visScope)

  /** KEEP_DELETED_CELLS time travel: a marker at/after the as-of point
    * has not happened yet, so it is dropped before the pass. The
    * ceiling is PER FAMILY: a family's as-of point is its own range max
    * (override) or the scan-global max; families with no range at all
    * keep full masking. */
  private def markerCeiling(timeRange: Option[TimeRange],
      cfTimeRanges: Map[String, TimeRange], keepDeleted: Boolean): Option[Column] =
    Option.when(keepDeleted && (timeRange.isDefined || cfTimeRanges.nonEmpty)) {
      val base = timeRange.map(tr => lit(tr.max)).getOrElse(lit(Long.MaxValue))
      val ceil = cfTimeRanges.foldLeft(base) {
        case (acc, (f, tr)) => when(col("family") === f, lit(tr.max)).otherwise(acc)
      }
      col("type") === CellType.Put || col("ts") < ceil
    }

  /** Apply the 4 tombstone kinds to the Put cells; returns live puts —
    * the resolve pass with no version gate.
    * `raw` scans (Scan.setRaw, Scan.java:848) skip this entirely.
    *
    * @param visScope visibility-scoped delete tracking
    *        (VisibilityScanDeleteTracker.java:43,181 on labeled
    *        stores): the named column carries each cell's visibility
    *        expression, and a delete marker masks ONLY puts whose
    *        expression delete-matches its own — exact equality of the
    *        sorted-DNF canonical forms ([[graft.functions.VisKernel
    *        .canonical]]; DefaultVisibilityLabelServiceImpl
    *        .matchVisibility:560-604 compares sorted tag lists), with
    *        the null/empty expression matching only untagged cells
    *        (EMPTY_TAG markers, tracker :49-50). The canonical form is
    *        one more key of the tracker's marker sets, like the
    *        tracker's per-type tag lists.
    */
  def maskTombstones(cells: DataFrame, visScope: Option[String] = None): DataFrame =
    resolvePass(cells, Pass(Int.MaxValue, None, 0, visScope))

  /** The knobs the per-row pass applies after masking: the row-local
    * filter program, the version gate, TTL retention under MIN_VERSIONS
    * (a version past `retainFrom` survives only among the newest
    * `minVersions`) and per-family pagination. `raw` skips masking and
    * the version gate and admits markers, so only the program and
    * pagination apply. */
  private final case class Pass(maxVersions: Int, retainFrom: Option[Long],
      minVersions: Int, visScope: Option[String], program: Option[RowProgram.Code] = None,
      cfOffset: Int = 0, cfLimit: Int = Int.MaxValue, raw: Boolean = false)

  /** The pass with masking and the version gate off: `program` over
    * every cell, markers too (a raw StoreScanner returns them), then
    * per-family pagination. */
  def rawPass(cells: DataFrame, program: Option[RowProgram], cfOffset: Int = 0,
      cfLimit: Option[Int] = None): DataFrame =
    withProgram(cells, program, Pass(Int.MaxValue, None, 0, None, cfOffset = cfOffset,
      cfLimit = cfLimit.getOrElse(Int.MaxValue), raw = true))

  /** The default matcher's pass: group the cells by row and walk each
    * row in (family, family markers first, qualifier, ts DESC, markers
    * first, value DESC) order through a [[RowTracker]] —
    * ScanQueryMatcher's single ordered pass. The last key makes the
    * pass deterministic: of two Puts with one (column, ts), the version
    * gate keeps the larger value, as the WAL sink's duplicate collapse
    * and the SCVF verdict do. Returns the surviving cells with `cells`'
    * schema. */
  private def resolvePass(cells: DataFrame, p: Pass): DataFrame =
    tracked(cells, p, cells.schema)((t, rs) => t.run(rs))

  /** [[perRow]] with a [[RowTracker]] under `p` handed each row. */
  private def tracked(cells: DataFrame, p: Pass, out: StructType)(
      f: (RowTracker, Iterator[InternalRow]) => Iterator[InternalRow]): DataFrame = {
    val s = cells.schema
    val ix = Ix(s.fieldIndex("family"), s.fieldIndex("qualifier"), s.fieldIndex("ts"),
      s.fieldIndex("type"), s.fieldIndex("value"), p.visScope.fold(-1)(s.fieldIndex),
      p.program.fold(-1)(s.length - _.columns), s.fields.map(_.dataType).toIndexedSeq)
    val order = Seq(col("family"),
      !col("type").isin(CellType.DeleteFamily, CellType.DeleteFamilyVersion),
      col("qualifier"), col("ts").desc, col("type") === CellType.Put, col("value").desc)
    perRow(cells, order, out)((row, rs) => f(new RowTracker(ix, p, row), rs))
  }

  /** The one resolve operator ([[shim.walk]]): `f` walks each row's
    * cells once, in `order` and as the input's own InternalRows, and
    * returns rows of `out`. An input not already clustered on row takes
    * one row exchange, sized by [[sizedShufflePartitions]] when the
    * default count would spill (the r16 sf10 soak measured per-cell
    * cost rising 0.57→0.99 s/1M at 75M cells from shuffle/sort spill). */
  private def perRow(cells: DataFrame, order: Seq[Column], out: StructType)(f: shim.Walk): DataFrame =
    shim.walk(cells, "row", order, out)(f)

  /** Field positions the tracker reads; `vis` is -1 without visScope,
    * `base` (the first program column, after the input's fields) -1
    * without a program; `types` are the input's field types. */
  private[read] final case class Ix(family: Int, qualifier: Int, ts: Int, tpe: Int, value: Int,
      vis: Int, base: Int, types: IndexedSeq[DataType])

  private val cellTypes = CellType.all.map(t => UTF8String.fromString(t) -> t).toMap

  /** The cell type `t` reads as, with no String decoded for a known one. */
  private[read] def cellType(t: UTF8String): String =
    cellTypes.getOrElse(t, Option(t).map(_.toString).orNull)

  /** The column of the last cell a stage of the tracker saw, copied off
    * its row (the pass reuses a row's buffer for the next cell). */
  private[read] final class LastColumn {
    private var seen = false
    private var family, qualifier: UTF8String = _
    private def kept(s: UTF8String) = if (s == null) null else s.copy()

    /** 2 if the cell in `r` opens a family, 1 a column, else 0; the
      * family and qualifier are `r`'s fields at `familyAt`, `qualifierAt`. */
    def step(r: InternalRow, familyAt: Int, qualifierAt: Int): Int = {
      val (f, q) = (r.getUTF8String(familyAt), r.getUTF8String(qualifierAt))
      val moved = if (!seen || f != family) 2 else if (q != qualifier) 1 else 0
      if (moved == 2) family = kept(f)
      if (moved >= 1) qualifier = kept(q)
      seen = true
      moved
    }
  }

  /** Streaming DeleteTracker + ColumnTracker for ONE row's cells in pass
    * order. Family-scope markers arrive before their family's columns
    * and every marker before the Puts of its ts, so each Put is decided
    * on arrival (ScanDeleteTracker.isDeleted:102):
    *   - Delete               masks the Put at the same (family,qualifier,ts)
    *   - DeleteColumn         masks Puts of (family,qualifier) with ts <= marker
    *   - DeleteFamily         masks Puts of (family)           with ts <= marker
    *   - DeleteFamilyVersion  masks Puts of (family)           with ts == marker
    * each only within its visibility class. The live Puts then reach
    * the version gate (`maxVersions` per column, newest first) and the
    * per-family page; under a program only those it admits, once it has
    * run on the held row. A null key never matches a marker (the
    * relational form's equi-join semantics), nor, as a row, a program's
    * row joins. */
  private final class RowTracker(ix: Ix, p: Pass, val row: UTF8String) {
    private val tracked, gated = new LastColumn
    private val famDel = mutable.HashMap.empty[String, Long]
    private val famVerDel = mutable.HashSet.empty[(String, Long)]
    private val colDel = mutable.HashMap.empty[String, Long]
    private val verDel = mutable.HashSet.empty[(String, Long)]
    private var versions = 0
    private var familyValues = 0L

    /** The row's surviving cells. A program reads the whole row, so the
      * live cells it holds are copies. */
    def run(rs: Iterator[InternalRow]): Iterator[InternalRow] = p.program match {
      case None => rs.filter(r => live(r) && keep(r))
      case Some(code) =>
        new RowProgram.Eval(code, rs.filter(live).map(_.copy()).toArray, ix, row != null)
          .admitted.filter(keep)
    }

    /** Delete tracking: true for a Put no marker masks (every cell when raw). */
    private def live(r: InternalRow): Boolean = p.raw || {
      val moved = tracked.step(r, ix.family, ix.qualifier)
      if (moved == 2) { famDel.clear(); famVerDel.clear() }
      if (moved >= 1) { colDel.clear(); verDel.clear() }
      val tsNull = r.isNullAt(ix.ts)
      val ts = if (tsNull) 0L else r.getLong(ix.ts)
      val vc = if (ix.vis < 0) "" else VisKernel.canonical(Option(r.getUTF8String(ix.vis)).map(_.toString).orNull)
      val marker = row != null && !tsNull && !r.isNullAt(ix.family)
      val colMarker = marker && !r.isNullAt(ix.qualifier)
      cellType(r.getUTF8String(ix.tpe)) match {
        case CellType.Put =>
          !(below(famDel, vc, ts, tsNull) || below(colDel, vc, ts, tsNull) ||
            (!tsNull && (famVerDel((vc, ts)) || verDel((vc, ts)))))
        case CellType.DeleteFamily if marker => raise(famDel, vc, ts); false
        case CellType.DeleteFamilyVersion if marker => famVerDel += ((vc, ts)); false
        case CellType.DeleteColumn if colMarker => raise(colDel, vc, ts); false
        case CellType.Delete if colMarker => verDel += ((vc, ts)); false
        case _ => false
      }
    }

    /** The version gate (not on raw passes) and the per-family page. */
    private def keep(r: InternalRow): Boolean = {
      gated.step(r, ix.family, ix.qualifier) match {
        case 2 => familyValues = 0; versions = 0
        case 1 => versions = 0
        case _ =>
      }
      (p.raw || keepVersion(r)) && page()
    }

    private def raise(m: mutable.HashMap[String, Long], vc: String, ts: Long): Unit =
      if (m.get(vc).forall(_ < ts)) m(vc) = ts

    // a null-ts Put under a range marker fails the relational form's
    // `ts > marker` test, so it is masked too
    private def below(m: mutable.HashMap[String, Long], vc: String, ts: Long,
        tsNull: Boolean): Boolean =
      m.get(vc).exists(d => tsNull || ts <= d)

    private def keepVersion(r: InternalRow): Boolean = {
      versions += 1
      versions <= p.maxVersions && p.retainFrom.forall(cut =>
        (!r.isNullAt(ix.ts) && r.getLong(ix.ts) >= cut) || versions <= p.minVersions)
    }

    private def page(): Boolean = {
      familyValues += 1
      familyValues > p.cfOffset && familyValues - p.cfOffset <= p.cfLimit
    }
  }
}
