package graft.read

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.filter.{FilterCompiler, GFilter}
import graft.read.Resolve.TimeRange

/** Declarative Scan specification — the graft twin of the reference's
  * client read API (hbase-client/.../client/Scan.java:84, Get.java:65).
  * Every knob compiles to a `Column` predicate / plan fragment, so the
  * whole read plans as ONE Catalyst pipeline: range + projection
  * predicates push down to the parquet scan (≙ region pruning +
  * store-file pruning, SURVEY §4 O1/O2), version resolution is the §2.4
  * rewrite, and ordering is the total cell order (CellComparatorImpl).
  */
final case class GScan(
    startRow: Option[String] = None,      // inclusive (withStartRow, Scan.java:349)
    stopRow: Option[String] = None,       // exclusive (withStopRow, Scan.java:391)
    startInclusive: Boolean = true,
    stopInclusive: Boolean = false,
    rowPrefix: Option[String] = None,     // setRowPrefixFilter (Scan.java:442)
    reversed: Boolean = false,            // setReversed (Scan.java:692)
    raw: Boolean = false,                 // setRaw (Scan.java:848): skip resolve
    families: Seq[String] = Nil,          // addFamily (Scan.java:269)
    columns: Seq[(String, String)] = Nil, // addColumn (Scan.java:282)
    maxVersions: Int = 1,                 // readVersions
    timeRange: Option[TimeRange] = None,  // setTimeRange
    cfTimeRanges: Map[String, TimeRange] = Map.empty, // setColumnFamilyTimeRange (Scan.java:330)
    ttlCutoff: Option[Long] = None,       // CF TTL floor (ScanInfo.getTtl)
    minVersions: Int = 0,                 // CF MIN_VERSIONS (keep n beyond TTL)
    keepDeleted: Boolean = false,         // CF KEEP_DELETED_CELLS time-travel
    filter: Option[Column] = None,        // compiled graft.filter predicate
    limit: Option[Int] = None,            // setLimit (Scan.java:958) — global rows
    maxResultsPerCf: Option[Int] = None,  // setMaxResultsPerColumnFamily (Scan.java:514)
    rowOffsetPerCf: Int = 0               // setRowOffsetPerColumnFamily (Scan.java:523)
) {
  def withRange(start: String, stop: String): GScan =
    copy(startRow = Some(start), stopRow = Some(stop))
}

object GTable {

  /** Total cell order of the reference (CellComparatorImpl.java:46,57):
    * row, family, qualifier ASC; ts DESC (newest first). */
  def cellOrder(reversed: Boolean = false): Seq[Column] = {
    val row = if (reversed) col("row").desc else col("row").asc
    Seq(row, col("family").asc, col("qualifier").asc, col("ts").desc)
  }

  /** The scan's row-range predicates alone — shared with
    * [[scanFiltered]], which must range-prune BEFORE the filter tree
    * runs (stateful filters like PageFilter count rows INSIDE the scan
    * boundaries on the server). */
  private def rangePredsOf(s: GScan): Seq[Column] = Seq(
    s.startRow.map(v => if (s.startInclusive) col("row") >= v else col("row") > v),
    s.stopRow.map(v => if (s.stopInclusive) col("row") <= v else col("row") < v),
    s.rowPrefix.map(p => col("row").startsWith(p))
  ).flatten

  /** Plan a scan over a canonical CellSet DataFrame. Returns cells in
    * total cell order. All predicates are plain `Column`s → Catalyst
    * pushes them into the source scan before the (optional) resolve.
    */
  def scan(cells: DataFrame, s: GScan): DataFrame = scan(cells, s, None, Resolve.rowRanged(cells))

  /** [[scan]] with a row-local filter tree decided inside the pass
    * ([[graft.filter.FilterCompiler.program]]), over `cells` that keep a
    * row-ranged store's layout ([[Resolve.rowRanged]]) when `ranged`.
    * Callers check the frame they were given, whose cache lookup the
    * Dataset keeps, rather than a per-call frame derived from it. */
  private def scan(cells: DataFrame, s: GScan, tree: Option[GFilter],
      ranged: Boolean): DataFrame = {
    val rangePreds: Seq[Column] = rangePredsOf(s)
    // Projection UNIONS family and column selections (addFamily +
    // addColumn build one family→qualifiers map, Scan.java:269,282):
    // a selected family contributes ALL its qualifiers.
    val projParts: Seq[Column] =
      (if (s.families.nonEmpty) Seq(col("family").isin(s.families: _*)) else Nil) ++
        s.columns.map { case (f, q) => col("family") === f && col("qualifier") === q }
    val projection = projParts.reduceOption(_ || _)
    // A filter tree sees the unprojected row (the server runs it before
    // the column tracker): the projection and the scan's filter then
    // limit only what the program emits, and it prunes what it neither
    // reads nor emits.
    val program = tree.map(t => FilterCompiler.program(t, (projection ++ s.filter).reduceOption(_ && _)))
    // Non-raw qualifier projections must NOT drop family-scoped
    // tombstones (DeleteFamily/DeleteFamilyVersion carry qualifier ""):
    // the server's delete tracker sees the selected family's whole store
    // (ScanQueryMatcher columns-tracking runs AFTER it). Markers never
    // surface in the resolve output, so no post-filter is needed.
    val keepFamilyMarkers: Column = col("type") =!= graft.model.CellType.Put &&
      col("qualifier") === "" && col("family").isin(s.families ++ s.columns.map(_._1): _*)
    val projPreds: Seq[Column] =
      if (program.isDefined) Nil
      else projection.toSeq.map(p => if (s.raw) p else p || keepFamilyMarkers)
    val cellFilter = if (program.isDefined) None else s.filter

    // Row-range + projection predicates apply to raw cells (they prune
    // the scan); resolve runs after, as on the server
    // (UserScanQueryMatcher.java:184,195). `raw` (Scan.setRaw) skips
    // tombstone masking AND the version gate — the storage-level view —
    // but the time range still prunes (TimeRange applies in the
    // StoreScanner below raw-ness). The filter runs BEFORE the version
    // gate (filterCell precedes version counting in the matcher), so a
    // rejected newest version does not consume a version slot.
    // Intra-row per-CF pagination (Scan.setMaxResultsPerColumnFamily /
    // setRowOffsetPerColumnFamily, Scan.java:514,523) skips the first
    // `storeOffset` values of each (row, family) store and keeps at most
    // `storeLimit` after it, counting VALUES (versions too) in cell
    // order — the server enforces this per HStore read (StoreScanner's
    // storeLimit/storeOffset), AFTER the version gate and filters, so
    // the resolve pass counts it too.
    val paged = s.maxResultsPerCf.isDefined || s.rowOffsetPerCf != 0
    val resolved =
      if (s.raw) {
        val timed = Resolve.filtered(cells, rangePreds ++ projPreds ++
          Resolve.timeRangePred(s.timeRange, s.cfTimeRanges) ++ cellFilter)
        if (paged || program.isDefined)
          Resolve.rawPass(timed, program, s.rowOffsetPerCf, s.maxResultsPerCf)
        else timed
      } else
        Resolve.latest(Resolve.filtered(cells, rangePreds ++ projPreds), s.maxVersions, s.timeRange,
          ttlCutoff = s.ttlCutoff, cellFilter = cellFilter,
          cfTimeRanges = s.cfTimeRanges, minVersions = s.minVersions,
          keepDeleted = s.keepDeleted, program = program,
          cfOffset = s.rowOffsetPerCf, cfLimit = s.maxResultsPerCf)
    // A Get's one row leaves the pass in one partition (the pass
    // clusters on row). Over a row-ranged store the cells stay in the
    // store's partitions, whose index order is key order. Either way a
    // local sort gives the total order and the read plans no range-sort
    // exchange; a non-raw pass already emits each partition's Puts in
    // cell order (it walks them sorted on row, then the cell keys), so
    // its output needs no sort at all. A reversed scan would need the
    // partitions in the opposite order, so it keeps the range sort.
    val point = !s.raw && s.limit.isEmpty && s.startRow.isDefined &&
      s.startRow == s.stopRow && s.startInclusive && s.stopInclusive
    val local = point || (ranged && !s.reversed)
    def sorted(df: DataFrame): DataFrame =
      if (local) df.sortWithinPartitions(cellOrder(s.reversed): _*)
      else df.orderBy(cellOrder(s.reversed): _*)
    val ordered = if (local && !s.raw) resolved else sorted(resolved)
    // limit counts table ROWS (Scan.setLimit, Scan.java:958), not cells;
    // the broadcast semi-join keeps the streamed side's partitions
    s.limit.fold(ordered) { n =>
      val keep = ordered.select("row").distinct()
        .orderBy(if (s.reversed) col("row").desc else col("row").asc).limit(n)
      sorted(ordered.join(broadcast(keep), Seq("row"), "left_semi"))
    }
  }

  /** Single-row spec: shared by the plain and observed get paths. */
  def pointSpec(rowKey: String, s: GScan = GScan()): GScan =
    s.copy(startRow = Some(rowKey), stopRow = Some(rowKey),
      startInclusive = true, stopInclusive = true)

  /** Point Get = single-row scan (the server does the same:
    * HRegion.get → Scan(Get), HRegion.java:8179, Scan.java:229). */
  def get(cells: DataFrame, rowKey: String, s: GScan = GScan()): DataFrame =
    scan(cells, pointSpec(rowKey, s))

  /** Multi-get: filter to the key list, then the SAME resolve path as
    * a single get — Table.get(List[Get]) (Table.java:176) returns
    * fully-resolved Results, identical to get() per key; a raw subset
    * would expose tombstones and shadowed versions the single-get path
    * hides. The key list is client-side (the reference's List[Get]),
    * so it is collected into an IN-set, which prunes the store's cached
    * batches and needs no broadcast. */
  def multiGet(cells: DataFrame, keys: DataFrame, s: GScan = GScan()): DataFrame =
    scan(cells.filter(col("row").isin(keys.select(keys.columns.head).collect()
      .map(_.get(0)).toSeq: _*)), s, None, Resolve.rowRanged(cells))

  /** Scan with a [[graft.filter.GFilter]] tree — the Scan.setFilter
    * path. The scan's reversed-ness propagates into the tree before
    * compilation (the server calls filter.setReversed(scan.isReversed())
    * on scanner open, HRegion — without this, a WHILE/InclusiveStop
    * filter inside a reversed scan computes the complement prefix).
    * Matcher ordering (ScanQueryMatcher.java:252 →
    * UserScanQueryMatcher.java:195): delete tracking and the ts checks
    * run BEFORE the filter, so on a non-raw scan the tree sees only
    * live, in-window cells — a tombstoned value can never satisfy an
    * SCVF — while version counting still runs AFTER it (rejected cells
    * must not consume version slots).
    *
    * Per-cell trees ride the resolve's cellFilter slot; every other tree
    * without Page or WhileMatch becomes a
    * [[graft.filter.FilterCompiler.program]] the one pass runs on each
    * row's live cells, between masking and the version gate, raw or
    * not. Trees holding a PageFilter or WhileMatchFilter, which read
    * other rows, run mask → tree → resolve, which clusters again. */
  def scanFiltered(cells: DataFrame, s: GScan, f: GFilter): DataFrame = {
    val tree = FilterCompiler.withReversed(f, s.reversed)
    // range-prune FIRST: the server's filters see only cells inside the
    // scan boundaries (a PageFilter counts rows within the range, not
    // the table), then the filtered set flows through the normal scan
    // (the residual range predicates there are no-ops)
    val inRange = Resolve.filtered(cells, rangePredsOf(s))
    FilterCompiler.cellPredicate(tree) match {
      // a per-cell tree neither reads other cells nor touches markers,
      // so it commutes with delete tracking: it rides the resolve's
      // cellFilter slot (still before the version gate) and the scan
      // stays one pass
      case Some(p) =>
        scan(inRange, s.copy(filter = Some(s.filter.fold(p)(_ && p))), None, Resolve.rowRanged(cells))
      // a scan filter must see the values the tree's KeyOnly rewrote
      case None if FilterCompiler.rowLocal(tree) && (s.filter.isEmpty || !FilterCompiler.transforms(tree)) =>
        scan(inRange, s, Some(tree), Resolve.rowRanged(cells))
      case None =>
        // raw skips masking and TTL (as scan()'s raw branch does) but
        // not the time range
        val visible =
          if (s.raw)
            Resolve.timeRangePred(s.timeRange, s.cfTimeRanges).fold(inRange)(inRange.filter)
          else
            Resolve.preGatePreds(s.timeRange, s.cfTimeRanges, s.ttlCutoff, s.minVersions)
              .foldLeft(Resolve.maskedView(inRange, s.timeRange, s.cfTimeRanges,
                s.keepDeleted))((df, p) => df.filter(p))
        scan(FilterCompiler(visible, tree), s, None, ranged = false)
    }
  }

  /** S8 multi-table scan (MultiTableInputFormatBase.java:229: one job
    * over several tables' scans): union the cell sets, then ONE scan
    * plan — predicates still push into every branch's source scan. */
  def multiTableScan(tables: Seq[DataFrame], s: GScan): DataFrame = {
    require(tables.nonEmpty, "multiTableScan: need at least one table")
    scan(tables.reduce(_ unionByName _), s)
  }
}
