package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.filter.{FilterCompiler, ParseFilter}
import graft.model.{CellType, GCell}
import graft.read.{GScan, GTable, Resolve}

/** Randomized equivalence of the distributed resolve against a naive
  * in-memory mirror of ScanDeleteTracker (SURVEY §5 graft adaptation:
  * "random puts/deletes/ts ⇒ invariants"), and against the relational
  * mask-join form ([[ResolveReference]]) across every knob. Seeded —
  * deterministic.
  */
class ResolvePropertySpec extends SparkSpec {
  import spark.implicits._

  private val rows  = Seq("r1", "r2", "r3")
  private val fams  = Seq("d", "e")
  private val quals = Seq("a", "b", "c")

  private def genCase(rnd: Random): Seq[GCell] = {
    val n = 5 + rnd.nextInt(25)
    val cells = (0 until n).map { _ =>
      val r = rows(rnd.nextInt(rows.size))
      val f = fams(rnd.nextInt(fams.size))
      val q = quals(rnd.nextInt(quals.size))
      val ts = 1 + rnd.nextInt(6)
      val t = rnd.nextInt(10) match {
        case 0 => CellType.Delete
        case 1 => CellType.DeleteColumn
        case 2 => CellType.DeleteFamily
        case 3 => CellType.DeleteFamilyVersion
        case _ => CellType.Put
      }
      val q2 = if (t == CellType.DeleteFamily || t == CellType.DeleteFamilyVersion) "" else q
      GCell(r, f, q2, ts.toLong, t, s"$r/$f/$q2@$ts")
    }
    // unique per (row,family,qualifier,ts,type): duplicate puts at the
    // same coordinate are not meaningful (last-write-wins is undefined)
    cells.groupBy(c => (c.row, c.family, c.qualifier, c.ts, c.`type`))
      .map(_._2.head).toSeq
  }

  /** Naive mirror of ScanDeleteTracker.isDeleted (ScanDeleteTracker.java:102). */
  private def naive(cells: Seq[GCell], maxVersions: Int): Set[(String, String, String, Long)] = {
    val puts = cells.filter(_.`type` == CellType.Put)
    def isMasked(p: GCell): Boolean = cells.exists { d =>
      d.`type` match {
        case CellType.Delete =>
          d.row == p.row && d.family == p.family && d.qualifier == p.qualifier && d.ts == p.ts
        case CellType.DeleteColumn =>
          d.row == p.row && d.family == p.family && d.qualifier == p.qualifier && p.ts <= d.ts
        case CellType.DeleteFamily =>
          d.row == p.row && d.family == p.family && p.ts <= d.ts
        case CellType.DeleteFamilyVersion =>
          d.row == p.row && d.family == p.family && p.ts == d.ts
        case _ => false
      }
    }
    puts.filterNot(isMasked)
      .groupBy(c => (c.row, c.family, c.qualifier))
      .flatMap { case (_, cs) => cs.sortBy(-_.ts).take(maxVersions) }
      .map(c => (c.row, c.family, c.qualifier, c.ts)).toSet
  }

  test("resolve equals naive model on 25 random tombstone mixes") {
    val rnd = new Random(42)
    (1 to 25).foreach { i =>
      val cells = genCase(rnd)
      val maxV  = 1 + rnd.nextInt(3)
      val got = Resolve.latest(cells.toDF(), maxV).collect()
        .map(r => (r.getAs[String]("row"), r.getAs[String]("family"),
          r.getAs[String]("qualifier"), r.getAs[Long]("ts"))).toSet
      val want = naive(cells, maxV)
      assert(got === want, s"case $i with maxVersions=$maxV, cells=$cells")
    }
  }

  /** Naive mirror extended with the CF knobs: per-CF time range
    * overrides, KEEP_DELETED_CELLS marker visibility, TTL floor with
    * MIN_VERSIONS retention — in exact lockstep with Resolve.latest's
    * documented semantics. */
  private def naiveKnobs(cells: Seq[GCell], maxV: Int,
      tr: Option[(Long, Long)], cfTr: Map[String, (Long, Long)],
      ttl: Option[Long], minV: Int,
      keepDeleted: Boolean): Set[(String, String, String, Long)] = {
    val anyRange = tr.nonEmpty || cfTr.nonEmpty
    def markerCeil(f: String): Long =
      cfTr.get(f).map(_._2).orElse(tr.map(_._2)).getOrElse(Long.MaxValue)
    def isMasked(p: GCell): Boolean = cells.exists { d =>
      (!keepDeleted || !anyRange || d.ts < markerCeil(d.family)) && (d.`type` match {
        case CellType.Delete =>
          d.row == p.row && d.family == p.family && d.qualifier == p.qualifier && d.ts == p.ts
        case CellType.DeleteColumn =>
          d.row == p.row && d.family == p.family && d.qualifier == p.qualifier && p.ts <= d.ts
        case CellType.DeleteFamily =>
          d.row == p.row && d.family == p.family && p.ts <= d.ts
        case CellType.DeleteFamilyVersion =>
          d.row == p.row && d.family == p.family && p.ts == d.ts
        case _ => false
      })
    }
    def inRange(p: GCell): Boolean =
      cfTr.get(p.family).orElse(tr) match {
        case Some((lo, hi)) => p.ts >= lo && p.ts < hi
        case None           => true
      }
    val survivors = cells.filter(_.`type` == CellType.Put)
      .filterNot(isMasked).filter(inRange)
    // minVersions == 0: TTL pre-filters (expired cells consume no rank
    // slot); minVersions > 0: expired cells rank, newest minV retained.
    val preTtl =
      if (minV == 0) survivors.filter(c => ttl.forall(c.ts >= _)) else survivors
    preTtl.groupBy(c => (c.row, c.family, c.qualifier))
      .flatMap { case (_, cs) =>
        cs.sortBy(-_.ts).zipWithIndex
          .filter { case (c, i) =>
            val rn = i + 1
            rn <= maxV && (ttl.isEmpty || c.ts >= ttl.get || (minV > 0 && rn <= minV))
          }
          .map(_._1)
      }
      .map(c => (c.row, c.family, c.qualifier, c.ts)).toSet
  }

  test("resolve knobs equal naive model on 40 random knob mixes") {
    val rnd = new Random(4242)
    (1 to 40).foreach { i =>
      val cells = genCase(rnd)
      val maxV  = 1 + rnd.nextInt(3)
      val tr = if (rnd.nextBoolean()) {
        val lo = 1L + rnd.nextInt(3); Some((lo, lo + 1 + rnd.nextInt(4)))
      } else None
      val cfTr: Map[String, (Long, Long)] =
        if (rnd.nextBoolean()) {
          val lo = 1L + rnd.nextInt(3)
          Map(fams(rnd.nextInt(fams.size)) -> ((lo, lo + 1 + rnd.nextInt(4))))
        } else Map.empty
      val ttl  = if (rnd.nextBoolean()) Some(1L + rnd.nextInt(5)) else None
      val minV = rnd.nextInt(3)
      val kdc  = rnd.nextBoolean()
      val got = Resolve.latest(cells.toDF(), maxV,
          timeRange = tr.map { case (a, b) => Resolve.TimeRange(a, b) },
          ttlCutoff = ttl,
          cfTimeRanges = cfTr.map { case (f, (a, b)) => f -> Resolve.TimeRange(a, b) },
          minVersions = minV, keepDeleted = kdc)
        .collect()
        .map(r => (r.getAs[String]("row"), r.getAs[String]("family"),
          r.getAs[String]("qualifier"), r.getAs[Long]("ts"))).toSet
      val want = naiveKnobs(cells, maxV, tr, cfTr, ttl, minV, kdc)
      assert(got === want,
        s"case $i maxV=$maxV tr=$tr cfTr=$cfTr ttl=$ttl minV=$minV kdc=$kdc cells=$cells")
    }
  }

  /** A wider random cell set for the old ≡ new checks: six rows, two
    * visibility-tagged families, pass-through `seq`/`batch_id` columns,
    * markers at the same ts as Puts, family markers that sometimes carry
    * a qualifier, and null values. Puts are unique per coordinate unless
    * `dupPuts`, which keeps Puts of one coordinate that differ in value
    * (the pass and the reference both keep the larger value first).
    * Half the cells are markers; `putWeight` above 4 makes fewer. */
  private def genWide(rnd: Random, dupPuts: Boolean = false, putWeight: Int = 4): DataFrame = {
    val vis = Seq(null, "a", "a&b", "b&a", "b|a")
    val n = 20 + rnd.nextInt(60)
    val cells = (0 until n).map { i =>
      val r = s"r${rnd.nextInt(6)}"
      val f = fams(rnd.nextInt(fams.size))
      val t = rnd.nextInt(4 + putWeight) match {
        case 0 => CellType.Delete
        case 1 => CellType.DeleteColumn
        case 2 => CellType.DeleteFamily
        case 3 => CellType.DeleteFamilyVersion
        case _ => CellType.Put
      }
      val famScope = t == CellType.DeleteFamily || t == CellType.DeleteFamilyVersion
      val q = if (famScope && rnd.nextInt(5) > 0) "" else quals(rnd.nextInt(quals.size))
      val v = if (rnd.nextInt(10) == 0) null else s"v${rnd.nextInt(4)}"
      (r, f, q, 1L + rnd.nextInt(6), t, v, vis(rnd.nextInt(vis.size)), i.toLong,
        s"b${rnd.nextInt(3)}")
    }
    val unique = cells.groupBy(c => (c._1, c._2, c._3, c._4, c._5 == CellType.Put))
      .flatMap { case ((_, _, _, _, put), cs) =>
        if (!put) cs else if (dupPuts) cs.distinctBy(_._6) else cs.take(1)
      }.toSeq
    unique.toDF("row", "family", "qualifier", "ts", "type", "value", "vis", "seq", "batch_id")
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertSame(got: DataFrame, want: DataFrame, clue: => String): Unit = {
    assert(got.columns.toSeq === want.columns.toSeq, clue)
    assert(rowsOf(got) === rowsOf(want), clue)
  }

  test("one-pass resolve equals the relational mask-join form across every knob") {
    val rnd = new Random(7177)
    (1 to 40).foreach { i =>
      val cells = genWide(rnd)
      val maxV = 1 + rnd.nextInt(3)
      def tr() = { val lo = 1L + rnd.nextInt(3); Resolve.TimeRange(lo, lo + 1 + rnd.nextInt(4)) }
      val timeRange = if (rnd.nextBoolean()) Some(tr()) else None
      val cfTr: Map[String, Resolve.TimeRange] =
        if (rnd.nextBoolean()) Map(fams(rnd.nextInt(fams.size)) -> tr()) else Map.empty
      val ttl = if (rnd.nextBoolean()) Some(1L + rnd.nextInt(5)) else None
      val minV = rnd.nextInt(3)
      val kdc = rnd.nextBoolean()
      val visScope = if (rnd.nextBoolean()) Some("vis") else None
      // a cell filter that is null on null values, so the marker-
      // preserving pre-filter's null handling is exercised too
      val cellFilter = rnd.nextInt(3) match {
        case 0 => None
        case 1 => Some(col("value") =!= "v0")
        case _ => Some(col("seq") % 3 =!= 0)
      }
      val clue = s"case $i maxV=$maxV tr=$timeRange cfTr=$cfTr ttl=$ttl minV=$minV " +
        s"kdc=$kdc vis=$visScope filter=$cellFilter\n${rowsOf(cells).mkString("\n")}"
      assertSame(
        Resolve.latest(cells, maxV, timeRange, ttl, cellFilter, cfTr, minV, kdc,
          visScope = visScope),
        ResolveReference.latest(cells, maxV, timeRange, ttl, cellFilter, cfTr, minV, kdc,
          visScope = visScope),
        clue)
      if (i % 4 == 0)
        assertSame(Resolve.maskedView(cells, timeRange, cfTr, kdc, visScope),
          ResolveReference.maskedView(cells, timeRange, cfTr, kdc, visScope), s"mask $clue")
    }
  }

  /** Per-family pagination as a rank window over (row, family), in the
    * pass's order: family markers first, qualifier, ts DESC, markers
    * first, value DESC. */
  private def pageRef(df: DataFrame, s: GScan): DataFrame =
    if (s.maxResultsPerCf.isEmpty && s.rowOffsetPerCf == 0) df
    else {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("row"), col("family"))
        .orderBy(col("type").isin(CellType.DeleteFamily, CellType.DeleteFamilyVersion).desc,
          col("qualifier").asc, col("ts").desc, (col("type") === CellType.Put).asc,
          col("value").desc)
      val lo = s.rowOffsetPerCf
      df.withColumn("__cfpos", row_number().over(w))
        .filter(col("__cfpos") > lo &&
          s.maxResultsPerCf.fold(lit(true))(m => col("__cfpos") <= lo + m))
        .drop("__cfpos")
    }

  /** The cells in the order `scan` returns them, as the cell order's
    * keys: non-decreasing (row DESC when reversed). */
  private def assertCellOrder(got: DataFrame, reversed: Boolean, clue: => String): Unit = {
    val keys = got.select("row", "family", "qualifier", "ts").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    keys.sliding(2).foreach {
      case Seq(a, b) =>
        val byRow = if (reversed) b._1.compareTo(a._1) else a._1.compareTo(b._1)
        val rest =
          Ordering[(String, String, Long)].compare((a._2, a._3, -a._4), (b._2, b._3, -b._4))
        assert(byRow < 0 || (byRow == 0 && rest <= 0), s"out of cell order: $a, $b\n$clue")
      case _ =>
    }
  }

  test("filtered scans (mask, tree, gate) equal the relational form") {
    import graft.filter._
    val rnd = new Random(9091)
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
    // three rows and a quarter markers, so tested columns hold several
    // live versions; values v0, v1, 7, 12 (a long comparator meets
    // unparseable values) and nulls
    def dense(df: DataFrame) = df
      .withColumn("row", concat(lit("r"), (substring(col("row"), 2, 1).cast("int") % 3)
        .cast("string")))
      .withColumn("value", when(col("value") === "v2", "7").when(col("value") === "v3", "12")
        .otherwise(col("value")))
    def scvf(): GFilter = {
      val (fam, q) = pick(("d", "a"), ("e", "b"))
      val (op, c) = pick[(CompareOp, GComparator)]((CompareOp.Equal, BinaryComparator("v1")),
        (CompareOp.NotEqual, BinaryComparator("v0")), (CompareOp.Greater, LongComparator(8)))
      val (ifMissing, latestOnly) = (rnd.nextBoolean(), rnd.nextBoolean())
      if (rnd.nextBoolean()) SingleColumnValueFilter(fam, q, op, c, ifMissing, latestOnly)
      else SingleColumnValueExcludeFilter(fam, q, op, c, ifMissing, latestOnly)
    }
    def perCell(): GFilter = pick(ValueFilter(CompareOp.NotEqual, BinaryComparator("v0")),
      QualifierFilter(CompareOp.NotEqual, BinaryComparator("b")),
      ValueFilter(CompareOp.Equal, SubstringComparator("1")),
      FamilyFilter(CompareOp.Equal, BinaryComparator("d")))
    def rowLeaf(kind: Int = rnd.nextInt(11)): GFilter = kind match {
      case 0 => scvf()
      case 1 => DependentColumnFilter(pick("d", "e"), pick("a", "b"), rnd.nextBoolean(),
        if (rnd.nextBoolean()) None else Some((CompareOp.NotEqual, BinaryComparator("v0"))))
      case 2 => ColumnCountGetFilter(1 + rnd.nextInt(3))
      case 3 => ColumnPaginationFilter(1 + rnd.nextInt(2), rnd.nextInt(2))
      case 4 => SkipFilter(perCell())
      case 5 => KeyOnlyFilter(rnd.nextBoolean())
      case 6 => FirstKeyOnlyFilter()
      case 7 => PageFilter(1 + rnd.nextInt(2))
      case 8 => WhileMatchFilter(perCell())
      case 9 => WhileMatchFilter(scvf())
      case _ => FilterList.and(scvf(), rowLeaf(rnd.nextInt(10)))
    }
    def list(depth: Int): GFilter = {
      val kids = (0 to rnd.nextInt(3)).map { _ =>
        if (depth > 0 && rnd.nextInt(4) == 0) list(depth - 1)
        else if (rnd.nextBoolean()) perCell() else rowLeaf()
      }
      if (rnd.nextBoolean()) FilterList.and(kids: _*) else FilterList.or(kids: _*)
    }
    // every kind alone and in AND/OR lists; trees without Page or
    // WhileMatch take the program inside the pass, per-cell trees the
    // fused cellFilter path, the others mask → filter tree → resolve
    def tree(): GFilter = rnd.nextInt(12) match {
      case 0 => scvf()
      case 1 => FilterList.and(scvf(), perCell())
      case 2 => FilterList.and(perCell(), scvf(), perCell())
      case 3 => FilterList.and(perCell(), FilterList.and(scvf(), scvf()))
      case 4 => FilterList.and(perCell(), perCell())
      case 5 => FilterList.or(scvf(), perCell())
      case 6 | 7 | 8 => rowLeaf()
      case _ => list(1)
    }
    var hiddenNewest = 0
    var programs = 0
    val kinds = scala.collection.mutable.Set.empty[String]
    def kindsOf(g: GFilter): Seq[String] = g match {
      case FilterList(op, fs) => op.toString +: fs.flatMap(kindsOf)
      case SkipFilter(inner) => "SkipFilter" +: kindsOf(inner)
      case WhileMatchFilter(inner, _) => "WhileMatchFilter" +: kindsOf(inner)
      case other => Seq(other.getClass.getSimpleName)
    }
    (1 to 112).foreach { i =>
      val cells = dense(genWide(rnd, dupPuts = rnd.nextBoolean(), putWeight = 12)
        .drop("vis", "seq", "batch_id"))
      def tr() = { val lo = 1L + rnd.nextInt(3); Resolve.TimeRange(lo, lo + 1 + rnd.nextInt(4)) }
      val paged = rnd.nextInt(4) == 0
      val s = GScan(maxVersions = 1 + rnd.nextInt(3),
        timeRange = if (rnd.nextBoolean()) Some(tr()) else None,
        cfTimeRanges = if (rnd.nextBoolean()) Map("d" -> tr()) else Map.empty,
        ttlCutoff = if (rnd.nextBoolean()) Some(1L + rnd.nextInt(5)) else None,
        minVersions = rnd.nextInt(2), keepDeleted = rnd.nextBoolean(),
        filter = if (rnd.nextBoolean()) Some(col("value") =!= "7") else None,
        reversed = rnd.nextInt(3) == 0, raw = if (i <= 22) i > 11 else rnd.nextInt(3) == 0,
        families = if (rnd.nextInt(4) == 0) Seq(pick("d", "e")) else Nil,
        maxResultsPerCf = if (paged) Some(1 + rnd.nextInt(3)) else None,
        rowOffsetPerCf = if (paged) rnd.nextInt(2) else 0)
      // the first 22 cases take each row-level kind once, raw and not
      val f = if (i <= 22) rowLeaf((i - 1) % 11) else tree()
      kinds ++= kindsOf(f).map(k => s"$k${if (s.raw) " raw" else ""}")
      if (FilterCompiler.cellPredicate(f).isEmpty && FilterCompiler.rowLocal(f)) programs += 1
      val visible =
        if (s.raw) Resolve.timeRangePred(s.timeRange, s.cfTimeRanges).fold(cells)(cells.filter)
        else Resolve.preGatePreds(s.timeRange, s.cfTimeRanges, s.ttlCutoff, s.minVersions)
          .foldLeft(ResolveReference.maskedView(cells, s.timeRange, s.cfTimeRanges,
            s.keepDeleted))((df, p) => df.filter(p))
      val tested = FilterReference(visible, FilterCompiler.withReversed(f, s.reversed))
      val projected =
        if (s.families.isEmpty) tested else tested.filter(col("family").isin(s.families: _*))
      val resolved =
        if (s.raw) s.filter.fold(projected)(projected.filter)
        else ResolveReference.latest(projected, s.maxVersions, s.timeRange, s.ttlCutoff,
          s.filter, s.cfTimeRanges, s.minVersions, s.keepDeleted, premasked = true)
      val got = GTable.scanFiltered(cells, s, f)
      val clue = s"case $i scan=$s filter=$f\n${rowsOf(cells).mkString("\n")}"
      assertSame(got, pageRef(resolved, s), clue)
      assertCellOrder(got, s.reversed, clue)
      // the newest raw Put of a tested column is tombstoned, or outside
      // the time range or TTL, for some row
      def newest(df: DataFrame) = df.filter(col("type") === CellType.Put &&
          col("family") === "d" && col("qualifier") === "a")
        .groupBy("row").agg(max(struct(col("ts"), col("value"))).as("n"))
      if (!s.raw && newest(cells).join(newest(visible), Seq("row", "n"), "left_anti").count() > 0)
        hiddenNewest += 1
    }
    info(s"$programs cases took the program, $hiddenNewest hid a newest tested version")
    val every = Seq("SingleColumnValueFilter", "SingleColumnValueExcludeFilter",
      "DependentColumnFilter", "ColumnCountGetFilter", "ColumnPaginationFilter", "SkipFilter",
      "KeyOnlyFilter", "FirstKeyOnlyFilter", "PageFilter", "WhileMatchFilter", "MustPassAll",
      "MustPassOne")
    val missing = for (k <- every; raw <- Seq("", " raw") if !kinds(k + raw)) yield k + raw
    assert(missing.isEmpty, s"no case of $missing")
    assert(programs >= 50, s"only $programs cases took the program")
    assert(hiddenNewest >= 20, s"only $hiddenNewest cases hid a newest tested version")
  }

  test("paged scans equal the per-family rank window over the resolved cells") {
    val rnd = new Random(5150)
    (1 to 24).foreach { i =>
      val cells = genWide(rnd, dupPuts = rnd.nextBoolean()).drop("vis", "seq", "batch_id")
      def tr() = { val lo = 1L + rnd.nextInt(3); Resolve.TimeRange(lo, lo + 1 + rnd.nextInt(4)) }
      val s = GScan(maxVersions = 1 + rnd.nextInt(3),
        timeRange = if (rnd.nextBoolean()) Some(tr()) else None,
        ttlCutoff = if (rnd.nextBoolean()) Some(1L + rnd.nextInt(5)) else None,
        minVersions = rnd.nextInt(2), raw = rnd.nextInt(4) == 0,
        filter = if (rnd.nextBoolean()) Some(col("value") =!= "v2") else None,
        maxResultsPerCf = if (rnd.nextInt(4) > 0) Some(1 + rnd.nextInt(3)) else None,
        rowOffsetPerCf = rnd.nextInt(3))
      val resolved =
        if (s.raw)
          (Resolve.timeRangePred(s.timeRange, s.cfTimeRanges).toSeq ++ s.filter)
            .foldLeft(cells)((df, p) => df.filter(p))
        else ResolveReference.latest(cells, s.maxVersions, s.timeRange, s.ttlCutoff,
          s.filter, minVersions = s.minVersions)
      val got = GTable.scan(cells, s)
      val clue = s"case $i scan=$s\n${rowsOf(cells).mkString("\n")}"
      assertSame(got, pageRef(resolved, s), clue)
      assertCellOrder(got, s.reversed, clue)
      // a paged Get is one row: same cells as the paged scan's share
      if (i % 6 == 0)
        assertSame(GTable.get(cells, "r1", s), pageRef(resolved, s).filter(col("row") === "r1"),
          s"get $clue")
    }
  }

  test("reads over a row-ranged store equal the same cells hash-laid-out, cell order included") {
    import graft.filter._
    val rnd = new Random(3131)
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
    // thirty rows over four partitions, one cell per coordinate (so the
    // cell order is total), a quarter markers and a few null values
    val keys = (0 until 30).map(i => f"r$i%02d")
    val cells = (for {
      r <- keys; f <- fams; q <- quals :+ ""; ts <- 1L to 3L if rnd.nextInt(3) > 0
    } yield {
      val t = if (q == "") pick(CellType.DeleteFamily, CellType.DeleteFamilyVersion)
        else if (rnd.nextInt(6) == 0) pick(CellType.Delete, CellType.DeleteColumn)
        else CellType.Put
      GCell(r, f, q, ts, t, if (rnd.nextInt(12) == 0) null else s"v${rnd.nextInt(4)}")
    }).filter(c => c.qualifier != "" || rnd.nextInt(8) == 0).toDF()
    val order = GTable.cellOrder()
    val ranged = rangedStore(cells)
    val hashed = cells.repartition(4, col("row")).sortWithinPartitions(order: _*).persist()
    try {
      ranged.count(); hashed.count()
      assert(Resolve.rowRanged(ranged) && !Resolve.rowRanged(hashed))
      assert(ranged.rdd.getNumPartitions === 4)
      def perCell(): GFilter = pick(ValueFilter(CompareOp.NotEqual, BinaryComparator("v0")),
        QualifierFilter(CompareOp.NotEqual, BinaryComparator("b")),
        ValueFilter(CompareOp.Equal, SubstringComparator("1")), PrefixFilter(s"r${rnd.nextInt(3)}"))
      def rowLeaf(): GFilter = pick(
        SingleColumnValueFilter("d", pick("a", "b"), CompareOp.Equal, BinaryComparator("v1"),
          rnd.nextBoolean(), rnd.nextBoolean()),
        SingleColumnValueExcludeFilter("e", "a", CompareOp.NotEqual, BinaryComparator("v0")),
        ColumnCountGetFilter(1 + rnd.nextInt(3)), ColumnPaginationFilter(2, rnd.nextInt(2)),
        FirstKeyOnlyFilter(), KeyOnlyFilter(rnd.nextBoolean()), SkipFilter(perCell()),
        PageFilter(1 + rnd.nextInt(4)), WhileMatchFilter(perCell()))
      def tree(): GFilter = rnd.nextInt(4) match {
        case 0 => perCell()
        case 1 => rowLeaf()
        case _ => (if (rnd.nextBoolean()) FilterList.and _ else FilterList.or _)(
          Seq.fill(2 + rnd.nextInt(2))(if (rnd.nextBoolean()) perCell() else rowLeaf()))
      }
      def key() = keys(rnd.nextInt(keys.size))
      var local = 0
      (1 to 60).foreach { i =>
        val paged = rnd.nextInt(4) == 0
        val (lo, hi) = Seq(key(), key()).sorted match { case Seq(a, b) => (a, b) }
        val s = GScan(
          startRow = if (rnd.nextInt(4) > 0) Some(lo) else None,
          stopRow = if (rnd.nextInt(4) > 0) Some(hi) else None,
          startInclusive = rnd.nextInt(4) > 0, stopInclusive = rnd.nextBoolean(),
          rowPrefix = if (rnd.nextInt(6) == 0) Some(s"r${rnd.nextInt(3)}") else None,
          reversed = rnd.nextInt(4) == 0, raw = rnd.nextInt(4) == 0,
          families = if (rnd.nextInt(4) == 0) Seq(pick("d", "e")) else Nil,
          maxVersions = 1 + rnd.nextInt(3),
          timeRange = if (rnd.nextInt(4) == 0) Some(Resolve.TimeRange(2, 4)) else None,
          limit = if (rnd.nextInt(4) == 0) Some(1 + rnd.nextInt(5)) else None,
          maxResultsPerCf = if (paged) Some(1 + rnd.nextInt(3)) else None,
          rowOffsetPerCf = if (paged) rnd.nextInt(2) else 0)
        val (name, read): (String, DataFrame => DataFrame) = rnd.nextInt(3) match {
          case 0 => ("scan", GTable.scan(_, s))
          case 1 =>
            val f = tree()
            (s"scanFiltered $f", GTable.scanFiltered(_, s, f))
          case _ =>
            val ks = Seq.fill(1 + rnd.nextInt(8))(key()).distinct
            (s"multiGet $ks", GTable.multiGet(_, ks.toDF("row"), s.copy(startRow = None,
              stopRow = None, rowPrefix = None)))
        }
        val got = read(ranged)
        if (!s.reversed && physical(got).collect { case e: ShuffleExchangeExec => e }.isEmpty)
          local += 1
        assert(got.collect().toSeq === read(hashed).collect().toSeq, s"case $i $name scan=$s")
      }
      info(s"$local of 60 cases sorted locally")
      assert(local >= 25, s"only $local cases sorted locally")
    } finally { ranged.unpersist(); hashed.unpersist() }
  }

  private def physical(df: DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("equal-ts Puts resolve to the larger value under any input partitioning") {
    // each column holds Puts that tie on ts and differ in value; the two
    // frames feed them in opposite orders and partitionings
    val cells = for {
      r <- 0 until 40; q <- Seq("a", "b"); v <- Seq("v1", "v3", "v2")
    } yield GCell(s"r$r", "d", q, 5L + r % 2, CellType.Put, s"$v-$r")
    val asc = cells.sortBy(_.value).toDF()
    val desc = cells.sortBy(_.value).reverse.toDF().repartition(3)
    val want = cells.groupBy(c => (c.row, c.qualifier)).values.map(_.maxBy(_.value))
      .map(c => s"${c.row}|d|${c.qualifier}|${c.ts}|Put|${c.value}").toSeq.sorted
    for ((name, df) <- Seq("asc" -> asc, "desc" -> desc)) {
      assert(rowsOf(Resolve.latest(df, 1)) === want, name)
      assert(rowsOf(GTable.scan(df, GScan())) === want, s"scan $name")
    }
    // two versions: both tied values, larger first in the cell order
    assert(rowsOf(Resolve.latest(asc, 2)) === rowsOf(Resolve.latest(desc, 2)))
  }
}
