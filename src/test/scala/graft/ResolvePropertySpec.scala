package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
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
    * a qualifier, and null values. Puts are unique per coordinate (a
    * rank tie between two Puts is undefined in both forms). */
  private def genWide(rnd: Random): DataFrame = {
    val vis = Seq(null, "a", "a&b", "b&a", "b|a")
    val n = 20 + rnd.nextInt(60)
    val cells = (0 until n).map { i =>
      val r = s"r${rnd.nextInt(6)}"
      val f = fams(rnd.nextInt(fams.size))
      val t = rnd.nextInt(8) match {
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
      .flatMap { case ((_, _, _, _, put), cs) => if (put) cs.take(1) else cs }.toSeq
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

  test("filtered scans (mask, tree, gate) equal the relational form") {
    val rnd = new Random(9091)
    // cell-level trees take the fused one-pass path; SCVF trees take
    // mask → filter tree → gate
    val filters = Seq(
      "ValueFilter(=, 'binary:v1')",
      "SingleColumnValueFilter('d', 'a', =, 'binary:v2')",
      "SingleColumnValueFilter('e', 'b', !=, 'binary:v0') AND ValueFilter(=, 'substring:1')",
      "QualifierFilter(=, 'binary:b') OR ValueFilter(=, 'binary:v3')")
    (1 to 24).foreach { i =>
      val cells = genWide(rnd).drop("vis", "seq", "batch_id")
      def tr() = { val lo = 1L + rnd.nextInt(3); Resolve.TimeRange(lo, lo + 1 + rnd.nextInt(4)) }
      val s = GScan(maxVersions = 1 + rnd.nextInt(3),
        timeRange = if (rnd.nextBoolean()) Some(tr()) else None,
        cfTimeRanges = if (rnd.nextBoolean()) Map("d" -> tr()) else Map.empty,
        ttlCutoff = if (rnd.nextBoolean()) Some(1L + rnd.nextInt(5)) else None,
        minVersions = rnd.nextInt(2), keepDeleted = rnd.nextBoolean(),
        filter = if (rnd.nextBoolean()) Some(col("value") =!= "v2") else None)
      val f = ParseFilter.parse(filters(i % filters.size))
      val visible = Resolve.preGatePreds(s.timeRange, s.cfTimeRanges, s.ttlCutoff,
          s.minVersions)
        .foldLeft(ResolveReference.maskedView(cells, s.timeRange, s.cfTimeRanges,
          s.keepDeleted))((df, p) => df.filter(p))
      val want = ResolveReference.latest(FilterCompiler(visible, f), s.maxVersions,
        s.timeRange, s.ttlCutoff, s.filter, s.cfTimeRanges, s.minVersions,
        s.keepDeleted, premasked = true)
      assertSame(GTable.scanFiltered(cells, s, f), want,
        s"case $i scan=$s filter=$f\n${rowsOf(cells).mkString("\n")}")
    }
  }
}
