package graft

import org.apache.spark.sql.functions._

import graft.model.Fixtures
import graft.read.{GScan, GTable}

class ScanSpec extends SparkSpec {

  lazy val co = Fixtures.cellsOrders(spark, sf0001).cache()

  test("get returns exactly one row's cells") {
    val r = GTable.get(co, "0000000007", GScan(raw = true)).collect()
    assert(r.length === 5)
    assert(r.forall(_.getAs[String]("row") == "0000000007"))
  }

  test("range scan honors [start, stop) and total order") {
    val r = GTable
      .scan(co, GScan(raw = true).withRange("0000000100", "0000000110"))
      .select("row").distinct().collect().map(_.getString(0)).sorted
    assert(r.head === "0000000100" && r.last === "0000000109" && r.length === 10)
  }

  test("reversed scan is descending by row") {
    val rows = GTable
      .scan(co, GScan(raw = true, reversed = true).withRange("0000000100", "0000000105"))
      .select("row").collect().map(_.getString(0))
    assert(rows === rows.sorted.reverse)
  }

  test("projection keeps only requested column") {
    val r = GTable.scan(co, GScan(raw = true, columns = Seq("d" -> "o_totalprice")))
    assert(r.select("qualifier").distinct().collect().map(_.getString(0)).toSeq === Seq("o_totalprice"))
  }

  test("multiGet semi-joins the key list") {
    import spark.implicits._
    val keys = Seq("0000000001", "0000000002", "9999999999").toDF("k")
    val r = GTable.multiGet(co, keys).select("row").distinct().collect().map(_.getString(0)).toSet
    assert(r === Set("0000000001", "0000000002"))
  }

  test("cellsEventsV fixture has puts and all three tombstone kinds") {
    val types = Fixtures.cellsEventsV(spark, sf0001)
      .select("type").distinct().collect().map(_.getString(0)).toSet
    assert(types === Set("Put", "Delete", "DeleteColumn", "DeleteFamily"))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("families + columns projection UNIONS selections (addFamily grants all quals)") {
    import graft.model.{CellType, CellSchema}
    import org.apache.spark.sql.Row
    val mixed = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("r1", "a", "q1", 1L, CellType.Put, "v1"),
        Row("r1", "a", "q2", 1L, CellType.Put, "v2"),
        Row("r1", "b", "q1", 1L, CellType.Put, "v3"),
        Row("r1", "b", "q2", 1L, CellType.Put, "v4"),
        Row("r1", "c", "q1", 1L, CellType.Put, "v5"))), CellSchema.schema)
    val out = GTable.scan(mixed,
      GScan(raw = true, families = Seq("a"), columns = Seq("b" -> "q1")))
      .select("family", "qualifier").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out === Set(("a", "q1"), ("a", "q2"), ("b", "q1")))
  }

  test("limit counts table rows, not cells") {
    val out = GTable.scan(co, GScan(raw = true, limit = Some(3)))
    assert(out.select("row").distinct().count() === 3)
    assert(out.count() === 15) // 3 rows x 5 cells each, no mid-row cut
  }

  test("column projection keeps family tombstones visible to resolve") {
    val ev = Fixtures.cellsEventsV(spark, sf0001)
    val proj = GTable.scan(ev, GScan(columns = Seq("d" -> "value"), maxVersions = 2))
      .select("row", "family", "qualifier", "ts", "value")
      .collect().map(_.toSeq).toSet
    val full = graft.read.Resolve.latest(ev, maxVersions = 2)
      .filter(col("family") === "d" && col("qualifier") === "value")
      .select("row", "family", "qualifier", "ts", "value")
      .collect().map(_.toSeq).toSet
    assert(proj === full)
    // and no tombstone markers leak into the output
    assert(!proj.exists(_(2) == ""))
  }

  test("raw scan honors the time range but skips masking and versions") {
    val ev = Fixtures.cellsEventsV(spark, sf0001)
    val out = GTable.scan(ev, GScan(raw = true,
      timeRange = Some(graft.read.Resolve.TimeRange(2L, 4L))))
    assert(out.filter(col("ts") < 2 || col("ts") >= 4).count() === 0)
    // tombstone markers inside the window are visible in raw mode
    assert(out.filter(col("type") =!= graft.model.CellType.Put).count() > 0)
  }

  test("scanFiltered propagates reversed-ness into the filter tree") {
    import graft.filter._
    // WHILE row >= '0000000100': ascending stops at the first row BELOW
    // the bound (none — starts there), reversed scans DOWN and must
    // stop before crossing it — without propagation the reversed run
    // would compute the ascending complement
    val f = WhileMatchFilter(RowFilter(CompareOp.GreaterOrEqual,
      BinaryComparator("0000000100")))
    val fwd = GTable.scanFiltered(co, GScan(), f)
      .select("row").distinct().collect().map(_.getString(0))
    val rev = GTable.scanFiltered(co, GScan(reversed = true), f)
      .select("row").distinct().collect().map(_.getString(0))
    // reversed: rows from the top DOWN to the bound (all >= bound);
    // forward: empty or prefix strictly below the first < bound row
    assert(rev.nonEmpty && rev.forall(_ >= "0000000100"))
    assert(fwd.forall(_ < "0000000100"))
  }

  test("scanFiltered runs the tree over the delete-masked view") {
    import graft.filter._
    import graft.model.{CellType, GCell}
    import spark.implicits._
    // r1's 'P' is tombstoned: the matcher's delete tracker runs BEFORE
    // filterCell, so the SCVF must never see it and r1 must not pass;
    // r2's live 'P' passes. In raw mode the filter DOES see history.
    val cells = Seq(
      GCell("r1", "d", "q", 1, CellType.Put, "P"),
      GCell("r1", "d", "q", 2, CellType.DeleteColumn, null),
      GCell("r1", "d", "x", 3, CellType.Put, "other"),
      GCell("r2", "d", "q", 1, CellType.Put, "P")
    ).toDF()
    val f = SingleColumnValueFilter("d", "q", CompareOp.Equal,
      BinaryComparator("P"), filterIfMissing = true)
    val live = GTable.scanFiltered(cells, GScan(), f)
      .select("row").distinct().collect().map(_.getString(0)).toSet
    assert(live === Set("r2"))
    // raw mode DOES expose the shadowed history to the tree (the
    // marker itself is the newest 'q' version there, so probe with
    // any-version matching rather than latestVersionOnly)
    val fAny = SingleColumnValueFilter("d", "q", CompareOp.Equal,
      BinaryComparator("P"), filterIfMissing = true, latestVersionOnly = false)
    val raw = GTable.scanFiltered(cells, GScan(raw = true), fAny)
      .select("row").distinct().collect().map(_.getString(0)).toSet
    assert(raw === Set("r1", "r2"))
    val liveAny = GTable.scanFiltered(cells, GScan(), fAny)
      .select("row").distinct().collect().map(_.getString(0)).toSet
    assert(liveAny === Set("r2"))
  }

  test("per-CF pagination skips storeOffset values and caps at storeLimit") {
    import spark.implicits._
    import graft.model.{CellType, GCell}
    val cells = Seq(
      GCell("r1", "a", "q1", 2, CellType.Put, "a12"),
      GCell("r1", "a", "q1", 1, CellType.Put, "a11"),
      GCell("r1", "a", "q2", 1, CellType.Put, "a21"),
      GCell("r1", "a", "q3", 1, CellType.Put, "a31"),
      GCell("r1", "b", "q1", 1, CellType.Put, "b11")
    ).toDF()
    // maxVersions=2: family a's store order is (q1,2),(q1,1),(q2,1),(q3,1);
    // offset 1 skips (q1,2), limit 2 keeps (q1,1),(q2,1). family b has a
    // single value, consumed by the offset.
    val r = GTable.scan(cells,
        GScan(maxVersions = 2, maxResultsPerCf = Some(2), rowOffsetPerCf = 1))
      .select("family", "qualifier", "ts").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSet
    assert(r === Set(("a", "q1", 1L), ("a", "q2", 1L)))
    // version gate runs FIRST: with maxVersions=1 the shadowed (q1,1)
    // never reaches the pagination counter
    val r1 = GTable.scan(cells,
        GScan(maxVersions = 1, maxResultsPerCf = Some(2), rowOffsetPerCf = 1))
      .select("family", "qualifier", "ts").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSet
    assert(r1 === Set(("a", "q2", 1L), ("a", "q3", 1L)))
  }

  test("scan filter runs before the version gate") {
    val ev = Fixtures.cellsEventsV(spark, sf0001)
    // keep only ts <= 3 cells via filter with maxVersions = 1: the
    // surviving newest version per column must be the newest AMONG
    // ts <= 3 — a post-gate filter would return nothing for columns
    // whose ts=4/5 newest got the only slot
    val out = GTable.scan(ev, GScan(filter = Some(col("ts") <= 3), maxVersions = 1))
    val perCol = out.groupBy("row", "family", "qualifier")
      .agg(max("ts").as("m"), count(lit(1)).as("n"))
    assert(perCol.filter(col("n") > 1).count() === 0)
    assert(out.filter(col("ts") > 3).count() === 0)
    assert(out.count() > 0)
  }

  test("scanFiltered's SCVF reads the newest live version under both flags") {
    import graft.filter._
    import graft.model.{CellType, GCell}
    import spark.implicits._
    // r1: newest 'no', older 'yes'; r2: 'yes' deleted, live 'no';
    // r3: no tested column; r4: 'yes' and 'no' tie on ts, larger first
    val cells = Seq(
      GCell("r1", "d", "a", 3, CellType.Put, "no"),
      GCell("r1", "d", "a", 2, CellType.Put, "yes"),
      GCell("r2", "d", "a", 3, CellType.Put, "yes"),
      GCell("r2", "d", "a", 3, CellType.Delete, null),
      GCell("r2", "d", "a", 2, CellType.Put, "no"),
      GCell("r4", "d", "a", 5, CellType.Put, "no"),
      GCell("r4", "d", "a", 5, CellType.Put, "yes")
    ) ++ Seq("r1", "r2", "r3", "r4").map(r => GCell(r, "d", "b", 1, CellType.Put, "x"))
    val df = cells.toDF()
    val want = Map(
      (false, true) -> Set("r3", "r4"), (false, false) -> Set("r1", "r3", "r4"),
      (true, true) -> Set("r4"), (true, false) -> Set("r1", "r4"))
    for (((ifMissing, latestOnly), rows) <- want; exclude <- Seq(false, true)) {
      val f =
        if (exclude) SingleColumnValueExcludeFilter("d", "a", CompareOp.Equal,
          BinaryComparator("yes"), ifMissing, latestOnly)
        else SingleColumnValueFilter("d", "a", CompareOp.Equal,
          BinaryComparator("yes"), ifMissing, latestOnly)
      val out = GTable.scanFiltered(df, GScan(), f)
        .select("row", "qualifier").collect().map(r => (r.getString(0), r.getString(1))).toSet
      val clue = s"ifMissing=$ifMissing latestOnly=$latestOnly exclude=$exclude"
      assert(out.map(_._1) === rows, clue)
      assert(out.exists(_._2 == "a") === !exclude, clue)
    }
  }

  test("reads without whole-stage codegen equal their whole-stage results") {
    // Spark runs a stage interpreted when a generated method grows too
    // large; the pass's serializers must evaluate there too, over the
    // row-ranged store and over unclustered parquet alike
    import graft.filter.ParseFilter
    val root = java.nio.file.Files.createTempDirectory("interpreted_reads")
    val key = "spark.sql.codegen.wholeStage"
    val prev = spark.conf.get(key)
    try {
      val dir = root.resolve("cells").toString
      co.write.parquet(dir)
      val range = GScan().withRange("0000000001", "0000000200")
      val scvf = ParseFilter.parse("SingleColumnValueFilter('d', 'o_orderstatus', =, 'binary:F')")
      def reads(): Seq[(String, Seq[org.apache.spark.sql.Row])] =
        Seq("store" -> co, "parquet" -> spark.read.parquet(dir)).flatMap { case (src, cells) =>
          Seq(
            s"$src get" -> GTable.get(cells, "0000000007"),
            s"$src scan" -> GTable.scan(cells, range),
            s"$src SCVF scan" -> GTable.scanFiltered(cells, range, scvf)
          ).map { case (n, df) => n -> df.collect().toSeq }
        }
      val staged = reads()
      spark.conf.set(key, "false")
      val interpreted = reads()
      for (((n, a), (_, b)) <- staged.zip(interpreted)) {
        assert(a.nonEmpty, n)
        assert(b === a, n)
      }
    } finally {
      spark.conf.set(key, prev)
      Queries.deleteTree(root)
    }
  }
}
