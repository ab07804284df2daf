package graft

import org.apache.spark.sql.functions._

import graft.filter._
import graft.model.Fixtures

class FilterSpec extends SparkSpec {

  lazy val co = Fixtures.cellsOrders(spark, sf0001).cache()

  private def rows(f: GFilter): Set[String] =
    FilterCompiler(co, f).select("row").distinct()
      .collect().map(_.getString(0)).toSet

  test("RowFilter regex") {
    val r = rows(RowFilter(CompareOp.Equal, RegexStringComparator("^000000001[0-3]$")))
    assert(r === Set("0000000010", "0000000011", "0000000012", "0000000013"))
  }

  test("ColumnValueFilter returns the matched cell only") {
    val out = FilterCompiler(co,
      ColumnValueFilter("d", "o_orderstatus", CompareOp.Equal, BinaryComparator("F")))
    // only the tested column's matching cells survive; every other
    // column is skipped (ColumnValueFilter.java:39 "matched cell only")
    val statuses = out.select("value").distinct().collect().map(_.getString(0)).toSet
    assert(statuses === Set("F"))
    assert(out.filter(col("qualifier") =!= "o_orderstatus").count() === 0L)
    assert(out.count() === co.filter(col("qualifier") === "o_orderstatus" && col("value") === "F").count())
  }

  test("SCVF filterIfMissing=false lets rows lacking the column pass") {
    val gapped = co.filter(!(col("qualifier") === "o_orderstatus" && col("row").cast("long") % 3 === 0))
    val out = FilterCompiler(gapped,
      SingleColumnValueFilter("d", "o_orderstatus", CompareOp.Equal,
        BinaryComparator("F"), filterIfMissing = false))
    val kept = out.select("row").distinct().collect().map(_.getString(0)).toSet
    // every %3 row passes (missing col); others only if F
    assert(kept.contains("0000000000"))
    val statusRows = gapped.filter(col("qualifier") === "o_orderstatus" && col("value") =!= "F")
      .select("row").collect().map(_.getString(0)).toSet
    assert(kept.intersect(statusRows).isEmpty)
  }

  test("PageFilter returns first n rows with all cells") {
    val out = FilterCompiler(co, PageFilter(10))
    assert(out.select("row").distinct().count() === 10)
    assert(out.count() === 50) // 5 cells per row
    assert(out.agg(max("row")).head().getString(0) === "0000000009")
  }

  test("SkipFilter vetoes whole rows") {
    val out = FilterCompiler(co, SkipFilter(ValueFilter(CompareOp.NotEqual, BinaryComparator("0"))))
    // rows with o_custkey = 0 are gone entirely
    val zeroRows = co.filter(col("value") === "0").select("row").distinct().count()
    assert(zeroRows > 0)
    assert(out.filter(col("value") === "0").count() === 0)
    assert(out.select("row").distinct().count() === co.select("row").distinct().count() - zeroRows)
  }

  test("InclusiveStopFilter honors scan direction") {
    val fwd = rows(InclusiveStopFilter("0000000100"))
    val rev = rows(InclusiveStopFilter("0000000100", reversed = true))
    assert(fwd.forall(_ <= "0000000100") && rev.forall(_ >= "0000000100"))
    assert((fwd ++ rev).size == co.select("row").distinct().count())
    assert(fwd.intersect(rev) === Set("0000000100")) // stop row in both
  }

  test("WhileMatch reversed keeps the row-DESC prefix") {
    val inner = ColumnValueFilter("d", "o_custkey",
      CompareOp.NotEqual, BinaryComparator("42"))
    val fwd = rows(WhileMatchFilter(inner))
    val rev = rows(WhileMatchFilter(inner, reversed = true))
    val rejects = co.filter(col("qualifier") === "o_custkey" && col("value") === "42")
      .select("row").collect().map(_.getString(0))
    if (rejects.nonEmpty) {
      assert(fwd.forall(_ < rejects.min))
      assert(rev.forall(_ > rejects.max))
    } else assert(fwd === rev)
  }

  test("WhileMatch keeps strict prefix before first reject (row-level inner)") {
    // SCVF inner: row-coherent WhileMatch composition (a cell-exact CVF
    // inner would stop at the first off-column cell in the reference)
    val out = FilterCompiler(co,
      WhileMatchFilter(SingleColumnValueFilter("d", "o_orderstatus",
        CompareOp.NotEqual, BinaryComparator("P"))))
    val firstP = co.filter(col("qualifier") === "o_orderstatus" && col("value") === "P")
      .agg(min("row")).head().getString(0)
    assert(out.agg(max("row")).head().getString(0) < firstP)
    // every kept row is complete (row granularity)
    val perRow = out.groupBy("row").count().select("count").distinct().collect()
    assert(perRow.map(_.getLong(0)).toSet === Set(5L))
  }

  test("MUST_PASS_ONE with row-level children unions admitted cell sets") {
    val scvf = SingleColumnValueFilter("d", "o_orderstatus", CompareOp.Equal,
      BinaryComparator("F"), filterIfMissing = true)
    val page = PageFilter(5)
    val orOut = rows(FilterList.or(scvf, page))
    assert(orOut === rows(scvf) ++ rows(page))
    // cell counts also match (no dup or loss through the union+dedup)
    val n = FilterCompiler(co, FilterList.or(scvf, page)).count()
    val expect = co.filter(col("row").isin(orOut.toSeq: _*)).count()
    assert(n === expect)
  }

  test("MUST_PASS_ONE mixing cell-level and row-level children") {
    val pfx  = PrefixFilter("000000000") // rows 0..9
    val page = PageFilter(3)             // rows 0..2 — subset of pfx
    assert(rows(FilterList.or(pfx, page)) === rows(pfx))
  }

  test("an OR list is a set union in the pass and in its relational step alike") {
    import spark.implicits._
    val c = graft.model.GCell("r1", "d", "a", 1L, graft.model.CellType.Put, "x")
    val cells = Seq(c, c, c.copy(qualifier = "b")).toDF()
    val scvf = SingleColumnValueFilter("d", "a", CompareOp.Equal, BinaryComparator("x"))
    for (f <- Seq(FilterList.or(scvf, ValueFilter(CompareOp.Equal, BinaryComparator("x"))),
        FilterList.or(scvf, PageFilter(1))))
      assert(FilterCompiler(cells, f).count() === 2, f)
  }

  test("an OR list of filters reading no value keeps distinct cells with equal values") {
    import spark.implicits._
    import graft.read.{GScan, GTable}
    val c = graft.model.GCell("r1", "d", "a", 1L, graft.model.CellType.Put, "x")
    val cells = Seq(c, c.copy(qualifier = "b")).toDF()
    for (f <- Seq(FilterList.or(FirstKeyOnlyFilter(), ColumnCountGetFilter(2)),
        FilterList.or(ColumnPaginationFilter(1, 0), ColumnPaginationFilter(1, 1)))) {
      assert(FilterCompiler(cells, f).count() === 2, f)
      for (raw <- Seq(false, true))
        assert(GTable.scanFiltered(cells, GScan(raw = raw), f).count() === 2, s"$f raw=$raw")
    }
  }

  test("a KeyOnly transform ahead of a value test feeds it the transformed value") {
    import spark.implicits._
    import graft.read.{GScan, GTable}
    val c = graft.model.GCell("r1", "d", "a", 1L, graft.model.CellType.Put, "x")
    val cells = Seq(c, c.copy(qualifier = "b", value = "yy")).toDF()
    def cellsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("qualifier", "value").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val lenIs2 = FilterList.and(KeyOnlyFilter(lenAsVal = true),
      ValueFilter(CompareOp.Equal, BinaryComparator("2")))
    val mixed = FilterList.or(
      FilterList.and(ValueFilter(CompareOp.Equal, BinaryComparator("x")), KeyOnlyFilter(lenAsVal = true)),
      QualifierFilter(CompareOp.Equal, BinaryComparator("b")))
    for ((f, want) <- Seq(lenIs2 -> Set(("b", "2")), mixed -> Set(("a", "1"), ("b", "yy")))) {
      assert(!FilterCompiler.rowLocal(f), f)
      assert(cellsOf(FilterCompiler(cells, f)) === want, f)
      for (raw <- Seq(false, true))
        assert(cellsOf(GTable.scanFiltered(cells, GScan(raw = raw), f)) === want, s"$f raw=$raw")
    }
  }

  test("row-level filters keep the input's column order") {
    for (f <- Seq(DependentColumnFilter("d", "o_orderstatus"), PageFilter(2),
        FilterList.and(SkipFilter(ValueFilter(CompareOp.NotEqual, BinaryComparator("0"))),
          WhileMatchFilter(PrefixFilter("0000000"))))) {
      assert(FilterCompiler(co, f).columns.toSeq === co.columns.toSeq, f)
    }
  }

  test("checkAndMutate with an arbitrary Filter guard") {
    import graft.write.Mutations
    val guard = FilterList.or(
      SingleColumnValueFilter("d", "o_orderstatus", CompareOp.Equal,
        BinaryComparator("P"), filterIfMissing = true),
      RowFilter(CompareOp.Equal, RegexStringComparator("^000000000[0-4]$")))
    // the second guard holds a PageFilter, so it takes the relational step
    for (g <- Seq(guard, FilterList.or(guard, FilterList.and(PageFilter(12), SkipFilter(
        ValueFilter(CompareOp.NotEqual, BinaryComparator("0"))))))) {
      val out = Mutations.checkAndMutate(co, g,
        hit => hit.withColumn("value", lit("HIT")))
      val hitRows = out.filter(col("value") === "HIT")
        .select("row").distinct().collect().map(_.getString(0)).toSet
      assert(hitRows === rows(g))
      // unmatched rows flow through untouched
      assert(out.count() === co.count())
    }
  }

  test("checkAndMutate timeRange restricts the check read, not the mutation") {
    import graft.write.Mutations
    import spark.implicits._
    val cells = Seq(
      ("r1", "d", "q", 2L, "Put", "P"),
      ("r1", "d", "x", 9L, "Put", "other"),
      ("r2", "d", "q", 9L, "Put", "P")
    ).toDF("row", "family", "qualifier", "ts", "type", "value")
    def hits(out: org.apache.spark.sql.DataFrame): Set[String] =
      out.filter(col("value") === "HIT").select("row")
        .distinct().collect().map(_.getString(0)).toSet
    // cell guard: only r1's guard cell falls inside [0,5)
    val g = Mutations.Guard("d", "q", col("value") === "P", timeRange = Some((0L, 5L)))
    val out = Mutations.checkAndMutate(cells, g,
      hit => hit.withColumn("value", lit("HIT")))
    assert(hits(out) === Set("r1"))
    assert(out.count() === cells.count()) // r1's OTHER cell mutated too: window scoped the check only
    assert(out.filter(col("row") === "r1" && col("value") =!= "HIT").count() === 0L)
    // filter guard: same window logic through the compiled algebra
    val f = SingleColumnValueFilter("d", "q", CompareOp.Equal,
      BinaryComparator("P"), filterIfMissing = true)
    val out2 = Mutations.checkAndMutate(cells, f,
      (hit: org.apache.spark.sql.DataFrame) => hit.withColumn("value", lit("HIT")),
      timeRange = Some((5L, 10L)))
    assert(hits(out2) === Set("r2"))
  }

  test("checkAndMutate check read is the latest LIVE version") {
    import graft.write.Mutations
    import graft.model.CellType
    import spark.implicits._
    val cells = Seq(
      // r1: in-window 'P' is SHADOWED by a newer in-window 'X' — the
      // check Get reads 'X' only, so the guard must fail
      ("r1", "d", "q", 1L, CellType.Put, "P"),
      ("r1", "d", "q", 3L, CellType.Put, "X"),
      // r2: the only 'P' is tombstoned — check sees no live cell
      ("r2", "d", "q", 1L, CellType.Put, "P"),
      ("r2", "d", "q", 2L, CellType.DeleteColumn, null),
      // r3: live latest 'P' — the one true hit
      ("r3", "d", "q", 4L, CellType.Put, "P")
    ).toDF("row", "family", "qualifier", "ts", "type", "value")
    def hits(out: org.apache.spark.sql.DataFrame): Set[String] =
      out.filter(col("value") === "HIT").select("row")
        .distinct().collect().map(_.getString(0)).toSet
    val g = Mutations.Guard("d", "q", col("value") === "P",
      timeRange = Some((0L, 5L)))
    val out = Mutations.checkAndMutate(cells, g,
      hit => hit.withColumn("value", lit("HIT")))
    assert(hits(out) === Set("r3"))
    // same through the filter-guard overload (masked before the filter)
    val f = SingleColumnValueFilter("d", "q", CompareOp.Equal,
      BinaryComparator("P"), filterIfMissing = true, latestVersionOnly = true)
    val out2 = Mutations.checkAndMutate(cells, f,
      (hit: org.apache.spark.sql.DataFrame) => hit.withColumn("value", lit("HIT")))
    assert(hits(out2) === Set("r3"))
    // ifNotExists: r2's guard column is tombstoned away, so it counts
    // as absent; r1/r3 have live versions and must not mutate
    val out3 = Mutations.checkAndMutateIfNotExists(cells, "d", "q",
      hit => hit.withColumn("value", lit("HIT")))
    assert(hits(out3) === Set("r2"))
    // a live NULL-valued Put is still PRESENT (must fail ifNotExists),
    // and guard preds may reference the checked cell's ts
    val withNull = cells.unionByName(Seq(
      ("r4", "d", "q", 1L, CellType.Put, null.asInstanceOf[String])
    ).toDF("row", "family", "qualifier", "ts", "type", "value"))
    val out4 = Mutations.checkAndMutateIfNotExists(withNull, "d", "q",
      hit => hit.withColumn("value", lit("HIT")))
    assert(hits(out4) === Set("r2"))
    val gTs = Mutations.Guard("d", "q",
      col("value") === "P" && col("ts") >= 4L)
    val out5 = Mutations.checkAndMutate(withNull, gTs,
      hit => hit.withColumn("value", lit("HIT")))
    assert(hits(out5) === Set("r3"))
  }

  test("ParseFilter grammar: precedence and nesting") {
    val f = ParseFilter.parse(
      "PrefixFilter('a') AND ValueFilter(=, 'substring:x') OR SKIP QualifierFilter(!=, 'binary:q')")
    f match {
      case FilterList(FilterList.MustPassOne, Seq(
        FilterList(FilterList.MustPassAll, Seq(PrefixFilter("a"), ValueFilter(CompareOp.Equal, SubstringComparator("x")))),
        SkipFilter(QualifierFilter(CompareOp.NotEqual, BinaryComparator("q"))))) => ()
      case other => fail(s"unexpected AST: $other")
    }
  }

  test("ParseFilter: SingleColumnValueFilter with bools and quoted escape") {
    val f = ParseFilter.parse("SingleColumnValueFilter('d', 'o''x', >=, 'long:5', true, false)")
    assert(f === SingleColumnValueFilter("d", "o'x", CompareOp.GreaterOrEqual,
      LongComparator(5), filterIfMissing = true, latestVersionOnly = false))
  }

  test("ParseFilter: ColumnValueFilter (matched-cell-only form)") {
    val f = ParseFilter.parse("ColumnValueFilter('d', 'o_orderstatus', =, 'binary:F')")
    assert(f === ColumnValueFilter("d", "o_orderstatus", CompareOp.Equal,
      BinaryComparator("F")))
  }

  test("ParseFilter rejects garbage") {
    intercept[IllegalArgumentException](ParseFilter.parse("NoSuchFilter('x')"))
    intercept[IllegalArgumentException](ParseFilter.parse("PrefixFilter('a'"))
    intercept[IllegalArgumentException](ParseFilter.parse("PrefixFilter('a') AND"))
  }

  test("FuzzyRowFilter fixed-position match") {
    val r = rows(FuzzyRowFilter(Seq(8 -> "42")))
    assert(r.nonEmpty && r.forall(_.substring(8, 10) == "42"))
  }

  test("comparator matrix: component/bit/null/bigdecimal") {
    import spark.implicits._
    val df = Seq(("abcdef", "7"), ("abXdef", ""), ("zzzzzz", "12")).toDF("v", "n")
    // BinaryComponentComparator: slice [2,4) == "cd"
    val comp = BinaryComponentComparator("cd", 2)
    assert(df.filter(comp.test(col("v"), CompareOp.Equal)).count() === 1)
    // BitComparator: n & 4 != 0 -> matches 7 and 12
    val bit = BitComparator(4L, BitComparator.And)
    assert(df.filter(bit.test(col("n"), CompareOp.Equal)).count() === 2)
    // NullComparator: empty value matches Equal
    assert(df.filter(NullComparator().test(col("n"), CompareOp.Equal)).count() === 1)
    // BigDecimalComparator: n >= 7 (exact decimal compare)
    val bd = BigDecimalComparator(BigDecimal(7))
    assert(df.filter(bd.test(col("n"), CompareOp.GreaterOrEqual)).count() === 2)
  }

  test("SubstringComparator lower-cases like the reference: ASCII, non-ASCII, null") {
    import spark.implicits._
    val df = Seq(Some("1-URGENT"), Some("low"), Some("ÇAĞRI İZMİR"), Some("ΣΟΦΙΑ"), None).toDF("v")
    def kept(sub: String, op: CompareOp = CompareOp.Equal): Seq[Option[String]] =
      df.filter(SubstringComparator(sub).test(col("v"), op)).as[Option[String]].collect().toSeq
    assert(kept("urgent") === Seq(Some("1-URGENT")))
    assert(kept("Gent") === Seq(Some("1-URGENT")))
    // String.toLowerCase(Locale.ROOT): Ç→ç, Ğ→ğ, Σ→σ (final-sigma
    // context aside), İ→i̇ (a dotted i, two chars)
    assert(kept("çağri") === Seq(Some("ÇAĞRI İZMİR")))
    assert(kept("i\u0307zmi\u0307r") === Seq(Some("ÇAĞRI İZMİR")))
    assert(kept("σοφ") === Seq(Some("ΣΟΦΙΑ")))
    // a null value is neither equal nor unequal
    assert(kept("urgent", CompareOp.NotEqual) === Seq(Some("low"), Some("ÇAĞRI İZMİR"), Some("ΣΟΦΙΑ")))
    assert(df.filter(col("v").isNull).select(SubstringComparator("x").test(col("v"), CompareOp.Equal))
      .as[Option[Boolean]].collect().toSeq === Seq(None))
  }

  test("SubstringComparator compiles to no lower(): no ICU case mapping on the read path") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.Lower
    def lowers(df: DataFrame) = df.queryExecution.optimizedPlan.collect { case p => p.expressions }
      .flatten.flatMap(_.collect { case l: Lower => l })
    for (op <- Seq(CompareOp.Equal, CompareOp.NotEqual)) {
      val df = co.filter(SubstringComparator("URGENT").test(col("value"), op))
      assert(lowers(df).isEmpty, s"$op:\n${df.queryExecution.optimizedPlan}")
    }
    val scan = FilterCompiler(co, ValueFilter(CompareOp.Equal, SubstringComparator("URGENT")))
    assert(lowers(scan).isEmpty, s"${scan.queryExecution.optimizedPlan}")
  }
}
