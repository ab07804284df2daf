package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QDef
import graft.filter._
import graft.model.{CellType, Fixtures}
import graft.oracle.Cte
import graft.read.{GTable, Resolve}

/** Q08–Q22: the filter algebra (SURVEY §2.3, §2.9) over the cellified
  * fixtures. Every query = GFilter AST → FilterCompiler, with the
  * equivalent expanded SQL as the DuckDB oracle.
  */
object FilterQueries {

  private val outCols = Seq("row", "family", "qualifier", "ts", "value")

  private def co(s: SparkSession, dir: String) = Fixtures.cellsOrders(s, dir)
  private def evPuts(s: SparkSession, dir: String) =
    Fixtures.cellsEventsV(s, dir).filter(col("type") === CellType.Put)

  // a cell predicate or a row-local tree keeps a row-ranged store's
  // partitions, whose index order is key order, so a local sort gives
  // the total order; any other input or tree takes the range sort
  private def run(cells: DataFrame, f: GFilter): DataFrame = {
    val out = FilterCompiler(cells, f).select(outCols.map(col): _*)
    if (Resolve.rowRanged(cells) && FilterCompiler.rowLocal(f))
      out.sortWithinPartitions(GTable.cellOrder(): _*)
    else out.orderBy(GTable.cellOrder(): _*)
  }

  private def oracleOrders(where: String): String =
    Cte.withCtes(Cte.cellsOrders)(
      s"SELECT row, family, qualifier, ts, value FROM cells_orders $where " +
        "ORDER BY row, family, qualifier, ts DESC")

  val defs: Seq[QDef] = Seq(
    QDef(
      // F2 FamilyFilter (FamilyFilter.java:48) — the family-NAME
      // comparison filter, on a genuinely multi-family table (second
      // family 'm' carries UPPER(value) so family separation is
      // observable): GREATER_OR_EQUAL 'e' keeps exactly the 'm' cells.
      // Previously ParseFilter/spec-pinned only; this is its oracle row.
      "q122_family_filter",
      (s, dir) => {
        val base = co(s, dir)
        val cells = base.unionByName(
          base.withColumn("family", lit("m"))
            .withColumn("value", upper(col("value"))))
        run(cells, FamilyFilter(CompareOp.GreaterOrEqual,
          BinaryComparator("e")))
      },
      Some(Cte.withCtes(Cte.cellsOrders)(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT row, 'm' AS family, qualifier, ts, UPPER(value) AS value
          |  FROM cells_orders
          |) WHERE family >= 'e'
          |ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // NullComparator (NullComparator.java:34) — the is-empty
      // comparator, here as the reference's tombstone-audit shape:
      // ValueFilter(=, null) over the RAW multi-version fixture keeps
      // exactly the cells with no value — the delete markers.
      // Previously FilterSpec-pinned only; this is its oracle row.
      "q123_null_comparator",
      (s, dir) => run(Fixtures.cellsEventsV(s, dir),
        ValueFilter(CompareOp.Equal, NullComparator())),
      Some(Cte.withCtes(Cte.cellsEventsV)(
        """SELECT row, family, qualifier, ts, value FROM cells_events_v
          |WHERE value IS NULL OR value = ''
          |ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      "q08_row_regex",
      (s, dir) => run(co(s, dir),
        RowFilter(CompareOp.Equal, RegexStringComparator("^00000001.[02468]$"))),
      Some(oracleOrders("WHERE regexp_matches(row, '^00000001.[02468]$')"))
    ),
    QDef(
      // F5 ColumnValueFilter.java:39 — "return the matched cell only":
      // unlike SCVF (whole-row verdict, q10), only the matching cells of
      // the one tested column survive; every other cell is skipped.
      "q77_column_value_filter",
      (s, dir) => run(co(s, dir),
        ColumnValueFilter("d", "o_orderstatus", CompareOp.Equal,
          BinaryComparator("O"))),
      Some(oracleOrders(
        "WHERE family = 'd' AND qualifier = 'o_orderstatus' AND value = 'O'"))
    ),
    QDef(
      "q09_value_substring",
      (s, dir) => run(co(s, dir),
        ValueFilter(CompareOp.Equal, SubstringComparator("ent"))),
      Some(oracleOrders("WHERE contains(lower(value), 'ent')"))
    ),
    QDef(
      "q10_scvf",
      (s, dir) => run(co(s, dir),
        SingleColumnValueFilter("d", "o_orderstatus", CompareOp.Equal,
          BinaryComparator("F"), filterIfMissing = true)),
      Some(oracleOrders(
        "WHERE row IN (SELECT row FROM cells_orders WHERE family = 'd' AND qualifier = 'o_orderstatus' AND value = 'F')"))
    ),
    QDef(
      "q11_scvf_missing_pass",
      (s, dir) => {
        // gapped fixture: rows with key%3==0 lack the tested column
        val gapped = co(s, dir).filter(
          !(col("qualifier") === "o_orderstatus" && col("row").cast("long") % 3 === 0))
        run(gapped, SingleColumnValueFilter("d", "o_orderstatus", CompareOp.Equal,
          BinaryComparator("F"), filterIfMissing = false))
      },
      Some(Cte.withCtes(Cte.cellsOrders,
        "cells_gap AS (SELECT * FROM cells_orders WHERE NOT (qualifier = 'o_orderstatus' AND CAST(row AS BIGINT) % 3 = 0))")(
        """SELECT row, family, qualifier, ts, value FROM cells_gap
          |WHERE row NOT IN (SELECT row FROM cells_gap WHERE family = 'd' AND qualifier = 'o_orderstatus' AND value <> 'F')
          |ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      "q12_dependent_column",
      (s, dir) => run(evPuts(s, dir), DependentColumnFilter("d", "value")),
      Some(Cte.withCtes(Cte.cellsEventsV,
        "p AS (SELECT * FROM cells_events_v WHERE type = 'Put')")(
        """SELECT row, family, qualifier, ts, value FROM p p0
          |WHERE EXISTS (SELECT 1 FROM p r WHERE r.row = p0.row AND r.ts = p0.ts AND r.family = 'd' AND r.qualifier = 'value')
          |ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      "q13_multi_row_range",
      (s, dir) => run(co(s, dir), MultiRowRangeFilter(Seq(
        RowRange("0000000050", true, "0000000060", false),
        RowRange("0000000300", true, "0000000310", false),
        RowRange("0000000500", true, "0000000505", false)))),
      Some(oracleOrders(
        """WHERE (row >= '0000000050' AND row < '0000000060')
          |   OR (row >= '0000000300' AND row < '0000000310')
          |   OR (row >= '0000000500' AND row < '0000000505')""".stripMargin))
    ),
    QDef(
      "q14_fuzzy_row",
      (s, dir) => run(co(s, dir), FuzzyRowFilter(Seq(8 -> "42"))),
      Some(oracleOrders("WHERE substr(row, 9, 2) = '42'"))
    ),
    QDef(
      "q15_page_filter",
      (s, dir) => run(co(s, dir), PageFilter(25)),
      Some(oracleOrders(
        "WHERE row IN (SELECT row FROM (SELECT DISTINCT row FROM cells_orders ORDER BY row LIMIT 25))"))
    ),
    QDef(
      "q16_column_pagination",
      (s, dir) => run(co(s, dir), ColumnPaginationFilter(limit = 3, offset = 2)),
      Some(Cte.withCtes(Cte.cellsOrders)(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, dense_rank() OVER (PARTITION BY row ORDER BY family, qualifier) AS rk
          |  FROM cells_orders
          |) WHERE rk > 2 AND rk <= 5 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      "q17_column_range",
      (s, dir) => run(co(s, dir),
        ColumnRangeFilter("o_orderdate", minInclusive = true,
                          "o_totalprice", maxInclusive = false)),
      Some(oracleOrders("WHERE qualifier >= 'o_orderdate' AND qualifier < 'o_totalprice'"))
    ),
    QDef(
      "q18_timestamps",
      (s, dir) => run(evPuts(s, dir), TimestampsFilter(Seq(1L, 3L))),
      Some(Cte.withCtes(Cte.cellsEventsV)(
        """SELECT row, family, qualifier, ts, value FROM cells_events_v
          |WHERE type = 'Put' AND ts IN (1, 3)
          |ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      "q19_skip_filter",
      (s, dir) => run(co(s, dir),
        SkipFilter(ValueFilter(CompareOp.NotEqual, BinaryComparator("0")))),
      Some(oracleOrders("WHERE row NOT IN (SELECT row FROM cells_orders WHERE value = '0')"))
    ),
    QDef(
      "q20_while_match",
      // WhileMatch over the ROW-level SCVF (the reference's row-coherent
      // WhileMatch composition): scan rows while o_custkey != 42, stop
      // at the first row where it is. (ColumnValueFilter would be
      // cell-granular inside WhileMatch — reference filterCell returns
      // NEXT_COL off-column, ending the scan — outside the declared
      // row-granular boundary.)
      (s, dir) => run(co(s, dir),
        WhileMatchFilter(SingleColumnValueFilter("d", "o_custkey",
          CompareOp.NotEqual, BinaryComparator("42")))),
      Some(oracleOrders(
        "WHERE row < COALESCE((SELECT min(row) FROM cells_orders WHERE family = 'd' AND qualifier = 'o_custkey' AND value = '42'), '~')"))
    ),
    QDef(
      "q21_filter_list",
      (s, dir) => run(co(s, dir), FilterList.and(
        FilterList.or(
          PrefixFilter("000001"),
          MultiRowRangeFilter(Seq(RowRange("0000000300", true, "0000000400", false)))),
        QualifierFilter(CompareOp.Equal, BinaryComparator("o_totalprice")))),
      Some(oracleOrders(
        "WHERE (row LIKE '000001%' OR (row >= '0000000300' AND row < '0000000400')) AND qualifier = 'o_totalprice'"))
    ),
    QDef(
      // F25 MUST_PASS_ONE over ROW-level children (FilterListWithOR
      // .java:34, the TestFilterList shape): OR of an SCVF row guard
      // and a PageFilter — each child admits a cell set, union+dedup.
      "q41_filter_list_or",
      (s, dir) => run(evPuts(s, dir), FilterList.or(
        SingleColumnValueFilter("d", "event_type", CompareOp.Equal,
          BinaryComparator("click"), filterIfMissing = true),
        PageFilter(10))),
      Some(Cte.withCtes(Cte.cellsEventsV,
        "p AS (SELECT * FROM cells_events_v WHERE type = 'Put')")(
        """SELECT row, family, qualifier, ts, value FROM p WHERE row IN (
          |  SELECT row FROM p WHERE family = 'd' AND qualifier = 'event_type'
          |  GROUP BY row HAVING arg_max(value, ts) = 'click'
          |  UNION
          |  SELECT row FROM (SELECT DISTINCT row FROM p ORDER BY row LIMIT 10)
          |) ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      "q22_parse_filter",
      (s, dir) => run(co(s, dir),
        ParseFilter.parse("PrefixFilter('000001') AND ValueFilter(=, 'substring:low')")),
      Some(oracleOrders("WHERE row LIKE '000001%' AND contains(lower(value), 'low')"))
    ),
    QDef(
      // F11 general wildcard-mask form (FuzzyRowFilter.java:64,67): OR
      // of two (pattern, mask) pairs with wildcards at different byte
      // positions.
      "q47_fuzzy_mask",
      (s, dir) => run(co(s, dir), FuzzyRowMaskFilter(Seq(
        ("0000000100", Seq(0, 0, 0, 0, 0, 0, 0, 0, 1, 0)),
        ("0000000250", Seq(0, 0, 0, 0, 0, 0, 0, 0, 0, 1))))),
      Some(oracleOrders(
        """WHERE (substr(row, 1, 8) = '00000001' AND substr(row, 10, 1) = '0')
          |   OR substr(row, 1, 9) = '000000025'""".stripMargin))
    ),
    QDef(
      // P3/F20 KeyOnlyFilter with LEN_AS_VAL (KeyOnlyFilter.java:53):
      // values replaced by their byte length.
      "q51_key_only",
      (s, dir) => run(co(s, dir), KeyOnlyFilter(lenAsVal = true)),
      Some(Cte.withCtes(Cte.cellsOrders)(
        """SELECT row, family, qualifier, ts, CAST(octet_length(encode(value)) AS VARCHAR) AS value
          |FROM cells_orders ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // P4/F21 FirstKeyOnlyFilter (FirstKeyOnlyFilter.java:37): only
      // the first cell of each row in total cell order.
      "q52_first_key_only",
      (s, dir) => run(evPuts(s, dir), FirstKeyOnlyFilter()),
      Some(Cte.withCtes(Cte.cellsEventsV,
        "p AS (SELECT * FROM cells_events_v WHERE type = 'Put')")(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row ORDER BY family, qualifier, ts DESC) AS rn
          |  FROM p
          |) WHERE rn = 1 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // F7 SingleColumnValueExcludeFilter (SingleColumnValueExclude
      // Filter.java:41): SCVF row gate + the tested column dropped.
      "q53_scv_exclude",
      (s, dir) => run(co(s, dir),
        SingleColumnValueExcludeFilter("d", "o_orderstatus", CompareOp.Equal,
          BinaryComparator("F"), filterIfMissing = true)),
      Some(oracleOrders(
        """WHERE row IN (SELECT row FROM cells_orders WHERE family = 'd' AND qualifier = 'o_orderstatus' AND value = 'F')
          |  AND NOT (family = 'd' AND qualifier = 'o_orderstatus')""".stripMargin))
    ),
    QDef(
      // F12 InclusiveStopFilter (InclusiveStopFilter.java:38).
      "q54_inclusive_stop",
      (s, dir) => run(co(s, dir), InclusiveStopFilter("0000000100")),
      Some(oracleOrders("WHERE row <= '0000000100'"))
    ),
    QDef(
      // F14 ColumnCountGetFilter (ColumnCountGetFilter.java:38): at
      // most n columns per row in column order.
      "q55_column_count",
      (s, dir) => run(co(s, dir), ColumnCountGetFilter(3)),
      Some(Cte.withCtes(Cte.cellsOrders)(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, dense_rank() OVER (PARTITION BY row ORDER BY family, qualifier) AS rk
          |  FROM cells_orders
          |) WHERE rk <= 3 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // F16/F17 column-prefix filters (MultipleColumnPrefixFilter
      // .java:46): qualifiers under either prefix.
      "q56_multi_col_prefix",
      (s, dir) => run(co(s, dir),
        MultipleColumnPrefixFilter(Seq("o_order", "o_c"))),
      Some(oracleOrders(
        "WHERE qualifier LIKE 'o\\_order%' ESCAPE '\\' OR qualifier LIKE 'o\\_c%' ESCAPE '\\'"))
    ),
    QDef(
      // F22 RandomRowFilter (RandomRowFilter.java:34), seeded variant:
      // the md5-derived coin has an exact DuckDB twin, so the sampled
      // row set is engine-independent and hash-checkable.
      "q57_random_row",
      (s, dir) => run(co(s, dir), RandomRowFilter(0.25, seed = 42)),
      Some(oracleOrders(
        s"WHERE (${graft.ext.TextHash.Sql.hash48("row", "'rrf42'")}) % 10000 < 2500"))
    ),
    QDef(
      // The three remaining §2.3 comparators on the oracle gate
      // (previously FilterSpec-only): BitComparator (BitComparator
      // .java:35 — EQUAL ⇔ (long(value) bitop mask) ≠ 0; odd custkeys
      // via AND mask 1), BinaryComponentComparator
      // (BinaryComponentComparator.java:35 — a fixed-offset slice
      // compare, the reference's TestComparators matrix shape; row key
      // chars 9-10), and BigDecimalComparator (BigDecimalComparator
      // .java:38 — exact decimal order on o_totalprice). Three
      // independent filter runs union under a part tag, c08's shape.
      "q106_bit_component_bigdecimal",
      (s, dir) => {
        val cells = co(s, dir)
        Seq(
          ("bigdecimal", ColumnValueFilter("d", "o_totalprice",
            CompareOp.GreaterOrEqual,
            BigDecimalComparator(BigDecimal("150000.00")))),
          ("bit", ColumnValueFilter("d", "o_custkey", CompareOp.Equal,
            BitComparator(1L, BitComparator.And))),
          ("component", RowFilter(CompareOp.Equal,
            BinaryComponentComparator("32", 8)))
        ).map { case (part, f) =>
          FilterCompiler(cells, f).select(outCols.map(col): _*)
            .withColumn("part", lit(part))
        }.reduce(_ unionByName _)
          .select("part", "row", "family", "qualifier", "ts", "value")
          .orderBy((col("part") +: GTable.cellOrder()): _*)
      },
      Some(Cte.withCtes(Cte.cellsOrders)(
        """SELECT part, row, family, qualifier, ts, value FROM (
          |  SELECT 'bigdecimal' AS part, row, family, qualifier, ts, value
          |  FROM cells_orders
          |  WHERE family = 'd' AND qualifier = 'o_totalprice'
          |    AND TRY_CAST(value AS DECIMAL(38,18)) >= 150000.00
          |  UNION ALL
          |  SELECT 'bit', row, family, qualifier, ts, value
          |  FROM cells_orders
          |  WHERE family = 'd' AND qualifier = 'o_custkey'
          |    AND (TRY_CAST(value AS BIGINT) & 1) <> 0
          |  UNION ALL
          |  SELECT 'component', row, family, qualifier, ts, value
          |  FROM cells_orders
          |  WHERE substr(row, 9, 2) = '32'
          |) ORDER BY part, row, family, qualifier, ts DESC""".stripMargin))
    )
  )
}
