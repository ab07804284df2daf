package graft.read

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.CellType
import graft.read.Resolve.{cellType, Ix}

/** A row-local filter tree compiled for the resolve pass: the
  * reference's per-row `Filter` visitor (filterCell, transformCell,
  * filterRow; SURVEY §2.3) that ScanQueryMatcher drives inside one
  * ordered scan. [[graft.filter.FilterCompiler.program]] builds it
  * through a [[RowProgram.Builder]]. `columns` are evaluated before the
  * pass, so every per-cell predicate stays in generated code; `code` is
  * the node tree [[Resolve]]'s tracker interprets over one row's live
  * cells, keeping only the books; `prune` admits the cells the program
  * can read or emit.
  */
final case class RowProgram(columns: Seq[Column], prune: Column, code: RowProgram.Code) {

  /** `cells` plus the program's columns; if `pruned`, less the cells it
    * neither reads nor emits (markers stay for masking unless `raw`). */
  private[read] def flagged(cells: DataFrame, pruned: Boolean, raw: Boolean): DataFrame = {
    val all = cells.select(col("*") +: columns.zipWithIndex.map { case (c, i) => c.as(RowProgram.name(i)) }: _*)
    if (!pruned) all else all.filter(if (raw) prune else col("type") =!= CellType.Put || prune)
  }
}

object RowProgram {

  /** The name of program column `i` on the frame the pass reads. */
  private[read] def name(i: Int): String = s"__prog$i"

  /** The node tree, the number of program columns, and the column
    * holding the output's value when a KeyOnly transform ends the tree. */
  final case class Code(root: Node, columns: Int, value: Option[Int])

  /** Collects a program's columns; a node names a boolean one by index. */
  final class Builder {
    private val columns = mutable.ArrayBuffer.empty[Column]
    private def add(c: Column): Int = { columns += c; columns.size - 1 }

    /** A column holding `p` (null is false). */
    def flag(p: Column): Int = add(p <=> lit(true))

    /** Column `i` as a pre-pass predicate, for the program's `prune`. */
    def ref(i: Int): Column = col(name(i))

    /** SingleColumnValue(Exclude)Filter over the `sees` cells. */
    def columnValue(sees: Column, matches: Column, exclude: Boolean, filterIfMissing: Boolean,
        latestOnly: Boolean): Scvf =
      Scvf(flag(sees), flag(matches), Option.when(exclude)(flag(!sees)), filterIfMissing, latestOnly)

    /** The program running `root`, then rewriting each output cell's
      * value to `value` (a column of the input cell), if given. */
    def build(root: Node, prune: Column, value: Option[Column] = None): RowProgram = {
      val v = value.map(add)
      RowProgram(columns.toSeq, prune, Code(root, columns.size, v))
    }
  }

  /** The rows whose newest `sees` cell `matches`: a CAS guard's check read. */
  def latestMatch(sees: Column, matches: Column): RowProgram = {
    val b = new Builder
    val test = b.columnValue(sees, matches, exclude = false, filterIfMissing = true, latestOnly = true)
    b.build(test, b.ref(test.sees))
  }

  sealed trait Node extends Serializable
  /** A cell-level filter or list. */
  final case class Test(pass: Int) extends Node
  /** SingleColumnValue(Exclude)Filter (SingleColumnValueFilter.java:65):
    * the row passes iff its newest `sees` cell (ts, then value, larger
    * first) `matches` when `latestOnly`, any one otherwise, and without
    * one unless `filterIfMissing`; `keep` (Exclude) drops the column. */
  final case class Scvf(sees: Int, matches: Int, keep: Option[Int],
      filterIfMissing: Boolean, latestOnly: Boolean) extends Node
  /** SkipFilter (SkipFilter.java:49): a cell failing `pass` drops the row. */
  final case class Skip(pass: Int) extends Node
  /** DependentColumnFilter (DependentColumnFilter.java:46): the cells at
    * a ts of a `ref` cell; `keep` drops the reference column. */
  final case class Dependent(ref: Int, keep: Option[Int]) extends Node
  /** ColumnCountGetFilter / ColumnPaginationFilter: the row's columns
    * ranked by (family, qualifier), the ranks in (offset, offset+limit]. */
  final case class Columns(offset: Int, limit: Int) extends Node
  /** FirstKeyOnlyFilter: the row's first cell in cell order. */
  case object FirstKey extends Node
  /** FilterList MUST_PASS_ALL: each node on what the previous kept. */
  final case class And(nodes: Seq[Node]) extends Node
  /** FilterList MUST_PASS_ONE (FilterListWithOR.java:34): the set union
    * of what the nodes keep. */
  final case class Or(nodes: Seq[Node]) extends Node

  /** One row's live cells in pass order, program columns from `base` on
    * (the input's width). A cell is its index in `cells`. */
  private[read] final class Eval(code: Code, cells: Array[InternalRow], ix: Ix, keyed: Boolean) {
    private val Ix(fam, qual, tsIx, tpe, valueIx, _, base, types) = ix

    private def flag(i: Int, c: Int): Boolean = cells(i).getBoolean(base + c)
    private def str(i: Int, f: Int): UTF8String = cells(i).getUTF8String(f)
    private def tsNull(i: Int): Boolean = cells(i).isNullAt(tsIx)
    private def ts(i: Int): Long = cells(i).getLong(tsIx)

    /** The admitted cells in pass order, with their transformed values. */
    def admitted: Iterator[InternalRow] = {
      val out = eval(code.root, cells.indices.toVector).sorted
      code.value.fold(out.iterator.map(cells(_))) { v =>
        // a transformed value re-ranks, larger first, the cells tied on the
        // pass's other keys: the order of a pass over the transformed cells
        def tie(i: Int) = { val t = cellType(str(i, tpe))
          (str(i, fam), str(i, qual), Option.when(!tsNull(i))(ts(i)), t == CellType.Put, t.startsWith("DeleteFamily")) }
        val run = out.indices.scanLeft(0)((r, k) => if (k > 0 && tie(out(k)) == tie(out(k - 1))) r else k).tail
        out.indices.sortBy(k => (run(k), str(out(k), base + v)))(Ordering.Tuple2(Ordering.Int, strAsc.reverse))
          .iterator.map { k =>
            val fields = cells(out(k)).toSeq(types).toArray
            fields(valueIx) = str(out(k), base + v)
            new GenericInternalRow(fields)
          }
      }
    }

    private def eval(n: Node, items: Vector[Int]): Vector[Int] = n match {
      case Test(pass) => items.filter(flag(_, pass))
      case Scvf(sees, matches, keep, filterIfMissing, latestOnly) =>
        val tested = if (keyed) items.filter(flag(_, sees)) else Vector.empty
        val passes =
          if (tested.isEmpty) !filterIfMissing
          else if (latestOnly) flag(tested.max(newer), matches)
          else tested.exists(flag(_, matches))
        if (!passes) Vector.empty else keep.fold(items)(k => items.filter(flag(_, k)))
      case Skip(pass) => if (keyed && items.exists(!flag(_, pass))) Vector.empty else items
      case Dependent(ref, keep) =>
        val refTs = items.filter(i => keyed && !tsNull(i) && flag(i, ref)).map(ts).toSet
        val kept = items.filter(i => !tsNull(i) && refTs(ts(i)))
        keep.fold(kept)(k => kept.filter(flag(_, k)))
      case Columns(offset, limit) =>
        val rank = items.map(i => (str(i, fam), str(i, qual))).distinct
          .sorted(Ordering.Tuple2(strAsc, strAsc)).zipWithIndex.toMap
        items.filter { i => val r = rank((str(i, fam), str(i, qual))) + 1; r > offset && r <= offset + limit }
      case FirstKey => if (items.isEmpty) items else Vector(items.min(first))
      case And(nodes) => nodes.foldLeft(items)((acc, m) => eval(m, acc))
      // a set union: each distinct input cell once
      case Or(nodes) => nodes.flatMap(eval(_, items)).toVector
        .distinctBy(i => cells(i).toSeq(types).take(base))
    }

    // Catalyst's orders: strings by UTF-8 bytes, nulls first as in ASC
    private val strAsc: Ordering[UTF8String] = Ordering.by((s: UTF8String) => Option(s))
    private val valueDesc: Ordering[Int] = Ordering.by[Int, UTF8String](str(_, valueIx))(strAsc.reverse)
    private val tsAsc: Ordering[Int] = Ordering.by(i => Option.when(!tsNull(i))(ts(i)))
    // the newest version: ts, then value, larger first (nulls oldest)
    private val newer: Ordering[Int] = tsAsc.orElse(valueDesc.reverse)
    // cell order (family, qualifier, ts DESC), markers then larger values first on ties
    private val first: Ordering[Int] = Ordering.by[Int, UTF8String](str(_, fam))(strAsc)
      .orElse(Ordering.by[Int, UTF8String](str(_, qual))(strAsc))
      .orElse(tsAsc.reverse).orElseBy(i => cellType(str(i, tpe)) == CellType.Put).orElse(valueDesc)
  }
}
