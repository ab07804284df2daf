package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference,
  BoundReference, Expression, GetStructField, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, LogicalPlan, MapGroups,
  MapPartitions, SerializeFromObject, Sort}
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.types.{DataType, ObjectType, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Bridge between graft and the classic-mode internals Spark 4 made
  * `private[sql]`. The Expression⇄Column converters let graft ship
  * custom codegen expressions as Columns — the sanctioned extension
  * path (SparkSessionExtensions.injectFunction takes Expression
  * builders too; this is the same surface for direct Column use).
  * [[ofRows]] hands a bounded stream's result from the session it ran
  * in back to the caller's; [[cachedRun]] caches a store as a plain
  * scan of its built data; [[sortedGroups]] and [[rowWalk]] are the
  * resolve pass's two plan shapes, under either of its trackers: the
  * default matcher's `RowTracker` and NEW_VERSION_BEHAVIOR's
  * `NvbTracker`.
  */
object shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `plan` as a DataFrame of `session`. An analyzed plan is taken as
    * is, so this rebinds a Dataset from one session to another. */
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** `df` run once and cached at `level` as a scan of its result RDD,
    * which keeps the layout its run produced: the partitioning and
    * ordering its final physical plan reports. The cached plan is that
    * scan, not an adaptive plan, so a read over it is planned
    * adaptively only when the read itself needs an exchange. The
    * build's shuffle stages run here; its last stage runs once, as the
    * first action over the frame fills the cache (until then the
    * relation reports the build's estimated size), and no data is
    * copied besides the cache itself. The frame returned reads the
    * cached relation itself, so a copy of it in a self-join shares the
    * cache with no lookup (the scan's layout names its columns, so a
    * copied scan would match no cache entry). */
  def cachedRun(df: DataFrame, level: StorageLevel): DataFrame = {
    val qe = df.queryExecution
    val rdd = qe.toRdd
    val done = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val layout = LogicalRDD(done.output, rdd, done.outputPartitioning, done.outputOrdering,
      isStreaming = false)(df.sparkSession.asInstanceOf[classic.SparkSession],
      Some(qe.optimizedPlan.stats), None).newInstance()
    val cached = ofRows(df.sparkSession, layout).persist(level)
    // the scan's ordering stays on the cached plan; the relation itself
    // states none, as a copy of it would keep naming the original's
    // columns in it
    val relation = cached.queryExecution.withCachedData match {
      case r: InMemoryRelation =>
        val plain = r.copy(outputOrdering = Nil)
        plain.statsOfPlanToCache = r.statsOfPlanToCache
        plain
    }
    ofRows(df.sparkSession, relation)
  }

  /** `child` grouped on its column `key` and each group walked in
    * `order` by `f`, which reads the child's InternalRows in place and
    * returns rows of `out`'s layout. The node is Spark's own MapGroups,
    * so it needs only ClusteredDistribution(key) and a local sort, and
    * plans lazily like any Dataset; its deserializer hands `f` the
    * child's row itself and its serializer reads `f`'s rows field by
    * field, so no encoder converts a row on either side. A row `f` is
    * handed is valid until it pulls the next one (a caller that holds
    * rows copies them); a row `f` returns is read before it pulls again. */
  def sortedGroups(child: DataFrame, key: String, order: Seq[Column], out: StructType)(
      f: (UTF8String, Iterator[InternalRow]) => Iterator[InternalRow]): DataFrame = {
    val plan = child.queryExecution.analyzed
    val k = keyOf(plan, key)
    val obj = AttributeReference("obj", out, nullable = false)()
    val groups = MapGroups(
      (g: Any, rs: Iterator[Any]) => f(g.asInstanceOf[UTF8String], rs.asInstanceOf[Iterator[InternalRow]]),
      k, InputRow(plan.output), Seq(k), plan.output, MapGroups.sortOrder(order.map(toExpr)), obj, plan)
    ofRows(child.sparkSession, serialized(out, groups))
  }

  /** [[sortedGroups]] over a `child` whose partitions each already
    * hold every row of the `key` values they hold: each partition is
    * sorted locally on `key` then `order`, and a walk over it hands `f`
    * each run of rows with one `key`. The plan requires no
    * distribution, so it keeps the child's partitions and adds no
    * exchange; `f` sees the same rows under the same contract. */
  def rowWalk(child: DataFrame, key: String, order: Seq[Column], out: StructType)(
      f: (UTF8String, Iterator[InternalRow]) => Iterator[InternalRow]): DataFrame = {
    val plan = child.queryExecution.analyzed
    val k = keyOf(plan, key)
    val at = plan.output.indexOf(k)
    val sorted = Sort(SortOrder(k, Ascending) +: MapGroups.sortOrder(order.map(toExpr)),
      global = false, plan, None)
    val rows = DeserializeToObject(InputRow(plan.output),
      AttributeReference("cell", ObjectType(classOf[InternalRow]), nullable = false)(), sorted)
    val obj = AttributeReference("obj", out, nullable = false)()
    val walk = MapPartitions(
      rs => runs(rs.asInstanceOf[Iterator[InternalRow]], at).flatMap { case (g, run) => f(g, run) },
      obj, rows)
    ofRows(child.sparkSession, serialized(out, walk))
  }

  /** The runs of consecutive rows of `rs` with one string at `at`, each
    * with its key copied off the row buffer. A run is read before the
    * next one starts; the rest of a run its reader left is skipped. */
  private def runs(rs: Iterator[InternalRow], at: Int): Iterator[(UTF8String, Iterator[InternalRow])] = {
    val in = rs.buffered
    def keyAt(r: InternalRow) = if (r.isNullAt(at)) null else r.getUTF8String(at)
    new Iterator[(UTF8String, Iterator[InternalRow])] {
      private var run: Iterator[InternalRow] = Iterator.empty
      def hasNext: Boolean = { run.foreach(_ => ()); in.hasNext }
      def next(): (UTF8String, Iterator[InternalRow]) = {
        val k = Option(keyAt(in.head)).map(_.copy()).orNull
        run = new Iterator[InternalRow] {
          def hasNext: Boolean = in.hasNext && keyAt(in.head) == k
          def next(): InternalRow = if (hasNext) in.next() else Iterator.empty.next()
        }
        (k, run)
      }
    }
  }

  private def keyOf(plan: LogicalPlan, key: String): Attribute =
    plan.output.filter(_.name == key) match {
      case Seq(a) => a
      case as => throw new IllegalArgumentException(s"${as.size} columns named $key")
    }

  private def toExpr(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** `objects`' rows of `out` read back field by field. The object is
    * the serializer's bound input, so the projection evaluates with or
    * without generated code. */
  private def serialized(out: StructType, objects: LogicalPlan): LogicalPlan =
    SerializeFromObject(out.fields.toSeq.zipWithIndex.map { case (field, i) =>
      Alias(GetStructField(BoundReference(0, out, nullable = false), i, Some(field.name)), field.name)()
    }, objects)

  /** The row of `columns` an expression is evaluated on, as an object:
    * the pass's value deserializer. It reads every column, so none is
    * pruned below it, and it evaluates on the row itself, outside
    * generated stage code. */
  private case class InputRow(columns: Seq[Expression]) extends Expression with CodegenFallback {
    override def children: Seq[Expression] = columns
    override def nullable: Boolean = false
    override def dataType: DataType = ObjectType(classOf[InternalRow])
    override def eval(input: InternalRow): Any = input
    override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): InputRow = copy(cs)
  }
}
