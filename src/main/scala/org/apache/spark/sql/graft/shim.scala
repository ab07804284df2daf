package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Expression, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning,
  UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Bridge between graft and the classic-mode internals Spark 4 made
  * `private[sql]`. The Expression⇄Column converters let graft ship
  * custom codegen expressions as Columns — the sanctioned extension
  * path (SparkSessionExtensions.injectFunction takes Expression
  * builders too; this is the same surface for direct Column use).
  * [[ofRows]] hands a bounded stream's result from the session it ran
  * in back to the caller's; [[cachedRun]] caches a store as a plain
  * scan of its built data; [[walk]] builds the resolve pass's one plan
  * node, a [[RowWalk]], under either of its trackers: the default
  * matcher's `RowTracker` and NEW_VERSION_BEHAVIOR's `NvbTracker`.
  * [[RowWalkStrategy]] plans it; every session a walk frame is built in
  * or rebound to holds that strategy among its extra strategies, once.
  */
object shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `plan` as a DataFrame of `session`. An analyzed plan is taken as
    * is, so this rebinds a Dataset from one session to another; a plan
    * holding a [[RowWalk]] first makes sure `session` can plan it. */
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame = {
    val s = session.asInstanceOf[classic.SparkSession]
    if (plan.exists(_.isInstanceOf[RowWalk])) s.experimental.synchronized {
      if (!s.experimental.extraStrategies.contains(RowWalkStrategy))
        s.experimental.extraStrategies = RowWalkStrategy +: s.experimental.extraStrategies
    }
    classic.Dataset.ofRows(s, plan)
  }

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

  /** `child`'s rows walked by `f` one run of equal `key` at a time, each
    * run in `order`, as one lazy [[RowWalk]] node whose rows have
    * `out`'s layout. `f` reads the child's InternalRows in place: a row
    * it is handed is valid until it pulls the next one (a caller that
    * holds rows copies them), and a row it returns is read before it
    * pulls again. */
  def walk(child: DataFrame, key: String, order: Seq[Column], out: StructType)(f: Walk): DataFrame = {
    val plan = child.queryExecution.analyzed
    val Seq(k) = plan.output.filter(_.name == key)
    val sorts = order.map(c => ColumnNodeToExpressionConverter(c.node) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    })
    ofRows(child.sparkSession, RowWalk(k, sorts, f, DataTypeUtils.toAttributes(out), plan))
  }

  /** What a walk does with one run: the run's key and its rows. */
  type Walk = (UTF8String, Iterator[InternalRow]) => Iterator[InternalRow]

  /** The row-exchange count a walk over `size` input bytes (Catalyst's
    * estimate: file-backed scans and materialized caches report real
    * bytes) asks for: the input divided by half the session's
    * files.maxPartitionBytes scan target, or None — the default count —
    * when that is at or under the session's default shuffle
    * partitioning, or when the estimate is unusable (the no-stats
    * default is effectively infinite; join-inflated estimates hit the
    * same guard). Capped at 4096: past that the bottleneck is executor
    * count, not partition size. */
  def sizedShufflePartitions(size: BigInt, conf: SQLConf): Option[Int] = {
    // half the scan target: shuffled ROW data plus its sort buffer is
    // wider than the columnar/compressed source the estimate measures
    val target = BigInt(conf.filesMaxPartitionBytes) / 2
    if (size <= 0 || target <= 0 || size >= BigInt(Long.MaxValue) / 4) None
    else {
      // clamp in BigInt BEFORE toInt: a huge-but-plausible estimate
      // (~1e17 bytes clears the guard above) would otherwise overflow
      // Int and silently disable the hedge on exactly the inputs that
      // need it
      val n = ((size + target - 1) / target).min(4096).toInt
      if (n > conf.numShufflePartitions) Some(n) else None
    }
  }
}

/** `child`'s rows, clustered on `key` and sorted on it then `order`,
  * handed to `f` one run of equal `key` at a time; `f`'s rows are the
  * node's `output`. It reads every column of `child`, so none is
  * pruned below it. A copy of the node in a self-join takes fresh
  * output attributes, as a relation's would. */
case class RowWalk(key: Attribute, order: Seq[SortOrder], f: shim.Walk, output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode with MultiInstanceRelation {
  override lazy val references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet
  override def newInstance(): RowWalk = copy(output = output.map(_.newInstance()))
  override protected def withNewChildInternal(c: LogicalPlan): RowWalk = copy(child = c)
}

/** [[RowWalk]] planned: it keeps the child's partitions when they
  * already cluster `key` (a range- or hash-laid store, or an exchange
  * below it), and otherwise takes one `key` exchange of `hedge`
  * partitions (the default count when None). Each partition is sorted
  * on `key` then `order`, and its runs of one key go to `f`. */
case class RowWalkExec(key: Attribute, order: Seq[SortOrder], f: shim.Walk, output: Seq[Attribute],
    hedge: Option[Int], child: SparkPlan) extends UnaryExecNode {
  override def requiredChildDistribution: Seq[Distribution] = {
    val rows = ClusteredDistribution(Seq(key))
    Seq(if (child.outputPartitioning.satisfies(rows)) UnspecifiedDistribution
      else rows.copy(requiredNumPartitions = hedge))
  }
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(SortOrder(key, Ascending) +: order)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def producedAttributes: AttributeSet = outputSet

  override protected def doExecute(): RDD[InternalRow] = {
    val (at, walk, out) = (child.output.indexWhere(_.exprId == key.exprId), f, schema)
    child.execute().mapPartitionsInternal { rs =>
      val row = UnsafeProjection.create(out)
      RowWalkExec.runs(rs, at).flatMap { case (k, run) => walk(k, run) }.map(row)
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): RowWalkExec = copy(child = c)
}

object RowWalkExec {
  /** The runs of consecutive rows of `rs` with one string at `at`, each
    * with its key copied off the row buffer. A run is read before the
    * next one starts; the rest of a run its reader left is skipped. */
  private def runs(rs: Iterator[InternalRow], at: Int): Iterator[(UTF8String, Iterator[InternalRow])] = {
    val in = rs.buffered
    def keyAt(r: InternalRow) = if (r.isNullAt(at)) null else r.getUTF8String(at)
    var run: Iterator[InternalRow] = Iterator.empty
    Iterator.continually { run.foreach(_ => ()); in.hasNext }.takeWhile(identity).map { _ =>
      val k = Option(keyAt(in.head)).map(_.copy()).orNull
      run = Iterator.continually(in).takeWhile(i => i.hasNext && keyAt(i.head) == k).map(_.next())
      (k, run)
    }
  }
}

/** Plans [[RowWalk]]: the hedge is sized off the child's estimated
  * size when the query is planned ([[shim.sizedShufflePartitions]]). */
object RowWalkStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RowWalk(key, order, f, output, child) =>
      RowWalkExec(key, order, f, output, shim.sizedShufflePartitions(child.stats.sizeInBytes, SQLConf.get),
        planLater(child)) :: Nil
    case _ => Nil
  }
}
