package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression,
  GetStructField, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, MapGroups, SerializeFromObject}
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.types.{DataType, ObjectType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Bridge between graft and the classic-mode internals Spark 4 made
  * `private[sql]`. The Expression⇄Column converters let graft ship
  * custom codegen expressions as Columns — the sanctioned extension
  * path (SparkSessionExtensions.injectFunction takes Expression
  * builders too; this is the same surface for direct Column use).
  * [[ofRows]] hands a bounded stream's result from the session it ran
  * in back to the caller's; [[sortedGroups]] is the resolve pass's
  * plan node.
  */
object shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `plan` as a DataFrame of `session`. An analyzed plan is taken as
    * is, so this rebinds a Dataset from one session to another. */
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

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
    val k = plan.output.filter(_.name == key) match {
      case Seq(a) => a
      case as => throw new IllegalArgumentException(s"sortedGroups: ${as.size} columns named $key")
    }
    val obj = AttributeReference("obj", out, nullable = false)()
    val groups = MapGroups(
      (g: Any, rs: Iterator[Any]) => f(g.asInstanceOf[UTF8String], rs.asInstanceOf[Iterator[InternalRow]]),
      k, InputRow, Seq(k), plan.output, MapGroups.sortOrder(order.map(c => ColumnNodeToExpressionConverter(c.node))), obj, plan)
    ofRows(child.sparkSession, SerializeFromObject(out.fields.toSeq.zipWithIndex.map {
      case (field, i) => Alias(GetStructField(obj, i, Some(field.name)), field.name)()
    }, groups))
  }

  /** The row an expression is evaluated on, as an object: MapGroups'
    * pass-through value deserializer. */
  private case object InputRow extends LeafExpression {
    override def nullable: Boolean = false
    override def dataType: DataType = ObjectType(classOf[InternalRow])
    override def eval(input: InternalRow): Any = input
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      ev.copy(isNull = FalseLiteral, value = JavaCode.variable(ctx.INPUT_ROW, dataType))
  }
}
