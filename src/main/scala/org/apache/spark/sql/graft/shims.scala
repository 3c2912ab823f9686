package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.types.DataType

/** Bridge into `private[sql]` Column↔Expression conversion (the Spark
  * 4 Column API hides raw expressions behind ColumnNode). Lives in the
  * spark.sql namespace solely to satisfy the access modifier — the
  * standard pattern for libraries shipping custom Catalyst
  * expressions. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A native function as one static call: `obj.fn(args)`, where `obj`
    * is a Scala object and `fn` one of its methods, reached through the
    * object's static forwarder. Whole-stage codegen emits the direct
    * call; interpreted evaluation (a local relation, the driver-side
    * re-checks) invokes the same method reflectively. A NULL argument
    * gives NULL without calling `fn`. `returnNullable` marks a method
    * that returns null for input it rejects; `dataType` must match
    * what `fn` returns for Spark's internal row format (`UTF8String`
    * for STRING, `ArrayData`, `InternalRow`, an epoch-day `int` for
    * DATE; a nullable primitive comes back boxed). The arguments are
    * converted eagerly: a SQL function builder runs inside analysis,
    * so a lazily wrapped Column node (`lit(n)`, a cast) would reach
    * code generation unresolved. */
  def staticCall(obj: AnyRef, fn: String, dataType: DataType,
                 returnNullable: Boolean = false)(args: Column*): Column =
    column(StaticInvoke(obj.getClass, dataType, fn,
      args.map(a => ColumnNodeToExpressionConverter(a.node)),
      returnNullable = returnNullable))

  /** Classify an order-spec Column for operators that need the plain
    * VALUE column behind it (Spark 4 wraps `.asc`/`.desc` in a
    * `private[sql]` SortOrder ColumnNode, not a catalyst expression):
    * Some(value) for a bare column or an ascending-nulls-first sort —
    * the direction struct comparison and `filter(x <= v)` bucketing
    * agree with — None for any other direction. */
  def ascNullsFirstValue(c: Column): Option[Column] = {
    import org.apache.spark.sql.internal.{SortOrder => NodeSortOrder}
    c.node match {
      case so: NodeSortOrder
          if so.sortDirection == NodeSortOrder.Ascending &&
            so.nullOrdering == NodeSortOrder.NullsFirst =>
        Some(Column(so.child))
      case _: NodeSortOrder => None
      case _ => Some(c)
    }
  }
}
