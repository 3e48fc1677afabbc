package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{DataType, ObjectType}

/** Classic-mode Column ⇄ Expression conversion, and the one way the
  * engine binds a row kernel into a plan. Spark 4 wraps columns in
  * ColumnNode (Connect-compatible) and gates the Expression view behind
  * private[sql] ExpressionUtils; this package-nested forwarder is the
  * minimal hatch.
  */
object ColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `helper.fn(args…)` as a Catalyst StaticInvoke, where `helper` is a
    * Scala `object`. StaticInvoke strips the `$` from the object's
    * class name, so whole-stage codegen emits a direct call to the
    * static forwarder and the interpreted path calls the same method
    * by reflection. Argument Java types follow the argument data
    * types (double → double, string → UTF8String, array → ArrayData,
    * `table` → the table's array class).
    *
    * Default NULL semantics: any NULL argument yields NULL without
    * calling the kernel, and the kernel never returns null. A kernel
    * with its own NULL handling takes `propagateNull = false` and sees
    * null arguments; one that can return null (a boxed result) sets
    * `returnNullable`. */
  def invoke(helper: AnyRef, fn: String, dataType: DataType,
      propagateNull: Boolean = true, returnNullable: Boolean = false)(
      args: Expression*): Expression =
    StaticInvoke(helper.getClass, dataType, fn, args,
      propagateNull = propagateNull, returnNullable = returnNullable)

  /** Column form of `invoke`. */
  def call(helper: AnyRef, fn: String, dataType: DataType,
      propagateNull: Boolean = true, returnNullable: Boolean = false)(
      args: Column*): Column =
    column(invoke(helper, fn, dataType, propagateNull, returnNullable)(
      args.map(expression): _*))

  /** A driver-side constant table (lookup bitmap, packed word list,
    * codebook) as a kernel argument; codegen passes it by reference.
    * Literal equality on an array is reference equality, so build each
    * table once (a `val`, or once per plan): both sides of a self-join
    * then stay canonically equal and share one exchange. */
  def table(value: AnyRef): Column =
    column(Literal.create(value, ObjectType(value.getClass)))
}
