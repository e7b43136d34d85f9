package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, ObjectType}

/** The one native-kernel shape.
  *
  * A kernel is a public method of a top-level Scala object over
  * Catalyst values (`ArrayData`, `UTF8String`, `InternalRow`,
  * primitives, plus JVM constants such as a weight table), written
  * once. [[call]] reaches it through Spark's own `StaticInvoke`:
  * whole-stage codegen emits one static call to the object's static
  * forwarder, and the interpreted path invokes the same method, so the
  * two paths cannot drift. A NULL argument yields NULL without calling
  * the kernel unless `propagateNull = false`. Plans print the call as
  * `static_invoke(<object>.<method>(…))`.
  *
  * A SQL-facing kernel (or one whose call depends on its resolved
  * input types) is a [[Function]]: a short `RuntimeReplaceable` with a
  * named analysis-time type check, replaced by its `StaticInvoke`
  * before optimization — the idiom Spark uses for its own
  * `luhn_check`.
  */
object Kernel {

  /** `owner.method(args…)` as a StaticInvoke. `nullableResult` says
    * the kernel itself may return null (SQL NULL).
    */
  def call(owner: AnyRef, method: String, dataType: DataType, args: Seq[Expression],
      nullableResult: Boolean = false, propagateNull: Boolean = true): Expression =
    StaticInvoke(owner.getClass, dataType, method, args,
      propagateNull = propagateNull, returnNullable = nullableResult)

  def column(e: Expression): Column = ColumnBridge.column(e)

  def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** A JVM constant argument (weight table, regex, tag list), handed
    * to the kernel by reference with no Catalyst conversion.
    */
  def const[T <: AnyRef](v: T)(implicit ct: ClassTag[T]): Literal =
    Literal(v, ObjectType(ct.runtimeClass))

  /** A kernel with a named analysis-time type check: `prettyName` is
    * the SQL function name, `typeError` the failure (None = accepted),
    * `replacement` the [[call]]. `dataType` is stated, not derived, so
    * it never forces the replacement before the children resolve.
    */
  trait Function extends RuntimeReplaceable {
    protected def typeError: Option[String]

    override def checkInputDataTypes(): TypeCheckResult = typeCheck(typeError)
  }

  def typeCheck(error: Option[String]): TypeCheckResult =
    error.fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(TypeCheckResult.TypeCheckFailure(_))
}
