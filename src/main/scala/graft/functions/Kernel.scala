package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, InheritAnalysisRules, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{DataType, ObjectType}

/** The engine's one native-kernel pattern. A row-local kernel is a plain
  * method on a Scala object over Catalyst's internal values
  * (`UTF8String`, `ArrayData`, `InternalRow`, primitives) plus the type it
  * returns; Spark's own [[StaticInvoke]] calls it. Generated code calls
  * the object's static forwarder inline, so the kernel stays inside
  * whole-stage codegen. Interpreted evaluation (a kernel inside a
  * higher-order lambda, or codegen off) calls the same method by
  * reflection. NULL in any argument gives NULL out without a call, so
  * `nullable` follows the arguments.
  *
  * `Kernel` names the call: analyzed plans and unaliased columns read
  * `name(columns...)`. The optimizer swaps it for the bare `StaticInvoke`.
  * Only the first `shown` arguments (the column arguments) appear in the
  * name; trailing constants such as a shingle width or a frozen codebook
  * do not. */
case class Kernel(name: String, shown: Int, replacement: Expression)
    extends RuntimeReplaceable with InheritAnalysisRules {
  override def prettyName: String = name
  override def parameters: Seq[Expression] = replacement.children.take(shown)
  override protected def withNewChildInternal(newChild: Expression): Kernel =
    copy(replacement = newChild)
}

object Kernel {

  /** `obj.method(columns..., constants...)` returning `dataType`. A
    * constant is an `Int`, a `Long` or a driver-side object; an object
    * becomes an `ObjectType` literal, which generated code holds as one
    * reference object. */
  def apply(name: String, obj: AnyRef, method: String, dataType: DataType,
      columns: Seq[Expression], constants: Any*): Kernel = {
    val consts = constants.map {
      case v @ (_: Int | _: Long) => Literal(v)
      case o => Literal(o, ObjectType(o.getClass))
    }
    Kernel(name, columns.size, StaticInvoke(obj.getClass, dataType, method,
      columns ++ consts, propagateNull = true, returnNullable = false))
  }

  /** [[apply]] over Columns. */
  def column(name: String, obj: AnyRef, method: String, dataType: DataType,
      columns: Seq[Column], constants: Any*): Column =
    GraftBridge.column(apply(name, obj, method, dataType,
      columns.map(GraftBridge.expression), constants: _*))
}
