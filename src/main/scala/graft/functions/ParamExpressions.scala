package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType

/** The value slot of a [[BoundParam]]. The driver binds it before each
  * execution of a prepared plan; a task reads the copy that was serialised
  * with it, so a binding must not change between the bind and the end of
  * the action that ships it. Values are Catalyst's internal form. */
final class ParamHolder(val dataType: DataType) extends Serializable {
  @volatile private var current: Any = _

  def value: Any = current

  /** Bind an external value (a Scala/Java scalar, or a primitive float or
    * long array), converted to `dataType`. */
  def bind(v: Any): Unit = {
    require(v != null, s"a bound parameter of type ${dataType.simpleString} takes no null")
    current = v match {
      case a: Array[Float] => UnsafeArrayData.fromPrimitiveArray(a)
      case a: Array[Long] => UnsafeArrayData.fromPrimitiveArray(a)
      case other => Literal.create(other, dataType).value
    }
  }
}

/** A bound parameter: a leaf whose value is read from its holder at run
  * time, so one analysed, optimised and compiled plan serves every binding.
  *
  * It is not foldable (a leaf's default), so no rule turns it into a
  * literal. Generated code takes the HOLDER as a reference object and reads
  * its value into a mutable state once per generated-class instance (the
  * class's init), never inlining or capturing the value itself:
  * `WholeStageCodegenExec` keeps the references of its first code generation
  * when one physical plan is executed again, and the generated source stays
  * identical across bindings, so later executions compile nothing. */
case class BoundParam(holder: ParamHolder) extends LeafExpression {
  override def dataType: DataType = holder.dataType
  override def nullable: Boolean = false
  override def prettyName: String = "bound_param"
  override def toString: String = s"bound_param(${dataType.simpleString})"

  override def eval(input: InternalRow): Any = holder.value

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = ctx.addReferenceObj("param", holder, classOf[ParamHolder].getName)
    val jt = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val read =
      if (CodeGenerator.isPrimitiveType(dataType)) s"(($boxed) $h.value()).${jt}Value()"
      else s"($jt) $h.value()"
    val v = ctx.addMutableState(jt, "paramValue", s => s"$s = $read;")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(v, dataType))
  }
}

object BoundParam {
  /** A fresh holder of `dataType` and the column that reads it. */
  def apply(dataType: DataType): (ParamHolder, Column) = {
    val h = new ParamHolder(dataType)
    (h, Bridge.column(new BoundParam(h)))
  }
}
