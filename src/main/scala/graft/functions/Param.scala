package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A driver value that enters generated code BY REFERENCE, not as a Java
  * literal: a point read filtering on `col("id") === Param(n)` generates
  * the same source text for every `n`, so Spark's codegen cache serves
  * every later id without compiling a class (a `lit(n)` inlines `n` into
  * the code, and each new value compiled two classes per read).
  *
  *  - not foldable, so `ConstantFolding` cannot turn it back into a
  *    literal;
  *  - deterministic, so filters on it still push through unions and into
  *    local relations (where they are evaluated on the driver, as data);
  *  - `doGenCode` reads the value through `ctx.addReferenceObj`, as
  *    [[PqCodes]]' matrices do.
  *
  * `value` is in Catalyst's internal form (a boxed primitive, or a
  * `UTF8String` for strings) and is never null.
  */
case class Param(value: Any, dataType: DataType) extends LeafExpression {

  require(value != null, "param value must not be null")

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def prettyName: String = "param"
  override def sql: String = Literal(value, dataType).sql

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = CodeGenerator.boxedType(dataType)
    val ref = ctx.addReferenceObj("param", value, boxed)
    val javaType = CodeGenerator.javaType(dataType)
    val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
    ev.copy(code = code"final $javaType ${ev.value} = $read;", isNull = FalseLiteral)
  }
}

object Param {
  def apply(v: Long): Column = GraftShim.column(Param(v, LongType))
  def apply(s: String): Column = GraftShim.column(Param(UTF8String.fromString(s), StringType))
}
