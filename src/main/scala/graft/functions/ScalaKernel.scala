package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** One of the engine's Scala kernels (a homepage scrape, a probe-url
  * closure, a MinHash signature) as a Catalyst expression: `f` receives each
  * argument as Spark holds it (UTF8String, Integer, ArrayData, InternalRow,
  * or null) and returns a `dataType` value in the same form, or null. The
  * generated code calls `f` in place, so the operator stays inside its
  * whole-stage codegen span. A typed `flatMap` running the same kernel adds
  * a deserializer, a serializer and a stage boundary, each a generated class
  * of its own, and hides the row's columns from the optimizer.
  */
final case class ScalaKernel(
    name: String,
    f: Array[Any] => Any,
    dataType: DataType,
    children: Seq[Expression]
) extends Expression {

  override def nullable: Boolean = true

  override def prettyName: String = name

  override def eval(input: InternalRow): Any = f(children.map(_.eval(input)).toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = ctx.addReferenceObj("kernel", f, "scala.Function1")
    val args = ctx.freshName("args")
    val out = ctx.freshName("out")
    val evals = children.map(_.genCode(ctx))
    val fill = evals.zip(children).zipWithIndex.map { case ((e, c), i) =>
      val boxed =
        if (CodeGenerator.isPrimitiveType(c.dataType))
          s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${e.value})"
        else e.value.toString
      s"$args[$i] = ${e.isNull} ? null : (Object) $boxed;"
    }
    ev.copy(code = code"""
      |${evals.map(_.code.toString).mkString("\n")}
      |Object[] $args = new Object[${children.size}];
      |${fill.mkString("\n")}
      |Object $out = $fn.apply($args);
      |boolean ${ev.isNull} = $out == null;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${ev.isNull} ?
      |  ${CodeGenerator.defaultValue(dataType)} : (${CodeGenerator.boxedType(dataType)}) $out;
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object ScalaKernel {
  /** `name(args...)` as a column. The kernel is registered with the session
    * under `name` once; a later call finds the name and leaves it, so a name
    * must always be bound to the same `f`.
    */
  def column(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      f: Array[Any] => Any,
      dataType: DataType,
      args: org.apache.spark.sql.Column*
  ): org.apache.spark.sql.Column = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(
        name, (exprs: Seq[Expression]) => ScalaKernel(name, f, dataType, exprs), "built-in")
    org.apache.spark.sql.functions.call_function(name, args: _*)
  }
}
