package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst cosine similarity over two FLOAT arrays, with whole-stage
  * codegen — replaces a Scala UDF on the ANN scoring path (a UDF pays
  * catalyst→Scala array conversion per call and breaks the codegen span;
  * this reads ArrayData in place). Arithmetic is the engine-wide canonical
  * form: per-element double products, dot / sqrt(na*nb) — bit-identical to
  * TrainingOps.cosine and to DuckDB list_dot_product on DOUBLE[], which is
  * what keeps the ANN oracles exact.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two ARRAY<FLOAT> arguments, " +
      s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |double ${ev.value}_dot = 0.0, ${ev.value}_na = 0.0, ${ev.value}_nb = 0.0;
         |int ${ev.value}_n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int ${ev.value}_i = 0; ${ev.value}_i < ${ev.value}_n; ${ev.value}_i++) {
         |  double xi = (double) $a.getFloat(${ev.value}_i);
         |  double yi = (double) $b.getFloat(${ev.value}_i);
         |  ${ev.value}_dot += xi * yi;
         |  ${ev.value}_na += xi * xi;
         |  ${ev.value}_nb += yi * yi;
         |}
         |${ev.value} = (${ev.value}_na == 0.0 || ${ev.value}_nb == 0.0)
         |  ? 0.0 : ${ev.value}_dot / java.lang.Math.sqrt(${ev.value}_na * ${ev.value}_nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Registers `cosine_sim(a, b)` with a session so it is usable from
    * `F.expr` and SQL text. Once per session: a later call finds the name
    * and leaves it (a replacement would log a WARN on every operator call).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("cosine_sim")))
      registry.createOrReplaceTempFunction(
        "cosine_sim",
        { exprs: Seq[Expression] =>
          require(exprs.length == 2,
            s"cosine_sim expects exactly 2 arguments, got ${exprs.length}")
          CosineSimilarity(exprs(0), exprs(1))
        },
        "built-in")
  }
}
