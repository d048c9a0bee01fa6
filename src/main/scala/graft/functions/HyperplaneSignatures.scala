package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Native Catalyst random-hyperplane LSH signatures of one FLOAT vector, with
  * whole-stage codegen: element t of the result is table t's signature, whose
  * bit p is set when the vector's dot product with `planes(t)(p)` is
  * positive. Replaces a typed flatMap on the LSH signature path (which
  * deserializes every row into a Scala object and breaks the codegen span).
  * The arithmetic is the one the relational oracle reproduces: per-element
  * double products (the float widened first), summed in index order over the
  * plane's width. A vector shorter than that width fails with the
  * ArrayIndexOutOfBoundsException a Scala array read would throw; a longer
  * one is read up to the width; a null vector has no signature.
  */
case class HyperplaneSignatures(child: Expression, planes: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hyperplane_sigs expects an ARRAY<FLOAT> argument, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "hyperplane_sigs"

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val dim = planes(0)(0).length
    val n = v.numElements()
    if (n < dim) throw new ArrayIndexOutOfBoundsException(s"Index $n out of bounds for length $n")
    val sigs = new Array[Int](planes.length)
    var t = 0
    while (t < planes.length) {
      var p = 0
      while (p < planes(t).length) {
        val plane = planes(t)(p)
        var dot = 0.0
        var d = 0
        while (d < dim) { dot += v.getFloat(d).toDouble * plane(d); d += 1 }
        if (dot > 0) sigs(t) |= (1 << p)
        p += 1
      }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sigs)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hp = ctx.addReferenceObj("planes", planes, "double[][][]")
    nullSafeCodeGen(ctx, ev, v => {
      val x = ev.value
      s"""
         |int ${x}_dim = $hp[0][0].length;
         |int ${x}_n = $v.numElements();
         |if (${x}_n < ${x}_dim) {
         |  throw new ArrayIndexOutOfBoundsException(
         |    "Index " + ${x}_n + " out of bounds for length " + ${x}_n);
         |}
         |int[] ${x}_sigs = new int[$hp.length];
         |for (int ${x}_t = 0; ${x}_t < $hp.length; ${x}_t++) {
         |  for (int ${x}_p = 0; ${x}_p < $hp[${x}_t].length; ${x}_p++) {
         |    double[] ${x}_plane = $hp[${x}_t][${x}_p];
         |    double ${x}_dot = 0.0;
         |    for (int ${x}_d = 0; ${x}_d < ${x}_dim; ${x}_d++) {
         |      ${x}_dot += (double) $v.getFloat(${x}_d) * ${x}_plane[${x}_d];
         |    }
         |    if (${x}_dot > 0) ${x}_sigs[${x}_t] |= (1 << ${x}_p);
         |  }
         |}
         |$x = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(${x}_sigs);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneSignatures {
  /** `hyperplane_sigs(vector)` over `planes` as a column. The function is
    * registered with the session once; a later call finds the name and leaves
    * it, so every caller of one session must pass the same planes.
    */
  def column(
      spark: org.apache.spark.sql.SparkSession,
      vector: org.apache.spark.sql.Column,
      planes: Array[Array[Array[Double]]]
  ): org.apache.spark.sql.Column = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("hyperplane_sigs")))
      registry.createOrReplaceTempFunction(
        "hyperplane_sigs",
        { exprs: Seq[Expression] =>
          require(exprs.length == 1,
            s"hyperplane_sigs expects exactly 1 argument, got ${exprs.length}")
          HyperplaneSignatures(exprs.head, planes)
        },
        "built-in")
    org.apache.spark.sql.functions.call_function("hyperplane_sigs", vector)
  }
}
