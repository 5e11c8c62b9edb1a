package graft.vector

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for squared L2 distance between two
  * `array<float>` columns (the reference's `l2`, quake_min.py:8-9) with
  * full whole-stage-codegen support: the generated code is a primitive
  * float loop with a double accumulator — no lambda dispatch, no per-
  * element boxing, no intermediate array (`zip_with` materializes the
  * element-wise difference array per row; at 100 TB that is allocation
  * pressure on the hottest loop of every scan).
  *
  * Semantics match the higher-order-function form (parity-tested):
  * length-mismatched inputs yield NULL (the HOF version nulls via
  * zip_with padding). Array elements must be non-null — enforced upstream
  * by the dim check at ingest (VectorOps.hasDim).
  */
case class L2Squared(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> inputs, got ${left.dataType} and ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_squared"

  /** Can be NULL even for non-null inputs (length mismatch) — without this
    * override, non-nullable children make codegen bind `isNull` to a
    * `false` literal and the generated `isNull = true` branch fails to
    * compile (silent interpreted fallback). */
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) {
        val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
        s += d * d
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): L2Squared =
    copy(left = newLeft, right = newRight)
}

object L2Squared {
  /** The expression's arithmetic over driver-side arrays — each element
    * widened to double before subtracting, summed in index order — so a
    * driver-resident path scores bit-identically to the Catalyst plan.
    * NaN stands in for the expression's NULL (a null or
    * length-mismatched input). */
  def of(a: Array[Float], b: Array[Float]): Double =
    if (a == null || b == null || a.length != b.length) Double.NaN
    else {
      var s = 0.0
      var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble
        s += d * d
        i += 1
      }
      s
    }
}
