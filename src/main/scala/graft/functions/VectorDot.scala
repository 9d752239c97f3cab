package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._

/** Native dot product over two numeric array columns, with whole-stage
  * codegen (`doGenCode` emits a tight primitive loop). This is the hot
  * kernel of the similarity/near-dup operators: the higher-order-function
  * formulation (`aggregate(zip_with(...))`, kept in VectorDotSpec for
  * cross-checking) is CodegenFallback — interpreted per element — and
  * measured ~40× slower on the pairwise near-dup bench at sf0.1.
  *
  * Unlike the other `graft.functions` kernels, the generated code keeps
  * its own copy of the loop instead of calling one shared row function:
  * that static call measured 5–7% slower on the pairwise queries
  * (`dedup_embedding`, `sim_knn_graph`; alternating TimeQuery runs at
  * sf0.1, 4 cores), most likely because one shared loop sees every
  * caller's `ArrayData` class where each stage's inlined loop sees one.
  * VectorDotPropSpec pins the two copies bit-equal.
  *
  * Semantics match the HOF form bit-for-bit: each element is widened to double
  * BEFORE the multiply and the accumulation runs sequentially left-to-right
  * (required for DuckDB-oracle parity). Array elements are assumed
  * non-null (dense embeddings); mismatched lengths use the shorter prefix
  * like `zip_with` would with null padding dropped.
  */
case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"VectorDot needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val leftFloat = elemType(left) == FloatType
    val rightFloat = elemType(right) == FloatType
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      def get(arr: String, t: DataType) = t match {
        case FloatType => s"(double) $arr.getFloat($i)"
        case _ => s"$arr.getDouble($i)"
      }
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${get(a, elemType(left))} * ${get(b, elemType(right))};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}
