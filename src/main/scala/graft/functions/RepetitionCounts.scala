package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Token and word-k-gram total/distinct counts of a token-array column
  * in ONE compiled per-row pass — the counting kernel of
  * [[graft.ext.TextStats.repetitionStats]]. Returns
  * struct(n_tok, n_tok_d, n_g, n_g_d) (ints; n_g = max(len − k + 1, 0)).
  *
  * Why an expression and not `size(array_distinct(...))`: Spark's
  * `array_distinct` deduplicates non-primitive elements (strings,
  * structs) by PAIRWISE comparison — O(len²) per document — which the
  * 8×-corpus probe exposed as a data-proportional slowdown exactly where
  * long documents live. This pass ([[RepetitionCounts.counts]], called
  * from eval and generated code) uses hash sets of the tokens' UTF-8
  * bytes: O(len) per document, zero exchanges, scan speed at any
  * document length. Gram identity is the space-joined token run, the
  * same string `shingleRows` produces (tokens cannot contain the joiner,
  * so join is injective). Distinct counts over the multiset equal the
  * explode+countDistinct aggregation by definition — pinned in ExtSpec. */
case class RepetitionCounts(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"gram width k=$k must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def dataType: DataType = StructType(Seq(
    StructField("n_tok", IntegerType, nullable = false),
    StructField("n_tok_d", IntegerType, nullable = false),
    StructField("n_g", IntegerType, nullable = false),
    StructField("n_g_d", IntegerType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    RepetitionCounts.counts(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepetitionCounts.counts($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionCounts =
    copy(child = newChild)
}

object RepetitionCounts {

  private val Space = UTF8String.fromString(" ")

  /** Row kernel (also the codegen target). */
  def counts(arr: ArrayData, k: Int): InternalRow = {
    val n = arr.numElements()
    val toks = new java.util.HashSet[UTF8String](Math.max(16, n * 2))
    var i = 0
    while (i < n) { toks.add(arr.getUTF8String(i)); i += 1 }
    val g = Math.max(n - k + 1, 0)
    val grams = new java.util.HashSet[UTF8String](Math.max(16, g * 2))
    val gram = new Array[UTF8String](k)
    var p = 0
    while (p < g) {
      var j = 0
      while (j < k) { gram(j) = arr.getUTF8String(p + j); j += 1 }
      grams.add(UTF8String.concatWs(Space, gram: _*))
      p += 1
    }
    new GenericInternalRow(Array[Any](n, toks.size, g, grams.size))
  }
}
