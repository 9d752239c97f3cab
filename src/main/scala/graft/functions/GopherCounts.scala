package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The Gopher-rule token aggregates of a (lowercased) token-array column
  * in ONE compiled per-row pass — the counting kernel of
  * [[graft.ext.TextStats.gopherTokenStats]]. Returns
  * struct(n_words, sum_len, n_alpha, n_stop) as longs: token count,
  * summed token length in CODE POINTS (what Spark's `length` counts),
  * tokens containing an ASCII letter a–z (a byte scan — multi-byte
  * UTF-8 units never collide with the ASCII range), and DISTINCT stop
  * words present (membership against the fixed list, each counted
  * once).
  *
  * Why an expression: the regexp_count/array_contains per-row form this
  * replaces paid a Java-regex scan per document and still touched every
  * token several times; the explode+agg form before it shuffled the
  * token stream. One compiled byte-level pass ([[GopherCounts.counts]],
  * called from eval and generated code; the stop list rides into the
  * generated code as a reference object) does all four counts at scan
  * speed with zero exchanges — pinned in ExtSpec against the explode+agg
  * reference. */
case class GopherCounts(child: Expression, stops: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  require(stops.nonEmpty && stops.size <= 64, "need 1..64 stop words")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("n_alpha", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false)))

  private val stopKeys: Array[UTF8String] =
    stops.map(UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    GopherCounts.counts(input.asInstanceOf[ArrayData], stopKeys)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keys = ctx.addReferenceObj(
      "stopKeys", stopKeys, classOf[Array[UTF8String]].getCanonicalName)
    defineCodeGen(ctx, ev, c => s"graft.functions.GopherCounts.counts($c, $keys)")
  }

  override protected def withNewChildInternal(newChild: Expression): GopherCounts =
    copy(child = newChild)
}

object GopherCounts {

  /** Row kernel (also the codegen target). */
  def counts(arr: ArrayData, stopKeys: Array[UTF8String]): InternalRow = {
    val n = arr.numElements()
    var sumLen = 0L
    var nAlpha = 0L
    var stopMask = 0L
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      sumLen += t.numChars()
      val bytes = t.getBytes
      var hasAlpha = false
      var b = 0
      while (!hasAlpha && b < bytes.length) {
        val c = bytes(b)
        if (c >= 'a'.toByte && c <= 'z'.toByte) hasAlpha = true
        b += 1
      }
      if (hasAlpha) nAlpha += 1
      var s = 0
      while (s < stopKeys.length) {
        if ((stopMask & (1L << s)) == 0 && stopKeys(s).equals(t))
          stopMask |= (1L << s)
        s += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      n.toLong, sumLen, nAlpha, java.lang.Long.bitCount(stopMask).toLong))
  }
}
