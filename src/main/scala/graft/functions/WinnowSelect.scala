package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection over a token-array column, in ONE
  * narrow per-row pass (Schleimer/Wilkerson/Aiken 2003): hash every token
  * k-gram (md5 of the space-joined gram, the engine-shared digest), form
  * the sortable key `md5hex ‖ lpad(10⁶ − pos, 7, '0')` (lexicographic min
  * = min hash, rightmost tie-break — [[graft.ext.Winnow]]'s encoding),
  * slide a w-window over the gram positions with a monotonic deque
  * (O(grams) comparisons), and return the DISTINCT selected keys.
  *
  * This replaces the row form's posexplode → doc_id-keyed Exchange+Sort
  * (window min) → distinct Exchange: selection is per-document by
  * construction, so at 100 TB those were corpus-sized shuffles that
  * existed only to reassemble per-doc adjacency the source row already
  * had. The whole selection is one JVM function per row
  * ([[WinnowSelect.winnow]]) that eval and the generated code both call,
  * so the enclosing operator stays in whole-stage codegen (guide §4: do
  * the heavy lifting in native code).
  *
  * Keys are UTF8Strings compared by `compareTo` (UTF-8 binary order),
  * which is the SQL string ordering Spark applies to them. The
  * 10⁶-position pad contract stays LOUD ([[graft.ext.Guards.padGuard]]'s
  * job in the old form): a doc with more than 10⁶ gram positions fails
  * the job instead of silently corrupting the complement ordering, from
  * the interpreted and the generated path alike.
  *
  * Returns: array<string> of distinct selected keys (32 hex chars ‖ 7 pad
  * digits), empty when the doc has fewer than w full windows; null input
  * → null (the default null-intolerant contract). Element order is
  * first-selection order — consumers explode into (doc_id, sel) rows
  * where row order is meaningless.
  */
case class WinnowSelect(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"gram width k=$k must be >= 1")
  require(w >= 1, s"window width w=$w must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WinnowSelect.winnow(input.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowSelect.winnow($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowSelect =
    copy(child = newChild)
}

object WinnowSelect {

  /** Row kernel (also the codegen target). */
  def winnow(arr: ArrayData, k: Int, w: Int): ArrayData = {
    val n = arr.numElements()
    val g = n - k + 1 // gram positions 1..g
    if (g < w) return new GenericArrayData(Array.empty[Any])
    if (g > 1000000) throw new IllegalStateException(
      s"winnowing: gram position exceeds the 1000000 pad contract (got $g)")
    val md = java.security.MessageDigest.getInstance("MD5")
    // kq(p) for 0-based gram start p: md5hex(gram) ‖ zero-padded 10⁶−(p+1)
    val kq = new Array[UTF8String](g)
    var p = 0
    while (p < g) {
      var j = 0
      while (j < k) {
        if (j > 0) md.update(' '.toByte)
        md.update(arr.getUTF8String(p + j).getBytes)
        j += 1
      }
      val key = Md5Hex.bytes(md.digest(), 39) // 32 hex + 7 pad digits
      var comp = 1000000 - (p + 1)
      var i = 38
      while (i >= 32) { key(i) = ('0' + comp % 10).toByte; comp /= 10; i -= 1 }
      kq(p) = UTF8String.fromBytes(key)
      p += 1
    }
    // sliding min over windows [p-w+1, p] via monotonic deque; distinct
    // selections in first-encounter order
    val out = new java.util.LinkedHashSet[UTF8String]()
    val dq = new Array[Int](g)
    var head = 0
    var tail = 0 // exclusive
    p = 0
    while (p < g) {
      // drop >= from the back: on ties the LATER index stays, matching
      // min()'s value either way (equal keys) — the selected VALUE is
      // what downstream consumes
      while (tail > head && kq(dq(tail - 1)).compareTo(kq(p)) >= 0) tail -= 1
      dq(tail) = p
      tail += 1
      if (dq(head) <= p - w) head += 1
      if (p >= w - 1) out.add(kq(dq(head)))
      p += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }
}
