package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The per-document tail of the substring-dedup rewrite
  * ([[graft.queries.CurationQueries.dedupSpansRewrite]]) in ONE compiled
  * pass: given a doc's token array and the (1-based, distinct, unordered)
  * dup n-gram start positions, a token at position p is REMOVED iff some
  * start x covers it (x ≤ p ≤ x + n − 1); returns
  * struct(n_removed, clean_fp = md5 of the space-joined kept tokens).
  *
  * Replaces a six-HOF interpreted chain per doc (interval-merge
  * `aggregate`, two `transform`s, `zip_with`+`sequence`+`flatten` gap
  * enumeration, then an `element_at` transform feeding the digest) with
  * an O(len + |starts|) two-pointer sweep in compiled JVM code
  * ([[DedupSpanAudit.audit]], called from eval and generated code): sort the
  * starts, carry a covered-until watermark, stream kept tokens straight
  * into the md5. Position-for-position identical to the gap enumeration
  * (both emit exactly the uncovered indices in ascending order) — pinned
  * in ScaleOpsSpec against an independent per-token scalar reference
  * over overlap/adjacent/saturated/identity shapes. */
case class DedupSpanAudit(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(n >= 1, s"gram width n=$n must be >= 1")

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), ArrayType(IntegerType))

  override def dataType: DataType = StructType(Seq(
    StructField("n_removed", IntegerType, nullable = false),
    StructField("clean_fp", StringType, nullable = false)))

  override def nullSafeEval(toks: Any, starts: Any): Any =
    DedupSpanAudit.audit(toks.asInstanceOf[ArrayData], starts.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, s) => s"graft.functions.DedupSpanAudit.audit($t, $s, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DedupSpanAudit =
    copy(left = newLeft, right = newRight)
}

object DedupSpanAudit {

  /** Row kernel (also the codegen target). */
  def audit(t: ArrayData, startsIn: ArrayData, n: Int): InternalRow = {
    val len = t.numElements()
    val starts = new Array[Int](startsIn.numElements())
    var i = 0
    while (i < starts.length) { starts(i) = startsIn.getInt(i); i += 1 }
    java.util.Arrays.sort(starts)
    val md = java.security.MessageDigest.getInstance("MD5")
    var removed = 0
    var kept = 0
    var coveredHi = 0 // highest covered position seen so far
    var si = 0
    var p = 1
    while (p <= len) {
      while (si < starts.length && starts(si) <= p) {
        val hi = starts(si) + (n - 1)
        if (hi > coveredHi) coveredHi = hi
        si += 1
      }
      if (p <= coveredHi) removed += 1
      else {
        if (kept > 0) md.update(' '.toByte)
        md.update(t.getUTF8String(p - 1).getBytes)
        kept += 1
      }
      p += 1
    }
    new GenericInternalRow(Array[Any](removed, Md5Hex.utf8(md.digest())))
  }
}
