package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking of a text column in ONE compiled per-row pass
  * — the native form of [[graft.queries.CurationQueries.cdcChunks]]'s
  * boundary chain. Boundary rule (unchanged): 1-based character position
  * i ∈ [4, len] is a chunk END when the trailing-4-char polynomial
  * (c[i−3]·31³ + c[i−2]·31² + c[i−1]·31 + c[i]) ≡ 0 (mod 17) over the
  * characters' code points; the final chunk always ends at len. Returns
  * one struct per chunk: (h = md5 hex of the chunk text's UTF-8 bytes,
  * clen = chunk length in characters). The empty string yields its single
  * (md5(""), 0) chunk, exactly like the Column chain.
  *
  * Why an expression: the Column form ran `transform(split(text, ''),
  * ascii)` + `filter(sequence(4, len), …)` + two more HOF passes — four
  * interpreted HigherOrderFunction evaluations PER CHARACTER of the
  * corpus (the known interpreted-HOF scale trap; guide §4.1). Here the
  * whole boundary scan + digest is one JVM pass per row in
  * [[CdcChunks.chunks]], which both the interpreted path and the
  * generated code call, so the enclosing operator stays in whole-stage
  * codegen.
  *
  * Character semantics match the SQL chain: positions and lengths count
  * CODE POINTS (Spark's `length`/`substr`/`split(text,'')` are
  * code-point-based), and the code point feeding the polynomial is
  * exactly what `ascii()` returned for the single-char split pieces.
  * Arithmetic runs in Long, so a supplementary-plane code point can
  * never overflow (the old int chain would have raised under ANSI at
  * ~0x11000·29791 ≈ 2³³ — no corpus text reaches that, and the
  * admissibility spec pins equality on multi-byte inputs). */
case class CdcChunks(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("h", StringType, nullable = false),
    StructField("clen", IntegerType, nullable = false))), containsNull = false)

  override def nullSafeEval(input: Any): Any = CdcChunks.chunks(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcChunks.chunks($c)")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {

  /** Row kernel (also the codegen target). */
  def chunks(text: UTF8String): ArrayData = {
    val s = text.toString
    // code points + each code point's char offset (for substring slicing)
    val nChars = s.length
    val cps = new Array[Int](nChars + 1) // at most nChars code points
    val charOff = new Array[Int](nChars + 2)
    var ci = 0
    var n = 0
    while (ci < nChars) {
      val cp = s.codePointAt(ci)
      cps(n) = cp
      charOff(n) = ci
      n += 1
      ci += Character.charCount(cp)
    }
    charOff(n) = nChars // one-past-the-end sentinel
    // chunk ends: 1-based code-point positions where the trailing window
    // hash ≡ 0 (mod 17), plus the final position n
    val ends = new java.util.ArrayList[Int]()
    var i = 4
    while (i <= n) {
      val h = cps(i - 4).toLong * 29791L + cps(i - 3).toLong * 961L +
        cps(i - 2).toLong * 31L + cps(i - 1).toLong
      if (h % 17L == 0L) ends.add(i)
      i += 1
    }
    if (ends.isEmpty || ends.get(ends.size - 1) != n) ends.add(n)
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](ends.size)
    var j = 0
    var st = 1 // 1-based code-point start of the current chunk
    while (j < ends.size) {
      val en = ends.get(j)
      // chunk text = code points [st, en]; char slice via the offsets
      val bytes = s.substring(charOff(st - 1), charOff(en))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out(j) = new GenericInternalRow(Array[Any](
        Md5Hex.utf8(md.digest(bytes)), en - st + 1)): InternalRow
      st = en + 1
      j += 1
    }
    new GenericArrayData(out)
  }
}
