package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Lowercase-hex encoding of an md5 digest as ASCII bytes — the text form
  * Spark's `md5()` returns, which the md5-keyed kernels ([[CdcChunks]],
  * [[DedupSpanAudit]], [[WinnowSelect]]) must reproduce byte for byte. */
private[functions] object Md5Hex {

  private val Digits = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** `width` (≥ 32) bytes: the digest's 32 hex digits, then zeros for the
    * caller to fill. */
  def bytes(digest: Array[Byte], width: Int): Array[Byte] = {
    val out = new Array[Byte](width)
    var b = 0
    while (b < 16) {
      out(2 * b) = Digits((digest(b) >> 4) & 0xf)
      out(2 * b + 1) = Digits(digest(b) & 0xf)
      b += 1
    }
    out
  }

  def utf8(digest: Array[Byte]): UTF8String = UTF8String.fromBytes(bytes(digest, 32))
}
