package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions._

/** Embedding-vector arithmetic over `ArrayType(FloatType)` columns. The
  * hot kernel ([[dot]]) is the custom expression [[VectorDot]]; the same
  * math as stock higher-order functions (`aggregate(zip_with(...))` —
  * CodegenFallback, interpreted, ~40× slower pairwise) lives in the test
  * tree as the cross-check reference (VectorDotSpec).
  *
  * Both widen elements to double BEFORE multiplication and accumulate
  * sequentially, which makes dot products bit-reproducible across the two
  * forms and against the DuckDB oracle (SURVEY.md §7.4).
  */
object VectorOps {

  /** Sequential-sum dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(VectorDot(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def normSq(a: Column): Column = dot(a, a)

  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity; null-propagating, assumes non-zero vectors (the
    * harness embeddings are dense random). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** L2 via the dot identity ‖a−b‖² = ‖a‖² + ‖b‖² − 2a·b: every term runs
    * through the codegen [[VectorDot]] kernel. Cancellation can push the
    * identity fractionally negative for near-identical vectors — clamped
    * at 0. Callers that already carry per-side squared norms (k-means
    * assignment) should inline the identity instead, paying ONE dot per
    * pair. The interpreted subtraction form it replaces is
    * property-pinned against it in VectorDotSpec. */
  def l2ViaDot(a: Column, b: Column): Column =
    sqrt(greatest(normSq(a) + normSq(b) - lit(2.0) * dot(a, b), lit(0.0)))
}
