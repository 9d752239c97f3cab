package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** The Spark forms of the hybrid-search tail that [[HybridSearch.fuse]]
  * replaced, kept as the references the driver-side tail is pinned
  * bit-identical to: a window-free broadcast rank self-join per leg, the
  * full-outer RRF merge and a top-N, each a Spark job over k rows. */
object RrfReference {

  /** rank = 1 + |rows strictly ahead on (score desc, id asc)| over a
    * k-row relation — window-free, broadcast, exactly row_number's
    * semantics (both orderings are total, so ranks are 1..k). */
  def rankOf(df: DataFrame, idCol: String, scoreCol: String,
      rkName: String): DataFrame = {
    val a = df.select(col(idCol).as("rid"), col(scoreCol).as("rsc"))
    val b = df.select(col(idCol).as("oid"), col(scoreCol).as("osc"))
    a.join(broadcast(b),
        col("osc") > col("rsc") ||
          (col("osc") === col("rsc") && col("oid") < col("rid")),
        "left")
      .groupBy("rid")
      .agg((count(col("oid")) + 1).cast("int").as(rkName))
      .select(col("rid").as(idCol), col(rkName))
  }

  /** The Spark RRF tail: rank each k-row leg ((doc_id, bm25) and
    * (doc_id, cos)), full-outer fuse, 1/(rrfK + rank) sum with the
    * truncated-list 0 contribution, top-N. */
  def fuse(lex0: DataFrame, den0: DataFrame, topN: Int, rrfK: Int): DataFrame = {
    val lex = rankOf(lex0, "doc_id", "bm25", "lex_rk")
    val den = rankOf(den0, "doc_id", "cos", "dense_rk")
    lex.join(den, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("dense_rk")), lit(0.0)), 6))
      .select(col("doc_id"), col("rrf"), col("lex_rk"), col("dense_rk"))
      .orderBy(desc("rrf"), asc("doc_id")).limit(topN)
  }

  /** The index-served hybrid serve built from reference parts: the BM25
    * index leg and a brute-force cosine TakeOrdered over the quantized
    * index's full-width vectors (what the pruned serve must equal), each
    * checkpointed, fused by the Spark [[fuse]]. */
  def hybridRrfFromIndex(postings: DataFrame, statsLedger: DataFrame,
      quantIdx: DataFrame, terms: Seq[String], qId: Long = 0L, k: Int = 30,
      topN: Int = 20, rrfK: Int = 60): DataFrame = {
    val lex0 = TextStats.bm25FromIndex(postings, statsLedger, terms, k + 1)
      .filter(col("doc_id") =!= qId)
      .orderBy(desc("bm25"), asc("doc_id")).limit(k)
      .localCheckpoint()
    val q = quantIdx.filter(col("vec_id") === qId)
      .select(col("embedding").as("q_emb"))
    val den0 = quantIdx.filter(col("vec_id") =!= qId).join(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(VectorOps.cosine(col("q_emb"), col("embedding")), 6).as("cos"))
      .orderBy(desc("cos"), asc("doc_id")).limit(k)
      .localCheckpoint()
    fuse(lex0, den0, topN, rrfK)
  }
}
