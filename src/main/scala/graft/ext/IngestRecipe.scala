package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The ONE exactly-once recipe every standing-index ingest path follows.
  * [[applyBatch]] callers: [[Dedup.dedupIngestBatch]],
  * [[Dedup.boilerplateIngestBatch]], [[Dedup.semanticIngestBatch]],
  * [[Multimodal.phashIngestBatch]], [[Winnow.ingestBatch]],
  * [[Monitor.cusumIngestBatch]], [[TextStats.bm25IngestBatch]].
  * [[applyBatchMergeFromOutput]] callers: [[Dedup.cascadeIngestBatch]],
  * [[Mining.capIngestBatch]], [[Trainer.sgdIngestBatch]],
  * [[Trainer.hashedSgdIngestBatch]], [[CorpusBuild.ingestBatch]].
  * ([[SourceAudit.auditIngestBatch]] keeps no index and uses only
  * [[writeBatchOutput]].) Streams feed them through
  * [[graft.streaming.StreamingOps.ingestStream]].
  * foreachBatch is at-least-once; per-batch OUTPUT becomes exactly-once
  * by partition overwrite, and the PROBE becomes replay-deterministic by
  * anti-joining the standing index against the batch's own keys:
  *
  *   1. read each standing index component (missing path = well-defined
  *      cold start, [[ParquetIO.readOrEmpty]]) and anti-join away the
  *      batch's own keys — a replay that crashed AFTER the index merge
  *      landed probes the exact pre-crash base;
  *   2. run the probe over those bases; write its result under the
  *      batch's own `batch_id=<id>` directory with mode OVERWRITE, so a
  *      replayed batch rewrites the same files instead of re-appending;
  *   3. append the batch's rows to each index component (O(delta) files;
  *      partitioned components land only in their bucket footprint).
  *
  * Step 3 stays append, so a replay can leave DUPLICATE rows in a
  * standing index — every consumer must be duplicate-tolerant
  * (countDistinct / rank-collapse, pinned by the doubled-index
  * equivalence specs), and [[compact]] is the periodic repair that
  * resets index size and probe cost. Centralizing the armor here exists
  * because it is easy to get subtly wrong per-path (a replay-duplicate-
  * unsafe consumer shipped once and was caught only in self-review).
  */
object IngestRecipe {

  /** One standing-index component: where it lives, its read schema, the
    * batch's rows to merge in, and (for bucket-partitioned layouts) the
    * partition columns the append must respect. */
  final case class IndexPart(
      path: String,
      schema: StructType,
      rows: DataFrame,
      partitionBy: Seq[String] = Nil)

  /** Exactly-once per-batch output: `batch_id=<id>` partition overwrite. */
  def writeBatchOutput(df: DataFrame, outPath: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")

  /** Run one micro-batch through the full recipe. Each [[IndexPart]]
    * comes with its key frame: the batch's keys whose column NAMES are
    * that component's anti-join keys (e.g. a one-column `doc_id` or
    * `vec_id` frame). Components may key on different columns: the BM25
    * index's postings / doclens / positions anti-join on doc_id, its
    * corpus-stats ledger on batch_id. Paths with one key frame pass
    * `parts.map(_ -> keys)`. `probe` receives one pre-crash base per
    * part, in order, and its result is the batch's exactly-once output;
    * the parts' `rows` are appended after it. */
  def applyBatch(batchId: Long, outPath: String,
      parts: Seq[(IndexPart, DataFrame)])
      (probe: Seq[DataFrame] => DataFrame): Unit = {
    val bases = preCrashBases(
      parts.map { case (p, keys) => (p.path, p.schema, keys) })
    writeBatchOutput(probe(bases), outPath, batchId)
    appendParts(parts.map(_._1))
  }

  /** Step 1, shared: each standing component anti-joined against ITS OWN
    * key frame's column names — the pre-crash base a replay must probe. */
  private def preCrashBases(
      parts: Seq[(String, StructType, DataFrame)]): Seq[DataFrame] =
    parts.map { case (path, schema, keys) =>
      ParquetIO.readOrEmpty(keys.sparkSession, path, schema)
        .join(keys, keys.columns.toSeq, "left_anti")
    }

  /** Step 3, shared: O(delta) append of the batch's rows to each index
    * component (partitioned components land only in their footprint). */
  private def appendParts(parts: Seq[IndexPart]): Unit =
    parts.foreach { p =>
      val w = p.rows.write.mode("append")
      (if (p.partitionBy.nonEmpty) w.partitionBy(p.partitionBy: _*) else w)
        .parquet(p.path)
    }

  /** [[applyBatch]] variant for paths whose index merge is a PROJECTION
    * OF THE PROBE'S OWN OUTPUT (e.g. the contribution-cap ledger gains
    * exactly the kept rows the probe selected): same steps 1–2, then the
    * just-written `batch_id=<id>` partition is read back (schema-pinned)
    * and `merge` maps it to the index components to append. The read-back
    * exists only after step 2, so the merge frame can't be built by the
    * caller up front (Spark analyzes reads eagerly), and appending a
    * plan that re-reads the index path itself would self-read-while-
    * writing — this variant is the safe shape for output-derived merges.
    * `probeParts` are (path, schema, key frame) triples with the same
    * per-part keys as [[applyBatch]] (the dedup cascade: exact + LSH
    * components anti-join on doc_id, the semantic assignment component
    * on vec_id). Replay behavior is unchanged: output overwrite is
    * idempotent, the re-appended merge rows are identical duplicates
    * consumers must distinct-collapse. It stays a separate entry point
    * because only these paths pay for the output read-back. */
  def applyBatchMergeFromOutput(batchId: Long,
      outPath: String, outSchema: StructType,
      probeParts: Seq[(String, StructType, DataFrame)])
      (probe: Seq[DataFrame] => DataFrame)
      (merge: DataFrame => Seq[IndexPart]): Unit = {
    val bases = preCrashBases(probeParts)
    writeBatchOutput(probe(bases), outPath, batchId)
    val outBack = probeParts.head._3.sparkSession.read.schema(outSchema)
      .parquet(s"$outPath/batch_id=$batchId")
    appendParts(merge(outBack))
  }

  /** Move a fully written `staged` directory over `target`: delete the
    * target, then rename. A rename that returns false throws, and the
    * staged data stays where it is: going on silently would leave no
    * target, and the next writer would treat that as a cold start and
    * drop every earlier row. Local/HDFS rename swaps the directory; an
    * object-store deployment would write a new snapshot path and flip a
    * manifest pointer instead — same two-phase shape. */
  def swapIn(fs: FileSystem, staged: Path, target: Path): Unit = {
    fs.delete(target, true)
    if (!fs.rename(staged, target))
      throw new java.io.IOException(
        s"rename $staged -> $target failed; the staged data is still at $staged")
  }

  /** Periodic compaction of a replay-duplicated standing index: full-row
    * dropDuplicates, rewrite, then [[swapIn]]. Consumers stay CORRECT
    * without it (duplicate tolerance is their contract); compaction
    * resets the monotonic size/probe-cost growth an at-least-once replay
    * history leaves behind. */
  def compact(spark: SparkSession, path: String, schema: StructType,
      partitionBy: Seq[String] = Nil): Unit = {
    val tmp = path.stripSuffix("/") + "__compact"
    val w = ParquetIO.readOrEmpty(spark, path, schema)
      .dropDuplicates()
      .write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp)
    val dst = new Path(path)
    swapIn(dst.getFileSystem(spark.sessionState.newHadoopConf()), new Path(tmp), dst)
  }
}
