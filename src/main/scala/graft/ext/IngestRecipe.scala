package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
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
  *      partitioned components are clustered on their partition columns
  *      first, so each touched bucket gains one file per commit). The
  *      parts are independent, so their appends run at once, one thread
  *      each, and step 3 returns only when every part has finished.
  *
  * Step 2 always precedes step 3. Within step 3 the parts land in no set
  * order, so a crash can leave ANY subset of the parts appended — not
  * only a prefix of their list. Each part's own anti-join in step 1
  * covers every such subset: a replay probes each component's pre-crash
  * base whether or not that component's append landed.
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
    * the parts' `rows` are appended after it, all parts at once. */
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
    * component, all parts at once ([[runAll]]); partitioned components
    * are [[clustered]] so they land only in their footprint, one file per
    * touched bucket. */
  private def appendParts(parts: Seq[IndexPart]): Unit =
    runAll(parts.map { p => () =>
      val w = clustered(p.rows, p.partitionBy).write.mode("append")
      (if (p.partitionBy.nonEmpty) w.partitionBy(p.partitionBy: _*) else w)
        .parquet(p.path)
    })

  /** `df` hash-partitioned on `cols` into the session's default
    * parallelism (unchanged when `cols` is empty): a `partitionBy` write
    * of the result puts each partition value in exactly one task, so it
    * gains one file per value, and the tasks spread over every core. The
    * partition count is explicit, so adaptive execution keeps it. An
    * aggregate grouped by a superset of `cols` reuses this exchange. */
  def clustered(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty) df
    else df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      cols.map(col): _*)

  /** Run `tasks` at once, one fresh thread each, and return when all have
    * finished. Fresh threads, not a pool: a thread copies its parent's
    * Spark local properties when it is created, so every job a task
    * starts carries the caller's job group, streaming query and batch
    * ids, and any tracing key. A failure never cuts the others short:
    * the first failed task's exception (in task order) is rethrown after
    * all of them have finished, the later ones suppressed onto it. */
  private def runAll(tasks: Seq[() => Unit]): Unit =
    if (tasks.size <= 1) tasks.foreach(_())
    else {
      val failures = new Array[Throwable](tasks.size)
      val threads = tasks.zipWithIndex.map { case (task, i) =>
        val t = new Thread(() =>
          try task() catch { case e: Throwable => failures(i) = e },
          s"ingest-recipe-part-$i")
        t.setDaemon(true)
        t.start()
        t
      }
      try threads.foreach(_.join())
      catch { case e: InterruptedException =>
        // the caller is being stopped: stop the parts too, and still
        // leave no thread behind
        threads.foreach(_.interrupt())
        threads.foreach(_.join())
        throw e
      }
      failures.filter(_ != null) match {
        case Array() =>
        case Array(first, rest @ _*) =>
          rest.foreach(first.addSuppressed)
          throw first
      }
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
    * history leaves behind. A partitioned component is [[clustered]] on
    * its partition columns before the dedup — the one exchange serves
    * both, since full-row duplicates share their partition values — so
    * it comes back as one file per partition value. */
  def compact(spark: SparkSession, path: String, schema: StructType,
      partitionBy: Seq[String] = Nil): Unit = {
    val tmp = path.stripSuffix("/") + "__compact"
    val w = clustered(ParquetIO.readOrEmpty(spark, path, schema), partitionBy)
      .dropDuplicates()
      .write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp)
    val dst = new Path(path)
    swapIn(dst.getFileSystem(spark.sessionState.newHadoopConf()), new Path(tmp), dst)
  }

  /** [[compact]] every component of one standing index at once: the
    * components are independent directories, so their rewrites run
    * concurrently ([[runAll]]). Each entry is (path, schema, partition
    * columns). */
  def compactAll(spark: SparkSession,
      components: Seq[(String, StructType, Seq[String])]): Unit =
    runAll(components.map { case (path, schema, parts) =>
      () => compact(spark, path, schema, parts)
    })
}
