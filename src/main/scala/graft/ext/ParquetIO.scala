package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Shared "this parquet artifact may not exist yet" handling for the
  * incremental-state operators ([[Dedup.dedupIngestBatch]]'s LSH index,
  * [[SourceAudit.snapshot]]'s fact table, the streaming readers' schema
  * sniff). All three treat a missing path as a well-defined cold-start
  * state rather than an error, and all three previously detected it by
  * message-substring matching — fragile across Spark versions, where the
  * MESSAGE wording changes but the structured error class does not. This
  * helper matches on `SparkThrowable.getCondition` (the error class,
  * `PATH_NOT_FOUND` / `UNABLE_TO_INFER_SCHEMA`) first and keeps the
  * substring check only as a fallback for wrapped or legacy exceptions. */
object ParquetIO {

  /** True when `e` reports a missing path — or a present-but-empty
    * directory, which schema inference reports as
    * `UNABLE_TO_INFER_SCHEMA` and which is the same cold-start state for
    * every caller here (no files ⇒ no rows, no footers). */
  def isMissingPath(e: AnalysisException): Boolean = {
    val cond = Option(e.getCondition).getOrElse("")
    cond == "PATH_NOT_FOUND" || cond == "UNABLE_TO_INFER_SCHEMA" ||
      e.getMessage.contains("PATH_NOT_FOUND") ||
      e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") ||
      e.getMessage.contains("Path does not exist")
  }

  /** Read `path` with the given schema, or an empty DataFrame of that
    * schema when the path does not exist yet (cold start). Existence is
    * checked through the Hadoop FileSystem first: handing a missing path
    * to `spark.read` makes Spark log a full stack trace at error level
    * before it fails, which buries real errors under an expected cold
    * start. A present-but-empty directory still reads as no rows. */
  def readOrEmpty(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    def empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val p = new Path(path)
    if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) empty
    else
      try spark.read.schema(schema).parquet(path)
      catch { case e: AnalysisException if isMissingPath(e) => empty }
  }

  /** The inferred batch schema of `path`, or None when the path is
    * missing or holds no footers to sniff — the driver-side, footer-only
    * probe the streaming readers use to pick a storage encoding. */
  def sniffSchema(spark: SparkSession, path: String): Option[StructType] =
    try Some(spark.read.parquet(path).schema)
    catch { case e: AnalysisException if isMissingPath(e) => None }
}
