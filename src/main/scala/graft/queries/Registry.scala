package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One harness-registered query: a Spark plan builder plus (when the
  * semantics are ANSI-SQL-expressible) the equivalent DuckDB SQL the driver
  * hash-compares against (see `graft.Verify`). Queries without an oracle get
  * the driver's weaker rows-only check.
  *
  * Determinism contract (SURVEY.md §7.4): every compared query fully
  * `ORDER BY`s its output, rounds floating aggregates, and never emits
  * wall-clock values.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

object Registry {
  /** Read one harness table (TESTDATA.md). `events.parquet` carries a
    * TIMESTAMP(NANOS) column that Spark's parquet reader rejects unless
    * nanos are surfaced as longs. Every graft entry point (Bench, Verify,
    * Smoke, SparkSpec) sets that conf at session BUILD, so this runtime
    * fallback fires only for externally-built sessions (e.g. the driver's
    * smoke harness). It is safe under concurrent queries even then: the
    * conf is only ever written with the same value ("true") and never
    * unset, so racing writers are idempotent — but it IS a session-global
    * mutation at plan time, which is why graft's own sessions pre-set it.
    *
    * The schema is read once per session and path: parquet schema
    * inference is a Spark job, and every registered query reads its
    * tables through here. The memo is keyed on the path's modification
    * time (for a directory, the newest of it and its entries) and on the
    * nanos conf, so a rewritten table is inferred again; the file
    * listing itself stays per call. A path that cannot be stat'ed is read
    * without the memo, so a missing table fails as before. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events" &&
        !spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    schemaOf(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  private val schemas =
    new java.util.WeakHashMap[SparkSession, java.util.Map[(String, Long, String), StructType]]

  private def schemaOf(spark: SparkSession, path: String): Option[StructType] =
    modified(spark, path).map { stamp =>
      val key = (path, stamp,
        spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").getOrElse(""))
      val memo = schemas.synchronized {
        schemas.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap)
      }
      memo.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
    }

  private def modified(spark: SparkSession, path: String): Option[Long] =
    scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      if (st.isDirectory) (st +: fs.listStatus(p).toSeq).map(_.getModificationTime).max
      else st.getModificationTime
    }.toOption

  /** `events` with `ts` normalized to a microsecond timestamp. The harness
    * file is TIMESTAMP(NANOS) and surfaces as a nanos long (see [[table]]) —
    * truncated here exactly like DuckDB's ns→µs read, so oracle comparisons
    * agree. Re-materialized event tables (µs timestamp, e.g. the PERF.md
    * scale probe or any non-harness deployment) pass through with a cast,
    * so every event operator works on both encodings. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val df = table(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
}
