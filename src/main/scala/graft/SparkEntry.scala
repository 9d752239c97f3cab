package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.{RawSource, Transform}
import graft.queries.{AdvancedQueries, CurationQueries, EtlQueries, ExtQueries, MiningQueries, Q, RelationalQueries, ScaleQueries, StatsQueries, TpchExtraQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the BASELINE.json
  * extension surface) registers here as a named query; `oracleSql` carries
  * the DuckDB-equivalent SQL the driver hash-compares at sf0.01.
  */
object SparkEntry {

  /** Full registry, assembled from the per-area modules. */
  def registry: Map[String, Q] =
    EtlQueries.all ++ RelationalQueries.all ++ AdvancedQueries.all ++
      ExtQueries.all ++ TpchExtraQueries.all ++ ScaleQueries.all ++
      CurationQueries.all ++ MiningQueries.all ++ StatsQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's whole compute path: synth raw scrape table →
    * F1 dirty-filter → P1-P5 cleaners → F2 null-drop. */
  def entry(spark: SparkSession): DataFrame =
    Transform.transform(RawSource.syntheticRaw(spark, "/root/testdata/sf0.001"))

  /** The local session every entry point and spec runs on: `cores` task
    * slots and as many shuffle partitions, UTC session time, no UI. The
    * nanosAsLong guard reads legacy TIMESTAMP(NANOS) event files as longs
    * (readers sniff and normalize; a no-op for µs files); it is set at
    * build so no query mutates session conf at plan time. */
  def localSession(cores: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, q) => k -> q.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (k, Q(_, Some(sql), _)) => k -> sql }
}
