package graft.etl

import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.storage.StorageLevel

/** The reference's load stage (K1-K4, SURVEY.md §2.8) behind a `Sink` seam.
  *
  * Semantics preserved from `/root/reference/utils/load.py`:
  *   - empty-DataFrame guard raises (`load.py:45-49` → [[LoadError]]);
  *   - ≥1 destination required (`load.py:279-280` → IllegalArgumentException);
  *   - per-sink error isolation — one sink failing never stops the others
  *     (`load.py:282-324` → a `Try` per sink);
  *   - every sink is a full overwrite (`to_csv` fresh file, `to_sql
  *     if_exists='replace'`, Sheets clear-then-write → `SaveMode.Overwrite`).
  *
  * Scale posture: the DataFrame is persisted once before a multi-sink
  * fan-out (the reference re-serializes the table per sink,
  * `load.py:288-322`), checked for emptiness once for all its sinks, and
  * sinks write partition-parallel —
  * `singleFile=true` (reference parity: one `products.csv`) is for
  * sf-small outputs only.
  */
final case class LoadError(message: String, cause: Throwable)
    extends RuntimeException(message, cause)
object LoadError {
  def apply(message: String): LoadError = LoadError(message, null)
}

trait Sink {
  def name: String
  /** Write the frame, returning a location descriptor. Must throw
    * [[LoadError]] on an empty frame (reference `load.py:45-49`). */
  def write(df: DataFrame): String
  /** Write a frame the caller has already found non-empty — the fan-out
    * of [[Load.loadData]] checks once for all its sinks. The built-in
    * sinks skip their own check here; any other sink just `write`s. */
  private[etl] def writeNonEmpty(df: DataFrame): String = write(df)
  private[etl] def emptyError: LoadError =
    LoadError(s"DataFrame is empty, nothing to save to $name")
  protected def requireNonEmpty(df: DataFrame): Unit =
    if (df.isEmpty) throw emptyError
}

/** K1 — CSV sink (`/root/reference/utils/load.py:37-73`). */
final case class CsvSink(path: String, singleFile: Boolean = false) extends Sink {
  val name = "csv"
  def write(df: DataFrame): String = { requireNonEmpty(df); writeNonEmpty(df) }
  override private[etl] def writeNonEmpty(df: DataFrame): String = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
    path
  }
}

/** Parquet sink — the idiomatic Spark counterpart of the reference's local
  * file sink, used by the harness. */
final case class ParquetSink(path: String) extends Sink {
  val name = "parquet"
  def write(df: DataFrame): String = { requireNonEmpty(df); writeNonEmpty(df) }
  override private[etl] def writeNonEmpty(df: DataFrame): String = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    path
  }
}

/** K3 — JDBC sink (`/root/reference/utils/load.py:162-243`).
  * `SaveMode.Overwrite` = drop/recreate ≈ `if_exists='replace'`
  * (`load.py:221-228`), with the reference's two preflights: a connection
  * test before any write (`load.py:209-211`) and `CREATE SCHEMA IF NOT
  * EXISTS` for a non-default schema (`load.py:213-217`; engines without
  * the IF NOT EXISTS form, e.g. embedded Derby, fall back to
  * create-and-ignore-already-exists). Round-tripped against embedded
  * Derby in LoadSpec. */
final case class JdbcSink(url: String, table: String,
    properties: java.util.Properties = new java.util.Properties,
    schema: Option[String] = None) extends Sink {
  val name = "postgres"

  private def qualified = schema.map(s => s"$s.$table").getOrElse(table)

  def write(df: DataFrame): String = { requireNonEmpty(df); writeNonEmpty(df) }
  override private[etl] def writeNonEmpty(df: DataFrame): String = {
    // connection test before proceeding (load.py:209-211); failure surfaces
    // as this sink's error without touching the other sinks
    val conn =
      try java.sql.DriverManager.getConnection(url, properties)
      catch { case e: Exception =>
        throw LoadError(s"Database connection failed: ${e.getMessage}", e)
      }
    try schema.foreach { s =>
      val stmt = conn.createStatement()
      try {
        if (url.startsWith("jdbc:postgresql"))
          stmt.executeUpdate(s"CREATE SCHEMA IF NOT EXISTS $s")
        else
          try stmt.executeUpdate(s"CREATE SCHEMA $s")
          catch { case e: java.sql.SQLException =>
            // engines without the IF NOT EXISTS form raise engine-specific
            // already-exists states (Derby X0Y68, others vary) — treat the
            // failure as benign iff the schema is now visible, else rethrow
            val rs = conn.getMetaData.getSchemas
            var found = false
            try while (!found && rs.next())
              found = rs.getString("TABLE_SCHEM").equalsIgnoreCase(s)
            finally rs.close()
            if (!found) throw e
          }
      } finally stmt.close()
    } finally conn.close()
    df.write.mode(SaveMode.Overwrite).jdbc(url, qualified, properties)
    s"$url/$qualified"
  }
}

object Load {

  /** K4 — multi-sink fan-out (`/root/reference/utils/load.py:245-324`).
    * Returns one `Try` per sink name; failures are isolated, success carries
    * the sink's location descriptor. The empty-frame guard runs once: an
    * empty frame fails every sink with its [[LoadError]], as each sink's
    * own guard would. */
  def loadData(df: DataFrame, sinks: Seq[Sink]): Map[String, Try[String]] =
    fanOut(df, sinks, guard = true)

  /** [[loadData]] for a frame the caller has already found non-empty
    * (`Pipeline.run` counts it): no guard job. */
  private[etl] def loadNonEmpty(df: DataFrame, sinks: Seq[Sink]): Map[String, Try[String]] =
    fanOut(df, sinks, guard = false)

  private def fanOut(df: DataFrame, sinks: Seq[Sink],
      guard: Boolean): Map[String, Try[String]] = {
    require(sinks.nonEmpty,
      "At least one destination (csv, sheets, or postgres) must be specified")
    // persist only if the caller hasn't already (Pipeline.run does)
    val persisted = sinks.size > 1 && df.storageLevel == StorageLevel.NONE
    if (persisted) df.persist(StorageLevel.MEMORY_AND_DISK)
    try
      if (guard && df.isEmpty) sinks.map(s => s.name -> Failure(s.emptyError)).toMap
      else sinks.map(s => s.name -> Try(s.writeNonEmpty(df))).toMap
    finally if (persisted) { df.unpersist(); () }
  }

  /** Reference parity helper: failures as `{sink}_error` entries, like the
    * results dict of `load.py:282-324`. */
  def resultSummary(results: Map[String, Try[String]]): Map[String, String] =
    results.flatMap {
      case (name, Failure(e)) => Seq(s"${name}_error" -> String.valueOf(e.getMessage))
      case (name, t) => Seq(name -> t.get)
    }
}
