package graft.etl

import scala.util.Try

import org.apache.spark.sql.DataFrame

/** The reference's `main()` orchestration (`/root/reference/main.py:26-109`,
  * SURVEY.md §3.1) as a composable runner:
  *
  *   extract → (abort if empty) → transform → (abort if empty) →
  *   multi-sink load with per-sink isolation → summary.
  *
  * Where `main.py` materializes every stage eagerly, here the plan stays
  * lazy end-to-end; the only actions are the extract guard (a cheap
  * `limit(1)` job, `main.py:32-34`), one count of the persisted clean
  * frame (the transform guard, `main.py:40-42`, and the summary's row
  * count at once) and the sink writes, which skip their own guards.
  */
object Pipeline {

  sealed trait Outcome
  case object EmptyExtract extends Outcome   // main.py:32-34 → abort False
  case object EmptyTransform extends Outcome // main.py:40-42 → abort False
  final case class Loaded(results: Map[String, Try[String]], rows: Long) extends Outcome {
    /** `True` iff every configured sink succeeded (`main.py:106-109`). */
    def success: Boolean = results.values.forall(_.isSuccess)
  }

  /** Sink configs mirror `load_data`'s skip semantics
    * (`/root/reference/utils/load.py:296-314`): a destination whose
    * configuration is incomplete is SKIPPED with a notice, not failed. */
  final case class SinkPlan(sinks: Seq[Sink], skipped: Map[String, String])

  def planSinks(
      csvPath: Option[String] = None,
      jdbcUrl: Option[String] = None, jdbcTable: Option[String] = None,
      sheetsCredentials: Option[String] = None,
      sheetsClient: Option[Sheets.SheetsClient] = None): SinkPlan = {
    var sinks = Vector.empty[Sink]
    var skipped = Map.empty[String, String]
    csvPath.foreach(p => sinks :+= CsvSink(p, singleFile = true))
    (jdbcUrl, jdbcTable) match {
      case (Some(u), Some(t)) => sinks :+= JdbcSink(u, t)
      case (Some(_), None) | (None, Some(_)) =>
        skipped += "postgres" -> "incomplete connection parameters, skipping" // load.py:312-314
      case _ => ()
    }
    // K2 (Sheets): MISSING credentials record the reference's skip notice
    // (load.py:298-300); with credentials the sink is planned against the
    // supplied transport, or skipped with a distinct notice when no
    // transport exists (offline harness).
    (sheetsCredentials, sheetsClient) match {
      case (Some(path), Some(client)) => sinks :+= SheetsSink(client, path)
      case (Some(_), None) =>
        skipped += "sheets" -> "sheets transport not available offline, skipping"
      case (None, _) =>
        skipped += "sheets" -> "credentials path not provided, skipping"
    }
    SinkPlan(sinks, skipped)
  }

  /** Full run. `extract` is any raw-products producer (the HTML flatMap
    * path, the DSv2 source, or a synthetic table). The clean frame is
    * persisted across its count and the sink writes — with a real scrape
    * source an unpersisted lineage would re-extract once per action. The
    * count fills the cache, decides the transform guard and is the
    * summary's row count, so no sink re-checks for emptiness. */
  def run(extract: => DataFrame, plan: SinkPlan): Outcome = {
    val raw = extract
    if (raw.isEmpty) return EmptyExtract
    val clean = Transform.transform(raw)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = clean.count()
      if (rows == 0) EmptyTransform
      else Loaded(Load.loadNonEmpty(clean, plan.sinks), rows)
    } finally { clean.unpersist(); () }
  }

  /** Reference-style results dict incl. skips (`load.py:282-324`). */
  def summary(outcome: Outcome, plan: SinkPlan): Map[String, String] = outcome match {
    case EmptyExtract => Map("error" -> "No data extracted")
    case EmptyTransform => Map("error" -> "No data after transformation")
    case l: Loaded =>
      Load.resultSummary(l.results) ++
        plan.skipped.map { case (k, v) => s"${k}_skipped" -> v } +
        ("rows" -> l.rows.toString)
  }
}
