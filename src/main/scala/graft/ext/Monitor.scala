package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Drift monitoring as a standing-ledger ingest path: the CUSUM detector
  * (`stats_cusum`, see graft.queries.StatsQueries) maintained
  * incrementally over a stream of FINALIZED per-day counts.
  *
  * Architecture (the same standing-index split as the dedup screens):
  * the standing ledger stores pure DAY FACTS (event_type, d, c) — never
  * derived recursion state — and each micro-batch recomputes the CUSUM
  * closed form over (pre-crash ledger ∪ batch) in ONE type-partitioned
  * window pass, emitting the batch days' rows exactly-once under
  * `batch_id=<id>`. Recomputing beats checkpointing (S⁺, S⁻) pairs
  * because the ledger is DAYS × TYPES rows (thousands after years at any
  * corpus scale — monitoring state never grows with data volume), and a
  * facts-only ledger makes replay armor trivial: duplicate day rows from
  * an at-least-once replay are IDENTICAL rows, collapsed by one
  * dropDuplicates, with [[IngestRecipe.compact]] as the standing repair.
  *
  * μ is a FROZEN BASELINE (event_type, mu6) — the prospective-monitoring
  * contract (alarm when ingest drifts from the level we signed off on),
  * vs the batch query's retrospective self-referential μ. Feeding the
  * batch query's own μ as the baseline reproduces its output exactly
  * (spec-pinned), because both run [[cusumCore]] verbatim.
  *
  * Late-day semantics: a day older than already-ledgered days re-sorts
  * into place, so the NEXT batch's state is self-healing — but alarm
  * rows already emitted for the days in between are not retracted
  * (append-only monitor; the same documented limitation class as
  * streaming SCD2's cross-batch disorder). Upstream, an append-mode
  * watermarked 1-day window emits each day once and in order, so the
  * case only arises on manual backfills.
  */
object Monitor {

  /** Standing day-fact ledger: one row per finalized (type, day). */
  val ledgerSchema: StructType = StructType(Seq(
    StructField("event_type", StringType),
    StructField("d", DateType),
    StructField("c", LongType)))

  /** The ONE arithmetic definition of the two-sided CUSUM over a
    * (event_type, d, c, mu6) frame — shared verbatim by the batch query
    * and the ingest monitor. Closed form of S⁺ᵢ = max(0, S⁺ᵢ₋₁ + dᵢ):
    * Pᵢ − min(0, min_{j≤i} Pⱼ) over prefix sums of the slack-adjusted
    * deviations; alarm at 5σ under the Poisson count model, compared as
    * S² > 25·μ6·10⁶ in DECIMAL(38,0) so no sqrt runs. Exact int64
    * micro-units throughout. */
  def cusumCore(withMu6: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withMu6
      .withColumn("dp", col("c") * 1000000L - col("mu6") - expr("mu6 div 20"))
      .withColumn("dn", col("mu6") - col("c") * 1000000L - expr("mu6 div 20"))
      .withColumn("pp", sum("dp").over(wOrd))
      .withColumn("pn", sum("dn").over(wOrd))
      .withColumn("sp", col("pp") - least(lit(0L), min("pp").over(wOrd)))
      .withColumn("sn", col("pn") - least(lit(0L), min("pn").over(wOrd)))
      .select(col("event_type"), col("d"), col("c"),
        col("sp").as("cusum_pos6"), col("sn").as("cusum_neg6"),
        (expr("CAST(sp AS DECIMAL(38,0)) * sp") >
            expr("CAST(mu6 AS DECIMAL(38,0)) * 25000000") ||
          expr("CAST(sn AS DECIMAL(38,0)) * sn") >
            expr("CAST(mu6 AS DECIMAL(38,0)) * 25000000")).as("alarm"))
  }

  /** Frozen per-type baseline from a reference window of daily counts:
    * μ6 = ⌊Σc·10⁶ / n⌋ — the same fixed point the batch query derives
    * self-referentially. */
  def baseline(daily: DataFrame): DataFrame = daily
    .groupBy("event_type")
    .agg(expr("(sum(c) * 1000000) div count(*)").as("mu6"))

  /** Duplicate-tolerant ledger read with a LOUD conflict guard: replay
    * duplicates are bit-identical rows (full-row dropDuplicates absorbs
    * them deterministically), but two rows disagreeing on the same
    * (type, day)'s count can only come from misuse — two different
    * batches shipping the same day — and a subset-keyed dedup would pick
    * one NONDETERMINISTICALLY. Ledger-scale data, so the check is one
    * tiny aggregate. */
  private def readLedger(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val rows = ParquetIO.readOrEmpty(spark, path, ledgerSchema).dropDuplicates()
    val conflicts = conflictCount(rows)
    require(conflicts == 0,
      s"cusum ledger $path: $conflicts (event_type, day) key(s) carry conflicting counts")
    rows
  }

  /** The (type, day) keys of a deduplicated fact frame that carry more
    * than one count: one tiny aggregate job. */
  private def conflictCount(facts: DataFrame): Long =
    facts.groupBy("event_type", "d").count().filter(col("count") > 1).count()

  /** One finalized-daily-counts micro-batch through the CUSUM monitor,
    * exactly-once on the [[IngestRecipe]] seam:
    *   - anti-join the standing ledger against the batch's (type, day)
    *     keys (a replayed batch sees the exact pre-crash fact base);
    *   - recompute [[cusumCore]] over base ∪ batch with the frozen
    *     `baselineMu` and emit ONLY the batch days' rows under
    *     `batch_id=<id>` (overwrite — replay rewrites, never re-appends);
    *   - append the batch's day facts to the ledger (replay duplicates
    *     are identical rows; every ledger read dropDuplicates first).
    * Types in the batch without a baseline row fail loudly — an alarm
    * computed against a missing μ would be silent garbage. */
  def cusumIngestBatch(batch: DataFrame, baselineMu: DataFrame,
      ledgerPath: String, outPath: String, batchId: Long): Unit = {
    val facts = batch.select("event_type", "d", "c")
    val missing = facts.select("event_type").distinct()
      .join(baselineMu, Seq("event_type"), "left_anti").count()
    require(missing == 0,
      s"cusumIngestBatch: $missing event type(s) in the batch have no baseline μ")
    // The probe's input is the ledger anti-joined on the batch's keys ∪
    // the batch. Full-row dedup over it absorbs replay duplicates AND
    // bit-identical duplicate day rows within one batch (readLedger's
    // semantics), so only genuinely DISAGREEING counts on one (type, day)
    // — only possible through misuse — fail loudly (a subset-keyed dedup
    // would pick a survivor nondeterministically). Checked before
    // applyBatch, whose probe runs beside the ledger append: a rejected
    // batch leaves the ledger untouched.
    val keys = facts.select("event_type", "d")
    def probeInput(base: DataFrame) = base.unionByName(facts).dropDuplicates()
    val conflicts = conflictCount(probeInput(
      ParquetIO.readOrEmpty(batch.sparkSession, ledgerPath, ledgerSchema)
        .join(keys, keys.columns.toSeq, "left_anti")))
    require(conflicts == 0,
      s"cusumIngestBatch: $conflicts (event_type, day) key(s) carry conflicting counts")
    IngestRecipe.applyBatch(batchId, outPath,
      Seq(IngestRecipe.IndexPart(ledgerPath, ledgerSchema, facts) -> keys)) {
      case Seq(base) =>
        cusumCore(probeInput(base).join(broadcast(baselineMu), "event_type"))
          .join(keys, Seq("event_type", "d"), "left_semi")
          .orderBy("event_type", "d")
    }
  }

  /** The monitor's serving view: the full alarm history recomputed from
    * the standing ledger (duplicate-tolerant read). */
  def snapshot(spark: org.apache.spark.sql.SparkSession, ledgerPath: String,
      baselineMu: DataFrame): DataFrame =
    cusumCore(readLedger(spark, ledgerPath)
      .join(broadcast(baselineMu), "event_type"))
      .orderBy("event_type", "d")
}
