package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact fixed-point logistic-regression training — the ONE definition
  * of the gradient-step arithmetic shared by the batch `quality_train` /
  * `quality_train_eval` queries (K epochs over a static corpus) and the
  * online [[sgdIngestBatch]] ingest path (one step per arriving batch).
  * All arithmetic is int64 micro-units: Elliott rational sigmoid
  * 0.5 + 0.5·z/(1+|z|) (libm exp() differs across engines in last ulps;
  * a rational σ in fixed point is bit-identical), order-independent
  * integer gradient sums, and every division reduced to an exact
  * multiple via pmod so trunc-div and floor-div agree on negatives.
  */
object Trainer {

  /** Floor-div with b>0 via the exact-multiple trick. */
  private[graft] def fd(a: String, b: String) =
    s"((($a) - pmod(($a), ($b))) div ($b))"

  /** ONE gradient step over a (y, x0, x1, x2) feature frame against a
    * broadcast 1-row (w0, w1, w2) weight frame: map-side-combinable
    * aggregate, lr = 0.1 as the /10 in the update. Returns the 1-row
    * (n, w0, w1, w2, sae6) post-step frame; empty input holds the
    * weights. The incoming weights ride OUTSIDE the row aggregate (a
    * crossJoin back after the gradient agg) — an earlier form carried
    * them through max(wj), which on an EMPTY batch aggregated to NULL
    * and coalesced to 0, silently resetting the weights (and, via
    * [[sgdIngestBatch]], writing a zero-weight ledger row that every
    * later batch trained from). */
  def step(feats: DataFrame, w: DataFrame): DataFrame =
    feats.crossJoin(broadcast(w))
      .withColumn("z6", expr("x0*w0 + x1*w1 + x2*w2"))
      .withColumn("r6", expr(
        s"500000 + ${fd("500000*z6", "1000000 + abs(z6)")} - y*1000000"))
      .agg(count(lit(1)).as("n"),
        sum(expr("x0*r6")).as("g0"), sum(expr("x1*r6")).as("g1"),
        sum(expr("x2*r6")).as("g2"), sum(abs(col("r6"))).as("sae6"))
      .crossJoin(broadcast(w))
      .select(col("n"),
        expr(s"w0 - ${fd("coalesce(g0, 0L)", "greatest(n, 1L)*10")}").as("w0"),
        expr(s"w1 - ${fd("coalesce(g1, 0L)", "greatest(n, 1L)*10")}").as("w1"),
        expr(s"w2 - ${fd("coalesce(g2, 0L)", "greatest(n, 1L)*10")}").as("w2"),
        coalesce(col("sae6"), lit(0L)).as("sae6"))

  /** K full-batch epochs from zero init: each epoch ONE [[step]], the
    * 1-row weights localCheckpointed so the lazy chain never re-runs
    * earlier epochs. Returns the K per-epoch frames (quality_train emits
    * the whole trajectory; its eval takes `.last`). */
  def epochs(s: SparkSession, feats: DataFrame, k: Int): Seq[DataFrame] = {
    var w = s.range(1)
      .select(lit(0L).as("w0"), lit(0L).as("w1"), lit(0L).as("w2"))
    (1 to k).map { _ =>
      val out = step(feats, w).localCheckpoint()
      w = out.select("w0", "w1", "w2")
      out
    }
  }

  /** Post-step batch output row (no batch_id column — the id is the
    * output partition directory; a physical twin column would collide
    * with partition discovery when consumers read the parent dir). */
  val OutSchema: StructType = StructType(Seq(
    StructField("n", LongType),
    StructField("w0", LongType), StructField("w1", LongType),
    StructField("w2", LongType), StructField("sae6", LongType)))

  /** Standing weights ledger: one row per applied batch. */
  val LedgerSchema: StructType =
    StructType(StructField("batch_id", LongType) +: OutSchema.fields)

  /** Latest weights as of a (replay-duplicate-tolerant) ledger frame:
    * full-row dedup, LOUD conflict guard (two rows disagreeing on one
    * batch_id can only come from misuse — readLedger's contract), then
    * the max-batch_id row; zeros before the first batch. */
  def latestWeights(ledger: DataFrame): DataFrame = {
    val rows = ledger.dropDuplicates()
    val conflicts = rows.groupBy("batch_id").count()
      .filter(col("count") > 1).count()
    require(conflicts == 0,
      s"sgd ledger: $conflicts batch_id(s) carry conflicting weights")
    rows.unionByName(rows.sparkSession.range(1)
        .select(lit(-1L).as("batch_id"), lit(0L).as("n"), lit(0L).as("w0"),
          lit(0L).as("w1"), lit(0L).as("w2"), lit(0L).as("sae6")))
      .orderBy(desc("batch_id")).limit(1)
      .select("w0", "w1", "w2")
  }

  // ------------------------------------------------------------------
  // Hashed sparse-feature variant — the fastText-filter shape: features
  // are hashed token frequencies (slot = hash(token) mod D), so the
  // model trains on TEXT, not on size buckets. Same exact int64
  // micro-unit contract as [[step]] (Elliott rational sigmoid,
  // exact-multiple floor-div), extended with the two tricks that make
  // full-batch GD actually converge on bag-of-words features while
  // staying SPARSE:
  //
  //  * per-slot CENTERING via scalar correction — centered features are
  //    dense (absent slots become −mean), but algebra keeps the compute
  //    sparse: z̃_d = Σ_active x·w − Σ_s m_s·w_s (one global scalar M),
  //    g̃_s = Σ_active x·r − m_s·ΣR (one global scalar R);
  //  * diagonal (Jacobi) preconditioning — each slot's gradient is
  //    divided by its train-fold centered second moment, the sqrt-free
  //    member of the diagonal-Newton/AdaGrad family, so the step size
  //    is per-coordinate scale-invariant (raw frequency features span
  //    2+ orders of magnitude; unpreconditioned GD stalls on the
  //    common-token mean direction).
  //
  // The intercept is slot −1 with x6 = 10⁶ (one natural unit) in every
  // doc: excluded from centering (m6 forced 0), its second moment is
  // n·10¹², so the unified update reduces EXACTLY to the classic
  // intercept step fd(R·lr, n) — floor(10⁶a/10⁶b) = floor(a/b). R
  // itself is recovered from the intercept's raw gradient, an exact
  // 10⁶-multiple, so no second aggregate over the corpus is needed.
  //
  // Per-epoch plan: ONE scan of the localCheckpointed doc-feature
  // arrays + ONE ≤D-key map-side-combinable shuffle; weights/stats are
  // ≤D-row frames that travel by broadcast. Int64 bounds: Σx6² ≤
  // n·10¹², gradient ≤ n·10¹²·lr — safe past 10⁶ docs per fold at the
  // worst case (single-token docs), ~10⁸ realistic; beyond that move
  // the two sums to DECIMAL(38,0), chisq-style.
  // ------------------------------------------------------------------

  /** Hash-feature hyperparameters: lr = HashLrNum/HashLrDen = 2 (safe
    * because preconditioning normalizes per-coordinate curvature). */
  val HashLrNum = 2L

  /** Per-slot train-fold statistics over an exploded
    * (doc_id, y, slot, x6) feature frame (intercept rows slot=−1,
    * x6=10⁶ included): mean m6 (0 for the intercept — it is not
    * centered), centered second moment v6 = Σx6² − 2·m6·Σx6 + n·m6²,
    * and the preconditioner denominator den = max(v6 div 10⁶, n) — the
    * clamp degrades near-constant slots to the plain GD step instead
    * of letting a tiny variance explode the update. */
  def hashedStats(feats: DataFrame): DataFrame = {
    val nF = feats.filter(col("slot") === -1L)
      .agg(count(lit(1)).as("n"))
    feats.groupBy("slot")
      .agg(sum(col("x6")).as("sx"), sum(col("x6") * col("x6")).as("sxx"))
      .crossJoin(broadcast(nF))
      .withColumn("m6", expr(
        s"CASE WHEN slot = -1 THEN 0L ELSE ${fd("sx", "greatest(n, 1L)")} END"))
      .select(col("slot"), col("n"), col("m6"),
        expr("sxx - 2*m6*sx + n*m6*m6").as("v6"))
      .withColumn("den", expr(s"greatest(${fd("v6", "1000000")}, n)"))
      .localCheckpoint()
  }

  /** (doc_id, y, fs) array form of the exploded feature frame — built
    * once and localCheckpointed so each epoch re-reads one compact
    * materialization instead of re-running the corpus scan. */
  private[graft] def hashedDocs(feats: DataFrame): DataFrame =
    feats.groupBy("doc_id", "y")
      .agg(collect_list(struct(col("slot"), col("x6"))).as("fs"))
      .localCheckpoint()

  /** 1-row broadcast context for a weight frame: the slot→w map plus
    * the centering scalar M = Σ m6·w. */
  private def hashedCtx(w: DataFrame, stats: DataFrame): DataFrame =
    w.join(stats.select("slot", "m6"), Seq("slot"), "left")
      .agg(
        map_from_entries(collect_list(struct(col("slot"), col("w")))).as("wm"),
        coalesce(sum(col("m6") * col("w")), lit(0L)).as("mm"))

  private val hashedZ6 =
    fd("aggregate(fs, 0L, (acc, e) -> acc + e.x6 * coalesce(try_element_at(wm, e.slot), 0L)) - mm",
      "1000000")

  /** 1-row broadcast context for the FROZEN per-slot stats: the sorted
    * slot domain plus slot→m6 / slot→den lookup maps — built once per
    * training fold so the per-epoch kernel never joins the 4096-row
    * stats frame again ([[hashedStepCtx]]). */
  private def statsCtxOf(stats: DataFrame): DataFrame =
    stats.agg(
      sort_array(collect_list(col("slot"))).as("slots"),
      map_from_entries(collect_list(struct(col("slot"), col("m6")))).as("msm"),
      map_from_entries(collect_list(struct(col("slot"), col("den")))).as("dsm"))

  /** The per-slot update over the gradient map `gm`, old weights `wm`,
    * and stats maps — EXACTLY the row-frame arithmetic
    * (coalesce(w,0) − fd((coalesce(graw,0) − m6·rr)·lr, den) over the
    * stats slot domain), expressed over broadcast maps so one epoch is
    * ONE fused job instead of a graw checkpoint + three 4096-row joins.
    * rr = fd(gm[intercept], 10⁶), 0 on an empty batch — the empty-batch
    * weight-hold contract is unchanged (gm lookups coalesce to 0). */
  private val hashedGradExpr: String = {
    val g = "(coalesce(try_element_at(gm, s), 0L) - try_element_at(msm, s) * rr)"
    s"transform(slots, s -> coalesce(try_element_at(wm, s), 0L) - ${fd(s"$g*$HashLrNum", "try_element_at(dsm, s)")})"
  }

  /** ONE centered, preconditioned epoch as a fused single-pass plan:
    * docs × broadcast(wctx) → residuals → ONE slot-keyed combinable
    * shuffle → ONE 1-row gradient-map fold → the map-typed update. The
    * result is the NEXT 1-row (wm, mm) state. This private kernel is the
    * one definition both [[hashedStep]] (row frames in/out — the ingest
    * leg's interface) and [[hashedEpochs]] (map-state loop) execute, so
    * batch-K-epochs ≡ K-identical-ingest-batches still holds by shared
    * arithmetic. */
  private def hashedStepCtx(docs: DataFrame, wctx: DataFrame,
      sctx: DataFrame): DataFrame = {
    val r = docs.crossJoin(broadcast(wctx))
      .withColumn("z6", expr(hashedZ6))
      .withColumn("r6", expr(
        s"500000 + ${fd("500000*z6", "1000000 + abs(z6)")} - y*1000000"))
    r.select(explode(col("fs")).as("e"), col("r6"))
      .select(col("e.slot").as("slot"), (col("e.x6") * col("r6")).as("xr"))
      .groupBy("slot").agg(sum("xr").as("graw"))
      .agg(map_from_entries(collect_list(struct(col("slot"), col("graw"))))
        .as("gm"))
      .crossJoin(broadcast(sctx))
      .crossJoin(broadcast(wctx.select("wm")))
      // R = Σ_docs r6, recovered from the intercept's raw gradient (an
      // exact 10⁶-multiple); try_element_at misses coalesce to 0 so an
      // empty batch reduces to w − fd(0, den) = w (weights held exactly)
      .withColumn("rr",
        expr(fd("coalesce(try_element_at(gm, -1L), 0L)", "1000000")))
      .withColumn("wa", expr(hashedGradExpr))
      // mm = Σ m6·w over the slot domain (msm[-1] is 0 by construction,
      // so the intercept contributes nothing — same as the row form's
      // left-join sum); wa is positionally aligned with slots
      .select(map_from_arrays(col("slots"), col("wa")).as("wm"),
        expr("aggregate(zip_with(slots, wa, (s, w) -> try_element_at(msm, s) * w), 0L, (acc, x) -> acc + x)")
          .as("mm"))
  }

  /** The map-typed weight state exploded back to (slot, w) rows. */
  private def wctxRows(wctx: DataFrame): DataFrame =
    wctx.select(explode(col("wm")).as(Seq("slot", "w")))

  /** ONE centered, preconditioned gradient step over a [[hashedDocs]]
    * array frame against the (slot, w) weights and the (frozen) per-slot
    * stats — the shared kernel of the batch [[hashedEpochs]] loop and
    * the online [[hashedSgdIngestBatch]] ingest leg, so batch-K-epochs ≡
    * K-identical-ingest-batches holds by construction (both run
    * [[hashedStepCtx]]). The weight domain is the STATS slots, so an
    * EMPTY weight frame is a well-defined zero init, and an EMPTY doc
    * batch yields gm = ∅ and rr = 0 — the update reduces to
    * w − fd(0, den), holding the incoming weights exactly (the
    * empty-batch lesson from the 3-feature [[step]], hashed edition;
    * spec-pinned). */
  def hashedStep(docs: DataFrame, w: DataFrame, stats: DataFrame): DataFrame =
    wctxRows(hashedStepCtx(docs, hashedCtx(w, stats), statsCtxOf(stats)))

  /** K full-batch epochs of centered, preconditioned hashed-feature
    * logistic regression from zero init. Returns the per-slot stats
    * frame plus the K per-epoch (slot, w) weight frames (weight domain
    * = the fold's slots; an empty fold yields empty frames — the exact
    * SQL-twin answer). The loop carries the 1-row map STATE
    * (localCheckpointed per epoch — one fused job each, replacing the
    * old form's per-epoch graw checkpoint + three 4096-row joins + row
    * checkpoint); the returned frames are cheap explode views of the
    * checkpointed states. */
  def hashedEpochs(feats: DataFrame, k: Int): (DataFrame, Seq[DataFrame]) = {
    val stats = hashedStats(feats)
    val docs = hashedDocs(feats)
    val sctx = statsCtxOf(stats).localCheckpoint()
    // zero init over the stats slot domain: wm = {s → 0}, mm = 0
    var wctx = sctx.select(
      map_from_arrays(col("slots"), expr("transform(slots, s -> 0L)")).as("wm"),
      lit(0L).as("mm"))
    val out = (1 to k).map { _ =>
      wctx = hashedStepCtx(docs, wctx, sctx).localCheckpoint()
      wctxRows(wctx)
    }
    (stats, out)
  }

  /** Score an exploded feature frame against trained weights + the
    * TRAIN fold's stats (standard practice: test features are centered
    * with train-fold means): (doc_id, y, z6); decision boundary z6>0. */
  def hashedPredict(feats: DataFrame, w: DataFrame,
      stats: DataFrame): DataFrame =
    hashedDocs(feats).crossJoin(broadcast(hashedCtx(w, stats)))
      .select(col("doc_id"), col("y"), expr(hashedZ6).as("z6"))

  /** One feature micro-batch through online SGD, exactly-once on the
    * [[IngestRecipe]] seam: anti-join the standing weights ledger on this
    * batch's own batch_id (a replay that crashed after the merge landed
    * steps from the exact pre-crash weights), apply ONE [[step]] from the
    * latest surviving weights, write the post-step row under
    * `batch_id=<id>` (overwrite — replay rewrites, never re-appends), and
    * append it to the ledger via the output read-back (the cap-ledger
    * shape: the merge IS a projection of the probe's own output).
    *
    * Semantics: one gradient step per arriving batch — online SGD, the
    * training loop a 100 TB ingest actually runs (re-running K epochs
    * over all history per batch would be O(corpus) per batch). Feeding
    * the SAME feature batch as batches 1..K reproduces
    * `quality_train`'s K epochs bit-for-bit (identical [[step]];
    * spec-pinned). Ledger size is one row per batch — monitoring-scale,
    * never data-scale; [[IngestRecipe.compact]] is the standing repair
    * for replay duplicates. */
  def sgdIngestBatch(feats: DataFrame, ledgerPath: String, outPath: String,
      batchId: Long): Unit = {
    val spark = feats.sparkSession
    val keys = spark.range(1).select(lit(batchId).as("batch_id"))
    IngestRecipe.applyBatchMergeFromOutput(batchId, outPath, OutSchema,
      Seq((ledgerPath, LedgerSchema, keys))) {
      case Seq(base) =>
        // step from the weights AS OF batch_id-1, never "latest": a
        // sequential trainer's input state is defined by batch ORDER, so
        // a replay must recompute identical weights even if later
        // batches' rows already landed (caught by TrainerSpec: an
        // unfiltered latest made an out-of-order replay step from the
        // FUTURE and append a conflicting ledger row)
        step(feats, latestWeights(base.filter(col("batch_id") < batchId)))
    } { outBack =>
      Seq(IngestRecipe.IndexPart(ledgerPath, LedgerSchema,
        outBack.select(lit(batchId).as("batch_id"), col("n"), col("w0"),
          col("w1"), col("w2"), col("sae6"))))
    }
  }

  // ------------------------------------------------------------------
  // Hashed-feature SGD at ingest — the production-shaped filter (the
  // 4096-slot hashed model that actually separates held-out data)
  // trained ONE gradient step per arriving batch, on the same
  // IngestRecipe seam as the 3-feature [[sgdIngestBatch]]. Per-slot
  // weights ride a LEDGER (batch_id, slot, w) — one ≤(D+1)-row weight
  // vector per applied batch, monitoring-scale, never data-scale.
  //
  // The per-slot STATS (centering means + Jacobi preconditioner) are
  // FROZEN from a train fold and passed in by the caller — the same
  // freeze the cascade applies to its centroids. The alternative
  // (running-sum stats) would make each step's preconditioner depend on
  // arrival order in a way no batch twin can replay, and production
  // hashed filters do exactly this freeze: featurizer statistics are
  // fit once offline, the online pass only updates weights.
  // ------------------------------------------------------------------

  /** Per-batch output of [[hashedSgdIngestBatch]]: the full post-step
    * weight vector (batch_id is the partition directory). */
  val HashedOutSchema: StructType = StructType(Seq(
    StructField("slot", LongType), StructField("w", LongType)))

  /** Standing hashed-weights ledger: the post-step weight vector of
    * every applied batch. */
  val HashedLedgerSchema: StructType =
    StructType(StructField("batch_id", LongType) +: HashedOutSchema.fields)

  /** Latest weight vector in a (replay-duplicate-tolerant) hashed
    * ledger frame: select the max-batch_id rows, full-row dedup, LOUD
    * conflict guard (two surviving rows on one slot can only come from
    * misuse). The guard scans only the SELECTED vector — O(slots), not
    * O(batches × slots) per probe: a conflict on an older batch cannot
    * change the weights this read feeds (only max-batch rows are
    * selected), and the per-batch ingest calls this on every arriving
    * batch, so a full-ledger scan here would make probe cost grow with
    * stream age between compactions. An empty ledger yields an EMPTY
    * (slot, w) frame — [[hashedStep]]'s well-defined zero init. */
  def latestHashedWeights(ledger: DataFrame): DataFrame = {
    val rows = ledger
      .crossJoin(broadcast(ledger.agg(max("batch_id").as("mb"))))
      .filter(col("batch_id") === col("mb"))
      .dropDuplicates()
      .select("slot", "w")
      .localCheckpoint()
    val conflicts = rows.groupBy("slot").count()
      .filter(col("count") > 1).count()
    require(conflicts == 0,
      s"hashed sgd ledger: $conflicts slot(s) carry conflicting weights at the latest batch")
    rows
  }

  /** One hashed-feature micro-batch through online SGD, exactly-once on
    * the [[IngestRecipe]] seam — identical armor to [[sgdIngestBatch]]:
    * anti-join the standing ledger on this batch's own batch_id, apply
    * ONE [[hashedStep]] from the weights AS OF batch_id−1 (never
    * "latest" — a replay must recompute identical weights even if later
    * batches' rows already landed), write the post-step vector under
    * `batch_id=<id>` overwrite, append it to the ledger via the output
    * read-back. `feats` is the exploded (doc_id, y, slot, x6) frame of
    * the arriving docs; `stats` the frozen train-fold statistics.
    * Feeding the SAME feature batch as batches 1..K reproduces
    * [[hashedEpochs]]' K epochs bit-for-bit (shared [[hashedStep]];
    * spec-pinned), and an empty batch holds the standing weights. */
  def hashedSgdIngestBatch(feats: DataFrame, stats: DataFrame,
      ledgerPath: String, outPath: String, batchId: Long): Unit = {
    val spark = feats.sparkSession
    val keys = spark.range(1).select(lit(batchId).as("batch_id"))
    IngestRecipe.applyBatchMergeFromOutput(batchId, outPath, HashedOutSchema,
      Seq((ledgerPath, HashedLedgerSchema, keys))) {
      case Seq(base) =>
        hashedStep(hashedDocs(feats),
          latestHashedWeights(base.filter(col("batch_id") < batchId)), stats)
    } { outBack =>
      Seq(IngestRecipe.IndexPart(ledgerPath, HashedLedgerSchema,
        outBack.select(lit(batchId).as("batch_id"), col("slot"), col("w"))))
    }
  }
}
