package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003, the
  * MOSS algorithm) and its standing-index/ingest forms. Per document:
  * hash every token k-gram, slide a window of w consecutive gram hashes,
  * select the minimum of each window (ties broken RIGHTMOST, per the
  * paper); the distinct selected (hash, position) pairs are the
  * document's fingerprints. Guarantee: any token run of length ≥ k+w−1
  * shared by two documents contributes at least one shared fingerprint,
  * while only ~2/(w+1) of gram positions are stored — the sampling law
  * that keeps a substring-dedup index affordable at 100 TB (k=4, w=5
  * preserves the full-gram operators' ≥8-token detection contract at a
  * third of the index size).
  *
  * The min-of-window + rightmost tie-break is encoded order-compatibly
  * in both engines as one sortable string: md5(gram) ‖ zero-padded
  * (10⁶ − pos) — lexicographic min is (min hash, then max pos). The
  * position complement assumes docs under 10⁶ tokens (the corpus max is
  * ~10³; a longer corpus raises the pad width).
  *
  * Plan shapes: fingerprint selection is fully NARROW — one compiled
  * per-row pass ([[graft.functions.WinnowSelect]]: a doc's grams live in
  * its own row by construction — never gram-partitioned, the
  * hot-boilerplate hazard, and never shuffled at all);
  * every cross-doc join keys on the 16-byte digest, never gram text,
  * with `shuffle_hash` pinned (fingerprint fan-out is data-dependent).
  * Selection is per-document, so a delta batch's fingerprints never
  * depend on the rest of the corpus — exactly what makes the O(delta)
  * ingest form sound.
  */
object Winnow {

  /** Standing fingerprint index: one row per selected (doc, hash). */
  val IndexSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("fh", StringType)))

  /** The r17 narrow fingerprint selection: the whole per-document pass
    * (gram hashing, min-of-window with rightmost tie-break, per-doc
    * distinct, the loud 10^6 pad-contract guard) runs INSIDE the source
    * row via [[graft.functions.WinnowSelect]] — one compiled pass, zero
    * shuffles. The earlier row form posexploded the gram stream into a
    * doc_id-keyed Exchange+Sort (window min) plus a distinct Exchange:
    * corpus-sized shuffles that existed only to reassemble per-document
    * adjacency the row already had. Value-identical (ScaleOpsSpec pins
    * the distributed counts against a scalar reference; ExtSpec pins
    * this form against an inline copy of the window form). */
  private def winnowSel(k: Int, w: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.WinnowSelect(
        org.apache.spark.sql.GraftColumnBridge.expression(
          split(trim(col("text")), "\\s+")), k, w))

  /** The selected fingerprints: distinct (doc_id, sel, fh) where `sel`
    * encodes (hash, position) and `fh` is the bare 32-hex digest — the
    * cross-doc join key. Shared by every consumer so all read the SAME
    * fingerprint definition. */
  def fingerprints(docs: DataFrame, k: Int = 4, w: Int = 5): DataFrame =
    docs
      .select(col("doc_id"), explode(winnowSel(k, w)).as("sel"))
      .withColumn("fh", substring(col("sel"), 1, 32))

  /** Per-doc fingerprint stats — the `text_winnowing` body: gram volume,
    * selected fingerprints, how many are shared with another doc, and
    * the realized sample rate. */
  def stats(docs: DataFrame, k: Int = 4, w: Int = 5): DataFrame = {
    val fps = fingerprints(docs, k, w)
    val freq = fps.groupBy("fh").agg(countDistinct("doc_id").as("nd"))
    // gram volume is per-row arithmetic (positions = tokens − k + 1 for
    // any doc holding ≥ k tokens) — the gram stream is never materialized
    val perDocG = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), (size(col("t")) - (k - 1)).cast("long").as("n_grams"))
    val perDocF = fps.join(freq.hint("shuffle_hash"), "fh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fps"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared_fps"))
    perDocG.join(perDocF, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_fps"), lit(0L)).as("n_fps"),
        coalesce(col("n_shared_fps"), lit(0L)).as("n_shared_fps"),
        round(coalesce(col("n_fps"), lit(0L)).cast("double") / col("n_grams"), 4)
          .as("sample_rate"),
        when(coalesce(col("n_fps"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(coalesce(col("n_shared_fps"), lit(0L)).cast("double")
            / col("n_fps"), 4)).as("shared_frac"))
      .orderBy("doc_id")
  }

  /** MOSS-style near-dup PAIR detection from a fingerprint table
    * ((doc_id, fh), distinct per doc): doc pairs sharing ≥ `minShared`
    * distinct hashes, scored by containment n_shared / min(|A|, |B|).
    * Fingerprints in more than `maxDf` documents are excluded from pair
    * GENERATION (boilerplate — a d-doc fingerprint yields d² pairs; the
    * same hub-exclusion contract as graph_link_predict's, applied
    * identically by the oracle) but still count in each doc's |fp|
    * total. Serves both the inline query and the standing-index form —
    * identical output by construction.
    *
    * Plan shape: the rows are hash-partitioned ONCE on `fh`; the
    * per-(doc, fh) distinct, the fingerprint frequency, the frequency
    * join and the pair self-join all read that one exchange (every
    * branch reuses it), so the kernel pass and the input scan run once.
    * The doc key travels as two non-null columns, `dn` (doc_id is null)
    * and `dv` (doc_id, 0 for null): a null-intolerant use of a nullable
    * doc_id (the pair order, the sizes join) makes Catalyst infer an
    * isnotnull(doc_id) filter and push it below the exchange in those
    * branches only, while the frequency branch must still count null-doc
    * rows, and the exchange would split in two. Null docs keep their old
    * meaning: they count in `nd`, pair with nothing and carry no size into
    * the output. A nullable `fh` (every parquet read, so the index form)
    * travels non-null too, for the same reason: a null hash becomes
    * U+0000 ‖ doc_id, a key no 32-hex digest equals and no other doc
    * shares, so it counts once in the doc's |fp|, reaches a frequency of
    * 1 and joins nothing — what a null hash did before. A non-nullable
    * `fh` (the inline form) is used as it is. */
  def pairsFrom(fps0: DataFrame, minShared: Int = 2, maxDf: Int = 50): DataFrame = {
    val fh =
      if (!fps0.schema("fh").nullable) col("fh")
      else coalesce(col("fh"),
        concat(lit("\u0000"), coalesce(col("doc_id").cast("string"), lit(""))))
    val fps = fps0
      .select(col("doc_id").isNull.as("dn"), coalesce(col("doc_id"), lit(0)).as("dv"),
        fh.as("fh"))
      .repartition(col("fh"))
      .distinct()
    val freq = fps.groupBy("fh").agg(count(lit(1)).as("nd"))
    val sizes = fps.groupBy("dn", "dv").agg(count(lit(1)).as("n_fp"))
    val joinable = fps.join(freq.hint("shuffle_hash"), "fh")
      .filter(col("nd") >= 2 && col("nd") <= maxDf)
      .select("dn", "dv", "fh")
    // a null doc sorts after every doc as the left side and before every
    // doc as the right one, so it pairs with nothing — one comparison
    // across the two sides: a per-side filter would be pushed below the
    // exchange, and an equality would become a join key that
    // re-partitions both sides
    def order(side: String, nullAs: Long): Column =
      when(col(s"$side.dn"), lit(nullAs)).otherwise(col(s"$side.dv"))
    joinable.as("a")
      .join(joinable.as("b").hint("shuffle_hash"),
        col("a.fh") === col("b.fh") && order("a", Long.MaxValue) < order("b", Long.MinValue))
      .groupBy(col("a.dn").as("dn"), col("a.dv").as("doc_a"), col("b.dv").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.select(col("dn"), col("dv").as("doc_a"), col("n_fp").as("n_a"))
        .hint("shuffle_hash"), Seq("dn", "doc_a"))
      .join(sizes.select(col("dn"), col("dv").as("doc_b"), col("n_fp").as("n_b"))
        .hint("shuffle_hash"), Seq("dn", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"), col("n_b"),
        round(col("n_shared").cast("double") / least(col("n_a"), col("n_b")), 4)
          .as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** Inline pair detection over a corpus (fingerprint + pair in one
    * plan) — the `dedup_winnow_pairs` body. */
  def pairs(docs: DataFrame, k: Int = 4, w: Int = 5,
      minShared: Int = 2, maxDf: Int = 50): DataFrame =
    pairsFrom(fingerprints(docs, k, w), minShared, maxDf)

  /** Materialize the standing fingerprint index — the once-per-snapshot
    * pass whose cost every later screen amortizes. Distinct on
    * (doc_id, fh): the same hash selected at several positions (an
    * internally repeated run) must store ONE posting, matching the
    * pair semantics. */
  def buildIndex(docs: DataFrame, path: String, k: Int = 4, w: Int = 5): Unit =
    fingerprints(docs, k, w).select("doc_id", "fh").distinct()
      .write.mode("overwrite").parquet(path)

  /** One document micro-batch through the winnow screen, exactly-once on
    * the [[IngestRecipe]] seam: fingerprint the batch (per-doc narrow
    * work — selection never looks outside the document), probe ONLY the
    * index postings matching the batch's hashes (O(delta·postings), the
    * dedup_incremental cost model), emit every near-dup pair TOUCHING the
    * batch under `batch_id=<id>`, and append the batch's fingerprints to
    * the index. Equal by construction to the full pair run restricted to
    * batch-touching pairs (spec-pinned), with ONE inherent incremental
    * caveat: the `maxDf` hub cap is evaluated over the corpus AS OF the
    * batch — a fingerprint that only later crosses the cap keeps the
    * pairs it emitted earlier (time-of-arrival capping; the batch that
    * pushes it past the cap emits nothing through it). Replay: the anti-join
    * removes the batch's own fingerprints from the probed base, and
    * duplicate index rows from a crashed-after-append replay are
    * identical rows every consumer distinct-collapses
    * ([[IngestRecipe.compact]] is the standing repair). */
  def ingestBatch(batch: DataFrame, indexPath: String, pairsOutPath: String,
      batchId: Long, k: Int = 4, w: Int = 5,
      minShared: Int = 2, maxDf: Int = 50): Unit = {
    // fingerprint ONCE (localCheckpoint: the probe references this frame
    // four times and the index merge once — without materialization the
    // text-reading selection pass would rerun per reference); distinct on
    // (doc_id, fh) because a hash selected at several positions (an
    // internally repeated run) must count as ONE posting, exactly as
    // pairsFrom's distinct does in the inline/full run
    val batchFps = fingerprints(batch, k, w).select("doc_id", "fh")
      .distinct().localCheckpoint()
    IngestRecipe.applyBatch(batchId, pairsOutPath,
      Seq(IngestRecipe.IndexPart(indexPath, IndexSchema, batchFps)
        -> batch.select("doc_id"))) {
      case Seq(base0) =>
        val base = base0.distinct() // replay-duplicate tolerance
        // postings restricted to hashes the batch actually carries —
        // the O(delta) screen; everything downstream sees base ∪ batch
        val touched = base.join(batchFps.select("fh").distinct()
          .hint("shuffle_hash"), Seq("fh"), "left_semi")
        val union = touched.unionByName(batchFps)
        val freq = union.groupBy("fh").agg(count(lit(1)).as("nd"))
        val joinable = union.join(freq.hint("shuffle_hash"), "fh")
          .filter(col("nd") >= 2 && col("nd") <= maxDf)
          .select("doc_id", "fh")
        val batchIds = batchFps.select("doc_id").distinct()
        val rawPairs = joinable.as("a")
          .join(joinable.as("b").hint("shuffle_hash"),
            col("a.fh") === col("b.fh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= minShared)
        // keep only pairs touching the batch: a base×base pair seen here
        // shares batch-carried hashes only, so its n_shared is
        // incomplete — and it was already emitted (complete) by the
        // batch that introduced its second doc
        val pairs = rawPairs
          .join(batchIds.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
          .unionByName(rawPairs
            .join(batchIds.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
            .join(batchIds.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti"))
        // per-doc |fp| totals for ONLY the docs appearing in pairs: the
        // batch side from batchFps, the base side from its postings
        val involved = pairs.select(col("doc_a").as("doc_id"))
          .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
        val sizes = base.join(involved.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
          .unionByName(batchFps.join(involved.hint("shuffle_hash"),
            Seq("doc_id"), "left_semi"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
        pairs
          .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("n_a"))
            .hint("shuffle_hash"), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("n_b"))
            .hint("shuffle_hash"), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("n_shared"),
            col("n_a"), col("n_b"),
            round(col("n_shared").cast("double")
              / least(col("n_a"), col("n_b")), 4).as("containment"))
          .orderBy("doc_a", "doc_b")
    }
  }
}
