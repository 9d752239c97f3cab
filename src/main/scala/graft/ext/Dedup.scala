package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Deduplication operators for an LLM training-data pipeline
  * (BASELINE.json north star): exact, MinHash+LSH, SimHash, token-set
  * Jaccard, and embedding-cosine near-dup — all shuffle-bounded (no O(n²)
  * candidate generation except where a query deliberately brute-forces a
  * restricted slice for its oracle).
  *
  * The harness `documents` table has no natural duplicates (checked at
  * sf0.01), so the dedup queries first PLANT deterministic duplicates —
  * exact copies and one-token mutations keyed off `doc_id` — making
  * recall measurable and the oracle reproducible.
  */
object Dedup {

  // ------------------------------------------------------------ planting
  /** `documents` ∪ exact copies (doc_id+1_000_000, every 20th doc) ∪
    * near-copies with the first token replaced (doc_id+2_000_000, every
    * 25th doc). Pure narrow ops; same expression exists in SQL for the
    * oracle. */
  def planted(docs: DataFrame): DataFrame = {
    val base = docs.select("doc_id", "text")
    val exact = base.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val near = base.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "REPLACED").as("text"))
    base.unionByName(exact).unionByName(near)
  }

  // -------------------------------------------------------------- exact
  /** Exact dedup via hash-groupBy on the full text: one shuffle on the
    * group key (at scale: on `xxhash64(text)` to keep shuffle rows narrow);
    * emits one row per duplicate group with the kept (min) id. */
  def exactDupGroups(docs: DataFrame): DataFrame =
    planted(docs)
      .groupBy("text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select("keep_id", "n_copies")
      .orderBy("keep_id")

  // ---------------------------------------------------------- shingling
  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Word k-shingles as strings ("a b c"); empty array when < k tokens.
    * Array form — convenient for per-row use, but the transform/slice
    * higher-order chain is interpreted; the dedup pipeline uses the
    * codegen-friendly row form [[shingleRows]] instead (~20× faster). */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = tokens(text)
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
      .otherwise(array())
  }

  /** Zipped k-gram windows of a token-array column: element i of the
    * result is the struct of tokens (t[i+1], …, t[i+k]) — one entry per
    * gram start position, empty for arrays shorter than k (the
    * `greatest(…, 0)` length clamp). Built from k shifted `slice`s fused
    * by `arrays_zip`, ALL regular codegen'd expressions — this is the
    * codegen replacement for two earlier forms measured much slower:
    * the per-position `transform(sequence(…), i -> slice(…))` chain is
    * an interpreted HigherOrderFunction doing O(len·k) interpreted work
    * per doc, and the posexplode + window-`lead` row form pays a full
    * token-stream Exchange + sort per shingling pass (at 100 TB: a
    * corpus-sized shuffle that exists only to reassemble adjacency the
    * source row already had). Struct fields are named "0".."k-1"
    * (arrays_zip's positional naming for unnamed inputs). */
  private[graft] def gramZip(tk: Column, k: Int): Column = {
    val m = greatest(size(tk) - (k - 1), lit(0))
    arrays_zip((0 until k).map(i => slice(tk, lit(i + 1), m)): _*)
  }

  /** `concat_ws(" ", g.0 … g.k-1)` over one [[gramZip]] struct. */
  private[graft] def gramString(g: Column, k: Int): Column =
    concat_ws(" ", (0 until k).map(i => g.getField(i.toString)): _*)

  /** Word k-shingles as (doc_id, s) rows: zero-shuffle, fully codegen'd
    * — tokens → [[gramZip]] → explode → concat. The earlier window-`lead`
    * row form shuffled and sorted the whole exploded token stream (one
    * Exchange per shingling pass) just to see k consecutive tokens that
    * were already adjacent in the source row's array; slicing the array
    * k ways and zipping keeps the plan narrow, so shingling runs at scan
    * speed and the FIRST wide op downstream is the aggregation that
    * actually needs a shuffle. Output rows/values are identical. */
  def shingleRows(docsWithText: DataFrame, k: Int = 3): DataFrame =
    docsWithText
      .select(col("doc_id"), explode(gramZip(tokens(col("text")), k)).as("g"))
      .select(col("doc_id"), gramString(col("g"), k).as("s"))

  // ------------------------------------------------------------- minhash
  /** Seeded universal-hash parameters for the MinHash permutations. */
  private val MinhashPrime = 1000000007L
  private def perms(n: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)((math.abs(rnd.nextLong()) % (MinhashPrime - 1) + 1,
      math.abs(rnd.nextLong()) % MinhashPrime))
  }

  /** MinHash signatures via explode → ONE codegen'd hash-aggregation: the
    * (doc, shingle-hash) stream is reduced with 64 `min(affine(h))` agg
    * columns. This stays entirely inside WholeStageCodegen — the earlier
    * nested higher-order-function formulation (array_min ∘ transform per
    * permutation) was CodegenFallback and measured ~50× slower at sf0.1.
    * Map-side partial min makes the shuffle carry one 64-long row per doc
    * per partition. Output: (doc_id, m0..m{n-1}). */
  def minhashSignatures(shingleRowsDf: DataFrame, numPerms: Int = 32,
      seed: Long = 42L): DataFrame = {
    // xxhash64 output is first reduced into [0, p) so the affine map stays
    // below 2^63 (ANSI mode makes silent wraparound an error): a,h < p ≈ 2^30
    // ⇒ a*h+b < 2^61.
    val hashed = shingleRowsDf
      .select(col("doc_id"), pmod(xxhash64(col("s")), lit(MinhashPrime)).as("h"))
    val aggs = perms(numPerms, seed).zipWithIndex.map { case ((a, b), j) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(MinhashPrime))).as(s"m$j")
    }
    hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: signature columns → `numBands` (band, bandHash) rows.
    * Candidate pairs then come from a self-equi-join on (band, bandHash) —
    * ONE shuffle keyed by band hash, never an all-pairs comparison. At
    * 100 TB the bucket join is the only wide operation and AQE handles the
    * skewed "common shingle" buckets. */
  /** Banded LSH signature rows (doc_id, band, bhash) — the self-contained
    * per-document index entry set. Kept as its own seam so it can be
    * PERSISTED as a corpus artifact and probed incrementally
    * ([[minhashIncrementalPairs]]): the production dedup-at-ingest shape
    * is "signatures of the standing corpus live in a table; each new
    * batch computes only ITS signatures and joins against that table". */
  def bandedSignatures(shingleRowsDf: DataFrame, numPerms: Int = 32,
      numBands: Int = 8, seed: Long = 42L): DataFrame =
    bandRows(minhashSignatures(shingleRowsDf, numPerms, seed),
      numPerms, numBands)

  /** Band an ALREADY-computed [[minhashSignatures]] frame into `numBands`
    * (doc_id, band, bhash) rows. Split out of [[bandedSignatures]] so a
    * banding-parameter sweep can serve every (bands, rows) setting from
    * ONE signature pass — the signature aggregation is the dominant cost,
    * re-banding is a narrow per-row projection. Band boundaries chunk the
    * permutations sequentially, so settings whose band counts divide each
    * other NEST: a match on a wide band implies a match on every sub-band
    * it contains (candidate sets are monotone in `numBands`). */
  def bandRows(sigs: DataFrame, numPerms: Int, numBands: Int): DataFrame = {
    // a non-dividing band count would silently drop trailing permutations
    // (weakening every band) and break the nesting guarantee above; a
    // numPerms wider than the frame would silently band a prefix
    require(numPerms % numBands == 0,
      s"numBands=$numBands must divide numPerms=$numPerms")
    require(sigs.columns.contains(s"m${numPerms - 1}"),
      s"signature frame lacks column m${numPerms - 1}: numPerms mismatch")
    val rowsPerBand = numPerms / numBands
    sigs.select(col("doc_id"),
      posexplode(array((0 until numBands).map { b =>
        xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => col(s"m$i")): _*)
      }: _*)).as(Seq("band", "bhash")))
  }

  /** Candidate pairs from LSH banding over the shingle rows. `shingleRowsDf`
    * feeds multiple join branches; callers should `localCheckpoint` it
    * first (at cluster scale: persist the signature table to parquet for
    * reuse across dedup runs). */
  def minhashCandidates(shingleRowsDf: DataFrame, numPerms: Int = 32,
      numBands: Int = 8, seed: Long = 42L): DataFrame =
    candidatesFromBanded(
      bandedSignatures(shingleRowsDf, numPerms, numBands, seed).localCheckpoint())

  /** The LSH bucket self-join over already-banded signature rows — the
    * candidate generator shared by the inline path ([[minhashCandidates]])
    * and the `*_indexed` queries that read a persisted [[BandedSchema]]
    * artifact instead of re-signing the corpus. */
  def candidatesFromBanded(banded: DataFrame): DataFrame = {
    val a = banded.select(col("band"), col("bhash"), col("doc_id").as("id_a"))
    val b = banded.select(col("band"), col("bhash"), col("doc_id").as("id_b"))
    // shuffle_hash pinned: both sides are data-dependent in size (duplicate-
    // heavy corpora explode the buckets), so auto-broadcast is a scale trap
    a.join(b.hint("shuffle_hash"), Seq("band", "bhash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** MinHash+LSH near-dup pairs, verified with exact shingle-set Jaccard ≥
    * `threshold`. Verification intersects the exploded DISTINCT shingle
    * sets of just the surviving candidates — a (pair → shingle) equi-join,
    * never array materialization.
    *
    * `persistCand` is the oracle seam ([[graft.queries.OracleAux]]): the
    * harness query persists the LSH candidate pairs so DuckDB can
    * recompute this exact-Jaccard verify over the same pair set. */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.7,
      persistCand: DataFrame => DataFrame = identity): DataFrame =
    verifyPairs(docs, persistCand,
      (inter, szA, szB) => inter / (szA + szB - inter), "jaccard", threshold)

  /** Shared candidate-generation + exact-verify body for the two LSH
    * screens ([[minhashPairs]], [[containmentPairs]]): shingle, size,
    * band-bucket candidates, then the (pair → shingle) intersection
    * equi-join scored by `score(inter, szA, szB)`.
    *
    * Every data-dependent relation is `shuffle_hash`-pinned — the shingle
    * sides are corpus-sized, and the per-doc SIZE tables are too (one row
    * per document), so none may fall back to auto-broadcast on a stats
    * misestimate (the same pin rationale as [[minhashIncrementalPairs]]). */
  private def verifyPairs(docs: DataFrame,
      persistCand: DataFrame => DataFrame,
      score: (Column, Column, Column) => Column,
      scoreName: String, threshold: Double): DataFrame = {
    val sh = shingleRows(planted(docs)).localCheckpoint()
    verifyPairsOver(sh.distinct(), persistCand(minhashCandidates(sh)),
      score, scoreName, threshold)
  }

  /** The exact-verify tail of [[verifyPairs]] over PRE-COMPUTED inputs:
    * shingle rows `shd` and candidate pairs `cand` — the seam the
    * `*_indexed` queries enter through with artifact-fed inputs. Both
    * aggregates are DISTINCT-counting, so duplicate (doc, shingle) rows —
    * the state an at-least-once ingest replay leaves in the standing
    * shingle index ([[dedupIngestBatch]]'s append) — cannot inflate
    * sizes or intersections: the screens stay exact over either the
    * once-built artifact or the ingest-maintained one. */
  private def verifyPairsOver(shd: DataFrame, cand: DataFrame,
      score: (Column, Column, Column) => Column,
      scoreName: String, threshold: Double): DataFrame = {
    val sizes = shd.groupBy("doc_id").agg(countDistinct("s").as("sz"))
    // equi-join on (id, shingle): result rows ARE the intersection entries
    val interCounts = cand
      .join(shd.toDF("id_a", "s").hint("shuffle_hash"), "id_a")
      .join(shd.toDF("id_b", "s").hint("shuffle_hash"), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(countDistinct("s").as("inter"))
    interCounts
      .join(sizes.toDF("id_a", "sz_a").hint("shuffle_hash"), "id_a")
      .join(sizes.toDF("id_b", "sz_b").hint("shuffle_hash"), "id_b")
      .withColumn(scoreName, round(score(col("inter").cast("double"),
        col("sz_a").cast("double"), col("sz_b").cast("double")), 4))
      .filter(col(scoreName) >= threshold)
      .select(col("id_a"), col("id_b"), col(scoreName))
      .orderBy("id_a", "id_b")
  }

  /** Containment near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|) over the
    * k-shingle sets — flags doc-IN-doc SUBSET duplication (boilerplate
    * wrappers, quote inflation, copy-with-appendix) that symmetric Jaccard
    * dilutes: a 100-shingle doc fully contained in a 10,000-shingle doc
    * has J ≈ 0.01 but C = 1.0. Candidates reuse the SAME banded MinHash
    * blocking as [[minhashPairs]] — the shared-index variant a pipeline
    * with a standing LSH index runs for cheap containment flags; the
    * verify is the identical (pair → shingle) equi-join with a `least`
    * denominator. Recall caveat, by design: MinHash collisions estimate
    * JACCARD, so a tiny doc buried in a huge one may not collide — full
    * containment recall needs prefix-filtered blocking on the smaller set
    * (the [[graft.ext.Mining.prefixJaccardPairs]] shape) ordered by
    * document frequency; this operator is the index-reuse screen, not
    * that join. */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8,
      persistCand: DataFrame => DataFrame = identity): DataFrame =
    verifyPairs(docs, persistCand,
      (inter, szA, szB) => inter / least(szA, szB), "containment", threshold)

  /** [[minhashPairs]] served from a PERSISTED signature artifact —
    * `banded` is a [[BandedSchema]] table ([[bandedSignatures]] written to
    * parquet), `shinglesDistinct` a [[ShingleSchema]] table — instead of
    * re-shingling and re-signing the corpus. Output-identical to the
    * inline form over the same corpus; this is the shape a standing
    * pipeline runs, where the index is built once and every dedup screen
    * reads it. At 100 TB the saving is the whole signature pass: the
    * tokenize→shingle→hash→64-way-min aggregation dominates the inline
    * query's cost and is a pure function of the corpus, so recomputing it
    * per screen is waste the artifact removes. */
  def minhashPairsIndexed(banded: DataFrame, shinglesDistinct: DataFrame,
      threshold: Double = 0.7,
      persistCand: DataFrame => DataFrame = identity): DataFrame =
    verifyPairsOver(shinglesDistinct, persistCand(candidatesFromBanded(banded)),
      (inter, szA, szB) => inter / (szA + szB - inter), "jaccard", threshold)

  /** [[containmentPairs]] served from the SAME persisted artifact as
    * [[minhashPairsIndexed]] — the two screens sharing one signature
    * index is the point of persisting it. Same recall caveat as the
    * inline form: candidates are Jaccard-tuned LSH collisions, so a tiny
    * doc buried in a huge one may never collide. */
  def containmentPairsIndexed(banded: DataFrame, shinglesDistinct: DataFrame,
      threshold: Double = 0.8,
      persistCand: DataFrame => DataFrame = identity): DataFrame =
    verifyPairsOver(shinglesDistinct, persistCand(candidatesFromBanded(banded)),
      (inter, szA, szB) => inter / least(szA, szB), "containment", threshold)

  /** Incremental near-dup detection: a DELTA batch probed against the
    * standing corpus's persisted LSH index — the dedup-at-ingest shape a
    * 100 TB pipeline actually runs (re-signing the whole corpus per batch
    * would be O(corpus) per ingest; this is O(delta) compute + one
    * banded equi-join against the index table).
    *
    *   - `baseBanded`: the standing corpus's (doc_id, band, bhash) rows —
    *     a durable artifact ([[bandedSignatures]] written to parquet,
    *     exactly like the IVF serving index in `sim_topk_ivf_indexed`).
    *   - `deltaDocs`: the new batch (doc_id, text). Only ITS shingles and
    *     signatures are computed here.
    *
    * Candidates are delta×base only (never base×base — those pairs were
    * resolved when the base was ingested); the exact-Jaccard verify joins
    * each side against its own shingle rows. Same banding params as
    * [[minhashCandidates]] so one index serves both batch and incremental
    * dedup. `persistCand` is the oracle seam, as in [[minhashPairs]]. */
  def minhashIncrementalPairs(baseBanded: DataFrame, deltaDocs: DataFrame,
      baseShingles: DataFrame, threshold: Double = 0.7,
      persistCand: DataFrame => DataFrame = identity,
      deltaShingles: Option[DataFrame] = None): DataFrame = {
    // caller may pass precomputed delta shingle rows (the ingest path
    // needs them again for the index merge — shingling is the expensive
    // step, so it must run once per batch, not once per use)
    val deltaSh = deltaShingles.getOrElse(shingleRows(deltaDocs).localCheckpoint())
    val deltaBanded = bandedSignatures(deltaSh)
    // id_d =!= id_b: if the probed index already contains the delta's own
    // signatures (an at-least-once replay after the index merge landed),
    // the band join would emit spurious exact self-pairs (d, d, 1.0) that
    // no downstream (id_d, id_b) dedup can distinguish from real matches
    val cand = persistCand(
      deltaBanded.select(col("band"), col("bhash"), col("doc_id").as("id_d"))
        .join(baseBanded.hint("shuffle_hash")
          .select(col("band"), col("bhash"), col("doc_id").as("id_b")),
          Seq("band", "bhash"))
        .filter(col("id_d") =!= col("id_b"))
        .select("id_d", "id_b")
        .dropDuplicates("id_d", "id_b"))
    val dShd = deltaSh.distinct()
    val bShd = baseShingles.distinct()
    val dSizes = dShd.groupBy("doc_id").agg(count(lit(1)).as("sz_d"))
    val bSizes = bShd.groupBy("doc_id").agg(count(lit(1)).as("sz_b"))
    val interCounts = cand
      .join(dShd.toDF("id_d", "s").hint("shuffle_hash"), "id_d")
      .join(bShd.toDF("id_b", "s").hint("shuffle_hash"), Seq("id_b", "s"))
      .groupBy("id_d", "id_b").agg(count(lit(1)).as("inter"))
    // size tables are one row per doc — corpus-sized and data-dependent,
    // so they must never rely on auto-broadcast either
    interCounts
      .join(dSizes.toDF("id_d", "sz_d").hint("shuffle_hash"), "id_d")
      .join(bSizes.toDF("id_b", "sz_b").hint("shuffle_hash"), "id_b")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sz_d") + col("sz_b") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_d", "id_b", "jaccard")
      .orderBy("id_d", "id_b")
  }

  /** On-disk schemas of the persisted LSH index artifact: the banded
    * signature rows ([[bandedSignatures]] output) and the distinct
    * shingle rows ([[shingleRows]] output). Shared by the ingest path and
    * the `*_indexed` registry queries that read the artifact back. */
  val BandedSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType),
      StructField("band", IntegerType), StructField("bhash", LongType)))
  }
  val ShingleSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType),
      StructField("s", StringType)))
  }

  /** One micro-batch of the dedup-at-ingest stream
    * ([[graft.streaming.StreamingOps.ingestStream]] over this function):
    * PROBE the
    * persisted banded index for the batch's near-dup pairs (append them to
    * `pairsOutPath`), then MERGE the batch's own signature and shingle rows
    * into the index — so batch N+1 dedups against base ∪ batches 1..N,
    * exactly the sequential fold a batch backfill runs. Probe-before-merge
    * keeps the delta×base contract of [[minhashIncrementalPairs]]: a batch
    * never pairs against itself (in-batch duplicates are the upstream
    * batch-dedup's job, or arrive in the next batch's probe).
    *
    * The index merge is parquet `append` of files covering only the
    * batch's rows — O(delta) writes, like the IVF index's bucket-scoped
    * upsert. foreachBatch is at-least-once; output is EXACTLY-ONCE by
    * construction: the batch's pairs land under their own
    * `pairsOutPath/batch_id=<id>` directory with mode overwrite (the
    * same partition-overwrite recipe as [[SourceAudit.auditIngestBatch]]),
    * so a replayed batch REWRITES its pair files instead of re-appending
    * them. The replay also emits exactly the same pair SET: the probe
    * anti-joins the index against the batch's own doc_ids first, so a
    * replay that crashed after the index merge landed cannot emit
    * self-pairs or batch×batch pairs the original run never saw. The
    * index merge itself stays append (duplicate index rows from a replay
    * are tolerated by `dropDuplicates` in the probe path).
    *
    * Cold start: a missing index path is treated as an empty index, so
    * the first batch bootstraps it (probe finds nothing, merge creates
    * the artifact) — no pre-seeding step required.
    *
    * The whole overwrite/anti-join/append armor is the shared
    * [[IngestRecipe.applyBatch]] seam (one recipe, two entry points,
    * twelve ingest paths: see the [[IngestRecipe]] header). */
  def dedupIngestBatch(batch: DataFrame, indexPath: String,
      pairsOutPath: String, batchId: Long, threshold: Double = 0.7): Unit = {
    val b = batch.select("doc_id", "text").localCheckpoint()
    // shingle ONCE; the probe and the merge both consume these rows
    val sh = shingleRows(b).localCheckpoint()
    val keys = b.select(col("doc_id"))
    IngestRecipe.applyBatch(batchId, pairsOutPath,
      Seq(
        IngestRecipe.IndexPart(s"$indexPath/banded", BandedSchema,
          bandedSignatures(sh)),
        IngestRecipe.IndexPart(s"$indexPath/shingles", ShingleSchema,
          sh.distinct())).map(_ -> keys)) {
      case Seq(baseBanded, baseShingles) =>
        minhashIncrementalPairs(baseBanded, b, baseShingles, threshold,
          deltaShingles = Some(sh))
    }
  }

  // ------------------------------------------------------------- simhash
  /** 64-bit SimHash per doc via explode → ONE codegen'd hash-aggregation
    * with 64 per-bit vote sums, then constant-shift bit assembly. (The
    * nested higher-order formulation — 64-wide zip_with per token — was
    * CodegenFallback and ~100× slower at sf0.1. A r17 per-row expression
    * attempt (compiled per-token vote loop, no exchange) measured ×1.5
    * SLOWER on the 8×-distinct corpus in a same-window A/B — 6.3 s vs
    * 4.3 s — because the explode+agg form runs fully inside whole-stage
    * codegen while a CodegenFallback expression also drops the
    * surrounding stage out of codegen, and the exchange it removed
    * carries only one 64-int partial row per doc per task. Keep this
    * form; don't "narrow" it again without beating that number.)
    * Output: (doc_id, sh). */
  def simhashes(docsWithText: DataFrame): DataFrame = {
    val hashed = docsWithText
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val voteAggs = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"b$i")
    }
    val votes = hashed.groupBy("doc_id").agg(voteAggs.head, voteAggs.tail: _*)
    val assembled = (0 until 64).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    votes.select(col("doc_id"), assembled.as("sh"))
  }

  /** SimHash near-dup pairs: candidates via 4×16-bit chunk banding (a pair
    * within Hamming distance ≤3 of a 64-bit hash must agree on ≥1 of 4
    * chunks — pigeonhole), verified with `bit_count(xor) <= maxHamming`.
    * Same one-shuffle shape as MinHash LSH. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      persistCand: DataFrame => DataFrame = identity): DataFrame =
    bandedHammingPairs(simhashes(planted(docs)), "sh", maxHamming, persistCand)

  /** Pigeonhole-banded Hamming near-dup pairs over ANY 64-bit hash column
    * named `hashCol` (input: one row per doc with `doc_id`): 16-bit chunk
    * bands — lossless for Hamming ≤ 3, since 4 bands can't all absorb ≤3
    * flipped bits — per-band equi-join candidates, popcount verify.
    * Shared by the SimHash text screen and the multimodal pHash screen;
    * the persisted candidate schema keeps the hash column's own name
    * (`<hashCol>_a`/`<hashCol>_b`) so each oracle reads its family's
    * columns. At scale the band join shuffles only (band, 16-bit value,
    * id, hash) rows — never payloads — and each band bucket is tiny
    * unless the corpus genuinely shares that 16-bit chunk. */
  def bandedHammingPairs(hashed: DataFrame, hashCol: String,
      maxHamming: Int = 3,
      persistCand: DataFrame => DataFrame = identity): DataFrame = {
    requireLosslessBanding(maxHamming)
    val (ha, hb) = (s"${hashCol}_a", s"${hashCol}_b")
    val chunked = hashChunks(hashed, hashCol)
    val a = chunked.select(col("chunk"), col("cval"), col("doc_id").as("id_a"), col(hashCol).as(ha))
    val b = chunked.select(col("chunk"), col("cval"), col("doc_id").as("id_b"), col(hashCol).as(hb))
    // candidates (with both 64-bit hashes) are the oracle seam: DuckDB
    // recomputes bit_count(xor(h_a, h_b)) over the persisted set
    persistCand(
      a.join(b, Seq("chunk", "cval")).filter(col("id_a") < col("id_b"))
        .dropDuplicates("id_a", "id_b")
        .select("id_a", "id_b", ha, hb))
      .withColumn("hamming", bit_count(col(ha).bitwiseXOR(col(hb))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  /** The 4-band pigeonhole is lossless only for Hamming ≤ 3 (4 bands
    * cannot all absorb ≤ 3 flipped bits); a larger threshold would
    * SILENTLY drop pairs whose flips spread one-per-band, so refuse it
    * loudly instead. */
  private def requireLosslessBanding(maxHamming: Int): Unit =
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming exceeds the 4-band pigeonhole guarantee " +
        "(lossless only for Hamming <= 3); widen the banding before raising it")

  /** 4×16-bit pigeonhole chunks of a 64-bit hash column — the shared
    * banding of [[bandedHammingPairs]] and [[bandedHammingPairsDelta]]. */
  private def hashChunks(hashed: DataFrame, hashCol: String): DataFrame =
    hashed.select(col("doc_id"), col(hashCol),
      posexplode(array((0 until 4).map { c =>
        shiftright(col(hashCol), 16 * c).bitwiseAND(0xFFFFL)
      }: _*)).as(Seq("chunk", "cval")))

  /** O(delta) incremental form of [[bandedHammingPairs]]: pairs with at
    * least one side in `delta`, probed against `base ∪ delta` — the
    * per-batch work of a standing Hamming index (base×base pairs were
    * emitted by earlier batches and are never recomputed). Both
    * orientations of a delta×delta pair collide on the same banded
    * bucket; the id-ordered dropDuplicates collapses them, which also
    * makes the probe insensitive to replay-duplicated index rows (the
    * at-least-once contract every index consumer here honors). */
  def bandedHammingPairsDelta(base: DataFrame, delta: DataFrame,
      hashCol: String, maxHamming: Int = 3): DataFrame = {
    requireLosslessBanding(maxHamming)
    val (ha, hb) = (s"${hashCol}_a", s"${hashCol}_b")
    val all = hashChunks(base.unionByName(delta), hashCol)
      .select(col("chunk"), col("cval"), col("doc_id").as("id_x"), col(hashCol).as("h_x"))
    val d = hashChunks(delta, hashCol)
      .select(col("chunk"), col("cval"), col("doc_id").as("id_d"), col(hashCol).as("h_d"))
    d.join(all.hint("shuffle_hash"), Seq("chunk", "cval"))
      .filter(col("id_d") =!= col("id_x"))
      .select(
        least(col("id_d"), col("id_x")).as("id_a"),
        greatest(col("id_d"), col("id_x")).as("id_b"),
        when(col("id_d") < col("id_x"), col("h_d")).otherwise(col("h_x")).as(ha),
        when(col("id_d") < col("id_x"), col("h_x")).otherwise(col("h_d")).as(hb))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col(ha).bitwiseXOR(col(hb))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  // ------------------------------------------- duplicate-cluster grouping
  /** Connected components over a candidate-pair edge list — the step that
    * turns pairwise near-dup hits (MinHash/SimHash/embedding) into
    * duplicate CLUSTERS so one representative per component can be kept.
    * Pairwise dedup alone under-removes: A~B and B~C leave both A,C when
    * the whole {A,B,C} chain is one duplicate group.
    *
    * Algorithm: iterative min-label propagation (the MapReduce-CC shape of
    * Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * every vertex starts labeled with its own id; each round every vertex
    * takes the min label over itself and its neighbors; fixpoint = every
    * vertex carries its component's min id. Each round is ONE shuffle
    * keyed on vertex id; rounds needed = component diameter, which for
    * duplicate clusters is tiny (near-clique components converge in 2-3).
    * `localCheckpoint` per round truncates the lineage so the plan doesn't
    * grow with iterations. At 100 TB the same loop runs unchanged — the
    * edge list is the small derived pair table, not the corpus — with
    * large-star/small-star as the upgrade path if diameters ever grow.
    *
    * Output: (doc_id, cluster_id = component-min doc_id, cluster_size),
    * only for docs that appear in some pair (singletons aren't duplicates).
    */
  // maxIter is a runaway-loop backstop, NOT a cost knob: the stationary-
  // label-sum check exits the loop the first round after the fixpoint, so
  // a converged graph never runs extra rounds regardless of the cap. 32
  // covers any plausible near-dup chain (the sf0.1 synthetic corpus
  // already produces a ~11-round component; a cap of 10 threw on it),
  // while a component needing >32 hops still fails loudly below.
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 32): DataFrame = {
    // every round is localCheckpoint'd: the iterated union/join otherwise
    // grows the LOGICAL PLAN exponentially (persist() caches data but not
    // lineage — a 10-round plan tree OOMs Spark's own explain-string
    // generation before any task runs). The checkpoints are LAZY: the
    // convergence aggregate below materializes the round and reads its sum
    // in the same pass, so no round pays a dedicated truncation job.
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .dropDuplicates("src", "dst")
      .localCheckpoint(false)
    // round 0 fused into initialization: label(v) = min(v, min neighbor) —
    // near-clique duplicate clusters converge here already, so the loop
    // below usually runs once just to confirm the fixpoint
    var labels = edges.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("label"))
      .localCheckpoint(false)
    // labels only ever DECREASE, so the label sum is stationary exactly at
    // the fixpoint — one scalar aggregate per round instead of a
    // changed-row join+count (decimal sum: overflow-proof under ANSI)
    def labelSum(df: DataFrame): java.math.BigDecimal = df
      .agg(sum(col("label").cast("decimal(38,0)"))).first().getDecimal(0)
    var lastSum = labelSum(labels)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val next = labels
        .join(edges, labels("id") === edges("src"))
        .select(col("dst").as("id"), col("label"))
        .unionByName(labels)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(false)
      val s = labelSum(next)
      labels = next
      converged = s.compareTo(lastSum) == 0
      lastSum = s
      it += 1
    }
    // an exhausted cap means labels are STILL MOVING — returning them
    // would hand downstream keep-one-per-cluster a wrong partition of the
    // corpus. Fail loudly; the caller raises maxIter (rounds needed =
    // component diameter, so only chain-shaped duplicate graphs hit this).
    if (!converged) throw new IllegalStateException(
      s"duplicateClusters did not converge in maxIter=$maxIter rounds — " +
        "the pair graph has a component with diameter > maxIter; raise maxIter")
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"))
      .orderBy("cluster_id", "doc_id")
  }

  // ----------------------------------------------- line-level (chunk) dedup
  /** CCNet/RefinedWeb-style line-level dedup over the planted corpus, with
    * fixed `chunkTokens`-token windows standing in for lines (the synthetic
    * corpus has no newline structure): every distinct chunk text is kept at
    * its FIRST occurrence in global (doc_id, chunk_id) order and dropped
    * everywhere else, and each document reports how much of it survived
    * plus an md5 fingerprint of its kept content.
    *
    * Scale shape: one doc-keyed aggregation to assemble chunks, one
    * shuffle keyed by chunk text to pick first occurrences (at corpus
    * scale the key would be `xxhash64(chunk)` to keep shuffle rows
    * narrow), one doc-keyed aggregation back. No joins against the corpus,
    * no candidate explosion — this is the cheap exact layer that runs
    * BEFORE fuzzy dedup in a production pipeline. */
  def lineDedup(docs: DataFrame, chunkTokens: Int = 10): DataFrame = {
    // the SAME chunk relation the boilerplate screens consume — one
    // definition ([[chunkRows]]), so the two layers can never chunk a
    // document differently
    val chunks = chunkRows(planted(docs), chunkTokens)
    // first-occurrence flag via ONE chunk-keyed min aggregation + a
    // shuffle_hash join back (r17), replacing the PARTITION BY chunk
    // row_number window: the window buffered EVERY instance of a hot
    // boilerplate chunk (by definition the most frequent key in the
    // corpus) in one task's sort — map-side partial min bounds per-task
    // state to one row per distinct chunk, the join probe streams, and
    // AQE can skew-split a join where it cannot split a window. (doc_id,
    // chunk_id) is unique per chunk row, so min(struct) IS the window's
    // (doc_id, chunk_id)-ordered first row, deterministically.
    val firsts = chunks.groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("f"))
    val flagged = chunks.join(firsts.hint("shuffle_hash"), "chunk")
      .withColumn("rn",
        when(col("f.doc_id") === col("doc_id") &&
          col("f.chunk_id") === col("chunk_id"), 1).otherwise(2))
      .drop("f")
    // collect_list skips nulls, so the when() collects exactly the keepers
    val keptOrdered = concat_ws(" ", transform(
      array_sort(collect_list(when(col("rn") === 1,
        struct(col("chunk_id"), col("chunk"))))),
      x => x.getField("chunk")))
    flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        md5(keptOrdered.cast("binary")).as("kept_fp"))
      .orderBy("doc_id")
  }

  /** Corpus-frequency boilerplate removal — the frequency-threshold
    * complement of [[lineDedup]] (CCNet/C4 shape): a chunk appearing in
    * `minDocs`+ DISTINCT documents is boilerplate (nav bars, cookie
    * banners, license headers) and is stripped from EVERY document —
    * including its first occurrence, which [[lineDedup]] would keep.
    * Chunking is the same 10-token rule, so the two layers compose on one
    * chunk relation in a standing pipeline.
    *
    * Scale shape: chunk assembly is one doc-keyed aggregation; the
    * document-frequency table is |distinct chunks| rows — corpus-sized,
    * NEVER broadcastable — so the join back is chunk-keyed and
    * `shuffle_hash`-pinned (sort-merge would sort the full chunk relation
    * for a single lookup). No window: `PARTITION BY chunk` would buffer
    * every instance of a hot boilerplate chunk (by definition the most
    * frequent keys in the corpus) in one task. At 100 TB the join key
    * would be `xxhash64(chunk)` to keep shuffle rows narrow. */
  def boilerplateStrip(docs: DataFrame, chunkTokens: Int = 10,
      minDocs: Int = 3): DataFrame = {
    val chunks = chunkRows(planted(docs), chunkTokens)
    val freq = chunks.groupBy("chunk")
      .agg(countDistinct("doc_id").as("nd"))
    boilerplateStats(chunks, freq, minDocs)
  }

  /** (doc_id, chunk_id, chunk) rows for any (doc_id, text) frame — the
    * 10-token chunking [[lineDedup]] and the boilerplate screens share.
    *
    * r17 shape: NARROW chunk assembly, fully codegen. Chunk i is tokens
    * [i·ct, (i+1)·ct) of the source row's own array, so the old
    * posexplode → (doc, chunk_id)-keyed groupBy (a corpus-sized token
    * shuffle plus an interpreted sort+transform per chunk, just to
    * reassemble adjacency the row already had) collapses to one
    * `regexp_extract_all` over the space-joined tokens: each
    * `\S+( \S+){0,ct-1}` match greedily consumes exactly one chunk's
    * tokens left to right, and posexplode's index IS the chunk id.
    * Whitespace-only docs keep their single empty chunk (the join is ""
    * and the regex matches nothing — the `when` restores the one empty
    * chunk the old groupBy emitted). Value-identical — pinned in
    * ExtSpec against an inline copy of the explode+groupBy form. */
  private[graft] def chunkRows(docs: DataFrame,
      chunkTokens: Int = 10): DataFrame = {
    val joined = concat_ws(" ", tokens(col("text")))
    val chunks = when(length(joined) === 0, array(lit("")))
      .otherwise(regexp_extract_all(joined,
        lit(s"\\S+( \\S+){0,${chunkTokens - 1}}"), lit(0)))
    docs
      .select(col("doc_id"), posexplode(chunks).as(Seq("cid", "chunk")))
      .select(col("doc_id"), col("cid").cast("long").as("chunk_id"),
        col("chunk"))
  }

  /** Per-doc boilerplate rollup given chunk rows and a (chunk, nd)
    * document-frequency table — the shared tail of the inline, indexed,
    * and at-ingest screens. The frequency table is corpus-sized, so the
    * join is chunk-keyed and `shuffle_hash`-pinned. */
  private def boilerplateStats(chunks: DataFrame, freq: DataFrame,
      minDocs: Int): DataFrame = {
    // collect_list skips nulls, so the when() collects exactly the keepers
    val keptOrdered = concat_ws(" ", transform(
      array_sort(collect_list(when(col("nd") < minDocs,
        struct(col("chunk_id"), col("chunk"))))),
      x => x.getField("chunk")))
    chunks.join(freq.hint("shuffle_hash"), "chunk")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") >= minDocs, 1L).otherwise(0L)).as("n_boiler"),
        md5(keptOrdered.cast("binary")).as("kept_fp"))
      .orderBy("doc_id")
  }

  /** Schema of the standing chunk index ([[boilerplateIngestBatch]],
    * `text_boilerplate_indexed`): one row per (doc, chunk position). The
    * ingest index is at-least-once under replay (a replayed batch may
    * re-append its rows), so consumers must aggregate with
    * `countDistinct` — never `count` — over it; the once-built artifact
    * form is exact and supports the full per-doc rollup. */
  val ChunkSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("chunk_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("chunk",
        org.apache.spark.sql.types.StringType)))

  /** The boilerplate screen served from a PERSISTED chunk artifact
    * instead of re-tokenizing and re-chunking the corpus — the standing-
    * pipeline form (the chunk pass runs once per corpus snapshot; every
    * screen reads it). Output-identical to [[boilerplateStrip]] over the
    * same corpus by construction. */
  def boilerplateFromIndex(chunks: DataFrame, minDocs: Int = 3): DataFrame = {
    // the ingest-maintained index is at-least-once: a replayed batch may
    // have re-appended its (doc, chunk) rows. Frequency would survive
    // that (countDistinct), but the per-doc rollup would not — n_chunks
    // counts rows and kept_fp fingerprints the keeper list, so duplicate
    // rows double both. Dedup on the full row identity first; exact-once
    // artifacts pass through unchanged.
    val exact = chunks.dropDuplicates("doc_id", "chunk_id", "chunk")
    val freq = exact.groupBy("chunk").agg(countDistinct("doc_id").as("nd"))
    boilerplateStats(exact, freq, minDocs)
  }

  /** Boilerplate screening AT INGEST — the foreachBatch body of a
    * streaming corpus build, same idempotence recipe as
    * [[dedupIngestBatch]]: each micro-batch's docs are screened against
    * the chunk document-frequency AS OF this batch (standing index plus
    * the batch itself), per-batch decisions land under their own
    * `batch_id=<id>` partition with overwrite (an at-least-once replay
    * rewrites the same files), and the batch's chunks are appended to the
    * standing index. The anti-join makes a replay probe see the exact
    * pre-crash index state; re-appended index rows are harmless because
    * frequency is `countDistinct(doc_id)` — duplicate (doc, chunk) rows
    * can never change a count.
    *
    * Late-arriving copies are by-design NOT retroactive: a chunk that
    * crosses the threshold in batch k flags batch-k docs, not the docs
    * that shipped it in batches < k — re-screening history is a compact
    * job over the index (`boilerplateFromIndex`), not an ingest concern.
    *
    * Scale: every join is chunk- or doc-keyed (`shuffle_hash` where
    * corpus-sized); the index restriction to the batch's chunk set keeps
    * the frequency aggregate batch-proportional, not index-proportional. */
  def boilerplateIngestBatch(batch: DataFrame, indexPath: String,
      outPath: String, batchId: Long, minDocs: Int = 3): Unit = {
    val b = batch.select("doc_id", "text").localCheckpoint()
    // chunk ONCE; the screen and the index append both consume these rows
    val ch = chunkRows(b).localCheckpoint()
    IngestRecipe.applyBatch(batchId, outPath,
      Seq(IngestRecipe.IndexPart(s"$indexPath/chunks", ChunkSchema, ch)
        -> b.select(col("doc_id")))) {
      case Seq(base) =>
        // only index chunks that also occur in this batch can change a
        // batch doc's verdict: restrict BEFORE the frequency aggregate
        val relevant = base
          .join(ch.select("chunk").distinct().hint("shuffle_hash"),
            Seq("chunk"), "left_semi")
        val freq = relevant.select("doc_id", "chunk")
          .unionByName(ch.select("doc_id", "chunk"))
          .groupBy("chunk").agg(countDistinct("doc_id").as("nd"))
        boilerplateStats(ch, freq, minDocs)
    }
  }

  // ------------------------------------------------------- contamination
  /** Benchmark-contamination check — the eval-set hygiene step of a
    * training-data pipeline: for every corpus document, how many DISTINCT
    * word `k`-grams it shares with ANY benchmark document, flagged when
    * the overlap reaches `minOverlap`.
    *
    * Scale shape: the benchmark shingle set is tiny next to a 100 TB
    * corpus (eval sets are fixed-size), so it is explicitly `broadcast` —
    * the corpus side streams through one map-side hash join at scan
    * speed, then one doc-keyed aggregation. Both frames need
    * (doc_id, text). */
  def benchmarkContamination(corpus: DataFrame, bench: DataFrame, k: Int = 7,
      minOverlap: Int = 5): DataFrame = {
    val benchSh = shingleRows(bench, k).select("s").distinct()
    val overlap = shingleRows(corpus, k)
      .join(broadcast(benchSh), "s")
      .groupBy("doc_id").agg(countDistinct("s").as("n_overlap"))
    corpus.select("doc_id")
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= minOverlap)
  }

  // ------------------------------------------- token-set Jaccard (oracle)
  /** Distinct-token Jaccard over a restricted id slice, deliberately
    * expressed as an explode + token-equi-join so the DuckDB oracle can
    * reproduce it in pure SQL. The shuffle is keyed by token; the slice
    * bound keeps the worst-case bucket quadratic term tiny. */
  def tokenJaccardPairs(docs: DataFrame, maxDocId: Long, threshold: Double): DataFrame = {
    val toks = docs.filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = toks.select(col("doc_id").as("id_a"), col("tok"))
      .join(toks.select(col("doc_id").as("id_b"), col("tok")), "tok")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  // --------------------------------------------- embedding-cosine near-dup
  /** Near-dup by embedding cosine: DELIBERATELY exhaustive over all
    * `n·(n-1)/2` pairs (a non-equi join + native-dot scoring) because the
    * DuckDB oracle brute-forces the same full pair set. This is the exact
    * baseline only — at corpus scale the candidate generation must come
    * from [[Similarity.ivfTopK]] / [[Similarity.lshTopK]]'s bucketed
    * shapes, never this join. */
  /** Bucketed embedding near-dup — the shape that survives 100 TB: each
    * vector is assigned to its `nprobe` nearest of `nlist` seed centroids
    * (multi-probe IVF blocking; broadcast centroids, narrow), candidate
    * pairs are vectors sharing ≥1 cluster (ONE equi-join keyed on cluster
    * id, bucket-bounded — never the all-pairs non-equi join of
    * [[embeddingNearDup]]), then exact cosine verifies just the candidates.
    * Recall vs the exact baseline is pinned in ExtSpec; `persistCand` is
    * the oracle seam (DuckDB recomputes the cosine verify over the
    * persisted pair set). */
  def embeddingNearDupBucketed(embeddings: DataFrame, threshold: Double,
      nlist: Int = 0, nprobe: Int = 2,
      persistCand: DataFrame => DataFrame = identity): DataFrame = {
    // classic IVF sizing: buckets ∝ √n keeps both bucket count and bucket
    // size at √n, so the per-bucket quadratic term stays O(n) total pairs.
    // A fixed nlist is a scale trap (8× probe: 16 buckets over an 8× corpus
    // went quadratic). The count() is one cheap scan of one column.
    val buckets =
      if (nlist > 0) nlist
      else math.max(16, math.sqrt(embeddings.count().toDouble).ceil.toInt)
    // The assignment feeds BOTH sides of the bucket self-join; its subtree
    // is textually duplicated per branch, but the heavy prefix (scan +
    // broadcast-centroid cross up to the per-vector window's exchange) is
    // deduplicated at runtime by Spark's ReuseExchange — plan-guarded in
    // PlanShapeSpec. A long-lived deployment would materialize the
    // assignment table to cluster-partitioned parquet once (see
    // [[Similarity]] scaladoc) rather than recompute it per run.
    val assigned = Similarity.assignClustersMulti(embeddings, buckets, nprobe)
    val a = assigned.select(col("c_id"), col("vec_id").as("id_a"))
    val b = assigned.select(col("c_id"), col("vec_id").as("id_b"))
    // bucket self-join: both sides are data-dependent in size → shuffle_hash
    val cand = persistCand(
      a.join(b.hint("shuffle_hash"), "c_id")
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates("id_a", "id_b"))
    val ea = embeddings.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val eb = embeddings.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    cand.join(ea.hint("shuffle_hash"), "id_a")
      .join(eb.hint("shuffle_hash"), "id_b")
      .withColumn("cos", round(VectorOps.cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
      .orderBy("id_a", "id_b")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, then inside each cluster drop every
    * vector whose cosine to a SMALLER-id cluster-mate reaches `threshold`
    * — a deterministic keep-lowest-id exemplar rule standing in for the
    * paper's keep-one-per-group (no RNG, so reruns and engines agree).
    * Returns the DROPPED rows with their keep witness: (vec_id, c_id,
    * witness, cos), witness = the highest-cosine smaller-id cluster-mate
    * (ties → lowest witness id).
    *
    * Scale shape: single-probe centroid assignment (broadcast centroids,
    * narrow per-row scoring) + ONE within-cluster equi-join. With
    * `nlist` ∝ √n both the bucket count and the expected bucket size are
    * √n, so the within-cluster quadratic term stays O(n) total pairs —
    * the same sizing law as [[embeddingNearDupBucketed]]. Single-probe is
    * deliberate, not a recall shortcut: SemDeDup's semantics ARE
    * per-cluster (cross-boundary near-dups are the paper's accepted
    * loss), and the exemplar rule needs each vector in exactly one
    * cluster. `persistCand` is the oracle seam — DuckDB re-scores the
    * persisted (c_id, id_a, id_b) set and re-applies the drop rule. */
  def semanticDedup(embeddings: DataFrame, threshold: Double, nlist: Int,
      persistCand: DataFrame => DataFrame = identity): DataFrame =
    semanticDedupFromAssigned(
      Similarity.assignClusters(embeddings, nlist).select(col("vec_id"), col("c_id")),
      embeddings, threshold, persistCand)

  /** [[semanticDedup]] served from a standing cluster-partitioned
    * assignment index ([[Similarity.buildIvfIndex]]'s layout: vec_id,
    * embedding, c_id) — the at-scale form: the one-off assignment pass
    * (broadcast-centroid scoring over the whole corpus) is already paid,
    * so the screen is just the within-cluster joins. Vectors are fetched
    * back from the index itself (it carries them), so the whole screen
    * reads ONLY the artifact. Output-identical to the inline form when
    * the index was built with the same nlist. */
  def semanticDedupFromIndex(index: DataFrame, threshold: Double,
      persistCand: DataFrame => DataFrame = identity): DataFrame =
    semanticDedupFromAssigned(
      index.select(col("vec_id"), col("c_id")),
      index.select(col("vec_id"), col("embedding")), threshold, persistCand)

  /** Shared screen body: within-cluster candidate pairs from `assigned`
    * (vec_id, c_id), exact-cosine verify against `vectors` (vec_id,
    * embedding), then the keep-lowest-id drop rule. */
  private def semanticDedupFromAssigned(assigned: DataFrame, vectors: DataFrame,
      threshold: Double, persistCand: DataFrame => DataFrame): DataFrame = {
    val a = assigned.select(col("c_id"), col("vec_id").as("id_a"))
    val b = assigned.select(col("c_id"), col("vec_id").as("id_b"))
    // within-cluster pairs: both sides data-sized → shuffle_hash, like
    // every other dedup bucket join
    val cand = persistCand(
      a.join(b.hint("shuffle_hash"), "c_id")
        .filter(col("id_a") < col("id_b"))
        .select("c_id", "id_a", "id_b"))
    val ea = vectors.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val eb = vectors.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val scored = cand
      .join(ea.hint("shuffle_hash"), "id_a")
      .join(eb.hint("shuffle_hash"), "id_b")
      .withColumn("cos", round(VectorOps.cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("cos") >= threshold)
    semanticDropRule(scored).orderBy("vec_id")
  }

  /** The SemDeDup drop rule over scored same-cluster pairs (c_id, id_a <
    * id_b, cos ≥ τ): id_b is dropped, witnessed by its highest-cosine
    * smaller-id mate. Keyed on the dropped id — co-partitions with the
    * pair shuffle that feeds it. */
  private def semanticDropRule(scored: DataFrame): DataFrame =
    // rank-1 via max_by under (cos, −id_a): exactly the window's
    // (cos DESC, id_a ASC) first row, with map-side partial aggregation
    // instead of a shuffle + sort of every scored pair (r16 optimization;
    // NaN-largest double ordering keeps the two forms agreeing)
    scored.groupBy(col("id_b").as("vec_id"))
      .agg(max_by(struct(col("c_id"), col("id_a"), col("cos")),
        struct(col("cos"), -col("id_a"))).as("b"))
      .select(col("vec_id"), col("b.c_id").as("c_id"),
        col("b.id_a").as("witness"), col("b.cos").as("cos"))

  /** One micro-batch of semantic dedup at ingest: PROBE the standing
    * cluster-partitioned assignment index for the batch's semantic
    * duplicates (each new vector vs the standing vectors of ITS cluster
    * — first-arrival-wins, the witness is the highest-cosine standing
    * mate regardless of id order), write the batch's drops under
    * `dropsOutPath/batch_id=<id>` with overwrite, then MERGE the batch's
    * assigned rows into the index (partitioned append — files land only
    * in the batch's bucket footprint, O(delta) like the IVF upsert).
    *
    * Centroids are passed FROZEN ([[Similarity.assignToCentroids]]): the
    * quantizer must not drift across batches or the world re-buckets.
    * In-batch pairs are deliberately not probed — the delta×base contract
    * of [[dedupIngestBatch]] (in-batch duplicates are the upstream batch
    * dedup's job, or surface on the next batch's probe).
    *
    * foreachBatch is at-least-once; output is exactly-once by the same
    * construction as [[dedupIngestBatch]]: per-batch partition overwrite
    * for the drops, and an anti-join of the index against the batch's
    * own vec_ids so a replay that crashed after the merge landed probes
    * the same pre-crash base (duplicate index rows a replay appends are
    * collapsed by the drop rule's rank — identical rows rank as one).
    * Cold start: a missing index path is an empty index; the first batch
    * bootstraps the artifact. */
  def semanticIngestBatch(batch: DataFrame, centroids: DataFrame,
      indexPath: String, dropsOutPath: String, batchId: Long,
      threshold: Double): Unit = {
    val assigned = Similarity.assignToCentroids(
      batch.select("vec_id", "embedding"), centroids).localCheckpoint()
    IngestRecipe.applyBatch(batchId, dropsOutPath,
      Seq(IngestRecipe.IndexPart(indexPath, SemanticIndexSchema,
        assigned.select("vec_id", "embedding", "c_id"),
        partitionBy = Seq("c_id")) -> assigned.select(col("vec_id")))) {
      case Seq(base) =>
        val scored = base
          .select(col("c_id"), col("vec_id").as("id_a"), col("embedding").as("emb_a"))
          .join(assigned
            .select(col("c_id"), col("vec_id").as("id_b"), col("embedding").as("emb_b"))
            .hint("shuffle_hash"), "c_id")
          .withColumn("cos", round(VectorOps.cosine(col("emb_a"), col("emb_b")), 6))
          .filter(col("cos") >= threshold)
        semanticDropRule(scored)
    }
  }

  /** Repair path for the advisory on replay growth: an at-least-once
    * replay that crashed after [[semanticIngestBatch]]'s merge landed
    * leaves permanent duplicate rows in the standing index (consumers
    * stay correct — rank/distinct-collapsed — but size and probe cost
    * grow monotonically). Periodic compaction resets it; exact full-row
    * dropDuplicates is safe because legitimate rows are unique on
    * (vec_id) by construction. */
  def compactSemanticIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Unit =
    IngestRecipe.compact(spark, indexPath, SemanticIndexSchema,
      partitionBy = Seq("c_id"))

  /** Same repair for [[dedupIngestBatch]]'s standing LSH index (both
    * components) — legitimate rows are unique on (doc_id, band, sig) /
    * (doc_id, s), so full-row dropDuplicates removes exactly the replay
    * appends. */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Unit =
    IngestRecipe.compactAll(spark, dedupIndexComponents(indexPath))

  /** [[dedupIngestBatch]]'s two standing components, as
    * [[IngestRecipe.compactAll]] entries. */
  private def dedupIndexComponents(indexPath: String)
      : Seq[(String, org.apache.spark.sql.types.StructType, Seq[String])] = Seq(
    (s"$indexPath/banded", BandedSchema, Nil),
    (s"$indexPath/shingles", ShingleSchema, Nil))

  /** Same repair for [[boilerplateIngestBatch]]'s standing chunk index. */
  def compactChunkIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Unit =
    IngestRecipe.compact(spark, s"$indexPath/chunks", ChunkSchema)

  /** Read-back schema of the semantic assignment index — parsed from
    * [[Similarity.IvfIndexSchema]] (the ONE definition of the on-disk
    * layout) so the two can never drift; typed StructType because
    * [[ParquetIO.readOrEmpty]]'s cold-start path needs one. */
  val SemanticIndexSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(Similarity.IvfIndexSchema)

  // ------------------------------------------------- cascade at ingest
  /** Standing exact-stage index of the ingest cascade: one row per
    * first-arrival distinct text, keyed by md5(text) — 128 bits, so
    * collisions are out of reach at any corpus size (a 64-bit key would
    * expect real collisions past ~10¹⁰ docs and silently drop innocent
    * documents). */
  val CascadeExactSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("fp", StringType),
      StructField("doc_id", LongType)))
  }

  /** Per-batch cascade verdict rows: every batch doc with the stage that
    * dropped it ('1_exact' / '2_minhash' / '3_semantic') or 'kept'. */
  val CascadeOutSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType),
      StructField("stage", StringType)))
  }

  /** One micro-batch through the FULL dedup cascade at ingest — the
    * incremental form of the registered `dedup_cascade` funnel, composed
    * from the three standing indexes that each already have O(delta)
    * ingest, probed in funnel order so every stage sees only the
    * previous stage's survivors:
    *
    *   1. EXACT: collapse in-batch duplicate texts to their min-doc_id
    *      first arrival, then drop any doc whose md5(text) already
    *      stands in the exact index — stage 1 first, so the quadratic
    *      near-dup stages never see mass duplication (the ×30.8→×2.0
    *      lesson, incremental form);
    *   2. MINHASH: stage-1 survivors probed against the standing LSH
    *      index ([[minhashIncrementalPairs]] — delta×base, never
    *      base×base), verified-pair deltas drop;
    *   3. SEMANTIC: remaining survivors with embeddings, assigned to the
    *      FROZEN centroids, cosine-verified against the standing
    *      assignment index within their cluster.
    *
    * Per-batch output is the verdict frame (doc_id, stage) under
    * `batch_id=<id>` overwrite; the index merge derives from that output
    * read-back ([[IngestRecipe.applyBatchMergeFromOutput]] — the
    * semantic component keys on vec_id, the others on doc_id): the exact
    * index gains the batch's first-arrival fps, the LSH index gains ALL
    * stage-1 survivors (a doc later dropped at stage 2/3 still witnesses
    * future duplicates, exactly like the batch funnel where drops come
    * from pairs over the full stage-1 survivor set), and the semantic
    * index gains all embedded stage-2 survivors, for the same reason.
    *
    * Sequential-fold contract (CascadeSpec pins it): with doc_ids
    * non-decreasing across batches and batches internally near-dup-free
    * for stages 2–3 (in-batch EXACT duplicates are handled here; in-batch
    * near-dups are the upstream batch-dedup's job, as in
    * [[dedupIngestBatch]]), the union of per-batch verdicts equals the
    * inline cascade over the concatenated corpus with the same frozen
    * centroids. Replay armor is the recipe's: per-part anti-join on the
    * batch's own keys + partition-overwrite output; replay-appended
    * index duplicates are distinct/rank-collapsed by every consumer and
    * repaired by [[compactCascadeIndex]]. */
  def cascadeIngestBatch(batch: DataFrame, embeddings: DataFrame,
      centroids: DataFrame, indexPath: String, outPath: String,
      batchId: Long, jaccardThreshold: Double = 0.7,
      cosineThreshold: Double = 0.35,
      persistCand: DataFrame => DataFrame = identity,
      persistSemCand: Option[DataFrame => DataFrame] = None): Unit = {
    val b = batch.select("doc_id", "text").localCheckpoint()
    val fpd = b.select(col("doc_id"), md5(col("text")).as("fp"))
    // shingle + assign ONCE per batch: probe and merge both consume them
    val shAll = shingleRows(b).localCheckpoint()
    val assignedAll = Similarity.assignToCentroids(
      embeddings.join(
        b.select(col("doc_id").as("vec_id")).hint("shuffle_hash"),
        Seq("vec_id"), "left_semi").select("vec_id", "embedding"),
      centroids).localCheckpoint()
    val docKeys = b.select(col("doc_id"))
    val vecKeys = b.select(col("doc_id").as("vec_id"))
    IngestRecipe.applyBatchMergeFromOutput(batchId, outPath,
      CascadeOutSchema,
      Seq((s"$indexPath/exact", CascadeExactSchema, docKeys),
        (s"$indexPath/lsh/banded", BandedSchema, docKeys),
        (s"$indexPath/lsh/shingles", ShingleSchema, docKeys),
        (s"$indexPath/sem", SemanticIndexSchema, vecKeys))) {
      case Seq(exactBase, baseBanded, baseShingles, semBase) =>
        // stage 1: in-batch first arrival + standing-fp drop
        val first = fpd.groupBy("fp").agg(min("doc_id").as("first_id"))
        val baseFp = exactBase.select("fp").distinct()
          .withColumn("hit", lit(1))
        val s1 = fpd.join(first.hint("shuffle_hash"), Seq("fp"))
          .join(baseFp.hint("shuffle_hash"), Seq("fp"), "left")
          .select(col("doc_id"),
            (col("doc_id") =!= col("first_id") || col("hit").isNotNull).as("d1"))
          .localCheckpoint()
        val surv1 = s1.filter(!col("d1")).select("doc_id")
        // stage 2: delta×base LSH probe over stage-1 survivors
        val sh1 = shAll.join(surv1.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
          .localCheckpoint()
        val drops2 = minhashIncrementalPairs(baseBanded,
          b.join(surv1.hint("shuffle_hash"), Seq("doc_id"), "left_semi"),
          baseShingles, jaccardThreshold, persistCand,
          deltaShingles = Some(sh1))
          .select(col("id_d").as("doc_id")).distinct().localCheckpoint()
        val surv2 = surv1.join(drops2, Seq("doc_id"), "left_anti")
        // stage 3: frozen-centroid cosine probe over embedded survivors
        val a2 = assignedAll.join(
          surv2.select(col("doc_id").as("vec_id")).hint("shuffle_hash"),
          Seq("vec_id"), "left_semi")
        // With an oracle hook, the candidate pairs (same frozen cluster)
        // persist like the minhash ones so DuckDB re-verifies the cosine
        // over EXACTLY the scored pair set, and the verify runs over the
        // read-back (two candidate-scale hash joins back to the
        // embedding sides). WITHOUT a hook — every production caller —
        // the original one-join plan carries the embeddings through the
        // c_id join directly; the read-back tail is paid only where the
        // oracle seam needs it.
        val paired = persistSemCand match {
          case None =>
            semBase.select(col("c_id"), col("vec_id").as("id_a"),
                col("embedding").as("emb_a"))
              .join(a2.select(col("c_id"), col("vec_id").as("id_b"),
                col("embedding").as("emb_b")).hint("shuffle_hash"), "c_id")
          case Some(hook) =>
            // the join-back sides dedupe by id: the standing component can
            // carry replay duplicates between compactions (full-row
            // identical, so dropDuplicates is lossless), and joining the
            // hook's pair rows against duplicated embedding rows would
            // multiply candidate volume quadratically (dup pairs × dup
            // embedding rows) before the downstream distinct collapses it
            val embA = semBase.select(col("vec_id").as("id_a"),
              col("embedding").as("emb_a")).dropDuplicates("id_a")
            val embB = a2.select(col("vec_id").as("id_b"),
              col("embedding").as("emb_b")).dropDuplicates("id_b")
            hook(semBase.select(col("c_id"), col("vec_id").as("id_a"))
                .join(a2.select(col("c_id"), col("vec_id").as("id_b"))
                  .hint("shuffle_hash"), "c_id"))
              .join(embA.hint("shuffle_hash"), Seq("id_a"))
              .join(embB.hint("shuffle_hash"), Seq("id_b"))
        }
        val drops3 = paired
          .withColumn("cos", round(VectorOps.cosine(col("emb_a"), col("emb_b")), 6))
          .filter(col("cos") >= cosineThreshold)
          .select(col("id_b").as("doc_id")).distinct()
        b.select(col("doc_id"))
          .join(s1.filter(col("d1")).select(col("doc_id"))
            .withColumn("m1", lit(1)).hint("shuffle_hash"), Seq("doc_id"), "left")
          .join(drops2.withColumn("m2", lit(1)).hint("shuffle_hash"),
            Seq("doc_id"), "left")
          .join(drops3.withColumn("m3", lit(1)).hint("shuffle_hash"),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("m1") === 1, "1_exact")
              .when(col("m2") === 1, "2_minhash")
              .when(col("m3") === 1, "3_semantic")
              .otherwise("kept").as("stage"))
    } { outBack =>
      val surv1 = outBack.filter(col("stage") =!= "1_exact").select("doc_id")
      val surv2 = outBack.filter(col("stage").isin("3_semantic", "kept"))
        .select("doc_id")
      val sh1 = shAll.join(surv1.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
      Seq(
        IngestRecipe.IndexPart(s"$indexPath/exact", CascadeExactSchema,
          fpd.join(surv1.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
            .select("fp", "doc_id")),
        IngestRecipe.IndexPart(s"$indexPath/lsh/banded", BandedSchema,
          bandedSignatures(sh1)),
        IngestRecipe.IndexPart(s"$indexPath/lsh/shingles", ShingleSchema,
          sh1.distinct()),
        IngestRecipe.IndexPart(s"$indexPath/sem", SemanticIndexSchema,
          assignedAll.join(
            surv2.select(col("doc_id").as("vec_id")).hint("shuffle_hash"),
            Seq("vec_id"), "left_semi")
            .select("vec_id", "embedding", "c_id"),
          partitionBy = Seq("c_id")))
    }
  }

  /** Replay-duplicate repair for the cascade's four standing components
    * (legitimate rows are unique per key family — see each schema's doc —
    * so full-row dropDuplicates removes exactly the replay appends); the
    * four rewrites run at once ([[IngestRecipe.compactAll]]). */
  def compactCascadeIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Unit =
    IngestRecipe.compactAll(spark, cascadeIndexComponents(indexPath))

  /** The cascade's four standing components, as
    * [[IngestRecipe.compactAll]] entries. */
  private[graft] def cascadeIndexComponents(indexPath: String)
      : Seq[(String, org.apache.spark.sql.types.StructType, Seq[String])] =
    (s"$indexPath/exact", CascadeExactSchema, Nil) +:
      dedupIndexComponents(s"$indexPath/lsh") :+
      ((s"$indexPath/sem", SemanticIndexSchema, Seq("c_id")))

  def embeddingNearDup(embeddings: DataFrame, threshold: Double): DataFrame = {
    // norms precomputed once per vector (not per pair); pair scoring is one
    // native VectorDot per pair inside codegen
    val a = embeddings.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      VectorOps.norm(col("embedding")).as("nrm_a"))
    val b = embeddings.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      VectorOps.norm(col("embedding")).as("nrm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(
        VectorOps.dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
      .orderBy("id_a", "id_b")
  }

  /** Blocked fuzzy record linkage: edit-distance matching on normalized
    * key prefixes, with equi-join blocking so the quadratic comparison
    * only ever runs INSIDE a block — the classic record-linkage layout
    * (and a different dedup modality from the token/hash families above:
    * it catches typo-level variants that shingling misses).
    *
    * Scale shape: one shuffle_hash self-join on (lang, 8-char block
    * prefix); `levenshtein` runs on bounded 32-char keys, so per-pair
    * cost is a constant ~32² DP. Block sizes are data-dependent — skewed
    * blocks want a second blocking key (standard multi-pass linkage),
    * same plan. Cross-engine exact: both engines compute classic
    * Wagner-Fischer edit distance on ASCII keys. */
  def fuzzyPairs(docs: org.apache.spark.sql.DataFrame, prefixLen: Int = 32,
      blockLen: Int = 8, maxDist: Int = 5): org.apache.spark.sql.DataFrame = {
    val norm = TextStats.normalized(col("text"))
    val keyed = docs.select(col("doc_id"), col("lang"),
      substring(norm, 1, prefixLen).as("key"),
      substring(norm, 1, blockLen).as("blk"))
    val b = keyed.select(col("doc_id").as("id_b"), col("lang").as("lang_b"),
      col("key").as("key_b"), col("blk").as("blk_b"))
    keyed.select(col("doc_id").as("id_a"), col("lang"), col("key").as("key_a"), col("blk"))
      .join(b.hint("shuffle_hash"),
        col("lang") === col("lang_b") && col("blk") === col("blk_b") &&
          col("id_a") < col("id_b"))
      // threshold form = banded DP with early exit (O(k·n) per pair, not
      // O(n²)); returns -1 past the bound, which the filter drops — the
      // kept pairs and distances are identical to the unbounded form the
      // oracle computes
      .withColumn("lev", levenshtein(col("key_a"), col("key_b"), maxDist))
      .filter(col("lev") >= 0 && col("lev") <= maxDist)
      .select("id_a", "id_b", "lev")
  }

  /** [[fuzzyPairs]] made scale-safe: bit-identical output, with the two
    * hazards of blocked linkage dismantled separately.
    *
    * Hazard 1 — DUPLICATE PILE-UP. On a recrawl-heavy corpus most pair
    * comparisons are between byte-identical keys (the 8× probe duplicates
    * every doc: in-block pairs grow ×64 on ×8 data, and the plain blocked
    * join measured ×10.6, then ×15.8 salted, wall). Collapse to DISTINCT
    * keys FIRST: the edit-distance DP runs once per distinct-key pair —
    * invariant under duplication — and doc multiplicity re-expands
    * afterwards through cheap equi-joins on the key. Same-key doc pairs
    * (lev 0 by definition, no DP at all) come from one key-equality
    * self-join. This is the standard production composition: exact-dedup
    * before fuzzy linkage. (A key duplicated m× still emits its m·(m-1)/2
    * zero-distance pairs — that is the operator's pair-list contract; a
    * pipeline facing million-fold duplicate groups should consume
    * [[exactDupGroups]] instead of enumerating pairs.)
    *
    * Hazard 2 — DISTINCT-KEY BLOCK SKEW. Short texts all normalize to
    * the same 8-char prefix, so even distinct keys pile into hot blocks.
    * SALT-SPLIT oversized blocks into an s×s comparison grid,
    * s = ⌈block/maxBlock⌉: each distinct key lands in salt cell
    * `xxhash64(key) mod s` (deterministic, partition-invariant), side A
    * replicates to its (own, *) grid row, side B to its (*, own) column,
    * and every key pair meets in EXACTLY one cell — per-task DP work is
    * capped at ~maxBlock² and hot blocks fan across s² tasks. s = 1 for
    * healthy blocks ⇒ zero replication on the common path.
    *
    * Why not re-block on a longer prefix? Longer prefixes CHANGE the
    * candidate set (two typo-variants differing at char 9 leave a shared
    * 8-block but split at 16), so the capped operator would no longer be
    * oracle-comparable against the blocking contract; dedup + salting
    * preserve the exact pair semantics and still bound per-task state. */
  def fuzzyPairsCapped(docs: DataFrame, prefixLen: Int = 32,
      blockLen: Int = 8, maxDist: Int = 5, maxBlock: Int = 64): DataFrame = {
    val norm = TextStats.normalized(col("text"))
    val keyed = docs.select(col("doc_id"), col("lang"),
      substring(norm, 1, prefixLen).as("key"),
      substring(norm, 1, blockLen).as("blk"))

    // hazard 1: DP work scales with DISTINCT keys, never multiplicity
    val uniq = keyed.select("lang", "blk", "key").distinct()

    // hazard 2: census + s×s salt grid over the distinct keys. The census
    // joins back shuffle_hash (block count is data-dependent — never
    // assume it broadcasts) on the same key the pair join shuffles on.
    val sizes = uniq.groupBy("lang", "blk").agg(count(lit(1)).as("bn"))
    val salted = uniq
      .join(sizes.hint("shuffle_hash"), Seq("lang", "blk"))
      .withColumn("ns", greatest(ceil(col("bn") / maxBlock), lit(1)).cast("int"))
      .withColumn("my_salt", pmod(xxhash64(col("key")), col("ns")).cast("int"))
    val a = salted
      .withColumn("salt_b", explode(sequence(lit(0), col("ns") - 1)))
      .select(col("lang"), col("blk"), col("key").as("key_a"),
        col("my_salt").as("salt_a"), col("salt_b"))
    val b = salted
      .withColumn("salt_a", explode(sequence(lit(0), col("ns") - 1)))
      .select(col("lang").as("lang_b"), col("blk").as("blk_b"),
        col("key").as("key_b"), col("salt_a").as("salt_a2"),
        col("my_salt").as("salt_b2"))
    // key_a < key_b visits each unordered DISTINCT-key pair exactly once
    val keyPairs = a.join(b.hint("shuffle_hash"),
        col("lang") === col("lang_b") && col("blk") === col("blk_b") &&
          col("salt_a") === col("salt_a2") && col("salt_b") === col("salt_b2") &&
          col("key_a") < col("key_b"))
      .withColumn("lev", levenshtein(col("key_a"), col("key_b"), maxDist))
      .filter(col("lev") >= 0 && col("lev") <= maxDist)
      .select(col("lang"), col("key_a"), col("key_b"), col("lev"))

    // multiplicity re-expansion: (lang, key) equi-joins — blk is a prefix
    // of key, so (lang, key) alone identifies the group
    val ids = keyed.select(col("lang").as("l2"), col("key").as("k2"), col("doc_id"))
    val cross = keyPairs
      .join(ids.hint("shuffle_hash"),
        col("lang") === col("l2") && col("key_a") === col("k2"))
      .select(col("lang"), col("key_b"), col("lev"), col("doc_id").as("da"))
      .join(ids.hint("shuffle_hash"),
        col("lang") === col("l2") && col("key_b") === col("k2"))
      .select(least(col("da"), col("doc_id")).as("id_a"),
        greatest(col("da"), col("doc_id")).as("id_b"), col("lev"))

    // same-key pairs: lev 0 by definition — no DP, one equality self-join
    val same = keyed.select(col("lang"), col("key"), col("doc_id").as("da"))
      .join(keyed.select(col("lang"), col("key"), col("doc_id").as("db"))
        .hint("shuffle_hash"), Seq("lang", "key"))
      .filter(col("da") < col("db"))
      .select(col("da").as("id_a"), col("db").as("id_b"), lit(0).as("lev"))

    cross.unionByName(same)
  }
}
