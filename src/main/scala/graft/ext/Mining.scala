package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types

/** Exact set-similarity join and bounded-memory frequency mining — the two
  * candidate-pruning patterns a 100 TB curation pipeline needs when the
  * approximate families ([[Dedup.minhashPairs]], IVF ANN) are not enough:
  * an EXACT all-pairs similarity join that never goes quadratic, and
  * heavy-hitter extraction whose shuffle is O(candidates), not O(vocab).
  */
object Mining {

  // ------------------------------------- prefix-filtered set-similarity join
  /** ALL pairs of docs with shingle-set Jaccard >= `theta` — EXACT, via
    * prefix filtering (the AllPairs/PPJoin family: Bayardo et al. WWW'07,
    * Xiao et al. WWW'08). Under a global rare-first token order, any pair
    * with J >= theta must share a token within its first
    * `|x| - ceil(theta*|x|) + 1` sorted tokens (overlap bound:
    * J >= theta implies O >= theta*max(|x|,|y|), then pigeonhole on the
    * sorted suffix). Candidate generation therefore joins ONLY on prefix
    * tokens — by construction the RAREST tokens of each set, so bucket
    * sizes shrink exactly where a naive token join explodes (hot
    * boilerplate shingles land in the suffix, never the join key).
    *
    * This is the exact twin of the approximate [[Dedup.minhashPairs]]:
    * same input shape ([[Dedup.shingleRows]]), same threshold semantics,
    * 100% recall by theorem instead of LSH probability.
    *
    * Plan shape (all data-dependent joins shuffle_hash-pinned):
    *   1. distinct (doc, shingle) → shingle doc-frequency (combinable agg);
    *   2. one doc-keyed groupBy building the (df, shingle)-sorted array;
    *   3. prefix explode → candidate self-join keyed on prefix shingle,
    *      with PPJoin's length filter (theta*|x| <= |y|) applied in-join;
    *   4. pair-keyed verify: two doc-keyed joins fetch the sorted arrays,
    *      `array_intersect` computes exact overlap — O(|x|+|y|) per
    *      surviving candidate, never all pairs.
    *
    * The output filter compares ROUNDED jaccard (4 dp, oracle contract),
    * so prefix/length pruning uses `theta - 1e-4`: a true J in
    * [theta-5e-5, theta) rounds up into the result set and must not be
    * pruned upstream of the verify. */
  /** The (doc_id, df-rare-first-sorted token array, size) relation both
    * prefix joins consume — materialized once (lazy localCheckpoint): the
    * relation feeds four plan branches (prefix explode, posting explode,
    * and both verify fetches), and Spark's exchange reuse does not unify
    * them here (column pruning specializes each branch's exchange —
    * audited: 8 distinct shingle exchanges, 0 reused, ~2× wall). At
    * corpus scale this is the sorted-postings ARTIFACT a production
    * similarity-join job materializes to parquet once per snapshot
    * (exactly like the LSH signature index the `*_indexed` screens read);
    * the LAZY localCheckpoint is the inline-query equivalent: nothing
    * executes at DataFrame construction (callers that only inspect the
    * plan pay nothing), and the materialized form is raw row blocks —
    * measured ~1.5× faster to re-read across the four branches than the
    * columnar-cache `persist()` alternative (encode/decode per scan).
    * CAVEAT the lazy form keeps from eager: localCheckpoint blocks are
    * non-reliable — they truncate lineage, so an executor lost AFTER
    * materialization fails the query instead of recomputing, and the
    * same property makes them unsafe under dynamic allocation. A
    * cluster deployment running with executor churn should swap this
    * for the materialized parquet artifact (the production form above)
    * or accept persist()'s recompute safety at the re-read premium. */
  private def sortedTokenDocs(shingled: DataFrame): DataFrame = {
    val toks = shingled.select(col("doc_id"), col("s")).distinct()
    val dfreq = toks.groupBy("s").agg(count(lit(1)).as("df"))
    toks.join(dfreq.hint("shuffle_hash"), "s")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("s")))).as("st"))
      .select(col("doc_id"),
        transform(col("st"), x => x.getField("s")).as("toks"),
        size(col("st")).as("sz"))
      .localCheckpoint(eager = false)
  }

  /** Exact-duplicate collapse in front of the pairwise machinery — the
    * standard production pre-pass (RefinedWeb-style pipelines exact-dedup
    * before any near-dup join): docs with IDENTICAL distinct-shingle sets
    * are interchangeable under any set-similarity measure, so the
    * quadratic candidate/verify stages run once per DISTINCT set (group
    * representative = lowest doc id) and pairs expand back through group
    * membership afterwards. On a duplicate-heavy corpus this converts the
    * ×g²-per-duplicate-group candidate growth into join-speed output
    * expansion (the round-11 8× probe read ×30 wall without it — every
    * posting list ×8 → candidate pairs ×64, all re-verified; with the
    * collapse the pairwise stages see the sf0.1-sized distinct universe).
    * Set identity = fingerprint of the df-sorted token array: identical
    * sets sort identically under the global (df, token) order. Returns
    * (members: doc_id → gid, reps: the per-group sortedTokenDocs rows). */
  private def dupGroups(docs: DataFrame): (DataFrame, DataFrame) = {
    // key = (fingerprint of the joined array, element count): the count
    // guards the (pathological) aliasing where a token containing the
    // separator makes two different arrays join to one string
    val withKey = docs.select(col("doc_id"), col("sz"),
      md5(concat_ws("\u0001", col("toks")).cast("binary")).as("gkey"))
    val gids = withKey.groupBy("gkey", "sz").agg(min("doc_id").as("gid"))
    val members = withKey.join(gids.hint("shuffle_hash"), Seq("gkey", "sz"))
      .select("doc_id", "gid")
    val reps = docs.join(
      gids.select(col("gid").as("doc_id")).hint("shuffle_hash"),
      Seq("doc_id"), "left_semi")
    (members, reps)
  }

  /** Expand representative-level pairs (id_a < id_b over gids, `score`)
    * back to all member pairs, plus the within-group pairs (identical
    * sets → score exactly 1.0). Orientation re-derives per member pair
    * (group id order says nothing about member id order across groups). */
  private def expandDupPairs(repPairs: DataFrame, members: DataFrame,
      score: String, theta: Double): DataFrame = {
    val ma = members.select(col("gid").as("id_a"), col("doc_id").as("da"))
    val mb = members.select(col("gid").as("id_b"), col("doc_id").as("db"))
    val cross = repPairs
      .join(ma.hint("shuffle_hash"), "id_a")
      .join(mb.hint("shuffle_hash"), "id_b")
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col(score))
    val within = members.select(col("gid"), col("doc_id").as("da"))
      .join(members.select(col("gid"), col("doc_id").as("db"))
        .hint("shuffle_hash"), "gid")
      .filter(col("da") < col("db"))
      .select(col("da").as("id_a"), col("db").as("id_b"),
        lit(1.0).as(score))
      .filter(col(score) >= theta)
    cross.unionByName(within)
  }

  def prefixJaccardPairs(shingled: DataFrame, theta: Double): DataFrame = {
    val thetaEff = theta - 1e-4
    val (members, docs) = dupGroups(sortedTokenDocs(shingled))
    val pref = docs.select(col("doc_id"), col("sz"),
      explode(slice(col("toks"), lit(1),
        (col("sz") - ceil(col("sz") * thetaEff) + 1).cast("int"))).as("p"))
    val a = pref.select(col("p"), col("doc_id").as("id_a"), col("sz").as("sz_a"))
    val b = pref.select(col("p"), col("doc_id").as("id_b"), col("sz").as("sz_b"))
    val cand = a.join(b.hint("shuffle_hash"), "p")
      .filter(col("id_a") < col("id_b") &&
        col("sz_a") >= col("sz_b") * thetaEff &&
        col("sz_b") >= col("sz_a") * thetaEff)
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val da = docs.select(col("doc_id").as("id_a"),
      col("toks").as("toks_a"), col("sz").as("sz_a"))
    val db = docs.select(col("doc_id").as("id_b"),
      col("toks").as("toks_b"), col("sz").as("sz_b"))
    val repPairs = cand.join(da.hint("shuffle_hash"), "id_a")
      .join(db.hint("shuffle_hash"), "id_b")
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= theta)
      .select("id_a", "id_b", "jaccard")
    expandDupPairs(repPairs, members, "jaccard", theta)
      .orderBy("id_a", "id_b")
  }

  /** ALL pairs of docs with shingle-set CONTAINMENT
    * |A∩B| / min(|A|,|B|) >= `theta` — EXACT, closing the recall caveat
    * the LSH containment screen ([[Dedup.containmentPairs]]) documents:
    * Jaccard-tuned banding can miss a tiny doc inside a huge one, because
    * high containment does not imply high Jaccard. Prefix filtering still
    * applies on the SMALLER side: overlap >= ceil(theta·|x|) for the
    * smaller set x, so x's first `|x| - ceil(theta·|x|) + 1` rare-first
    * tokens must hit the intersection (pigeonhole). The larger side,
    * however, cannot be length- or prefix-pruned (containment admits any
    * size ratio — that IS the operator), so candidates join the smaller
    * set's prefix against the FULL posting list of every other doc,
    * oriented by (size, id) so each unordered pair is generated once,
    * from its smaller member.
    *
    * Scale: the probe keys are each doc's RAREST tokens, so posting-list
    * matches stay short exactly where a naive token join explodes; hot
    * boilerplate tokens occur only on the (never-matching) posting side.
    * All data-dependent joins `shuffle_hash`-pinned like
    * [[prefixJaccardPairs]]; same `theta - 1e-4` guard for the rounded
    * output contract. */
  def prefixContainmentPairs(shingled: DataFrame, theta: Double): DataFrame = {
    val thetaEff = theta - 1e-4
    val (members, docs) = dupGroups(sortedTokenDocs(shingled))
    val pref = docs.select(col("doc_id"), col("sz"),
      explode(slice(col("toks"), lit(1),
        (col("sz") - ceil(col("sz") * thetaEff) + 1).cast("int"))).as("p"))
    val post = docs.select(col("doc_id"), col("sz"),
      explode(col("toks")).as("p"))
    val a = pref.select(col("p"), col("doc_id").as("id_a"), col("sz").as("sz_a"))
    val b = post.select(col("p"), col("doc_id").as("id_b"), col("sz").as("sz_b"))
    val cand = a.join(b.hint("shuffle_hash"), "p")
      .filter(col("sz_a") < col("sz_b") ||
        (col("sz_a") === col("sz_b") && col("id_a") < col("id_b")))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val da = docs.select(col("doc_id").as("id_a"),
      col("toks").as("toks_a"), col("sz").as("sz_a"))
    val db = docs.select(col("doc_id").as("id_b"),
      col("toks").as("toks_b"), col("sz").as("sz_b"))
    val repPairs = cand.join(da.hint("shuffle_hash"), "id_a")
      .join(db.hint("shuffle_hash"), "id_b")
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("containment", round(col("inter").cast("double") /
        least(col("sz_a"), col("sz_b")).cast("double"), 4))
      .filter(col("containment") >= theta)
      .select("id_a", "id_b", "containment")
    expandDupPairs(repPairs, members, "containment", theta)
      .orderBy("id_a", "id_b")
  }

  // ------------------------------------------- linear multi-touch attribution
  /** Linear multi-touch attribution over an event log (event_id, ts,
    * user_id, event_type, value): each purchase's value in cents is split
    * equally (integer `div` — exact in any engine) across the same user's
    * view/click touches in the `windowDays` before it, rolled up per
    * touch type. One user-keyed equi-join with the time window as a join
    * filter (shuffle_hash: both sides are event-scale and data-dependent),
    * then a purchase-keyed count window — partition size bounded by
    * touches-per-purchase, never user volume. */
  def linearAttribution(ev: DataFrame, windowDays: Int = 3): DataFrame = {
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"),
        col("ts").as("pts"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val t = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts").as("tts"),
        col("event_type").as("touch_type"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("pid")
    p.join(t.hint("shuffle_hash"), Seq("user_id"))
      .filter(col("tts") < col("pts") &&
        col("tts") >= col("pts") - expr(s"INTERVAL $windowDays DAYS"))
      .withColumn("n_t", count(lit(1)).over(w))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_touches"),
        countDistinct("pid").as("n_conversions"),
        sum(expr("cents div n_t")).as("credited_cents"))
      .orderBy("touch_type")
  }

  // --------------------------------------------- Misra-Gries heavy hitters
  /** Per-partition Misra-Gries summaries over a `tok` column: at most `k`
    * (token, counter) rows per partition, one streaming pass, O(k) state —
    * the genuine `mapPartitions` case (a mergeable sketch the DataFrame
    * algebra can't express with bounded memory). MG guarantee per
    * partition p: count_p(t) - n_p/(k+1) <= mg_p(t) <= count_p(t), so any
    * token with GLOBAL count >= n/(k+1) survives in at least one
    * partition's summary — the no-false-negative property
    * [[heavyHitters]] builds on. */
  def mgCandidates(toks: DataFrame, k: Int): DataFrame = {
    val sp = toks.sparkSession
    import sp.implicits._
    toks.select(col("tok")).as[String].mapPartitions { it =>
      val m = new scala.collection.mutable.HashMap[String, Long]()
      it.foreach { t =>
        m.get(t) match {
          case Some(c) => m.update(t, c + 1)
          case None if m.size < k => m.update(t, 1L)
          case None =>
            // classic MG step: decrement every counter, drop zeros (the
            // arriving token is uncounted). Amortized O(1): each
            // decrement pass cancels k prior increments.
            val snap = m.toArray
            snap.foreach { case (key, c) =>
              if (c == 1L) m.remove(key) else m.update(key, c - 1L)
            }
        }
      }
      m.iterator
    }.toDF("tok", "mg")
  }

  /** Tokens appearing in >= `minFrac` of all token positions — EXACT
    * counts, with candidate pruning so no shuffle ever carries the
    * vocabulary: pass 1 builds per-partition MG(k) summaries (<= k rows
    * per partition — broadcastable by construction); pass 2 re-scans,
    * keeps candidate tokens via a broadcast semi-join (map-side filter),
    * and exact-counts only those. With k+1 >= 1/minFrac the MG slack
    * n/(k+1) <= minFrac*n, so every true heavy hitter is a candidate —
    * the exact second pass then makes false positives harmless. Output is
    * partitioning-invariant even though the intermediate candidate SET is
    * not (extra candidates are filtered by the exact threshold).
    *
    * vs a plain groupBy(tok): same answer, but the groupBy shuffles one
    * row per distinct token — at web-corpus scale a multi-billion-row
    * vocabulary shuffle for an output of a few hundred rows. Here shuffle
    * 1 is <= k rows/partition and shuffle 2 is the candidate-only
    * pre-aggregate. */
  def heavyHitters(docs: DataFrame, minFrac: Double, counters: Int): DataFrame = {
    // STRICT >: at equality the Misra-Gries slack n/(k+1) equals the
    // support threshold, and a token with count exactly ceil(n*minFrac)
    // is only guaranteed a candidate when its count EXCEEDS the slack —
    // the boundary configuration can silently drop a qualifying token.
    require(counters + 1 > 1.0 / minFrac,
      s"counters=$counters cannot guarantee recall at minFrac=$minFrac " +
        "(need counters+1 > 1/minFrac)")
    val toks = docs.select(explode(Dedup.tokens(col("text"))).as("tok"))
    val cand = mgCandidates(toks, counters).select("tok").distinct()
    val tot = toks.agg(count(lit(1)).as("n"))
    toks.join(broadcast(cand), Seq("tok"), "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot)) // 1-row stats join
      .filter(col("cnt") >= ceil(col("n") * minFrac))
      .select(col("tok"), col("cnt"))
      .orderBy(desc("cnt"), col("tok"))
  }

  // --------------------------------------------- a-priori frequent pairs
  /** Token pairs co-occurring in >= `minSupport` documents — frequent-
    * itemset mining at the pair level, with the a-priori downward-closure
    * prune: a pair can only be frequent if BOTH members are, so the
    * (doc, token) set is first semi-joined against the frequent-singleton
    * list, and only then self-joined per doc. The prune is what keeps the
    * per-doc pair explosion bounded at corpus scale: the frequent
    * vocabulary has at most total_tokens/minSupport entries regardless of
    * corpus size, so it broadcasts by construction (same bounded-side
    * argument as [[heavyHitters]]'s candidate set), and per-doc pair
    * counts are quadratic only in each doc's FREQUENT-token count, never
    * its length. The pair-generating self-join is doc-keyed and
    * shuffle_hash-pinned (both sides corpus-sized). */
  def frequentPairs(docs: DataFrame, minSupport: Long): DataFrame = {
    val dt = docs.select(col("doc_id"),
      explode(array_distinct(Dedup.tokens(col("text")))).as("tok"))
    val freq1 = dt.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minSupport)
      .select("tok")
    val pruned = dt.join(broadcast(freq1), Seq("tok"), "left_semi")
    val a = pruned.select(col("doc_id"), col("tok").as("tok_a"))
    val b = pruned.select(col("doc_id"), col("tok").as("tok_b"))
    a.join(b.hint("shuffle_hash"), "doc_id")
      .filter(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .orderBy(desc("support"), col("tok_a"), col("tok_b"))
  }

  // ------------------------------------------- contribution cap at ingest
  /** Standing contribution-cap ledger: the kept events, keyed by the
    * globally-unique event id (the [[IngestRecipe]] anti-join key). Size
    * is bounded by cap × users, never event volume. */
  val CapLedgerSchema: types.StructType = types.StructType(Seq(
    types.StructField("event_id", types.LongType),
    types.StructField("user_id", types.LongType)))

  /** Schema of the exactly-once kept-events batch output. */
  val CapKeptSchema: types.StructType = types.StructType(Seq(
    types.StructField("event_id", types.LongType),
    types.StructField("user_id", types.LongType),
    types.StructField("ts", types.TimestampType),
    types.StructField("event_type", types.StringType),
    types.StructField("value", types.DoubleType)))

  /** One event micro-batch through the per-user contribution cap — the
    * at-ingest form of `events_contribution_cap` (at 100 TB the cap is
    * enforced as data ARRIVES, never by re-ranking full history): each
    * user keeps their first `cap` events in arrival order (within a
    * batch: ts then event_id, the batch query's order), counted against
    * the standing ledger of already-kept events. Kept rows land under
    * `batch_id=<id>` with overwrite (exactly-once); the ledger then gains
    * the kept (event_id, user_id) rows by re-reading that just-written
    * output (a lazy schema-pinned read, so the append never self-reads
    * the ledger path it writes). When batches arrive in ts order the
    * folded kept set equals the batch query's earliest-`cap` set
    * (spec-pinned); out-of-order arrival degrades to first-ARRIVED-`cap`,
    * the honest streaming contract. Replay armor: the quota probe is
    * countDistinct per user (duplicate-tolerant) over the anti-joined
    * pre-crash base, and a crash-after-output replay re-appends identical
    * ledger rows that same countDistinct collapses
    * ([[IngestRecipe.compact]] is the standing repair).
    *
    * Plan: TopKPerGroup prunes the batch to ≤ cap rows per user with
    * map-side combinable heaps (a hot user costs O(n log cap), no
    * per-user sort), the ledger count is one combinable agg over a
    * cap-bounded table, and the quota join is user-keyed. */
  def capIngestBatch(batch: DataFrame, ledgerPath: String, keptOutPath: String,
      batchId: Long, cap: Int = 20): Unit = {
    val rows = batch.select("event_id", "user_id", "ts", "event_type", "value")
    IngestRecipe.applyBatchMergeFromOutput(batchId, keptOutPath, CapKeptSchema,
      Seq((ledgerPath, CapLedgerSchema, rows.select("event_id")))) {
      case Seq(base) =>
        val nBase = base.groupBy("user_id")
          .agg(countDistinct(col("event_id")).as("n_base"))
        graft.plans.TopKPerGroup(rows, cap, Seq("user_id"),
            Seq(("ts", true), ("event_id", true)))
          .join(nBase.hint("shuffle_hash"), Seq("user_id"), "left")
          .filter(col("rn") <= lit(cap.toLong) - coalesce(col("n_base"), lit(0L)))
          .select("event_id", "user_id", "ts", "event_type", "value")
          .orderBy("event_id")
    } { kept =>
      Seq(IngestRecipe.IndexPart(ledgerPath, CapLedgerSchema,
        kept.select("event_id", "user_id")))
    }
  }
}
