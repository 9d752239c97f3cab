package graft.queries

import graft.SparkSpec
import graft.SparkEntry
import graft.ext.{Dedup, Similarity}
import graft.queries.Registry.table

/** Plan-shape regression guards: the properties that make these queries
  * scale must survive refactors — pushed filters, broadcast dim joins,
  * single-stage narrow pipelines, TakeOrdered top-k. Assertions are kept
  * loose (substring-level) so Spark-version plan cosmetics don't break
  * them. */
class PlanShapeSpec extends SparkSpec {

  private def explained(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.001"))
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)

  test("q1: shipdate predicate reaches the parquet scan") {
    val plan = explained("q1_pricing_summary")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), plan)
  }

  test("q1: scan is column-pruned to the referenced columns") {
    val plan = explained("q1_pricing_summary")
    assert(!plan.contains("l_orderkey"), s"q1 must not read join keys it never uses:\n$plan")
  }

  test("q3: both dimension joins broadcast") {
    val plan = explained("q3_top_orders")
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 2, plan)
  }

  test("etl_pipeline: narrow plan — the only exchange is the deterministic output sort") {
    val plan = explained("etl_pipeline")
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("rangepartitioning"), plan)
  }

  test("etl_pipeline: zero UDFs — everything is native expressions") {
    val plan = explained("etl_pipeline")
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("topk_orders: global limit plans as TakeOrdered, not a global sort") {
    val plan = explained("topk_orders")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("join_semi/anti plan as semi/anti hash joins") {
    assert(explained("join_semi").contains("LeftSemi"), explained("join_semi"))
    assert(explained("join_anti").contains("LeftAnti"), explained("join_anti"))
  }

  test("q4: EXISTS plans as a left-semi join with the quarter filter pushed") {
    val plan = explained("q4_order_priority")
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"), plan)
  }

  test("q3: segment filter pushed to the customer scan; top-k plans as TakeOrdered") {
    val plan = explained("q3_top_orders")
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q5: four dims broadcast; order-date range pushed to the orders scan") {
    val plan = explained("q5_nation_revenue")
    // >= 4: the four explicitly-broadcast dims; the tiny sf0.001 orders
    // side may auto-broadcast as a fifth, which at scale it would not
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 4, plan)
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), plan)
    assert(plan.contains("LessThan(o_orderdate"), plan)
  }

  test("funnel: stacked windows + per-user agg reuse ONE user_id exchange") {
    val plan = explained("events_funnel")
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size == 1, plan)
  }

  test("q14: part dim is broadcast; month filter reaches the lineitem scan") {
    val plan = explained("q14_promo_revenue")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
  }

  test("q10: returnflag filter pushed to the lineitem scan; top-20 plans as TakeOrdered") {
    val plan = explained("q10_returned_items")
    assert(plan.contains("EqualTo(l_returnflag,R)"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q21: EXISTS/NOT EXISTS chain plans as one semi + one anti join") {
    val plan = explained("q21_waiting_supplier")
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q15: scalar-max join broadcasts; no nested-loop over the revenue view") {
    val plan = explained("q15_top_supplier")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q18: HAVING subquery plans as a semi join against the aggregated keys") {
    val plan = explained("q18_large_orders")
    assert(plan.contains("LeftSemi"), plan)
  }

  test("hot paths stay inside whole-stage codegen (no interpreted fallback)") {
    Seq("q1_pricing_summary", "etl_pipeline", "sql_vector_dot").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
      df.collect() // materialize so AQE reports the FINAL plan with codegen ids
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // under AQE the formatted final plan tags each fused operator with
      // its whole-stage codegen stage id; scans/aggregates/projects of the
      // hot path must carry one
      assert(plan.contains("[codegen id :"), s"$name lost codegen:\n$plan")
    }
  }

  test("q22: scalar subquery broadcasts (no collect); NOT EXISTS plans as anti join") {
    val plan = explained("q22_dormant_customers")
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
  }

  // ---------------------------------------------------------------------
  // Scale-pin guards: the shuffle_hash hints on the dedup/ANN bucket joins
  // exist because both join sides are data-dependent in size — a dropped
  // hint silently reverts to auto-broadcast (OOM on duplicate-heavy
  // corpora) or sort-merge (pointless sort of hash buckets). These guards
  // fail the build if a refactor loses a pin.

  private def explainDf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)

  test("minhash LSH bucket self-join keeps its shuffle_hash pin") {
    val sh = Dedup.shingleRows(Dedup.planted(table(spark, sf("sf0.001"), "documents")))
    val plan = explainDf(Dedup.minhashCandidates(sh))
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"), plan)
  }

  test("minhash verify joins (cand→shingles) keep their shuffle_hash pins") {
    val plan = explainDf(Dedup.minhashPairs(table(spark, sf("sf0.001"), "documents")))
    // bucket self-join + two (id, shingle) verify joins — all three pinned
    assert("ShuffledHashJoin".r.findAllIn(plan).size >= 3, plan)
  }

  test("slop phrase: occurrence-alignment joins stay shuffle_hash equi-joins on doc_id") {
    // the window checks must be POST-JOIN filters, never a theta-join on
    // pos: a range join would forfeit the hash path and quadratic-scan
    // every doc's occurrence-list pair
    val positions = graft.ext.TextStats.positionRows(
      table(spark, sf("sf0.001"), "documents"))
    val plan = explainDf(graft.ext.TextStats.phraseFromIndexSlop(
      positions, Seq("hash", "join", "scan"), 2))
    assert("ShuffledHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("containment screen keeps the same pinned-join shape as the minhash verify") {
    val plan = explainDf(Dedup.containmentPairs(table(spark, sf("sf0.001"), "documents")))
    // shared LSH bucket self-join + two (id, shingle) verify joins — same
    // machinery as minhashPairs, so the same pins must hold: a cartesian
    // or auto-broadcast here means the shared-index screen went all-pairs
    assert("ShuffledHashJoin".r.findAllIn(plan).size >= 3, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dedup_embedding: bucket + verify joins shuffle_hash; no all-pairs non-equi self-join") {
    val emb = table(spark, sf("sf0.001"), "embeddings")
    val df = Dedup.embeddingNearDupBucketed(emb, 0.3, nlist = 16)
    val plan = explainDf(df)
    // cluster-bucket self-join + the two exact-cosine verify joins
    assert("ShuffledHashJoin".r.findAllIn(plan).size == 3, plan)
    // the only nested-loop is the broadcast-centroid IVF assignment cross
    // (once per self-join branch in the text) — an embeddings×embeddings
    // non-equi join (the exact all-pairs baseline) would add a third
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // and at runtime the duplicated assignment prefix is NOT computed
    // twice: the per-vector window exchange is deduplicated by
    // ReuseExchange — the property that keeps the recomputed-subtree cost
    // a narrow post-shuffle remainder
    df.collect()
    val finalPlan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(finalPlan.contains("ReusedExchange"),
      s"assignment subtree must be shared via exchange reuse:\n$finalPlan")
  }

  test("ANN LSH: signature-bucket join and corpus re-score join keep shuffle_hash pins") {
    val emb = table(spark, sf("sf0.001"), "embeddings")
    val plan = explainDf(Similarity.lshTopK(emb))
    assert("ShuffledHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("BroadcastHashJoin"), s"query side must broadcast:\n$plan")
  }

  test("ANN IVF: corpus re-score join keeps its shuffle_hash pin") {
    val emb = table(spark, sf("sf0.001"), "embeddings")
    val plan = explainDf(Similarity.ivfTopK(emb))
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("indexed IVF probe: dynamic partition pruning skips unprobed buckets; candidates match") {
    val emb = table(spark, sf("sf0.001"), "embeddings")
    val path = "/tmp/graft_test_ivf_index"
    Similarity.buildIvfIndex(emb, 16, path)
    val idx = spark.read.schema(Similarity.IvfIndexSchema).parquet(path)
    val df = Similarity.ivfIndexCandidates(idx, emb)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"index scan must be dynamically partition-pruned:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Similarity.ivfCandidates(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, "indexed probe must produce the ivfCandidates set")
  }

  test("registered dedup_embedding pays no corpus-count job once nlist is cached") {
    val emb = table(spark, sf("sf0.001"), "embeddings")
    val sc = spark.sparkContext
    def jobsIn(group: String): Seq[Int] = {
      // status store updates async off the listener bus — poll briefly
      val deadline = System.nanoTime() + 5000000000L
      var ids = sc.statusTracker.getJobIdsForGroup(group).toSeq
      while (ids.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(100); ids = sc.statusTracker.getJobIdsForGroup(group).toSeq
      }
      ids
    }
    try {
      // control: default √n sizing runs a count() job at plan-construction
      // time — proves the detection mechanism sees construction jobs
      sc.setJobGroup("nlist-default", "control")
      Dedup.embeddingNearDupBucketed(emb, 0.3)
      assert(jobsIn("nlist-default").nonEmpty,
        "control failed: default sizing should run a count() job")
      // the registered call site passes the cached nlist → no job
      val n = ExtQueries.ivfNlist(spark, sf("sf0.001"))
      sc.setJobGroup("nlist-cached", "guard")
      Dedup.embeddingNearDupBucketed(emb, 0.3, nlist = n)
      Thread.sleep(1000)
      assert(sc.statusTracker.getJobIdsForGroup("nlist-cached").isEmpty,
        "plan construction with an explicit nlist must not run Spark jobs")
    } finally sc.clearJobGroup()
  }

  test("embed_quantize: narrow scan-speed plan — only the output sort exchanges") {
    val plan = explained("embed_quantize")
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("dedup_lines: narrow chunking, windowless first-occurrence, bounded exchanges") {
    val plan = explained("dedup_lines")
    // r17 shape: chunk assembly is per-row (no token shuffle); the
    // first-occurrence pick is a chunk-keyed min aggregation joined back
    // (shuffle_hash) — a PARTITION BY chunk window would buffer every
    // instance of a hot boilerplate chunk in one task
    assert(!plan.contains("Window"),
      s"first-occurrence must stay windowless:\n$plan")
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"), plan)
    // chunk-keyed agg (+ the join-back probe side), doc survival agg, and
    // the deterministic output sort — the per-token exchange is gone
    assert("Exchange".r.findAllIn(plan).size <= 4, plan)
  }

  test("text_entropy: two keyed aggregations plus the output sort, zero joins") {
    val plan = explained("text_entropy")
    assert("Exchange".r.findAllIn(plan).size == 3, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("PQ ANN: codebook/ADC lookups broadcast; no sort-merge or cartesian anywhere") {
    val plan = explainDf(Similarity.pqCandidates(
      table(spark, sf("sf0.001"), "embeddings")))
    // subspace→codebook assignment join + ADC lookup join are both
    // broadcast (the codebook is m·ksub rows at any corpus size)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("IVF-PQ: corpus-sized code/bucket join keeps its shuffle_hash pin; probe joins broadcast") {
    val plan = explainDf(Similarity.ivfpqCandidates(
      table(spark, sf("sf0.001"), "embeddings")))
    // codes ⋈ bucket-assignment: both sides corpus-sized → must stay
    // a shuffled hash join, never auto-broadcast or sort-merge
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // probe filter + ADC table + offset joins ride broadcasts
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan)
  }

  // ------------------------------------------- scale-infrastructure ops

  test("scd2_build: one hash exchange feeds both window passes") {
    val plan = explained("scd2_build")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"SCD2 must shuffle on the key exactly once:\n$plan")
    assert("Window".r.findAllIn(plan).size >= 2, plan)
  }

  test("agg_histogram_equidepth: boundaries broadcast, no global-sort ntile") {
    val plan = explained("agg_histogram_equidepth")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert("(?<![a-z])ntile\\(".r.findFirstIn(plan).isEmpty,
      s"equi-depth must not plan a global ntile:\n$plan")
  }

  test("graph_pagerank: iterations read the materialized edge artifact, never the fact table") {
    val plan = explained("graph_pagerank")
    assert(plan.contains("/tmp/graft_graph/"), s"edge artifact missing:\n$plan")
    assert(!plan.contains("lineitem.parquet"),
      s"iterations must not re-derive edges from the fact table:\n$plan")
  }

  test("join_bloom_pruned: might_contain filters the fact side below an exact semi join") {
    val plan = explained("join_bloom_pruned")
    assert(plan.contains("might_contain"), plan)
    assert(plan.contains("LeftSemi"), plan)
    // the sketch probe must sit on the scan side, before the join: in the
    // tree rendering the Filter(might_contain...) line appears after the
    // join line it feeds
    val probeAt = plan.indexOf("might_contain")
    val joinAt = plan.indexOf("LeftSemi")
    assert(joinAt >= 0 && probeAt > joinAt,
      s"bloom probe must be below (after, in tree order) the semi join:\n$plan")
  }

  test("source_partitioned: the year predicate prunes partitions at the scan") {
    val plan = explained("source_partitioned")
    assert("PartitionFilters: \\[[^\\]]*\\(y#\\d+ = 1995\\)".r.findFirstIn(plan).isDefined,
      s"partition pruning missing:\n$plan")
  }

  test("link_fuzzy: census + salted-grid joins keep their shuffle_hash pins") {
    val plan = explained("link_fuzzy")
    // block-census join + the s×s grid pair join — both pinned: both
    // sides are corpus-derived and data-dependent in size
    assert("ShuffledHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("graph_triangles: serves from the oriented-adjacency artifact; joins pinned") {
    val plan = explained("graph_triangles")
    // 2 adjacency joins, both sides corpus-sized: none may auto-broadcast
    // or sort-merge; orientation/degree work lives in the snapshot build,
    // so the serving plan reads the artifact, never the fact table
    assert("ShuffledHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("/tmp/graft_tri/"), s"triangle artifact missing:\n$plan")
    assert(!plan.contains("lineitem.parquet"),
      s"serving must not re-derive edges from the fact table:\n$plan")
  }

  test("graph_khop: hub list broadcasts; hops read the edge artifact, not the fact table") {
    val plan = explained("graph_khop")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("/tmp/graft_graph/"), s"edge artifact missing:\n$plan")
    assert(!plan.contains("lineitem.parquet"),
      s"hops must not re-derive edges from the fact table:\n$plan")
  }

  test("profile_rfm: 1-row reference date broadcasts; no shuffle join anywhere") {
    val plan = explained("profile_rfm")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  test("stats_winsorize: percentile bounds broadcast onto the scan") {
    val plan = explained("stats_winsorize")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  test("text_ngram_dupspans: doc-frequency join shuffle_hash; no gram-partitioned window") {
    val plan = explained("text_ngram_dupspans")
    // a Window partitioned by gram would buffer every doc of a hot
    // boilerplate gram in one task — the shape must stay join+agg
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
  }

  test("corpus_split_leakage: fingerprint probe is left_semi; split rollup broadcasts") {
    val plan = explained("corpus_split_leakage")
    // left_semi: train-side multiplicity must never re-expand the probe;
    // the ≤2-row split aggregate join is the only legitimate broadcast
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sample_importance: 64-row ratio table broadcasts; top-300 is a TakeOrdered") {
    val plan = explained("sample_importance")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("graph_ppr: seeds broadcast, inflow joins pinned, edges from the artifact") {
    val plan = explained("graph_ppr")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("/tmp/graft_graph/"), s"edge artifact missing:\n$plan")
    assert(!plan.contains("lineitem.parquet"),
      s"iterations must not re-derive edges from the fact table:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("stats_zonemap_prune: 1-row stats broadcast; no shuffle join") {
    val plan = explained("stats_zonemap_prune")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  test("skew_profile: top-key via TakeOrdered; 1-row joins broadcast; one key shuffle") {
    val plan = explained("skew_profile")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  test("text_bpe_pairs: two combinable aggregates + TakeOrdered, no joins at all") {
    val plan = explained("text_bpe_pairs")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Join"), s"vocab pair counting must be pure aggregation:\n$plan")
  }

  test("text_cdc_chunks: chunk-frequency join shuffle_hash; no windows, no cartesian") {
    val plan = explained("text_cdc_chunks")
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
  }

  test("mv_incremental: history comes from the MV artifact; delta filter pushed to orders scan") {
    val plan = explained("mv_incremental")
    assert(plan.contains("/tmp/graft_mv/"), s"MV artifact missing:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"delta date filter must reach the orders scan:\n$plan")
  }

  test("text_bm25: corpus-stat joins all broadcast — no shuffle join on the token stream") {
    val plan = explained("text_bm25")
    // the 1-row (n_docs, avgdl) frame is the only join, broadcast; dfreq
    // is a window over the term-keyed tf rows, not a joined-back aggregate
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("Expand") && !plan.contains("count(distinct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("ShuffledHashJoin"), plan)
  }

  test("search_bm25_indexed: one pruned postings scan; no count(distinct); no doclens or ledger scan") {
    val plan = explained("search_bm25_indexed")
    val postingScans = plan.split("\n")
      .count(l => l.contains("FileScan") && l.contains("/idx/postings"))
    assert(postingScans == 1, s"$postingScans postings scans, want exactly one:\n$plan")
    // dfreq is a window over the deduped term-keyed rows, not a
    // count(distinct) aggregate (its Expand and two extra exchanges)
    assert(!plan.contains("Expand") && !plan.contains("count(distinct"), plan)
    // (n_docs, avgdl) come from a driver read of the stats ledger: the
    // plan scans neither the doclens component nor the ledger
    assert(!plan.contains("doclens") && !plan.contains("/idx/stats"), plan)
    assert("PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(plan).isDefined,
      s"no non-empty tb partition-filter list in the postings scan:\n$plan")
  }

  // ------------------------------------------------ round-7 mining guards

  test("join_setsim_prefix: candidate/verify joins all shuffle_hash; sorted docs persisted once") {
    val plan = explained("join_setsim_prefix")
    // prefix candidate self-join + two verify joins; the shingle-df join
    // runs once inside the sortedTokenDocs persist (the InMemoryRelation
    // feeds all four branches — the round-10 fix for the 4× recompute,
    // lineage-retaining persist since round 11), so it is not in THIS plan
    assert("ShuffledHashJoin".r.findAllIn(plan).size >= 3, plan)
    assert(("Scan ExistingRDD".r.findAllIn(plan).size
      + "InMemoryTableScan".r.findAllIn(plan).size) >= 3,
      s"all branches must read the materialized sorted-docs relation:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"),
      s"every join side is data-dependent — nothing may auto-broadcast:\n$plan")
  }

  test("join_containment_prefix: candidate/verify joins all shuffle_hash; sorted docs persisted once") {
    val plan = explained("join_containment_prefix")
    // prefix-vs-postings candidate join + two verify joins; shingle-df
    // join inside the persisted relation, as above
    assert("ShuffledHashJoin".r.findAllIn(plan).size >= 3, plan)
    assert(("Scan ExistingRDD".r.findAllIn(plan).size
      + "InMemoryTableScan".r.findAllIn(plan).size) >= 3,
      s"all branches must read the materialized sorted-docs relation:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"),
      s"every join side is data-dependent — nothing may auto-broadcast:\n$plan")
  }

  test("agg_heavy_hitters: candidate filter is a broadcast semi-join; stats join is 1-row") {
    val plan = explained("agg_heavy_hitters")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"candidate pruning must stay map-side:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"), s"1-row total join:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  test("events_attribution: user-keyed join keeps its shuffle_hash pin") {
    val plan = explained("events_attribution")
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
  }

  test("search_phrase: posting joins shuffle_hash; term filters applied before the join") {
    val plan = explained("search_phrase")
    assert("ShuffledHashJoin".r.findAllIn(plan).size >= 2, plan)
    // each posting branch filters its term below the join, not after
    assert(plan.contains("= hash") && plan.contains("= join"),
      s"term predicates must appear as filters:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("layout_compaction: running-total window is partitioned (no global window)") {
    val plan = explained("layout_compaction")
    assert(plan.contains("Window"), plan)
    assert(plan.contains("hashpartitioning(part"),
      s"window must partition by the table partition, never a single task:\n$plan")
  }

  test("feature_bins: single 1-row cutpoint broadcast; no shuffle joins") {
    val plan = explained("feature_bins")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  // --------------------------------------------- round-7 batch-B guards

  test("itemsets_pairs: a-priori prune is a broadcast semi-join; pair join shuffles") {
    val plan = explained("itemsets_pairs")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"frequent-singleton prune must stay map-side:\n$plan")
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("stats_covariance: one narrow agg pass — no joins anywhere") {
    val plan = explained("stats_covariance")
    assert(!plan.contains("Join"),
      s"covariance must reduce in one pass, never join exploded pairs:\n$plan")
  }

  test("dedup_incremental: probes the persisted index; verify joins all pinned") {
    // the banded candidate probe runs at construction (OracleAux seam);
    // the explained plan is the verify phase — its shingle AND size joins
    // must all stay shuffle_hash (every side is corpus-sized)
    val plan = explained("dedup_incremental")
    assert(plan.contains("graft_minhash_idx"),
      s"incremental dedup must read the index artifact:\n$plan")
    assert("ShuffledHashJoin".r.findAllIn(plan).size >= 4, plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
  }

  test("snapshot_diff: one key-keyed full-outer join, sort-free, no nested loop") {
    val plan = explained("snapshot_diff")
    assert(plan.contains("FullOuter"), plan)
    assert(plan.contains("ShuffledHashJoin"),
      s"unique-keyed snapshot compare should not pay two sorts:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("join_interval_overlap: bucketized equi-join broadcasts the month dim — never a BNLJ") {
    val plan = explained("join_interval_overlap")
    // the promo dim is calendar-bounded → broadcast; the exploded fact
    // stream must NOT shuffle on the ~90-key month column (parallelism
    // cap + skew, measured ×10.9 on the ×8 probe with shuffle_hash)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("ShuffledHashJoin") && !plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"the whole point is avoiding the theta-join BNLJ:\n$plan")
  }

  test("compliance_forget: erasure joins broadcast (map-side), zero shuffle joins") {
    val plan = explained("compliance_forget")
    assert(plan.contains("LeftAnti") && plan.contains("LeftSemi"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the forget list is request-sized — anti/semi joins must broadcast:\n$plan")
  }

  test("sample_negatives: positives anti-join shuffle_hash; item-count join is 1-row broadcast") {
    val plan = explained("sample_negatives")
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.contains("ShuffledHashJoin"),
      s"the positives side is corpus-sized — never broadcast it:\n$plan")
    // the only nested-loop is the broadcast 1-row max(p_partkey) stats join
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("feature_hash: pure two-level aggregation — no joins, map-side combine") {
    val plan = explained("feature_hash")
    assert(!plan.contains("Join"), s"the hashing trick needs no vocabulary join:\n$plan")
    assert(plan.contains("partial_"), s"bucket counts must combine map-side:\n$plan")
  }

  test("graph_link_predict: wedge/anti joins pinned shuffle_hash; top-k is TakeOrdered") {
    val plan = explained("graph_link_predict")
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("LeftAnti"), s"existing edges must anti-join away:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must never be a global sort:\n$plan")
  }

  test("events_funnel_windowed: stacked windows + per-user agg reuse ONE user_id exchange") {
    val plan = explained("events_funnel_windowed")
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size == 1, plan)
  }

  test("stats_regression: one combinable agg pass — no joins, moment sums only") {
    val plan = explained("stats_regression")
    assert(!plan.contains("Join"), s"the OLS fit must stay a single groupBy:\n$plan")
    assert(plan.contains("partial_"), s"moment sums must map-side combine:\n$plan")
  }

  test("stats_mad_outliers: every stats rejoin broadcasts — no shuffle joins") {
    val plan = explained("stats_mad_outliers")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"median/MAD tables are group-count-sized — they must broadcast:\n$plan")
  }

  test("stats_abtest: single conditional-agg pass; arm split never joins") {
    val plan = explained("stats_abtest")
    assert(!plan.contains("Join"), s"arms come from CASE, not a self-join:\n$plan")
    assert(plan.contains("EqualTo(event_type,purchase)"),
      s"the event-type filter must reach the parquet scan:\n$plan")
  }

  test("events_pattern_match: one user-keyed aggregation, no joins, no UDFs") {
    val plan = explained("events_pattern_match")
    assert(!plan.contains("Join"), plan)
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size == 1, plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("stats_psi: cutpoints and totals broadcast 1-row; no shuffle joins") {
    val plan = explained("stats_psi")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"stats tables are 1-row — they must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("agg_cms_freq: sketch broadcasts to the probe side; estimates stay UDF-free") {
    val plan = explained("agg_cms_freq")
    assert(!plan.toLowerCase.contains("udf"),
      s"the point query must be declared arithmetic, not a UDF:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the sketch join is a broadcast 1-row stats join:\n$plan")
  }

  test("pack_sequences: two-level prefix sum — offsets broadcast, doc cumsum sharded") {
    // The scale contract: the doc-level running sum must be partitioned
    // by (lang, shard) — parallelism langs × shards — and the per-shard
    // offsets must come back via a broadcast, never a shuffled join of
    // the full doc relation against itself.
    val plan = graft.SparkEntry.queries("pack_sequences")(spark, sf("sf0.001"))
      .queryExecution.sparkPlan
    val docWindows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExecBase => w.partitionSpec.length
    }
    assert(docWindows.nonEmpty && docWindows.forall(_ >= 1),
      s"every window must be partitioned:\n$plan")
    // the doc-level cumsum runs over (lang, shard) — at least one 2-key window
    assert(docWindows.exists(_ >= 2),
      s"doc-level cumsum must partition by (lang, shard), not lang alone:\n$plan")
    val s = plan.toString
    assert(s.contains("BroadcastHashJoin"),
      s"offsets must join back via broadcast:\n$s")
    assert(!s.contains("SortMergeJoin") && !s.contains("CartesianProduct"), s)
  }

  test("no registered query plans an unpartitioned window (allowed set: window_running)") {
    // An unpartitioned window moves the whole input to ONE task — the
    // single worst silent scale failure an operator can adopt. Exactly one
    // registered query is allowed the shape: window_running, whose input
    // is the calendar-bounded daily pre-aggregate (~2.4k rows at any SF,
    // with a loud never-copy-this warning at the definition). This guard
    // sweeps EVERY registered query's physical plan so a future operator
    // cannot silently join the set.
    val allowed = Set("window_running")
    graft.queries.Warmup.artifacts(spark, sf("sf0.001"))
    val offenders = graft.SparkEntry.registry.keys.toSeq.sorted.flatMap { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf("sf0.001"))
        .queryExecution.sparkPlan
      val bare = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExecBase
          if w.partitionSpec.isEmpty => w.getClass.getSimpleName
        case l: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          if l.partitionSpec.isEmpty => l.getClass.getSimpleName
      }
      if (bare.nonEmpty && !allowed(name)) Some(s"$name: ${bare.mkString(",")}")
      else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows outside the allowed set:\n${offenders.mkString("\n")}")
  }

  test("agg_hll_rollup: two-level sketch agg — no joins, partial registers merge") {
    // Guard the sketch-build subtree (the registered query's output side
    // is the persisted read-back, same as the other OracleAux queries).
    val daily = graft.queries.Registry.events(spark, sf("sf0.001"))
      .groupBy(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")).as("d"), org.apache.spark.sql.functions.col("event_type"))
      .agg(org.apache.spark.sql.functions.hll_sketch_agg(
        org.apache.spark.sql.functions.col("user_id"), 12).as("sk"))
    val rolled = daily.groupBy("event_type")
      .agg(org.apache.spark.sql.functions.hll_sketch_estimate(
        org.apache.spark.sql.functions.hll_union_agg(
          org.apache.spark.sql.functions.col("sk"), allowDifferentLgConfigK = false)))
    val plan = rolled.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(!plan.contains("Join"), plan)
    assert("Exchange".r.findAllIn(plan).size == 2,
      s"exactly the two keyed agg exchanges (day-level, type-level):\n$plan")
    assert(plan.contains("partial_hll_sketch_agg") || plan.contains("partial_"),
      s"day sketches must build map-side:\n$plan")
  }

  test("text_boilerplate: chunk-frequency join keeps its shuffle_hash pin; windowless") {
    val plan = explained("text_boilerplate")
    // the document-frequency table is corpus-sized — never broadcast,
    // never sort-merged for one equi-lookup
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"), plan)
    // a PARTITION BY chunk window would serialize hot boilerplate chunks
    assert(!plan.contains("Window"), s"boilerplate screen must stay windowless:\n$plan")
  }

  test("sample_temperature: rate table broadcasts onto the scan; no fact-side shuffle") {
    val plan = explained("sample_temperature")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |sources|-row rate table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("stats_kstest: offsets/normalizer broadcast; no sort-merge or cartesian") {
    val plan = explained("stats_kstest")
    assert(plan.contains("BroadcastHashJoin"),
      s"the <=1024-row offsets table must broadcast back:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
    // the global unpartitioned-window sweep separately guarantees both
    // cumsum windows here are bucket-partitioned
  }

  test("stats_chisq: one corpus aggregate, then broadcast-only grid joins") {
    val plan = explained("stats_chisq")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"margins/total/cells are tiny derived frames — they must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("curation_attrition: union-only corpus pass — no joins anywhere") {
    val plan = explained("curation_attrition")
    assert(!plan.contains("Join"),
      s"the funnel is one windowed pass + one global agg, never a join:\n$plan")
  }

  /** Every executed plan fired while fully running `name` — the
    * localCheckpointed retrieval legs run as their own SQL executions, so
    * the final plan alone can't prove what a query read; the listener
    * sees every QueryExecution the query fires (incl. checkpoint
    * actions). The bus can deliver one action's event through MORE THAN
    * ONE QueryExecution object, so assertions on these plans must be
    * multiplicity-immune (exists/forall, never exact counts). */
  private def capturedPlans(name: String): Seq[String] = {
    // first invocation may BUILD the standing artifacts (a one-off
    // snapshot cost that legitimately scans the source tables); the pin
    // is about the SERVE, so warm the artifact cache before listening
    SparkEntry.queries(name)(spark, sf("sf0.001")).collect()
    // keyed by QueryExecution identity: the bus can deliver one
    // execution's event twice, and AQE can re-stringify the plan between
    // deliveries, so text-level dedupe is not enough
    val plans = scala.collection.mutable.LinkedHashMap.empty[Int, String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.synchronized {
          plans(System.identityHashCode(qe)) =
            s"[action=$fn] " + qe.executedPlan.toString
          ()
        }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    // listener events post asynchronously (the bus drain API is
    // private[spark]): poll until the captured set is stable
    def settle(): Unit = {
      var last = -1
      var spins = 0
      while (plans.synchronized(plans.size) != last && spins < 50) {
        last = plans.synchronized(plans.size)
        Thread.sleep(100)
        spins += 1
      }
    }
    spark.listenerManager.register(l)
    try {
      // the warm-up run's events may still be in the async queue when the
      // listener registers — let them land, then drop them
      settle()
      plans.synchronized(plans.clear())
      SparkEntry.queries(name)(spark, sf("sf0.001")).collect()
      settle()
    } finally spark.listenerManager.unregister(l)
    plans.values.toSeq
  }

  private def scanLines(plans: Seq[String]): String =
    plans.flatMap("Location:[^\\n]*".r.findAllIn(_)).distinct.mkString("\n")

  test("search_hybrid_rrf_indexed: NO scan of the documents or embeddings source tables") {
    val plans = capturedPlans("search_hybrid_rrf_indexed")
    assert(plans.exists(_.contains("graft_inverted_idx")) &&
      plans.exists(_.contains("graft_quant_index")),
      s"the serve must read both standing artifacts:\n${scanLines(plans)}")
    assert(!plans.exists(_.contains("documents.parquet")),
      s"index-served retrieval scanned the documents source:\n${scanLines(plans)}")
    assert(!plans.exists(_.contains("embeddings.parquet")),
      s"index-served retrieval scanned the embeddings source:\n${scanLines(plans)}")
  }

  test("sim_topk_exact_pruned: the bounds pass never reads floats; floats flow only through the candidate join") {
    val plans = capturedPlans("sim_topk_exact_pruned")
    val scans = plans.flatMap(_.split("\n"))
      .filter(l => l.contains("FileScan") && l.contains("graft_quant_index"))
    assert(scans.nonEmpty, s"no quant-index scan captured:\n${scanLines(plans)}")
    // stage 1+2 (bounds, τ, candidates): at least one scan whose read
    // schema has NO embedding column — the 1-byte-code pass the directive
    // asks for; parquet column pruning is what makes it 4×-smaller I/O
    assert(scans.exists(l => !l.contains("embedding")),
      s"every quant-index scan reads the float column — the bounds pass is not column-pruned:\n${scans.mkString("\n")}")
    // every scan that DOES read the float column is either the 1-row
    // query fetch (vec_id = qId pushed to parquet) or the rerank join's
    // scan feeding a BroadcastHashJoin on the broadcast candidate list
    scans.filter(_.contains("embedding")).foreach { l =>
      assert(l.contains("EqualTo(vec_id,0)") ||
        plans.exists(p => p.contains("BroadcastHashJoin") &&
          p.contains("graft_quant_index")),
        s"a full-width quant-index scan outside the query fetch / candidate rerank:\n$l")
    }
    // the rerank consumes candidates via a broadcast join — full-width
    // rows processed by the scorer ≤ candidate count by construction.
    // (The partitioned layout's additional DPP behavior is pinned in
    // QuantBoundSpec; the registered artifact is deliberately FLAT —
    // measured layout note on Similarity.buildQuantIndex.)
    assert(plans.exists(_.contains("BroadcastHashJoin")),
      "the exact rerank must join the broadcast candidate list")
  }

  test("search_hybrid_batch: one postings scan + one corpus-wide index scan for ALL 8 queries") {
    val plans = capturedPlans("search_hybrid_batch")
    assert(!plans.exists(_.contains("documents.parquet")) &&
      !plans.exists(_.contains("embeddings.parquet")),
      s"batched serve scanned a source table:\n${scanLines(plans)}")
    // the lexical leg: every captured execution holds AT MOST ONE
    // postings scan (the union-bucket-pruned tf fetch feeding the
    // checkpoint); scan count is O(1) in batch size by construction —
    // multiplicity-immune phrasing because the listener can deliver an
    // execution twice and AQE can re-stringify
    // Count scans in the FINAL plan section only: AQE renders the
    // initial plan below the final one in the same string, so a naive
    // whole-string count double-counts every scan, while a text-level
    // dedupe would also collapse a GENUINE second scan of the same
    // component (identical stringification) — the exact regression this
    // test exists to catch. Splitting off "== Initial Plan ==" keeps the
    // count honest in both directions.
    def finalSection(p: String): String = p.split("== Initial Plan ==")(0)
    plans.foreach { p =>
      val postingScans = "Location:[^\\n]*graft_inverted_idx[^\\n]*postings".r
        .findAllIn(finalSection(p)).size
      assert(postingScans <= 1,
        s"a single execution scans the postings component $postingScans times:\n$p")
    }
    // the dense leg: per execution, at most one quant-index scan WITHOUT
    // a pushed vec_id filter (the corpus-wide pass); the other quant scan
    // is the 8-row query fetch, recognizable by its pushed In filter
    plans.foreach { p =>
      val corpusScans = finalSection(p).split("\n")
        .filter(l => l.contains("FileScan") && l.contains("graft_quant_index"))
        .count(l => !l.contains("In(vec_id"))
      assert(corpusScans <= 1,
        s"a single execution runs $corpusScans corpus-wide index scans:\n$p")
    }
    // per-query top-k must be the native node, not a window sort
    assert(plans.exists(_.contains("TopKPerGroup")),
      "batched per-query top-k must plan as the TopKPerGroup node")
    assert(!plans.exists(_.contains("WindowExec")),
      "no window sort in the batched serve")
  }

  test("search_rag_context_indexed: the only source access is the k-bounded chunk fetch") {
    val plans = capturedPlans("search_rag_context_indexed")
    assert(!plans.exists(_.contains("embeddings.parquet")),
      s"index-served RAG retrieval scanned the embeddings source:\n${scanLines(plans)}")
    // every documents access must BE the chunk stage (it computes
    // chunk_id and joins the broadcast fused list) — a retrieval-stage
    // text scan would show up as a documents plan with no chunk_id
    val docPlans = plans.filter(_.contains("documents.parquet"))
    assert(docPlans.nonEmpty, "the chunk fetch must read the retrieved docs")
    docPlans.foreach { p =>
      assert(p.contains("chunk_id") && p.contains("BroadcastHashJoin"),
        s"a documents scan outside the k-bounded chunk fetch:\n$p")
    }
  }

  test("index-served hybrid retrieval ≡ corpus-direct, bit-identically") {
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf("sf0.001"))
        .collect().map(_.toString).toSeq
    assert(rows("search_hybrid_rrf_indexed") == rows("search_hybrid_rrf"),
      "index-served hybrid RRF diverged from the corpus-direct form")
    assert(rows("search_rag_context_indexed") == rows("search_rag_context"),
      "index-served RAG context diverged from the corpus-direct form")
  }
}
