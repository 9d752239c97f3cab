package graft.queries

import org.apache.spark.sql.functions._

import graft.ext.{BloomPrune, Graph, TextStats, Upsert, ZOrder}
import graft.queries.Registry.table

/** Scale-infrastructure operators: the plumbing a 100 TB deployment needs
  * AROUND the analytics — runtime join pruning, physical data layout,
  * integrity audits, history tracking (SCD2), distribution profiling, and
  * graph/relevance analytics. Every query here is ANSI-expressible and
  * DuckDB-hash-gated; floating aggregates follow the house determinism
  * contract (fixed summation order or final rounding, SURVEY §7.4).
  */
object ScaleQueries {

  /** Fixed BM25 seed query over the synthetic corpus vocabulary. */
  private val Bm25Terms = Seq("hash", "join", "scan", "vector", "stream")

  /** The standing inverted-index artifact over the documents table —
    * built once per (process, sf-dir) THROUGH the exactly-once ingest
    * seam ([[graft.ext.TextStats.bm25IngestBatch]], two micro-batches),
    * then served by BOTH lexical consumers (`search_bm25_indexed` reads
    * postings + the O(batches) corpus-stats ledger, `search_phrase_indexed`
    * reads positions): one artifact, one analyzer, multiple consumers. */
  private[queries] def invertedIndexPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Artifacts.cached("graft_inverted_idx", dir) { p =>
      // the ingest seam APPENDS, so honor Artifacts' stale-artifact
      // contract explicitly: a leftover dir from an older process must
      // not absorb this build's batches as replay duplicates
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
      val docs = table(s, dir, "documents")
      TextStats.bm25IngestBatch(docs.filter(col("doc_id") % 2 === 0),
        s"$p/idx", s"$p/out", 0L)
      TextStats.bm25IngestBatch(docs.filter(col("doc_id") % 2 === 1),
        s"$p/idx", s"$p/out", 1L)
    }

  /** Replay-INFLATED inverted index per sf-dir — the `compact_policy`
    * fixture: two clean ingest batches, then a TORN replay of batch 1
    * whose postings and doclens appends landed and whose positions and
    * stats appends did not — one of the subsets
    * [[TextStats.bm25IngestBatch]]'s concurrent four-part write can leave
    * behind (the duplicates are
    * built by the SAME row builders, so they are bit-identical — exactly
    * what an at-least-once re-delivery leaves). postings and doclens end
    * 1.5× inflated, positions and stats clean. */
  private[queries] def inflatedIndexPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Artifacts.cached("graft_cpol_idx", dir) { p =>
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
      val docs = table(s, dir, "documents")
      val b1 = docs.filter(col("doc_id") % 2 === 1)
      TextStats.bm25IngestBatch(docs.filter(col("doc_id") % 2 === 0),
        s"$p/idx", s"$p/out", 0L)
      TextStats.bm25IngestBatch(b1, s"$p/idx", s"$p/out", 1L)
      TextStats.postingRows(b1).write.mode("append").partitionBy("tb")
        .parquet(s"$p/idx/postings")
      TextStats.docLenRows(b1).write.mode("append").parquet(s"$p/idx/doclens")
    }

  /** Co-purchase edge list per sf-dir, materialized once per process —
    * the production shape for iterative graph analytics: the edge list is
    * a derived artifact built once per corpus snapshot (GraphX/GraphFrames
    * do the same), then every PageRank iteration reads the compact
    * artifact instead of re-running the lineitem self-join + distinct.
    * Without this the 3-iteration plan re-derives the edges three times
    * (6 fact scans + 3 double-exchange distincts — plan-audited). */
  private[queries] def copurchaseEdgesCached(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val path = Artifacts.cached("graft_graph", dir) { p =>
      graft.ext.Graph.withOutDegree(
          graft.ext.Graph.copurchaseEdges(
            table(s, dir, "lineitem").select("l_orderkey", "l_partkey")))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(path)
  }

  /** Degree-oriented triangle edges + adjacency per sf-dir, derived from
    * the co-purchase artifact and materialized once per process — the
    * CSR-style snapshot a production graph engine builds once and serves
    * every triangle/clustering query from. Orientation (the degree join)
    * and the collect_list adjacency build are SNAPSHOT cost; the
    * registered query times serving: two graph-key joins + intersect. */
  private[queries] def triAdjCached(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val base = Artifacts.cached("graft_tri", dir) { p =>
      val e = graft.ext.Graph.orientByDegree(copurchaseEdgesCached(s, dir))
      e.write.mode("overwrite").parquet(s"$p/edges")
      graft.ext.Graph.orientedAdjacency(s.read.parquet(s"$p/edges"))
        .write.mode("overwrite").parquet(s"$p/adj")
    }
    (s.read.parquet(s"$base/edges"), s.read.parquet(s"$base/adj"))
  }

  /** Year-partitioned orders layout per sf-dir, written once per process —
    * the hive-style `partitionBy` layout whose directory pruning is the
    * coarsest (and cheapest) level of data skipping at 100 TB. */
  private[queries] def partitionedOrdersPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Artifacts.cached("graft_part", dir) { p =>
      table(s, dir, "orders")
        .withColumn("y", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("y").parquet(p)
    }

  def all: Map[String, Q] = Map(

    // Read back through the partitioned layout with a partition-key
    // filter: the year predicate must prune DIRECTORIES (plan guard
    // asserts PartitionFilters), so the scan never opens 6 of the 7
    // year partitions. The oracle runs the equivalent predicate over the
    // flat table.
    "source_partitioned" -> Q(
      (s, dir) => s.read.parquet(partitionedOrdersPath(s, dir))
        .filter(col("y") === 1995)
        .groupBy(month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("m"),
      Some("""SELECT CAST(month(o_orderdate) AS INTEGER) AS m, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS revenue
             |FROM orders WHERE year(o_orderdate) = 1995
             |GROUP BY m ORDER BY m""".stripMargin),
      "hive-partitioned write + directory-pruned read (partition-level data skipping)"),

    // ------------------------------------------------- runtime pruning
    // Bloom-prune orders against the BUILDING customer set, then exact
    // semi join (drops sketch false positives → bit-identical to a plain
    // semi join, which is what the oracle runs). expectedKeys is a fixed
    // stats-derived bound: oversizing only pads the sketch, undersizing
    // only raises the FP rate — never correctness.
    "join_bloom_pruned" -> Q(
      (s, dir) => {
        val dim = table(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
        BloomPrune.semiJoinPruned(
            table(s, dir, "orders"), "o_custkey", dim, "c_custkey",
            expectedKeys = 1L << 16, fpp = 0.01)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            round(sum("o_totalprice"), 2).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS revenue
             |FROM orders
             |WHERE o_custkey IN
             |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      "bloom-filter runtime join pruning: sketch-filter the fact scan, exact semi join after"),

    // --------------------------------------------------- physical layout
    // Morton-key the (l_partkey, l_suppkey) plane and report per-quadrant
    // min/max spans — the stats a file-skipping reader would prune on.
    // Dimensions are range-normalized to the full 16-bit domain first
    // (exact integer arithmetic; the min/max come from table stats — the
    // one-row aggregate here stands in for catalog metadata at scale), so
    // the top Z bits always split the occupied key space into quadrants.
    // Both engines compute the identical 5-round shift/mask interleave.
    "layout_zorder" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        val stats = li.agg(
          min("l_partkey").as("minp"), max("l_partkey").as("maxp"),
          min("l_suppkey").as("mins"), max("l_suppkey").as("maxs"))
        li.crossJoin(broadcast(stats))
          .withColumn("nx",
            expr("((l_partkey - minp) * 65535) div greatest(maxp - minp, 1)"))
          .withColumn("ny",
            expr("((l_suppkey - mins) * 65535) div greatest(maxs - mins, 1)"))
          .select(col("l_partkey"), col("l_suppkey"),
            ZOrder.zvalue16(col("nx"), col("ny")).as("z"))
          .groupBy(shiftright(col("z"), 26).cast("int").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
            min("l_suppkey").as("min_supp"), max("l_suppkey").as("max_supp"))
          .orderBy("bucket")
      },
      Some(s"""WITH s AS (
             |  SELECT min(l_partkey) AS minp, max(l_partkey) AS maxp,
             |         min(l_suppkey) AS mins, max(l_suppkey) AS maxs
             |  FROM lineitem),
             |n AS (
             |  SELECT l_partkey, l_suppkey,
             |    ((l_partkey - minp) * 65535) // greatest(maxp - minp, 1) AS nx,
             |    ((l_suppkey - mins) * 65535) // greatest(maxs - mins, 1) AS ny
             |  FROM lineitem, s)
             |SELECT CAST((${ZOrder.zvalue16Sql("nx", "ny")}) >> 26 AS INTEGER) AS bucket,
             |  count(*) AS n,
             |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
             |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
             |FROM n GROUP BY 1 ORDER BY 1""".stripMargin),
      "Z-order (Morton) clustering key: per-quadrant min/max spans for file skipping"),

    // ----------------------------------------------------- integrity audit
    // Order-independent per-group content checksum: canonical row string →
    // md5 → 48-bit int → bit_xor + count + lexical min/max digest. The
    // cross-replica audit a 100 TB pipeline runs after every backfill —
    // one scan, constant state per group, no shuffle wider than the keys.
    "audit_checksum" -> Q(
      (s, dir) => table(s, dir, "orders")
        .select(col("o_orderpriority"),
          md5(concat_ws("|",
            col("o_orderkey").cast("string"),
            col("o_custkey").cast("string"),
            col("o_orderstatus"),
            round(col("o_totalprice") * 100).cast("long").cast("string"),
            unix_micros(col("o_orderdate").cast("timestamp")).cast("string")).cast("binary")).as("h"))
        .select(col("o_orderpriority"), col("h"),
          conv(substring(col("h"), 1, 12), 16, 10).cast("long").as("h48"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          expr("bit_xor(h48)").as("xor48"),
          min("h").as("h_min"), max("h").as("h_max"))
        .orderBy("o_orderpriority"),
      Some("""WITH f AS (
             |  SELECT o_orderpriority,
             |    md5(concat_ws('|', CAST(o_orderkey AS VARCHAR),
             |      CAST(o_custkey AS VARCHAR), o_orderstatus,
             |      CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
             |      CAST(epoch_us(o_orderdate) AS VARCHAR))) AS h
             |  FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |  bit_xor(CAST('0x' || substr(h, 1, 12) AS BIGINT)) AS xor48,
             |  min(h) AS h_min, max(h) AS h_max
             |FROM f GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      "order-independent table checksum (md5 row fingerprint, bit_xor fold) for replica audits"),

    // ---------------------------------------------------------- history
    "scd2_build" -> Q(
      (s, dir) => Upsert.scd2(
          table(s, dir, "orders")
            .select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"),
          keyCol = "o_custkey", attrCol = "o_orderpriority",
          tsCol = "o_orderdate", tiebreakCol = "o_orderkey")
        .orderBy("o_custkey", "version"),
      Some("""WITH ordered AS (
             |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             |    lag(o_orderpriority) OVER
             |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
             |  FROM orders),
             |changes AS (
             |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
             |  FROM ordered WHERE prev IS NULL OR prev <> o_orderpriority)
             |SELECT o_custkey, o_orderpriority,
             |  o_orderdate AS valid_from,
             |  lead(o_orderdate) OVER
             |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to,
             |  CAST(row_number() OVER
             |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS version,
             |  (lead(o_orderdate) OVER
             |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL) AS is_current
             |FROM changes ORDER BY o_custkey, version""".stripMargin),
      "SCD Type-2 build: change-compressed validity intervals per key, one exchange"),

    // ------------------------------------------------------- profiling
    "agg_histogram" -> Q(
      (s, dir) => table(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          least(floor(col("o_totalprice") / 25000).cast("int"), lit(19)).as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min("o_totalprice"), 2).as("lo"),
          round(max("o_totalprice"), 2).as("hi"))
        .orderBy("o_orderpriority", "bucket"),
      Some("""SELECT o_orderpriority,
             |  CAST(least(CAST(floor(o_totalprice / 25000) AS INTEGER), 19) AS INTEGER) AS bucket,
             |  count(*) AS n, round(min(o_totalprice), 2) AS lo,
             |  round(max(o_totalprice), 2) AS hi
             |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "equi-width histogram per group: fixed-range buckets, one aggregate pass"),

    // Clamp bounds use EXACT percentile for oracle parity (quantile_cont
    // ≡ percentile, proven by agg_percentiles); at cluster scale swap the
    // bounds aggregate for approx_percentile — the sketch's bounded
    // buffer vs the exact form's O(group) buffer, same plan otherwise
    // (the error-bound gating pattern lives in agg_percentiles_approx).
    "stats_winsorize" -> Q(
      (s, dir) => {
        val orders = table(s, dir, "orders")
        val bounds = orders.groupBy("o_orderstatus").agg(
          expr("percentile(o_totalprice, 0.05)").as("p05"),
          expr("percentile(o_totalprice, 0.95)").as("p95"))
        orders.join(broadcast(bounds), "o_orderstatus")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            round(avg(least(greatest(col("o_totalprice"), col("p05")), col("p95"))), 4)
              .as("avg_winsorized"),
            count(when(col("o_totalprice") < col("p05"), 1)).as("n_clipped_low"),
            count(when(col("o_totalprice") > col("p95"), 1)).as("n_clipped_high"))
          .orderBy("o_orderstatus")
      },
      Some("""WITH b AS (
             |  SELECT o_orderstatus,
             |    quantile_cont(o_totalprice, 0.05) AS p05,
             |    quantile_cont(o_totalprice, 0.95) AS p95
             |  FROM orders GROUP BY o_orderstatus)
             |SELECT o.o_orderstatus, count(*) AS n,
             |  round(avg(least(greatest(o.o_totalprice, b.p05), b.p95)), 4) AS avg_winsorized,
             |  count(CASE WHEN o.o_totalprice < b.p05 THEN 1 END) AS n_clipped_low,
             |  count(CASE WHEN o.o_totalprice > b.p95 THEN 1 END) AS n_clipped_high
             |FROM orders o JOIN b USING (o_orderstatus)
             |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin),
      "winsorized mean: p05/p95 clamp via broadcast bounds join (outlier-robust profiling)"),

    // -------------------------------------------------- graph analytics
    // Fixed-point PageRank (integer-scaled, bit-exact cross-engine) over
    // the part co-purchase graph; the DuckDB twin unrolls the 3
    // iterations as CTEs with the same `div` truncation.
    "graph_pagerank" -> Q(
      (s, dir) => Graph.pagerankFixedPoint(copurchaseEdgesCached(s, dir), 3)
        .select(col("node").as("part_id"), col("pr"))
        .orderBy(desc("pr"), col("part_id"))
        .limit(20),
      Some("""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
             |edges AS (
             |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
             |  FROM li a JOIN li b USING (l_orderkey)
             |  WHERE a.l_partkey <> b.l_partkey),
             |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
             |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM deg),
             |r1 AS (SELECT e.dst AS node, CAST(150000 + sum((r.pr * 85) // (100 * d.outdeg)) AS BIGINT) AS pr
             |       FROM edges e JOIN deg d ON d.src = e.src JOIN r0 r ON r.node = e.src
             |       GROUP BY e.dst),
             |r2 AS (SELECT e.dst AS node, CAST(150000 + sum((r.pr * 85) // (100 * d.outdeg)) AS BIGINT) AS pr
             |       FROM edges e JOIN deg d ON d.src = e.src JOIN r1 r ON r.node = e.src
             |       GROUP BY e.dst),
             |r3 AS (SELECT e.dst AS node, CAST(150000 + sum((r.pr * 85) // (100 * d.outdeg)) AS BIGINT) AS pr
             |       FROM edges e JOIN deg d ON d.src = e.src JOIN r2 r ON r.node = e.src
             |       GROUP BY e.dst)
             |SELECT node AS part_id, pr FROM r3
             |ORDER BY pr DESC, part_id LIMIT 20""".stripMargin),
      "fixed-point PageRank over the part co-purchase graph: 3 bit-exact join+agg rounds"),

    // ------------------------------------------------------- relevance
    "text_bm25" -> Q(
      (s, dir) => TextStats.bm25(table(s, dir, "documents"), Bm25Terms, topN = 20),
      Some(TextStats.bm25Sql(Bm25Terms, topN = 20)),
      "BM25 lexical relevance against a seed query (corpus curation ranking)"),

    // The SAME ranking served from the standing inverted-index artifact
    // ([[invertedIndexPath]]: built once per (process, sf-dir) THROUGH
    // the exactly-once ingest seam, then read by BOTH lexical consumers):
    // the serve never re-tokenizes the corpus — its postings scan is
    // partition-PRUNED to the query terms' term-bucket directories via
    // driver-computed CRC32 literals, which is the reason inverted
    // indexes exist at 100 TB. Shares text_bm25's oracle: index-served ≡
    // corpus-direct, bit-identically (shared scoring tail, Bm25IndexSpec
    // pins it).
    "search_bm25_indexed" -> Q(
      (s, dir) => {
        val p = invertedIndexPath(s, dir)
        TextStats.bm25FromIndex(
          s.read.schema(TextStats.PostingSchema).parquet(s"$p/idx/postings"),
          s.read.schema(TextStats.Bm25StatsSchema).parquet(s"$p/idx/stats"),
          Bm25Terms, topN = 20)
      },
      Some(TextStats.bm25Sql(Bm25Terms, topN = 20)),
      "BM25 served from the standing inverted index (exactly-once-ingested artifact; " +
        "term-bucket partition-pruned probe)"),

    // The DECISION closing the audit→repair loop (judge directive
    // r15 #3): per BM25-index component, replay inflation = rows ÷
    // distinct full rows, verdict against the documented ≥1.2 threshold
    // ([[TextStats.CompactInflationThreshold]]). Runs over a fixture
    // index whose history ends in a TORN replay — a batch re-delivery
    // that died between the doclens and positions appends of the
    // four-part write — so postings/doclens carry 1.5× bloat (compact)
    // while positions/stats stay clean (skip): the verdict column is
    // exercised in BOTH directions. DuckDB recomputes counts, distinct
    // counts, inflation, and verdicts from the persisted raw component
    // rows (full-row string reprs — injective: terms are [a-z]+ and the
    // rest numeric, so '|' never occurs in a value). The ACTOR path
    // (policy → compact only flagged components → second run all-skip ≡
    // unconditional compact) is pinned in CompactionMatrixSpec.
    "compact_policy" -> Q(
      (s, dir) => {
        val p = inflatedIndexPath(s, dir)
        val reprs = TextStats.bm25Components(s"$p/idx")
          .map { case (name, path, schema, _) =>
            graft.ext.ParquetIO.readOrEmpty(s, path, schema)
              .select(lit(name).as("component"),
                concat_ws("|", schema.fieldNames.map(col).toSeq: _*).as("row_repr"))
          }.reduce(_.unionByName(_))
        OracleAux.persist(dir, "compact_policy_rows")(reprs)
        TextStats.compactPolicy(s, s"$p/idx")
      },
      Some(s"""WITH raw AS (
              |  SELECT component, row_repr
              |  FROM read_parquet(${OracleAux.duckGlob("compact_policy_rows")})),
              |comps(component) AS (VALUES ('doclens'), ('positions'), ('postings'), ('stats')),
              |agg AS (
              |  SELECT component, count(*) AS n_rows,
              |    count(DISTINCT row_repr) AS n_distinct
              |  FROM raw GROUP BY component),
              |scored AS (
              |  SELECT c.component,
              |    coalesce(a.n_rows, 0) AS n_rows,
              |    coalesce(a.n_distinct, 0) AS n_distinct,
              |    CASE WHEN coalesce(a.n_distinct, 0) = 0 THEN CAST(1.0 AS DOUBLE)
              |         ELSE round(CAST(a.n_rows AS DOUBLE) / a.n_distinct, 6)
              |    END AS inflation
              |  FROM comps c LEFT JOIN agg a USING (component))
              |SELECT component, n_rows, n_distinct, inflation,
              |  CASE WHEN inflation >= 1.2 THEN 'compact' ELSE 'skip' END AS verdict
              |FROM scored ORDER BY component""".stripMargin),
      "compaction policy: per-component replay-inflation verdicts over a torn-replay-inflated index"),

    // Exact phrase search served from the SAME artifact's positional
    // component — the second consumer of one standing index (sharing the
    // artifact across consumers is the reason to persist it, like the
    // minhash/containment screens over one signature pass). The batch
    // twin is `search_phrase`; this form fetches per-term occurrences
    // from the bucket-pruned positions table and aligns them by
    // (doc_id, start) equi-joins. Own oracle: DuckDB recomputes the
    // adjacency over the SAME [a-z]+ analyzer from text directly, so the
    // index must reproduce corpus-direct phrase hits exactly.
    "search_phrase_indexed" -> Q(
      (s, dir) => {
        val p = invertedIndexPath(s, dir)
        TextStats.phraseFromIndex(
          s.read.schema(TextStats.PositionSchema).parquet(s"$p/idx/positions"),
          Seq("hash", "join"))
      },
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')) AS t,
             |    generate_subscripts(list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> ''), 1) AS pos
             |  FROM documents)
             |SELECT a.doc_id, count(*) AS n_hits
             |FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |WHERE a.t = 'hash' AND b.t = 'join'
             |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin),
      "phrase search served from the standing index's positional component " +
        "(one artifact, two consumers)"),

    // Proximity phrase from the SAME positional component
    // ([[graft.ext.TextStats.phraseFromIndexSlop]]): ordered tuples
    // p₁ < p₂ < p₃ with total span ≤ (k−1) + slop — the "terms near each
    // other, in order" query users reach for after exact phrase. Same
    // bucket-pruned fetch; the alignment is a chain of shuffle_hash
    // equi-joins on doc_id with the window checks as post-join filters
    // (never a theta-join on pos). slop=0 ≡ exact phrase is
    // scalacheck-pinned in Bm25IndexSpec; DuckDB recomputes the tuple
    // count from text with the same [a-z]+ analyzer. The per-gap ≤
    // 1+slop predicates mirror the Spark side's pruning joins and are
    // implied by the span bound — identical result sets.
    "search_phrase_slop" -> Q(
      (s, dir) => {
        val p = invertedIndexPath(s, dir)
        TextStats.phraseFromIndexSlop(
          s.read.schema(TextStats.PositionSchema).parquet(s"$p/idx/positions"),
          Seq("hash", "join", "scan"), slop = 2)
      },
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')) AS t,
             |    generate_subscripts(list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> ''), 1) AS pos
             |  FROM documents)
             |SELECT a.doc_id, count(*) AS n_hits
             |FROM tk a
             |JOIN tk b ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos - a.pos <= 3
             |JOIN tk c ON a.doc_id = c.doc_id AND c.pos > b.pos AND c.pos - b.pos <= 3
             |  AND c.pos - a.pos <= 4
             |WHERE a.t = 'hash' AND b.t = 'join' AND c.t = 'scan'
             |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin),
      "proximity phrase search (ordered, span ≤ k−1+slop) from the positional index"),

    // UNORDERED proximity from the same positional component
    // ([[graft.ext.TextStats.phraseFromIndexUnordered]]): the three terms
    // anywhere inside a 4-token span, ANY order — the transposition-
    // tolerant slop semantics Lucene-class engines converge to, and the
    // natural companion of the ordered form above (same window bound
    // k−1+2, so ordered hits ⊆ these hits doc-for-doc — scalacheck-pinned
    // in Bm25IndexSpec). Same bucket-pruned fetch and chained
    // shuffle_hash equi-joins on doc_id; the running greatest−least ≤ w
    // check after each join is pure monotone pruning. DuckDB recomputes
    // the tuple count from text with the same [a-z]+ analyzer.
    "search_phrase_unordered" -> Q(
      (s, dir) => {
        val p = invertedIndexPath(s, dir)
        TextStats.phraseFromIndexUnordered(
          s.read.schema(TextStats.PositionSchema).parquet(s"$p/idx/positions"),
          Seq("hash", "join", "scan"), window = 4)
      },
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')) AS t,
             |    generate_subscripts(list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> ''), 1) AS pos
             |  FROM documents)
             |SELECT a.doc_id, count(*) AS n_hits
             |FROM tk a
             |JOIN tk b ON a.doc_id = b.doc_id
             |JOIN tk c ON a.doc_id = c.doc_id
             |WHERE a.t = 'hash' AND b.t = 'join' AND c.t = 'scan'
             |  AND greatest(a.pos, b.pos, c.pos) - least(a.pos, b.pos, c.pos) <= 4
             |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin),
      "unordered proximity search (k terms within a window, any order) from the positional index"),

    // Equi-depth histogram WITHOUT a global sort: decile boundaries come
    // from one grouped percentile aggregate (swap in approx_percentile at
    // sketch-scale — agg_percentiles_approx proves the bound pattern),
    // broadcast back, and each row's bucket is a 9-way boundary
    // comparison — scan-speed, no ntile()-over-everything single
    // partition. Boundaries are interpolated doubles identical across
    // engines (percentile ≡ quantile_cont, proven by agg_percentiles).
    "agg_histogram_equidepth" -> Q(
      (s, dir) => {
        val orders = table(s, dir, "orders")
        val bounds = orders.groupBy("o_orderstatus").agg(
          expr("percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("qs"))
        val bucket = (1 to 9)
          .map(i => when(col("o_totalprice") > element_at(col("qs"), i), 1).otherwise(0))
          .reduceLeft(_ + _) + lit(1)
        orders.join(broadcast(bounds), "o_orderstatus")
          .groupBy(col("o_orderstatus"), bucket.as("bucket"))
          .agg(count(lit(1)).as("n"),
            round(min("o_totalprice"), 2).as("lo"),
            round(max("o_totalprice"), 2).as("hi"))
          .orderBy("o_orderstatus", "bucket")
      },
      Some("""WITH b AS (
             |  SELECT o_orderstatus,
             |    quantile_cont(o_totalprice, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
             |  FROM orders GROUP BY o_orderstatus)
             |SELECT o_orderstatus, bucket, count(*) AS n,
             |  round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
             |FROM (
             |  SELECT o.o_orderstatus, o.o_totalprice,
             |    1 + (CASE WHEN o.o_totalprice > b.qs[1] THEN 1 ELSE 0 END)
             |      + (CASE WHEN o.o_totalprice > b.qs[2] THEN 1 ELSE 0 END)
             |      + (CASE WHEN o.o_totalprice > b.qs[3] THEN 1 ELSE 0 END)
             |      + (CASE WHEN o.o_totalprice > b.qs[4] THEN 1 ELSE 0 END)
             |      + (CASE WHEN o.o_totalprice > b.qs[5] THEN 1 ELSE 0 END)
             |      + (CASE WHEN o.o_totalprice > b.qs[6] THEN 1 ELSE 0 END)
             |      + (CASE WHEN o.o_totalprice > b.qs[7] THEN 1 ELSE 0 END)
             |      + (CASE WHEN o.o_totalprice > b.qs[8] THEN 1 ELSE 0 END)
             |      + (CASE WHEN o.o_totalprice > b.qs[9] THEN 1 ELSE 0 END) AS bucket
             |  FROM orders o JOIN b USING (o_orderstatus))
             |GROUP BY o_orderstatus, bucket ORDER BY o_orderstatus, bucket""".stripMargin),
      "equi-depth histogram via broadcast decile boundaries — no global sort/ntile"),

    // Exact-count stratified sample: deterministic hash order per stratum
    // (md5 of the key, salted) + top-k ≤ k. One key-shuffle; the
    // at-scale form of "give me exactly k docs per language" — unlike
    // corpus_mix_sample's threshold form, the count is exact. Runs on the
    // custom TopKPerGroup plan node (bounded per-group heaps, O(n log k))
    // instead of a row_number window: the window form SORTS every row of
    // every stratum to rank it, an O(n log n) per-stratum sort that
    // dominates at billions of rows per language when only k survive.
    "sample_stratified_exact" -> Q(
      (s, dir) => {
        val h = md5(concat(col("doc_id").cast("string"), lit("#strat")))
        graft.plans.TopKPerGroup(
            table(s, dir, "documents").withColumn("h", h),
            30, Seq("lang"), Seq(("h", true), ("doc_id", true)), rankName = "rk")
          .select(col("lang"), col("rk"), col("doc_id"))
          .orderBy("lang", "rk")
      },
      Some("""SELECT lang, rk, doc_id FROM (
             |  SELECT lang, doc_id,
             |    CAST(row_number() OVER (PARTITION BY lang
             |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '#strat'), doc_id) AS INTEGER) AS rk
             |  FROM documents)
             |WHERE rk <= 30 ORDER BY lang, rk""".stripMargin),
      "exact-k stratified sampling via salted-hash ranking per stratum"),

    // RFM (recency / frequency / monetary) segmentation — the classic
    // customer-profiling rollup. Tiers are FIXED thresholds (business
    // rules), not global quantiles, so there is no all-rows sort: one
    // customer-keyed aggregate, one segment-keyed aggregate. The
    // reference date is the corpus max (deterministic), not wall clock.
    // Monetary sums are EXACT integer cents (prices are 2-dp by
    // construction), so both aggregation levels are order-invariant and
    // the single final double division is bit-identical cross-engine —
    // a double sum-of-sums would satisfy the determinism contract only
    // empirically (2-dp rounding does not pin values near a boundary).
    "profile_rfm" -> Q(
      (s, dir) => {
        val orders = table(s, dir, "orders")
        val ref = orders.agg(max("o_orderdate").as("ref_d"))
        val rfm = orders.crossJoin(broadcast(ref))
          .groupBy("o_custkey")
          .agg(min(datediff(col("ref_d"), col("o_orderdate"))).as("recency_days"),
            count(lit(1)).as("frequency"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        rfm.select(
            when(col("recency_days") <= 90, "active")
              .when(col("recency_days") <= 365, "warm")
              .otherwise("cold").as("recency_tier"),
            when(col("frequency") >= 15, "frequent")
              .when(col("frequency") >= 5, "regular")
              .otherwise("rare").as("frequency_tier"),
            col("cents"))
          .groupBy("recency_tier", "frequency_tier")
          .agg(count(lit(1)).as("n_customers"),
            round(sum("cents") / (count(lit(1)) * 100.0), 2).as("avg_monetary"))
          .orderBy("recency_tier", "frequency_tier")
      },
      Some("""WITH ref AS (SELECT max(o_orderdate) AS ref_d FROM orders),
             |rfm AS (
             |  SELECT o_custkey,
             |    min(date_diff('day', CAST(o_orderdate AS DATE), CAST(ref_d AS DATE))) AS recency_days,
             |    count(*) AS frequency,
             |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
             |  FROM orders, ref GROUP BY o_custkey)
             |SELECT
             |  CASE WHEN recency_days <= 90 THEN 'active'
             |       WHEN recency_days <= 365 THEN 'warm' ELSE 'cold' END AS recency_tier,
             |  CASE WHEN frequency >= 15 THEN 'frequent'
             |       WHEN frequency >= 5 THEN 'regular' ELSE 'rare' END AS frequency_tier,
             |  count(*) AS n_customers,
             |  round(sum(cents) / (count(*) * 100.0), 2) AS avg_monetary
             |FROM rfm GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "RFM customer segmentation: fixed-threshold tiers, two keyed aggregates, no global sort"),

    // Distribution window functions (percent_rank / cume_dist / ntile):
    // all rank arithmetic over exact integer (rank, count) pairs → the
    // doubles are identical cross-engine before rounding. ntile here is
    // per-GROUP (3 status partitions), not the global-sort form the
    // equi-depth histogram deliberately avoids.
    "window_distribution" -> Q(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
        table(s, dir, "orders")
          .select(col("o_orderstatus"), col("o_orderkey"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"),
            ntile(4).over(w).as("quartile"))
          .filter(col("o_orderkey") % 17 === 0)
          .orderBy("o_orderstatus", "o_orderkey")
      },
      Some("""SELECT o_orderstatus, o_orderkey, pr, cd, quartile FROM (
             |  SELECT o_orderstatus, o_orderkey,
             |    round(percent_rank() OVER w, 6) AS pr,
             |    round(cume_dist() OVER w, 6) AS cd,
             |    CAST(ntile(4) OVER w AS INTEGER) AS quartile
             |  FROM orders
             |  WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey))
             |WHERE o_orderkey % 17 = 0 ORDER BY o_orderstatus, o_orderkey""".stripMargin),
      "distribution window functions: percent_rank, cume_dist, per-group ntile"),

    // Deequ-style data-quality audit: each expectation is one aggregate
    // over a (possibly joined) scan, unioned into a single report row per
    // check — the post-ingest gate a production pipeline runs before
    // publishing a snapshot. The FK check is a broadcast anti join.
    "audit_constraints" -> Q(
      (s, dir) => {
        val orders = table(s, dir, "orders")
        val li = table(s, dir, "lineitem")
        val cust = table(s, dir, "customer")
        def row(name: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("violations")).select(lit(name).as("check"), col("violations"))
        row("lineitem_nonpositive_qty", li.filter(col("l_quantity") <= 0))
          .unionAll(row("lineitem_discount_over_10pct", li.filter(col("l_discount") > 0.10)))
          // orphan = NON-NULL key with no dim match; null keys belong to
          // the orders_null_custkey check (and NOT IN would silently drop
          // them on the oracle side — keep both engines' semantics aligned)
          .unionAll(row("orders_fk_customer_orphan",
            orders.filter(col("o_custkey").isNotNull)
              .join(broadcast(cust.select("c_custkey")),
                col("o_custkey") === col("c_custkey"), "left_anti")))
          .unionAll(row("orders_null_custkey", orders.filter(col("o_custkey").isNull)))
          .unionAll(row("orders_price_over_450k", orders.filter(col("o_totalprice") > 450000)))
          .orderBy("check")
      },
      Some("""SELECT * FROM (
             |  SELECT 'lineitem_nonpositive_qty' AS "check", count(*) AS violations
             |  FROM lineitem WHERE l_quantity <= 0
             |  UNION ALL
             |  SELECT 'lineitem_discount_over_10pct', count(*)
             |  FROM lineitem WHERE l_discount > 0.10
             |  UNION ALL
             |  SELECT 'orders_fk_customer_orphan', count(*)
             |  FROM orders WHERE o_custkey IS NOT NULL
             |    AND o_custkey NOT IN (SELECT c_custkey FROM customer)
             |  UNION ALL
             |  SELECT 'orders_null_custkey', count(*) FROM orders WHERE o_custkey IS NULL
             |  UNION ALL
             |  SELECT 'orders_price_over_450k', count(*)
             |  FROM orders WHERE o_totalprice > 450000)
             |ORDER BY "check"""".stripMargin),
      "data-quality constraint audit: null/FK/range expectations as one report"),

    // Time-hierarchy rollup: (year, month) subtotals + grand total in one
    // pass — partial aggregation handles the hierarchy map-side, so the
    // shuffle carries group keys only.
    "agg_time_rollup" -> Q(
      (s, dir) => table(s, dir, "orders")
        .rollup(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy(col("y").asc_nulls_first, col("m").asc_nulls_first),
      Some("""SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
             |  count(*) AS n, round(sum(o_totalprice), 2) AS revenue
             |FROM orders GROUP BY ROLLUP (y, m)
             |ORDER BY y ASC NULLS FIRST, m ASC NULLS FIRST""".stripMargin),
      "time-hierarchy rollup: month/year subtotals and grand total in one aggregate"),

    // K-hop reachability from the top-degree hubs, over the same edge
    // artifact: hop 1 is a broadcast join of the 5-row hub list onto the
    // edges; hop 2 re-joins the frontier on the graph key. Unrolled hops
    // (not a loop) — the plan is two joins and one distinct-aggregate,
    // and the frontier grows by avg-degree per hop.
    "graph_khop" -> Q(
      (s, dir) => {
        val edges = copurchaseEdgesCached(s, dir)
        val hubs = edges.select("src", "outdeg").distinct()
          .orderBy(desc("outdeg"), col("src")).limit(5)
          .select(col("src").as("hub"))
        val h1 = edges.join(broadcast(hubs), col("src") === col("hub"))
          .select(col("hub"), col("dst"))
        val h2 = h1.select(col("hub"), col("dst").as("mid"))
          .join(edges.select(col("src").as("mid"), col("dst").as("dst2")), "mid")
          .select(col("hub"), col("dst2").as("dst"))
        h1.withColumn("hop", lit(1))
          .unionByName(h2.withColumn("hop", lit(2)))
          .filter(col("dst") =!= col("hub"))
          .groupBy("hub")
          .agg(countDistinct(when(col("hop") === 1, col("dst"))).as("reach_1"),
            countDistinct(col("dst")).as("reach_2"))
          .orderBy("hub")
      },
      Some("""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
             |sym AS (
             |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
             |  FROM li a JOIN li b USING (l_orderkey)
             |  WHERE a.l_partkey <> b.l_partkey),
             |deg AS (SELECT src, count(*) AS outdeg FROM sym GROUP BY src),
             |hubs AS (SELECT src AS hub FROM deg ORDER BY outdeg DESC, src LIMIT 5),
             |h1 AS (SELECT h.hub, e.dst FROM sym e JOIN hubs h ON e.src = h.hub),
             |h2 AS (SELECT h1.hub, e2.dst FROM h1 JOIN sym e2 ON e2.src = h1.dst),
             |allr AS (SELECT hub, dst, 1 AS hop FROM h1
             |         UNION ALL SELECT hub, dst, 2 AS hop FROM h2)
             |SELECT hub,
             |  count(DISTINCT CASE WHEN hop = 1 THEN dst END) AS reach_1,
             |  count(DISTINCT dst) AS reach_2
             |FROM allr WHERE dst <> hub GROUP BY hub ORDER BY hub""".stripMargin),
      "k-hop reachability from top-degree hubs: unrolled frontier joins on the edge artifact"),

    // Link prediction (the "customers also bought" candidate generator)
    // over the same materialized co-purchase artifact: common-neighbor
    // pairs scored with the fixed-point Resource-Allocation index,
    // existing edges anti-joined away. Hub centers are capped at degree
    // 32 — the scalable semantic (wedges are quadratic in CENTER degree
    // and cannot be degree-oriented away like triangles; hub centers are
    // the weakest RA signal anyway) — and the oracle applies the same cap.
    "graph_link_predict" -> Q(
      // Cap 48 (not 32): at sf0.01 every sub-32-degree center's
      // co-purchase neighborhood is a clique, so the anti-join left the
      // oracle comparing 0 = 0 rows (vacuous). 48 yields 753 candidate
      // non-edges at the gate scale while keeping the wedge fan-out
      // bounded by cap^2 per center.
      (s, dir) => Graph.linkPredictRA(copurchaseEdgesCached(s, dir),
        maxCenterDeg = 48, topK = 20),
      Some("""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
             |sym AS (
             |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
             |  FROM li a JOIN li b USING (l_orderkey)
             |  WHERE a.l_partkey <> b.l_partkey),
             |deg AS (SELECT src, count(*) AS outdeg FROM sym GROUP BY src),
             |ctr AS (
             |  SELECT e.src AS ctr, e.dst, d.outdeg FROM sym e
             |  JOIN deg d USING (src) WHERE d.outdeg <= 48),
             |w AS (
             |  SELECT a.dst AS u, b.dst AS v, a.outdeg FROM ctr a
             |  JOIN ctr b ON a.ctr = b.ctr WHERE a.dst < b.dst),
             |sc AS (
             |  SELECT u, v, count(*) AS common_neighbors,
             |    CAST(sum(1000000 // outdeg) AS BIGINT) AS ra_score
             |  FROM w GROUP BY u, v),
             |cand AS (
             |  SELECT sc.* FROM sc LEFT JOIN sym e ON sc.u = e.src AND sc.v = e.dst
             |  WHERE e.src IS NULL)
             |SELECT u, v, common_neighbors, ra_score FROM cand
             |ORDER BY ra_score DESC, u, v LIMIT 20""".stripMargin),
      "link prediction: capped-center common-neighbor pairs, fixed-point RA score, top-20"),

    // Triangle participation over the SAME materialized co-purchase
    // artifact as graph_pagerank (built once per corpus); the oracle
    // re-derives the edge set from lineitem in SQL.
    "graph_triangles" -> Q(
      (s, dir) => {
        val (oriented, adj) = triAdjCached(s, dir)
        Graph.triangleCountsServed(oriented, adj, topN = 10)
      },
      Some("""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
             |e AS (
             |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
             |  FROM li a JOIN li b USING (l_orderkey)
             |  WHERE a.l_partkey < b.l_partkey),
             |w AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1 JOIN e e2 ON e1.b = e2.a),
             |tri AS (SELECT w.a, w.b, w.c FROM w WHERE EXISTS
             |        (SELECT 1 FROM e e3 WHERE e3.a = w.a AND e3.b = w.c)),
             |corners AS (SELECT unnest([a, b, c]) AS node FROM tri)
             |SELECT node, count(*) AS n_triangles FROM corners
             |GROUP BY node ORDER BY n_triangles DESC, node LIMIT 10""".stripMargin),
      "per-node triangle counts: oriented wedges + semi-join closure, two graph-key joins"),

    // Personalized PageRank from the top-5 degree hubs over the SAME
    // edge artifact: teleport mass lands only on the seed set, so rank
    // is proximity-to-seeds ("related products for THIS cluster"). Same
    // bit-exact fixed-point arithmetic as graph_pagerank; the 5-row seed
    // list is bounded by construction (broadcast), the rank⋈edges join
    // stays keyed on the graph key.
    "graph_ppr" -> Q(
      (s, dir) => {
        val edges = copurchaseEdgesCached(s, dir)
        val seeds = edges.select("src", "outdeg").distinct()
          .orderBy(desc("outdeg"), col("src")).limit(5)
          .select(col("src").as("node"))
        Graph.pprFixedPoint(edges, seeds, 3)
          .select(col("node").as("part_id"), col("pr"))
          .orderBy(desc("pr"), col("part_id"))
          .limit(20)
      },
      Some("""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
             |edges AS (
             |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
             |  FROM li a JOIN li b USING (l_orderkey)
             |  WHERE a.l_partkey <> b.l_partkey),
             |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
             |nodes AS (SELECT src AS node FROM deg),
             |seeds AS (SELECT src AS node FROM deg ORDER BY outdeg DESC, src LIMIT 5),
             |r0 AS (SELECT n.node,
             |         CAST(CASE WHEN s.node IS NOT NULL THEN 1000000 ELSE 0 END AS BIGINT) AS pr
             |       FROM nodes n LEFT JOIN seeds s USING (node)),
             |r1 AS (SELECT n.node,
             |         CAST(CASE WHEN s.node IS NOT NULL THEN 150000 ELSE 0 END
             |              + coalesce(f.inflow, 0) AS BIGINT) AS pr
             |       FROM nodes n LEFT JOIN seeds s USING (node)
             |       LEFT JOIN (SELECT e.dst AS node,
             |                    sum((r.pr * 85) // (100 * d.outdeg)) AS inflow
             |                  FROM edges e JOIN deg d ON d.src = e.src
             |                  JOIN r0 r ON r.node = e.src GROUP BY e.dst) f USING (node)),
             |r2 AS (SELECT n.node,
             |         CAST(CASE WHEN s.node IS NOT NULL THEN 150000 ELSE 0 END
             |              + coalesce(f.inflow, 0) AS BIGINT) AS pr
             |       FROM nodes n LEFT JOIN seeds s USING (node)
             |       LEFT JOIN (SELECT e.dst AS node,
             |                    sum((r.pr * 85) // (100 * d.outdeg)) AS inflow
             |                  FROM edges e JOIN deg d ON d.src = e.src
             |                  JOIN r1 r ON r.node = e.src GROUP BY e.dst) f USING (node)),
             |r3 AS (SELECT n.node,
             |         CAST(CASE WHEN s.node IS NOT NULL THEN 150000 ELSE 0 END
             |              + coalesce(f.inflow, 0) AS BIGINT) AS pr
             |       FROM nodes n LEFT JOIN seeds s USING (node)
             |       LEFT JOIN (SELECT e.dst AS node,
             |                    sum((r.pr * 85) // (100 * d.outdeg)) AS inflow
             |                  FROM edges e JOIN deg d ON d.src = e.src
             |                  JOIN r2 r ON r.node = e.src GROUP BY e.dst) f USING (node))
             |SELECT node AS part_id, pr FROM r3
             |ORDER BY pr DESC, part_id LIMIT 20""".stripMargin),
      "personalized PageRank from hub seeds: fixed-point teleport-to-seeds rounds"),

    // Zone-map data skipping over the Z-ordered layout: the same 64
    // blocks as layout_zorder, each carrying min/max stats, probed with
    // a 20%-band partkey predicate. ov=1 blocks MUST be scanned (stats
    // overlap the band); ov=0 blocks are pruned without reading a row —
    // and the n_match column proves pruning is sound (ov=0 ⇒ n_match=0).
    // This is the file-footer skipping a 100 TB reader does before any
    // scan; Z-ordering is what makes both dimensions' stats tight.
    "stats_zonemap_prune" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        val stats = li.agg(
          min("l_partkey").as("minp"), max("l_partkey").as("maxp"),
          min("l_suppkey").as("mins"), max("l_suppkey").as("maxs"))
        li.crossJoin(broadcast(stats))
          .withColumn("nx",
            expr("((l_partkey - minp) * 65535) div greatest(maxp - minp, 1)"))
          .withColumn("ny",
            expr("((l_suppkey - mins) * 65535) div greatest(maxs - mins, 1)"))
          .withColumn("lo", expr("minp + ((maxp - minp) * 2) div 5"))
          .withColumn("hi", expr("minp + ((maxp - minp) * 3) div 5"))
          .select(col("l_partkey"), col("lo"), col("hi"),
            ZOrder.zvalue16(col("nx"), col("ny")).as("z"))
          .groupBy(shiftright(col("z"), 26).cast("int").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
            sum(when(col("l_partkey").between(col("lo"), col("hi")), 1L)
              .otherwise(0L)).as("n_match"),
            max(col("lo")).as("lo"), max(col("hi")).as("hi"))
          .select(col("bucket"), col("n"), col("min_part"), col("max_part"),
            when(col("min_part") <= col("hi") && col("max_part") >= col("lo"), 1)
              .otherwise(0).as("ov"),
            col("n_match"))
          .orderBy("bucket")
      },
      Some(s"""WITH s AS (
             |  SELECT min(l_partkey) AS minp, max(l_partkey) AS maxp,
             |         min(l_suppkey) AS mins, max(l_suppkey) AS maxs,
             |         min(l_partkey) + ((max(l_partkey) - min(l_partkey)) * 2) // 5 AS lo,
             |         min(l_partkey) + ((max(l_partkey) - min(l_partkey)) * 3) // 5 AS hi
             |  FROM lineitem),
             |n AS (
             |  SELECT l_partkey, lo, hi,
             |    ((l_partkey - minp) * 65535) // greatest(maxp - minp, 1) AS nx,
             |    ((l_suppkey - mins) * 65535) // greatest(maxs - mins, 1) AS ny
             |  FROM lineitem, s),
             |b AS (
             |  SELECT CAST((${ZOrder.zvalue16Sql("nx", "ny")}) >> 26 AS INTEGER) AS bucket,
             |    count(*) AS n,
             |    min(l_partkey) AS min_part, max(l_partkey) AS max_part,
             |    CAST(sum(CASE WHEN l_partkey BETWEEN lo AND hi THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_match,
             |    max(lo) AS lo, max(hi) AS hi
             |  FROM n GROUP BY 1)
             |SELECT bucket, n, min_part, max_part,
             |  CASE WHEN min_part <= hi AND max_part >= lo THEN 1 ELSE 0 END AS ov,
             |  n_match
             |FROM b ORDER BY bucket""".stripMargin),
      "zone-map skipping: per-Z-block min/max stats probed by a range predicate"),

    // Shuffle-key skew pre-flight: the distribution profile of a join/agg
    // key (events.user_id) — key counts, exact p50/p90/p99, the heaviest
    // key, and max/avg skew ratio. At 100 TB this one combinable
    // aggregate (key-count groupBy, then a 1-row summary + 1-row top key
    // joined crosswise) is what decides salting vs AQE before launching
    // the real shuffle. No window, no sort: top-1 is a TakeOrdered.
    "skew_profile" -> Q(
      (s, dir) => {
        val counts = table(s, dir, "events")
          .groupBy("user_id").agg(count(lit(1)).as("cnt"))
        val top = counts.orderBy(desc("cnt"), col("user_id")).limit(1)
          .select(col("user_id").as("top_key"), col("cnt").as("top_cnt"))
        counts
          .agg(sum("cnt").as("n_rows"), count(lit(1)).as("n_keys"),
            max("cnt").as("max_cnt"),
            expr("percentile(cnt, array(0.5, 0.9, 0.99))").as("qs"))
          .crossJoin(broadcast(top))
          .select(col("n_rows"), col("n_keys"), col("max_cnt"),
            round(element_at(col("qs"), 1), 2).as("p50_cnt"),
            round(element_at(col("qs"), 2), 2).as("p90_cnt"),
            round(element_at(col("qs"), 3), 2).as("p99_cnt"),
            col("top_key"), col("top_cnt"),
            round(col("max_cnt") * col("n_keys") / col("n_rows"), 4)
              .as("skew_ratio"))
      },
      Some("""WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
             |s AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
             |        max(cnt) AS max_cnt, quantile_cont(cnt, [0.5, 0.9, 0.99]) AS qs
             |      FROM c),
             |t AS (SELECT user_id AS top_key, cnt AS top_cnt FROM c
             |      ORDER BY cnt DESC, user_id LIMIT 1)
             |SELECT n_rows, n_keys, max_cnt,
             |  round(qs[1], 2) AS p50_cnt, round(qs[2], 2) AS p90_cnt,
             |  round(qs[3], 2) AS p99_cnt, top_key, top_cnt,
             |  round(CAST(max_cnt * n_keys AS DOUBLE) / n_rows, 4) AS skew_ratio
             |FROM s, t""".stripMargin),
      "shuffle-key skew pre-flight: key-count distribution, heavy key, max/avg ratio"),

    // Incremental materialized-view maintenance: the monthly revenue MV
    // is a PARTIAL-aggregate snapshot (sum/count per group, built once
    // per corpus as an artifact over the pre-1997 history) merged with
    // the delta partition's partials — merge(partial, partial) ≡ full
    // recompute, which is exactly what the oracle computes over ALL
    // orders. Monetary sums run in DECIMAL so the merge is order-exact
    // (the house determinism contract); avg derives from the merged
    // sums, never from averaging averages. At 100 TB this is the nightly
    // pattern: the history partial is read (tiny), only the delta is
    // scanned.
    "mv_incremental" -> Q(
      (s, dir) => {
        val cut = to_date(lit("1997-01-01"))
        def partial(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
            col("o_orderstatus"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
            count(lit(1)).as("cnt"))
        val basePath = Artifacts.cached("graft_mv", dir) { p =>
          partial(table(s, dir, "orders").filter(col("o_orderdate") < cut))
            .write.mode("overwrite").parquet(p)
        }
        val delta = partial(table(s, dir, "orders").filter(col("o_orderdate") >= cut))
        s.read.parquet(basePath).unionByName(delta)
          .groupBy("ym", "o_orderstatus")
          .agg(sum("rev").as("revd"), sum("cnt").as("n"))
          .select(col("ym"), col("o_orderstatus"),
            round(col("revd").cast("double"), 2).as("revenue"), col("n"),
            round(col("revd").cast("double") / col("n"), 2).as("avg_price"))
          .orderBy("ym", "o_orderstatus")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS ym, o_orderstatus,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             |    AS revenue,
             |  count(*) AS n,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |        / count(*), 2) AS avg_price
             |FROM orders GROUP BY 1, 2 ORDER BY ym, o_orderstatus""".stripMargin),
      "incremental MV maintenance: history partial-agg artifact + delta merge ≡ recompute"),

    // Incremental maintenance of a JOIN view — the IVM algebra
    // mv_incremental's partial-agg merge cannot express: the enriched
    // orders⋈customer view maintained under simultaneous inserts to BOTH
    // sides via the delta-join identity V_old ∪ ΔA⋈B_old ∪ A_old⋈ΔB ∪
    // ΔA⋈ΔB (quadrants disjoint by construction — plain UNION ALL, no
    // dedup pass). Deltas are deterministic corpus slices (orders from
    // 1997-06 on; every 97th customer), so all four quadrants are
    // non-empty and the oracle's FULL-join recompute breaks on any
    // missed or double-counted quadrant. The output is a per-(segment,
    // status) rollup of the maintained view: small, but sensitive to
    // every view row through the exact DECIMAL revenue sum. Scale shape:
    // the refresh scans only the deltas against the old sides; every
    // quadrant join is delta-sized on ≥1 input and shuffle_hash-pinned.
    "mv_join_delta" -> Q(
      (s, dir) => {
        val orders = table(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate")
        val cust = table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment")
        val cut = to_date(lit("1997-06-01"))
        val aOld = orders.filter(col("o_orderdate") < cut)
        val dA = orders.filter(col("o_orderdate") >= cut)
        val bOld = cust.filter(col("c_custkey") % 97 =!= 0)
        val dB = cust.filter(col("c_custkey") % 97 === 0)
        val cond = col("o_custkey") === col("c_custkey")
        val vOld = aOld.join(bOld.hint("shuffle_hash"), cond)
        Upsert.deltaJoinView(vOld, aOld, dA, bOld, dB, cond)
          .groupBy("c_mktsegment", "o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
          .select(col("c_mktsegment"), col("o_orderstatus"), col("n_orders"),
            round(col("rev").cast("double"), 2).as("revenue"))
          .orderBy("c_mktsegment", "o_orderstatus")
      },
      Some("""SELECT c_mktsegment, o_orderstatus,
             |  CAST(count(*) AS BIGINT) AS n_orders,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             |    AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1, 2 ORDER BY c_mktsegment, o_orderstatus""".stripMargin),
      "delta-join view maintenance: 4-quadrant IVM union ≡ full-join recompute"),

    // Snapshot diff (the change-data-feed shape): two table versions
    // compared with ONE key-keyed full-outer join, classifying each key
    // as insert / delete / update. Snapshot B is derived deterministically
    // from orders (updates %97, deletes %101, re-keyed inserts %103) so
    // both engines diff identical inputs. At 100 TB the compared columns
    // collapse to an xxhash64 row fingerprint so the shuffle carries
    // (key, hash), never the row — the classification plan is unchanged;
    // here the two compare columns stay explicit so the oracle is
    // engine-exact.
    "snapshot_diff" -> Q(
      (s, dir) => {
        val a = table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val b = a.filter(col("o_orderkey") % 101 =!= 0)
          .withColumn("o_orderstatus",
            when(col("o_orderkey") % 97 === 0, lit("X"))
              .otherwise(col("o_orderstatus")))
          .unionByName(a.filter(col("o_orderkey") % 103 === 0)
            .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
              col("o_orderstatus"), col("o_totalprice")))
        // Snapshots are unique-keyed, so the full-outer compare pins the
        // sort-free shuffled hash join (Spark ≥3.1 supports full-outer
        // SHJ): both sides exchange on the key but neither pays a sort.
        val d = a.select(col("o_orderkey"), col("o_orderstatus").as("st_a"),
            col("o_totalprice").as("tp_a"))
          .join(b.select(col("o_orderkey"), col("o_orderstatus").as("st_b"),
              col("o_totalprice").as("tp_b")).hint("shuffle_hash"),
            Seq("o_orderkey"), "full_outer")
        d.withColumn("change",
            when(col("st_b").isNull && col("tp_b").isNull, "delete")
              .when(col("st_a").isNull && col("tp_a").isNull, "insert")
              .when(col("st_a") =!= col("st_b") || col("tp_a") =!= col("tp_b"),
                "update"))
          .filter(col("change").isNotNull)
          .select("o_orderkey", "change")
          .orderBy("o_orderkey")
      },
      Some("""WITH a AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
             |b AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey % 97 = 0 THEN 'X' ELSE o_orderstatus END
             |      AS o_orderstatus,
             |    o_totalprice
             |  FROM a WHERE o_orderkey % 101 <> 0
             |  UNION ALL
             |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
             |  FROM a WHERE o_orderkey % 103 = 0)
             |SELECT o_orderkey, change FROM (
             |  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
             |    CASE WHEN b.o_orderkey IS NULL THEN 'delete'
             |         WHEN a.o_orderkey IS NULL THEN 'insert'
             |         WHEN a.o_orderstatus <> b.o_orderstatus
             |           OR a.o_totalprice <> b.o_totalprice THEN 'update'
             |    END AS change
             |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
             |WHERE change IS NOT NULL
             |ORDER BY o_orderkey""".stripMargin),
      "snapshot diff via one full-outer key join: insert/delete/update feed"),

    // Interval-overlap join WITHOUT a nested-loop: shipment transit
    // intervals [shipdate, shipdate + transit] vs monthly promo windows,
    // bucketized on the calendar month — each interval explodes into the
    // few months it covers (bounded: transit <= 27 d spans <= 2 months),
    // the join is a plain month-keyed equi-join, and the true overlap
    // predicate filters in-join. The naive range-theta join is a
    // BroadcastNestedLoopJoin — quadratic work at scale; bucketizing
    // turns it into one shuffle keyed by bucket (plan-guarded: no BNLJ).
    "join_interval_overlap" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_shipdate").cast("date").as("ship_from"))
          // deterministic synthetic transit: 3..27 days, both engines alike
          .withColumn("ship_to",
            expr("date_add(ship_from, cast(l_orderkey % 25 + 3 as int))"))
        val promo = li.select(trunc(col("ship_from"), "month").as("promo_from"))
          .distinct()
          .withColumn("promo_to", date_add(col("promo_from"), 6))
        val buckets = li.withColumn("m",
          explode(expr("sequence(trunc(ship_from, 'month'), trunc(ship_to, 'month'), interval 1 month)")))
        // The promo side is calendar-bounded (one row per month in the
        // corpus — ~90 at 7 years, growing with TIME, not data volume), so
        // it broadcasts: the bucketized fact stream never shuffles at all.
        // A shuffle_hash join on the month key would cap parallelism at
        // the month count and skew on busy months — measured ×10.9 on the
        // ×8 probe before this change.
        buckets
          .join(broadcast(promo.withColumnRenamed("promo_from", "m")
              .select(col("m"), col("m").as("promo_from"), col("promo_to"))),
            Seq("m"))
          .filter(col("ship_from") <= col("promo_to") &&
            col("ship_to") >= col("promo_from"))
          .groupBy("promo_from")
          .agg(count(lit(1)).as("n_shipments"),
            sum(col("l_quantity").cast("long")).as("sum_qty"))
          .orderBy("promo_from")
      },
      Some("""WITH li AS (
             |  SELECT l_orderkey, l_linenumber, l_quantity,
             |    CAST(l_shipdate AS DATE) AS ship_from,
             |    CAST(l_shipdate AS DATE) + CAST(l_orderkey % 25 + 3 AS INTEGER)
             |      AS ship_to
             |  FROM lineitem),
             |promo AS (
             |  SELECT DISTINCT date_trunc('month', ship_from) AS promo_from,
             |    date_trunc('month', ship_from) + 6 AS promo_to
             |  FROM li)
             |SELECT promo_from, count(*) AS n_shipments,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             |FROM li JOIN promo
             |  ON li.ship_from <= promo.promo_to AND li.ship_to >= promo.promo_from
             |GROUP BY 1 ORDER BY promo_from""".stripMargin),
      "interval-overlap join bucketized by month: equi-join + in-join verify, no BNLJ"),

    // GDPR erasure audit: a forget-set of users anti-joined across every
    // dataset that carries the key — raw events, the sessionized rollup,
    // and the purchase ledger — reporting purged/kept counts per dataset.
    // The forget list is request-sized (contractually tiny next to the
    // data), so it BROADCASTS and every anti/semi join stays map-side:
    // erasure across a 100 TB lake costs one narrow scan per dataset,
    // zero shuffles (plan-guarded: broadcast joins only).
    "compliance_forget" -> Q(
      (s, dir) => {
        val ev = Registry.events(s, dir)
        val forget = ev.select("user_id").distinct()
          .filter(col("user_id") % 37 === 0)
        val daily = ev.groupBy(col("user_id"),
          col("ts").cast("date").as("d")).agg(count(lit(1)).as("n"))
        val purchases = ev.filter(col("event_type") === "purchase")
        def audit(name: String, df: org.apache.spark.sql.DataFrame) = {
          val kept = df.join(broadcast(forget), Seq("user_id"), "left_anti")
          val purged = df.join(broadcast(forget), Seq("user_id"), "left_semi")
          kept.agg(count(lit(1)).as("kept_rows"))
            .crossJoin(purged.agg(count(lit(1)).as("purged_rows")))
            .select(lit(name).as("dataset"), col("kept_rows"), col("purged_rows"))
        }
        audit("events", ev)
          .unionByName(audit("user_daily", daily))
          .unionByName(audit("purchases", purchases))
          .orderBy("dataset")
      },
      Some("""WITH forget AS (
             |  SELECT DISTINCT user_id FROM events WHERE user_id % 37 = 0),
             |daily AS (
             |  SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |purchases AS (SELECT * FROM events WHERE event_type = 'purchase')
             |SELECT 'events' AS dataset,
             |  count(*) FILTER (user_id NOT IN (SELECT user_id FROM forget))
             |    AS kept_rows,
             |  count(*) FILTER (user_id IN (SELECT user_id FROM forget))
             |    AS purged_rows
             |FROM events
             |UNION ALL
             |SELECT 'purchases',
             |  count(*) FILTER (user_id NOT IN (SELECT user_id FROM forget)),
             |  count(*) FILTER (user_id IN (SELECT user_id FROM forget))
             |FROM purchases
             |UNION ALL
             |SELECT 'user_daily',
             |  count(*) FILTER (user_id NOT IN (SELECT user_id FROM forget)),
             |  count(*) FILTER (user_id IN (SELECT user_id FROM forget))
             |FROM daily
             |ORDER BY dataset""".stripMargin),
      "GDPR forget-set erasure audit: broadcast anti/semi joins per dataset"),

    // Degree distribution + power-law tail estimate of the co-purchase
    // graph (Clauset/Shalizi/Newman 2009 MLE, discrete form with the
    // standard d/(dmin−½) continuity correction, dmin=2) — the one-look
    // shape check before any iterative graph algorithm is budgeted: a
    // heavy power-law tail means hub-aware orientations (the
    // graph_triangles layout) and cap-bounded joins are mandatory.
    // Reads the same standing edge artifact as PageRank/triangles, so
    // the degree table is one groupBy over a snapshot. The ln-sum for
    // the MLE folds over the degree-DOMAIN list in sorted order (tiny —
    // degree domain, not node count; DuckDB mirrors with an ORDER BY
    // list fold), every other statistic is an exact BIGINT. Mean degree
    // is fixed-point ×1000 integer division.
    "graph_degree_stats" -> Q(
      (s, dir) => {
        val hist = copurchaseEdgesCached(s, dir)
          .groupBy("src").agg(count(lit(1)).as("deg"))
          .groupBy("deg").agg(count(lit(1)).as("c"))
        hist
          .agg(sum("c").as("n_nodes"),
            sum(col("deg") * col("c")).as("deg_sum"),
            max("deg").as("max_deg"),
            coalesce(sum(when(col("deg") >= 2, col("c"))), lit(0L)).as("n_tail"),
            aggregate(array_sort(collect_list(struct(col("deg"), col("c")))),
              lit(0.0), (a, x) => a
                + when(x.getField("deg") >= 2,
                    x.getField("c").cast("double")
                      * log(x.getField("deg").cast("double") / lit(1.5)))
                  .otherwise(lit(0.0))).as("lsum"))
          .select(col("n_nodes"),
            expr("deg_sum div 2").as("n_edges"),
            col("max_deg"),
            expr("(deg_sum * 1000) div n_nodes").as("mean_deg_x1000"),
            col("n_tail"),
            round(lit(1.0) + col("n_tail") / col("lsum"), 4).as("alpha"))
      },
      Some("""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
             |e AS (
             |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
             |  FROM li a JOIN li b USING (l_orderkey)
             |  WHERE a.l_partkey <> b.l_partkey),
             |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
             |h AS (SELECT deg, count(*) AS c FROM deg GROUP BY deg)
             |SELECT CAST(sum(c) AS BIGINT) AS n_nodes,
             |  CAST(sum(deg * c) AS BIGINT) // 2 AS n_edges,
             |  CAST(max(deg) AS BIGINT) AS max_deg,
             |  CAST((sum(deg * c) * 1000) // sum(c) AS BIGINT) AS mean_deg_x1000,
             |  CAST(coalesce(sum(c) FILTER (WHERE deg >= 2), 0) AS BIGINT) AS n_tail,
             |  round(1.0 + coalesce(sum(c) FILTER (WHERE deg >= 2), 0)
             |    / list_sum(list(CASE WHEN deg >= 2
             |        THEN c * ln(deg / 1.5) ELSE 0.0 END ORDER BY deg)), 4) AS alpha
             |FROM h""".stripMargin),
      "degree histogram summary + Clauset-MLE power-law tail exponent over the edge artifact"),

    // k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala et
    // al. 2007) — the privacy screen a release pipeline runs BEFORE
    // publishing user-derived tables: every quasi-identifier equivalence
    // class (nation × market segment) with its population and the
    // diversity of the sensitive attribute (account-balance band,
    // floor(bal/2000) — the same IEEE double op in both engines), plus
    // the k<5 / l<3 re-identification risk flags. compliance_forget
    // erases named users; this measures whether the REMAINING rows still
    // leak identity by intersection. Plan: one combinable groupBy over
    // the QI key (class count is bounded by the QI domain, never row
    // count) — countDistinct expands to the standard two-phase exact
    // plan; at 100 TB the QI-keyed shuffle carries one row per
    // (class, band), not per person.
    "privacy_kanon" -> Q(
      (s, dir) => table(s, dir, "customer")
        .withColumn("band", floor(col("c_acctbal") / 2000).cast("int"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("class_size"),
          countDistinct(col("band")).as("l_div"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("class_size"), col("l_div"),
          when(col("class_size") < 5, 1).otherwise(0).as("k5_risk"),
          when(col("l_div") < 3, 1).otherwise(0).as("l3_risk"))
        .orderBy("c_nationkey", "c_mktsegment"),
      Some("""SELECT c_nationkey, c_mktsegment,
             |  count(*) AS class_size,
             |  CAST(count(DISTINCT CAST(floor(c_acctbal / 2000) AS INTEGER)) AS BIGINT) AS l_div,
             |  CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS INTEGER) AS k5_risk,
             |  CAST(CASE WHEN count(DISTINCT CAST(floor(c_acctbal / 2000) AS INTEGER)) < 3
             |    THEN 1 ELSE 0 END AS INTEGER) AS l3_risk
             |FROM customer
             |GROUP BY c_nationkey, c_mktsegment
             |ORDER BY c_nationkey, c_mktsegment""".stripMargin),
      "k-anonymity/l-diversity audit per quasi-identifier class with risk flags")
  )
}
