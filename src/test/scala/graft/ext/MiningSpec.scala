package graft.ext

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Registry.table

/** Behavioral specs for the round-7 mining operators: exactness of the
  * prefix-filtered similarity join (vs brute force AND vs the LSH
  * approximation), the Misra-Gries no-false-negative guarantee under
  * forced decrements, and fixture-pinned attribution arithmetic. */
class MiningSpec extends SparkSpec {
  import spark.implicits._

  private def planted = Dedup.planted(table(spark, sf("sf0.001"), "documents"))

  test("prefix join equals brute-force all-pairs shingle Jaccard") {
    val shd = Dedup.shingleRows(planted).distinct()
    val sizes = shd.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val brute = shd.as("a")
      .join(shd.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select($"doc_id".as("id_a"), $"sz".as("sz_a")), "id_a")
      .join(sizes.select($"doc_id".as("id_b"), $"sz".as("sz_b")), "id_b")
      .withColumn("jaccard", round($"inter".cast("double") /
        ($"sz_a" + $"sz_b" - $"inter").cast("double"), 4))
      .filter($"jaccard" >= 0.7)
      .select("id_a", "id_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = Mining.prefixJaccardPairs(Dedup.shingleRows(planted), 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute, s"prefix join must be exact: missing=${brute -- got} extra=${got -- brute}")
    assert(got.nonEmpty, "fixture must actually produce near-dup pairs")
  }

  test("containment prefix join equals brute-force all-pairs containment") {
    val shd = Dedup.shingleRows(planted).distinct()
    val sizes = shd.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val brute = shd.as("a")
      .join(shd.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select($"doc_id".as("id_a"), $"sz".as("sz_a")), "id_a")
      .join(sizes.select($"doc_id".as("id_b"), $"sz".as("sz_b")), "id_b")
      .withColumn("containment", round($"inter".cast("double") /
        least($"sz_a", $"sz_b").cast("double"), 4))
      .filter($"containment" >= 0.8)
      .select("id_a", "id_b", "containment")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = Mining.prefixContainmentPairs(Dedup.shingleRows(planted), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute,
      s"containment join must be exact: missing=${brute -- got} extra=${got -- brute}")
    assert(got.nonEmpty, "fixture must actually produce containment pairs")
  }

  test("dup-collapsed prefix joins stay exact on a duplicate-heavy corpus (8x-probe shape)") {
    // the scale shape that motivated the exact-duplicate collapse: every
    // doc has an offset-id exact copy, so the correct answer includes
    // within-group J=1.0 pairs AND every cross pair duplicated x4 — all
    // of which must come out of the expansion, not the pairwise stages
    val docs2 = planted.unionByName(
      planted.withColumn("doc_id", $"doc_id" + 5000000L))
    val shd = Dedup.shingleRows(docs2).distinct()
    val sizes = shd.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    def brute(scoreOf: (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column, theta: Double) =
      shd.as("a")
        .join(shd.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select($"doc_id".as("id_a"), $"sz".as("sz_a")), "id_a")
        .join(sizes.select($"doc_id".as("id_b"), $"sz".as("sz_b")), "id_b")
        .withColumn("score", round(scoreOf($"inter", $"sz_a", $"sz_b"), 4))
        .filter($"score" >= theta)
        .select("id_a", "id_b", "score")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bruteJ = brute((i, a, b) => i.cast("double") / (a + b - i).cast("double"), 0.7)
    val gotJ = Mining.prefixJaccardPairs(Dedup.shingleRows(docs2), 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotJ == bruteJ,
      s"dup-corpus jaccard diverged: missing=${(bruteJ -- gotJ).take(3)} extra=${(gotJ -- bruteJ).take(3)}")
    // the duplicate pairs themselves must be present at exactly 1.0
    assert(gotJ.exists { case (a, b, j) => b == a + 5000000L && j == 1.0 },
      "no within-group copy pair surfaced — expansion path untested")
    val bruteC = brute((i, a, b) => i.cast("double") / least(a, b).cast("double"), 0.8)
    val gotC = Mining.prefixContainmentPairs(Dedup.shingleRows(docs2), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotC == bruteC,
      s"dup-corpus containment diverged: missing=${(bruteC -- gotC).take(3)} extra=${(gotC -- bruteC).take(3)}")
  }

  test("exact containment catches the tiny-in-huge pair the LSH screen misses") {
    // THE caveat case the LSH containment screen documents: C = 1.0 with
    // tiny Jaccard. Deterministic — the banding is seeded.
    val small = (1 to 25).map(i => s"tok$i").mkString(" ")
    val huge = small + " " + (1 to 400).map(i => s"ext$i").mkString(" ")
    val docs = Seq((1L, small), (2L, huge)).toDF("doc_id", "text")
    val lsh = Dedup.containmentPairs(docs).collect()
    assert(lsh.isEmpty,
      s"fixture must demonstrate the banding miss, got ${lsh.toSeq}")
    val exact = Mining.prefixContainmentPairs(Dedup.shingleRows(Dedup.planted(docs)), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(exact == Seq((1L, 2L, 1.0)),
      s"prefix containment is recall-exact by pigeonhole, got $exact")
  }

  test("prefix join recall is a superset of the MinHash LSH approximation") {
    val lsh = Dedup.minhashPairs(table(spark, sf("sf0.001"), "documents"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Mining.prefixJaccardPairs(Dedup.shingleRows(planted), 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact),
      s"exact join must dominate LSH recall: lsh-only=${lsh -- exact}")
  }

  test("heavy hitters equals plain groupBy+HAVING on the corpus") {
    val docs = table(spark, sf("sf0.001"), "documents")
    val got = Mining.heavyHitters(docs, 0.034, 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val toks = docs.select(explode(Dedup.tokens(col("text"))).as("tok"))
    val n = toks.count()
    val want = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= math.ceil(n * 0.034).toLong)
      .orderBy(desc("cnt"), col("tok"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("heavy hitters stays exact when vocab >> counters (MG decrements fire)") {
    // 500-token vocab against 32 counters: every partition's sketch must
    // decrement constantly, yet the one true heavy hitter (10% support)
    // survives — the n/(k+1) slack bound in action.
    val rows = (1 to 5000).map(i => if (i % 10 == 0) "hh" else s"t${i % 499}")
    val docs = rows.toDF("text").repartition(4)
    val got = Mining.heavyHitters(docs, 0.05, 32)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("hh", 500L)), s"got $got")
  }

  test("MG summaries are bounded by k rows per partition") {
    val toks = (1 to 10000).map(i => s"t${i % 997}").toDF("tok").repartition(8)
    val perPart = Mining.mgCandidates(toks, 32)
    assert(perPart.count() <= 32L * 8,
      "sketch output must be bounded by k * partitions")
  }

  test("heavy hitters refuses an unsound counters/minFrac combination") {
    val docs = table(spark, sf("sf0.001"), "documents")
    intercept[IllegalArgumentException] {
      Mining.heavyHitters(docs, 0.01, 64) // needs >= 99 counters
    }
  }

  test("frequentPairs equals unpruned pair counting (a-priori prune is lossless)") {
    val docs = table(spark, sf("sf0.001"), "documents")
    val got = Mining.frequentPairs(docs, 10L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val dt = docs.select($"doc_id",
      explode(array_distinct(Dedup.tokens($"text"))).as("tok")).distinct()
    val want = dt.as("a").join(dt.as("b"),
        $"a.doc_id" === $"b.doc_id" && $"a.tok" < $"b.tok")
      .groupBy($"a.tok".as("tok_a"), $"b.tok".as("tok_b"))
      .agg(count(lit(1)).as("support"))
      .filter($"support" >= 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(got.nonEmpty)
  }

  test("CovSums moments equal the exploded-pairs computation") {
    val embs = table(spark, sf("sf0.001"), "embeddings")
      .select($"vec_id", transform($"embedding",
        x => round(x.cast("double") * 10000, 0).cast("long")).as("q"))
    val covU = org.apache.spark.sql.functions.udaf(
      new graft.functions.CovSums.CovSumsAggregator(64),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())
    val m = embs.agg(covU($"q").as("m")).select($"m.n", $"m.s", $"m.ss")
      .collect()(0)
    val n = m.getLong(0)
    val s0 = m.getSeq[Long](1)
    val ss = m.getSeq[Long](2)
    val rows = embs.select($"q").collect().map(_.getSeq[Long](0))
    assert(n == rows.length)
    assert(s0 == (0 until 64).map(i => rows.map(_(i)).sum))
    // spot-check a few upper-triangle cells against direct products
    for ((i, j) <- Seq((0, 0), (0, 63), (5, 17), (63, 63))) {
      val k = graft.functions.CovSums.triIndex(i, j, 64)
      assert(ss(k) == rows.map(r => r(i) * r(j)).sum, s"cell ($i,$j)")
    }
  }

  test("incremental minhash equals the full planted run restricted to delta×base") {
    val docs = table(spark, sf("sf0.001"), "documents")
    val base = docs.select("doc_id", "text")
    val baseSh = Dedup.shingleRows(base).localCheckpoint()
    val idx = Dedup.bandedSignatures(baseSh).localCheckpoint()
    val delta = Dedup.planted(docs).filter($"doc_id" >= 1000000L)
    val incr = Dedup.minhashIncrementalPairs(idx, delta, baseSh)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))).toSet
    val full = Dedup.minhashPairs(docs)
      .filter($"id_a" < 1000000L && $"id_b" >= 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr == full, s"missing=${full -- incr} extra=${incr -- full}")
    assert(incr.nonEmpty, "planted exact copies must match their base docs")
  }

  test("containment catches doc-in-doc subset duplication that Jaccard misses") {
    import spark.implicits._
    // A: 22 tokens → 20 k=3 shingles; B: A plus 10 extra tokens → 30.
    // J = 20/30 ≈ 0.667 < the 0.7 Jaccard gate, but C = 20/20 = 1.0 —
    // the boilerplate-wrapper case the containment screen exists for.
    // Deterministic: minhash banding is seeded, so the LSH candidate
    // collision (or not) is a fixed property of these strings.
    val a = (1 to 22).map(i => s"tok$i").mkString(" ")
    val b = a + " " + (1 to 10).map(i => s"ext$i").mkString(" ")
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    assert(Dedup.minhashPairs(docs).collect().isEmpty,
      "fixture must sit below the symmetric-Jaccard gate")
    val got = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 2L, 1.0)),
      s"full containment must be flagged at C=1.0, got $got")
  }

  test("indexed dedup screens are output-identical to the inline forms") {
    // The *_indexed registry queries read the shared persisted signature
    // artifact instead of re-signing the corpus; same corpus + same
    // banding seed ⇒ the SAME pairs to the last rounded digit, for both
    // the Jaccard and the containment screen.
    val d = sf("sf0.001")
    def rows(name: String): Seq[Seq[Any]] =
      graft.SparkEntry.queries(name)(spark, d).collect().toSeq.map(_.toSeq)
    val inline = rows("dedup_minhash")
    assert(inline.nonEmpty, "planted corpus must produce near-dup pairs")
    assert(rows("dedup_minhash_indexed") == inline,
      "artifact-served Jaccard screen diverged from the inline form")
    assert(rows("dedup_containment_indexed") == rows("dedup_containment"),
      "artifact-served containment screen diverged from the inline form")
    assert(rows("text_boilerplate_indexed") == rows("text_boilerplate"),
      "artifact-served boilerplate screen diverged from the inline form")
    assert(rows("dedup_semantic_indexed") == rows("dedup_semantic"),
      "artifact-served semantic screen diverged from the inline form")
    assert(rows("multimodal_phash_indexed") == rows("multimodal_phash"),
      "index-served pHash screen diverged from the inline form")
  }

  test("phashIngestBatch: cross-batch pairs found, replay is output-stable, probe is O(delta)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_phash_ingest")
    val idx = root.resolve("idx").toString
    val pairs = root.resolve("pairs").toString
    val base = "the quick brown fox jumps over the lazy dog " * 5
    // batch 0: docs 1 and 2 (unrelated); batch 1: doc 3 = one-byte
    // perturbation of doc 1 — its pair partner entered the index only via
    // batch 0's merge, so finding (1,3) is the cross-batch evidence.
    val b0 = Seq((1L, base),
      (2L, "completely different bytes with other content here " * 5))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "X" + base.drop(1))).toDF("doc_id", "text")
    Multimodal.phashIngestBatch(b0, idx, pairs, batchId = 0L)
    Multimodal.phashIngestBatch(b1, idx, pairs, batchId = 1L)
    def allPairs: Seq[(Long, Long, Int)] =
      spark.read.parquet(pairs).select("id_a", "id_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    val got = allPairs
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 3L)),
      s"expected exactly the cross-batch pair (1,3), got $got")
    assert(got.head._3 <= 1)
    // crash-replay of batch 1: the batch_id partition overwrite + anti-join
    // pre-crash base must leave the pair OUTPUT byte-stable (the index may
    // grow duplicate rows — consumers are dropDuplicates-insensitive).
    Multimodal.phashIngestBatch(b1, idx, pairs, batchId = 1L)
    assert(allPairs == got, "replayed batch changed the pairs output")
    // the generic compaction resets the replay's duplicate index rows
    // (doc 3 appended twice) without touching any consumer output
    assert(spark.read.parquet(s"$idx/hashes").count() == 4L,
      "replay should have left a duplicate doc-3 row")
    IngestRecipe.compact(spark, s"$idx/hashes", Multimodal.PhashSchema)
    assert(spark.read.parquet(s"$idx/hashes").count() == 3L,
      "compact must collapse the replay-duplicated index rows")
    assert(allPairs == got, "compaction changed the pairs output")
    // O(delta): a later batch probed against the standing index must not
    // re-emit base-vs-base pairs — only pairs touching the batch.
    val b2 = Seq((4L, "X" + base.drop(1))).toDF("doc_id", "text")
    Multimodal.phashIngestBatch(b2, idx, pairs, batchId = 2L)
    val after = allPairs
    assert(after.map(p => (p._1, p._2)) == Seq((1L, 3L), (1L, 4L), (3L, 4L)),
      s"batch-2 probe must add only batch-touching pairs, got $after")
  }

  test("replay-duplicated index rows cannot change the indexed screens or the boilerplate rollup") {
    // the at-least-once ingest index may hold every (doc, chunk/shingle)
    // row twice after a crash-replay append; every consumer that reads
    // the index directly must be insensitive to that
    val docs = table(spark, sf("sf0.001"), "documents").select("doc_id", "text")
    val ch = Dedup.chunkRows(docs)
    val once = Dedup.boilerplateFromIndex(ch).collect().map(_.toSeq).toSeq
    val doubled = Dedup.boilerplateFromIndex(ch.unionByName(ch))
      .collect().map(_.toSeq).toSeq
    assert(doubled == once,
      "boilerplateFromIndex output changed under duplicated index rows")
    val sh = Dedup.shingleRows(Dedup.planted(docs)).distinct()
    val banded = Dedup.bandedSignatures(sh)
    val clean = Dedup.minhashPairsIndexed(banded, sh).collect().map(_.toSeq).toSeq
    val dup = Dedup.minhashPairsIndexed(banded, sh.unionByName(sh))
      .collect().map(_.toSeq).toSeq
    assert(dup == clean,
      "indexed Jaccard screen scores changed under duplicated shingle rows")
  }

  test("banding sweep: candidate sets nest, b=8 equals the production screen, exact dups always collide") {
    val docs = table(spark, sf("sf0.001"), "documents").select("doc_id", "text")
    val sh = Dedup.shingleRows(Dedup.planted(docs)).distinct().localCheckpoint()
    val sigs = Dedup.minhashSignatures(sh).localCheckpoint()
    val settings = Seq(2, 4, 8, 16)
    val cands = settings.map { b =>
      b -> Dedup.candidatesFromBanded(Dedup.bandRows(sigs, 32, b))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }.toMap
    // sequential band boundaries nest (a 16-row band is 8 consecutive
    // 2-row chunks), so a collision at a coarse setting implies one at
    // every finer setting — recall/cost are monotone in bands by
    // construction, which is what makes the sweep's columns comparable
    settings.sliding(2).foreach {
      case Seq(coarse, fine) =>
        assert(cands(coarse).subsetOf(cands(fine)),
          s"candidates at $coarse bands not a subset of $fine bands")
      case _ => ()
    }
    // the sweep's b=8 row measures the PRODUCTION screen's banding — the
    // whole point of the calibration is that one of its rows is the
    // setting the screen actually runs
    val prod = Dedup.candidatesFromBanded(Dedup.bandedSignatures(sh))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands(8) == prod, "sweep b=8 candidates differ from the production banding")
    // a planted EXACT duplicate has identical shingles → identical
    // signatures → collides in every band at every setting
    val d = sh.select("doc_id").filter(col("doc_id") % 20 === 0 && col("doc_id") < 1000000)
      .agg(min("doc_id")).head().getLong(0)
    settings.foreach { b =>
      assert(cands(b).contains((d, d + 1000000L)),
        s"planted exact dup ($d, ${d + 1000000L}) missing at $b bands")
    }
  }

  test("temperature rate arithmetic stays exact where int64 overflows") {
    // s6·(ntot/4)·10⁴ = 2e9·1e6·1e4 = 2e19 > Long.MaxValue: the DECIMAL
    // form must return the exact rate, not overflow or wrap
    val row = spark.sql(
      """SELECT CAST((CAST(2000000000 AS DECIMAL(38,0)) * (4000000 div 4) * 10000)
        |     div (CAST(2000000000 AS DECIMAL(38,0)) * 4000000) AS BIGINT) AS r""".stripMargin)
      .collect().head.getLong(0)
    // exact value: (2e9·1e6·1e4)/(2e9·4e6) = 1e10/4e6 = 2500
    assert(row == 2500L, s"decimal rate arithmetic wrong at overflow scale: $row")
    // and DuckDB's HUGEINT twin agrees (checked by the oracle gate; this
    // pins the Spark side's exactness in isolation)
  }

  test("semantic ingest: multi-batch fold == first-arrival truth; cold start; replay idempotent") {
    val embs = table(spark, sf("sf0.001"), "embeddings")
    val centroids = Similarity.seedCentroids(embs, 8)
    val tau = 0.1
    val root = java.nio.file.Files.createTempDirectory("graft_sem_ingest")
    val idx = root.resolve("idx").toString
    val drops = root.resolve("drops").toString
    val batches = Seq(
      embs.filter($"vec_id" < 20),
      embs.filter($"vec_id" >= 20 && $"vec_id" < 35),
      embs.filter($"vec_id" >= 35))
    // COLD START: first batch runs against a missing index
    Dedup.semanticIngestBatch(batches(0), centroids, idx, drops, 0L, tau)
    assert(new java.io.File(idx).exists(), "first batch must create the index")
    def dropRows() = spark.read.parquet(drops).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sorted
    assert(dropRows().isEmpty, "nothing stands before batch 0 — no drops possible")
    Dedup.semanticIngestBatch(batches(1), centroids, idx, drops, 1L, tau)
    Dedup.semanticIngestBatch(batches(2), centroids, idx, drops, 2L, tau)
    val afterAll = dropRows()
    // FIRST-ARRIVAL TRUTH, brute-forced: vector v (arriving in batch k)
    // is dropped iff some EARLIER-batch vector in v's cluster reaches
    // tau; witness = highest cosine, tie lowest id — regardless of
    // id order (unlike the batch screen's lowest-id exemplar)
    val cluster = Similarity.assignToCentroids(embs, centroids)
      .select("vec_id", "c_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = embs.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def batchOf(id: Long) = if (id < 20) 0 else if (id < 35) 1 else 2
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val r = a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = (for {
      v <- vecs.keys.toSeq
      standing = vecs.keys.toSeq
        .filter(u => batchOf(u) < batchOf(v) && cluster(u) == cluster(v))
        .map(u => (u, cos(vecs(u), vecs(v)))).filter(_._2 >= tau)
      if standing.nonEmpty
      (wit, c) = standing.minBy { case (u, s) => (-s, u) }
    } yield (v, cluster(v), wit, c)).sorted
    assert(afterAll == expected,
      s"ingest fold diverged from first-arrival truth:\n got=$afterAll\n exp=$expected")
    assert(afterAll.nonEmpty, "fixture degenerated: no cross-batch drops at tau=0.1")
    // AT-LEAST-ONCE REPLAY of the latest batch (crash-after-merge state:
    // its rows are already in the index — the recipe's replay contract,
    // same as dedupIngestBatch): drops must be unchanged as a multiset
    // and rewritten in place, not appended
    def dataFileSizes() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(drops))
        .filter(_.getName.endsWith(".parquet")).map(_.length).sorted
    }
    val sizesOnce = dataFileSizes()
    Dedup.semanticIngestBatch(batches(2), centroids, idx, drops, 2L, tau)
    assert(dropRows() == afterAll,
      "replaying the latest batch changed the drop multiset")
    assert(dataFileSizes() == sizesOnce,
      "replay must rewrite batch_id=2 in place, not append new files")
  }

  test("semantic index compaction drops replay duplicates; consumers unchanged") {
    val embs = table(spark, sf("sf0.001"), "embeddings")
    val centroids = Similarity.seedCentroids(embs, 8)
    val tau = 0.1
    val root = java.nio.file.Files.createTempDirectory("graft_sem_compact")
    val idx = root.resolve("idx").toString
    val drops = root.resolve("drops").toString
    Dedup.semanticIngestBatch(embs.filter($"vec_id" < 25), centroids, idx, drops, 0L, tau)
    Dedup.semanticIngestBatch(embs.filter($"vec_id" >= 25), centroids, idx, drops, 1L, tau)
    // crash-after-merge replay: the index append runs twice for batch 1
    Dedup.semanticIngestBatch(embs.filter($"vec_id" >= 25), centroids, idx, drops, 1L, tau)
    def readIdx(p: String) = spark.read.schema(Dedup.SemanticIndexSchema).parquet(p)
    val dupCount = readIdx(idx).count()
    val exactCount = readIdx(idx).dropDuplicates().count()
    assert(dupCount > exactCount,
      "fixture degenerated: the replay appended no duplicate index rows")
    // duplicate the polluted index so compacted vs uncompacted can be
    // probed independently (a probe's merge step mutates its index)
    val idx2 = root.resolve("idx2").toString
    def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      java.nio.file.Files.createDirectories(dst)
      java.nio.file.Files.list(src).forEach { p =>
        val t = dst.resolve(p.getFileName)
        if (java.nio.file.Files.isDirectory(p)) copyDir(p, t)
        else { java.nio.file.Files.copy(p, t); () }
      }
    }
    copyDir(java.nio.file.Paths.get(idx), java.nio.file.Paths.get(idx2))
    Dedup.compactSemanticIndex(spark, idx2)
    assert(readIdx(idx2).count() == exactCount,
      "compaction must leave exactly the distinct rows")
    assert(readIdx(idx2).collect().toSet == readIdx(idx).dropDuplicates().collect().toSet,
      "compaction changed index content beyond duplicate removal")
    // consumer equivalence: the same probe batch (cloned vectors, so
    // drops are guaranteed) sees identical drops from both index states
    val probe = embs.filter($"vec_id" < 10)
      .withColumn("vec_id", $"vec_id" + 1000L)
    val dropsA = root.resolve("dropsA").toString
    val dropsB = root.resolve("dropsB").toString
    Dedup.semanticIngestBatch(probe, centroids, idx, dropsA, 0L, tau)
    Dedup.semanticIngestBatch(probe, centroids, idx2, dropsB, 0L, tau)
    def dropSet(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(dropSet(dropsA) == dropSet(dropsB),
      "probe results diverged between the duplicated and compacted index")
    assert(dropSet(dropsA).nonEmpty, "cloned probe produced no drops — degenerate")
  }

  test("dedup ingest: cold start bootstraps a missing index; replay is idempotent") {
    val docs = table(spark, sf("sf0.001"), "documents").select("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_cold")
    val idx = root.resolve("idx").toString
    val pairs = root.resolve("pairs").toString
    val batch1 = docs.filter($"doc_id" < 250)
    // delta batch: exact copies of some batch-1 docs → guaranteed pairs
    val batch2 = Dedup.planted(docs).filter($"doc_id" >= 1000000L && $"doc_id" < 1000250L)
    // COLD START: no index exists yet — the first batch must create it
    Dedup.dedupIngestBatch(batch1, idx, pairs, batchId = 0L)
    assert(new java.io.File(s"$idx/banded").exists(), "first batch must create the index")
    def pairRows() = spark.read.parquet(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    Dedup.dedupIngestBatch(batch2, idx, pairs, batchId = 1L)
    val afterOnce = pairRows()
    assert(afterOnce.nonEmpty, "exact copies must pair against the bootstrapped index")
    assert(afterOnce.forall { case (d, b, _) => d != b }, "self-pairs must never be emitted")
    // data-file sizes under the output tree: replays must leave the
    // CONTENT byte-stable (file names carry fresh write UUIDs, so sizes +
    // row multiset are the stable identity)
    def dataFileSizes() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(pairs))
        .filter(_.getName.endsWith(".parquet")).map(_.length).sorted
    }
    val sizesOnce = dataFileSizes()
    // AT-LEAST-ONCE REPLAY: the crash-after-merge case — batch 2's own
    // signatures are already in the index. Exactly-once output: the
    // replay OVERWRITES batch_id=1, so the pairs table is unchanged as a
    // row MULTISET (the old append path left duplicate rows behind), and
    // the rewritten files are byte-for-byte the same size.
    Dedup.dedupIngestBatch(batch2, idx, pairs, batchId = 1L)
    val afterReplay = pairRows()
    assert(afterReplay == afterOnce,
      s"replay changed the pair multiset: got ${afterReplay.size} rows vs ${afterOnce.size}")
    assert(dataFileSizes() == sizesOnce,
      "replay must rewrite batch_id=1 in place, not append new files")
    // COMPACTION: the replay left duplicate banded/shingle rows behind
    // (merge is append). compactDedupIndex must shrink both components
    // to exactly their distinct rows, and a subsequent batch must see
    // identical pairs from the compacted index.
    def counts(part: String) = {
      val df = spark.read.parquet(s"$idx/$part")
      (df.count(), df.dropDuplicates().count())
    }
    val (bandedN, bandedD) = counts("banded")
    assert(bandedN > bandedD, "fixture degenerated: replay appended no dup signatures")
    Dedup.compactDedupIndex(spark, idx)
    assert(counts("banded") == ((bandedD, bandedD)), "banded not compacted to distinct")
    val (shN, shD) = counts("shingles")
    assert(shN == shD, "shingles not compacted to distinct")
    val batch3 = Dedup.planted(docs).filter($"doc_id" >= 2000000L && $"doc_id" < 2000250L)
    Dedup.dedupIngestBatch(batch3, idx, pairs, batchId = 2L)
    val b3 = pairRows().filterNot(afterOnce.contains)
    assert(b3.nonEmpty && b3.forall { case (d, _, _) => d >= 2000000L },
      "post-compaction probe must still pair the new batch against the index")
  }

  test("boilerplate ingest: as-of-batch == batch recompute; not retroactive; replay idempotent") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_boiler_ingest")
    val idx = root.resolve("idx").toString
    val out = root.resolve("out").toString
    val shared = "alpha beta gamma delta"
    val b1 = Seq((1L, shared), (2L, shared), (11L, "batch one unique text"))
      .toDF("doc_id", "text")
    val b2 = Seq((3L, shared), (12L, "batch two unique text"))
      .toDF("doc_id", "text")
    // COLD START: no index yet — the first batch must create it
    Dedup.boilerplateIngestBatch(b1, idx, out, batchId = 0L)
    assert(new java.io.File(s"$idx/chunks").exists(), "first batch must create the index")
    Dedup.boilerplateIngestBatch(b2, idx, out, batchId = 1L)
    def outRows() = spark.read.parquet(out)
      .selectExpr("cast(batch_id as long) AS bid", "doc_id", "n_chunks",
        "n_boiler", "kept_fp")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSeq.sortBy(x => (x._1, x._2))
    val rows = outRows()
    // at batch 1 the shared chunk sat in 2 docs (< 3): no boiler flags,
    // and batch 2's arrival must NOT rewrite that decision (by design —
    // retro re-screening is a compact over the index, not ingest work)
    assert(rows.filter(r => r._1 == 0L).forall(_._4 == 0L),
      s"batch-0 decisions must stay as-of their batch: $rows")
    // at batch 2 the chunk reaches 3 distinct docs: doc 3 flagged AT INGEST
    assert(rows.find(r => r._2 == 3L).get._4 == 1L, s"doc 3 must be flagged: $rows")
    assert(rows.find(r => r._2 == 12L).get._4 == 0L)
    // as-of equivalence: the batch-2 screen must equal a full batch
    // recompute over every doc seen so far, restricted to batch-2 ids
    val recompute = Dedup.boilerplateFromIndex(
        Dedup.chunkRows(b1.unionByName(b2)))
      .filter($"doc_id".isin(3L, 12L)).collect()
      .map(r => (1L, r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq.sortBy(_._2)
    assert(rows.filter(_._1 == 1L) == recompute,
      "ingest screen diverged from the as-of batch recompute")
    // AT-LEAST-ONCE REPLAY: batch 2's chunks are already in the index;
    // the anti-join restores the pre-crash probe state and the overwrite
    // rewrites batch_id=1 in place
    Dedup.boilerplateIngestBatch(b2, idx, out, batchId = 1L)
    assert(outRows() == rows, "replay must leave the screened output unchanged")
  }

  test("linear attribution splits cents exactly on a hand fixture") {
    def ts(day: Int, hour: Int = 0) =
      Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")
    val ev = Seq(
      // user 1: purchase 10.00 with two in-window touches -> 500 each
      (1L, ts(10), 1L, "purchase", 10.00),
      (2L, ts(9), 1L, "view", 1.0),
      (3L, ts(8), 1L, "click", 1.0),
      // user 2: purchase 9.99 with one view touch -> 999
      (4L, ts(20), 2L, "purchase", 9.99),
      (5L, ts(19), 2L, "view", 1.0),
      // excluded: outside the 3-day window / after the purchase
      (6L, ts(10), 2L, "view", 1.0),
      (7L, ts(25), 2L, "click", 1.0),
      // user 3: purchase with no touches -> contributes nothing
      (8L, ts(15), 3L, "purchase", 5.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Mining.linearAttribution(ev)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("click", 1L, 1L, 500L),
      ("view", 2L, 2L, 500L + 999L)), s"got ${got.toSeq}")
  }

  test("boilerplateStrip: >=3-doc chunks stripped EVERYWHERE, unlike lineDedup") {
    import spark.implicits._
    // ids coprime to the planting rules (doc_id % 20, % 25) so planted()
    // is the identity; <10-token docs → exactly one chunk each
    val shared = "alpha beta gamma delta"
    val docs = Seq(
      (1L, shared), (2L, shared), (3L, shared),
      (7L, "unique seven words of content here ok")).toDF("doc_id", "text")
    val out = Dedup.boilerplateStrip(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    // the shared chunk is boilerplate (3 distinct docs): stripped from
    // ALL THREE, including the first occurrence
    Seq(1L, 2L, 3L).foreach { id =>
      assert(out(id) == ((1L, 1L, emptyMd5)), s"doc $id: ${out(id)}")
    }
    // the unique chunk (1 doc < 3) survives with a real fingerprint
    assert(out(7L)._1 == 1L && out(7L)._2 == 0L && out(7L)._3 != emptyMd5)
    // contrast: lineDedup's first-occurrence rule KEEPS doc 1's copy
    val ld = Dedup.lineDedup(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ld(1L) == 1L && ld(2L) == 0L && ld(3L) == 0L)
  }

  test("boilerplateStrip: below-threshold repeats (2 docs) are NOT boilerplate") {
    import spark.implicits._
    val docs = Seq((1L, "twice repeated chunk"), (2L, "twice repeated chunk"))
      .toDF("doc_id", "text")
    val out = Dedup.boilerplateStrip(docs).collect()
    assert(out.forall(_.getLong(2) == 0L), "2 < minDocs=3 must keep the chunk")
  }
}
