package graft.ext

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The BM25 standing inverted index ([[TextStats.bm25IngestBatch]] /
  * [[TextStats.bm25FromIndex]]): the serve must be BIT-identical to the
  * corpus-direct [[TextStats.bm25]] (shared scoring tail), replays must
  * not change what the index serves, the vocabulary-growth output must
  * match a scalar fold, and the probe must actually be partition-pruned
  * to the query terms' term buckets — the property that makes the index
  * worth maintaining at 100 TB. (Replay-inflate → compact → parity rides
  * [[CompactionMatrixSpec]] as the shared template, like every family.)
  */
class Bm25IndexSpec extends SparkSpec {
  import spark.implicits._

  // corpus with repeated terms across docs, a token-less doc (scores
  // nothing, counts in N/avgdl), and punctuation/digit splits
  private val corpus = Seq(
    (1L, "spark shuffle join HASH hash hash"),
    (2L, "hash join; scan scan scan scan vector"),
    (3L, "stream stream stream stream stream vector kappa"),
    (4L, "1234 5678 90"), // tokenizes to nothing: [a-z]+ runs only
    (5L, "the quick brown fox jumps over a lazy dog vector hash"),
    (6L, "scan"),
    (7L, "join join join join join join join join hash")
  ).toDF("doc_id", "text")

  private val terms = Seq("hash", "join", "scan", "vector", "stream")

  private def readP(path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    ParquetIO.readOrEmpty(spark, path, schema)

  private def ingest(root: String, batch: DataFrame, id: Long): Unit =
    TextStats.bm25IngestBatch(batch, s"$root/idx", s"$root/out", id)

  private def serve(root: String, qs: Seq[String] = terms, k: Int = 10): DataFrame =
    TextStats.bm25FromIndex(
      readP(s"$root/idx/postings", TextStats.PostingSchema),
      readP(s"$root/idx/stats", TextStats.Bm25StatsSchema), qs, k)

  /** (n_docs, avgdl) recomputed the pre-snapshot way — a full doclens
    * scan — for the snapshot ≡ recomputed pins. */
  private def statsFromDoclens(root: String): Seq[String] = {
    import org.apache.spark.sql.functions._
    rows(readP(s"$root/idx/doclens", TextStats.DocLenSchema)
      .groupBy("doc_id").agg(max("dl").as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl")))
  }

  private def statsFromLedger(root: String): Seq[String] = {
    val s = TextStats.corpusStatsFromLedger(
      readP(s"$root/idx/stats", TextStats.Bm25StatsSchema))
    Seq(org.apache.spark.sql.Row(s.nDocs, s.avgdl.map(Double.box).orNull).toString)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("index-served BM25 ≡ corpus-direct BM25, bit-identically") {
    val root = java.nio.file.Files.createTempDirectory("graft_b25a").toString
    ingest(root, corpus.filter($"doc_id" <= 3), 0L)
    ingest(root, corpus.filter($"doc_id" > 3), 1L)
    assert(rows(serve(root)) == rows(TextStats.bm25(corpus, terms, 10)))
    // and on the real sf0.001 documents table with the registered seed
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val r2 = java.nio.file.Files.createTempDirectory("graft_b25b").toString
    ingest(r2, docs.filter($"doc_id" % 2 === 0), 0L)
    ingest(r2, docs.filter($"doc_id" % 2 === 1), 1L)
    assert(rows(serve(r2, terms, 20)) == rows(TextStats.bm25(docs, terms, 20)))
  }

  test("replayed batches do not change the served ranking or the batch output") {
    val root = java.nio.file.Files.createTempDirectory("graft_b25r").toString
    ingest(root, corpus.filter($"doc_id" <= 3), 0L)
    ingest(root, corpus.filter($"doc_id" > 3), 1L)
    val out0 = rows(serve(root))
    val batch1 = rows(spark.read.schema(TextStats.Bm25OutSchema)
      .parquet(s"$root/out/batch_id=1").orderBy("doc_id"))
    val postings0 = readP(s"$root/idx/postings", TextStats.PostingSchema).count()
    (1 to 3).foreach(_ => ingest(root, corpus.filter($"doc_id" > 3), 1L))
    assert(readP(s"$root/idx/postings", TextStats.PostingSchema).count() > postings0,
      "replay must inflate the append-armored index (else the template is untested)")
    assert(rows(serve(root)) == out0, "duplicate-tolerant serve broke under replay")
    assert(rows(spark.read.schema(TextStats.Bm25OutSchema)
      .parquet(s"$root/out/batch_id=1").orderBy("doc_id")) == batch1,
      "batch output must be overwrite-idempotent under replay")
    TextStats.compactBm25Index(spark, s"$root/idx")
    assert(readP(s"$root/idx/postings", TextStats.PostingSchema).count() == postings0)
    assert(rows(serve(root)) == out0, "compaction changed the served ranking")
  }

  test("stats snapshot ≡ doclens-recomputed, through replay and compaction") {
    val root = java.nio.file.Files.createTempDirectory("graft_b25s").toString
    ingest(root, corpus.filter($"doc_id" <= 3), 0L)
    ingest(root, corpus.filter($"doc_id" > 3), 1L)
    assert(statsFromLedger(root) == statsFromDoclens(root))
    // at-least-once replay inflates BOTH components with identical rows;
    // the dedup'd snapshot must not drift from the dedup'd scan
    (1 to 3).foreach(_ => ingest(root, corpus.filter($"doc_id" > 3), 1L))
    assert(statsFromLedger(root) == statsFromDoclens(root),
      "replay drifted the stats ledger away from doclens")
    TextStats.compactBm25Index(spark, s"$root/idx")
    assert(statsFromLedger(root) == statsFromDoclens(root),
      "compaction drifted the stats ledger away from doclens")
    // and the snapshot actually replaced the doclens scan in the serve
    val plan = serve(root, Seq("hash"), 5).queryExecution.executedPlan.toString
    assert(!plan.contains("doclens"),
      s"the serve plan still scans the doclens component:\n$plan")
  }

  test("vocabulary-growth output matches a scalar fold") {
    val root = java.nio.file.Files.createTempDirectory("graft_b25v").toString
    ingest(root, Seq((1L, "alpha beta gamma"), (2L, "alpha alpha")).toDF("doc_id", "text"), 0L)
    ingest(root, Seq((3L, "beta delta delta"), (4L, ""), (5L, "12 34")).toDF("doc_id", "text"), 1L)
    val out = spark.read.schema(TextStats.Bm25OutSchema)
      .parquet(s"$root/out/batch_id=1").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // batch 0 vocab = {alpha, beta, gamma}; doc 3 brings delta (new) + beta
    // (seen); docs 4, 5 tokenize to nothing → all-zero audit rows
    assert(out.toSeq == Seq((3L, 3L, 2L, 1L), (4L, 0L, 0L, 0L), (5L, 0L, 0L, 0L)))
  }

  test("an empty batch commits a zero stats-ledger row and no postings") {
    val root = java.nio.file.Files.createTempDirectory("graft_b25z").toString
    ingest(root, corpus.limit(0), 0L)
    assert(rows(readP(s"$root/idx/stats", TextStats.Bm25StatsSchema)) == Seq("[0,0,0]"))
    assert(readP(s"$root/idx/postings", TextStats.PostingSchema).count() == 0L)
    ingest(root, corpus, 1L)
    assert(rows(serve(root)) == rows(TextStats.bm25(corpus, terms, 10)))
  }

  test("the serve's postings scan is partition-pruned to the query terms' buckets") {
    val root = java.nio.file.Files.createTempDirectory("graft_b25p").toString
    ingest(root, corpus, 0L)
    // driver and executor bucket functions agree (CRC32 twins)
    val sparkSide = corpus.select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.lower($"text"), "[^a-z]+")).as("t"))
      .filter(org.apache.spark.sql.functions.length($"t") > 0)
      .select($"t", TextStats.termBucket($"t").as("tb")).distinct()
      .collect().map(r => r.getString(0) -> r.getInt(1))
    sparkSide.foreach { case (t, tb) =>
      assert(TextStats.termBucketOf(t) == tb, s"bucket mismatch for '$t'")
    }
    // NON-EMPTY filter list naming tb: FileSourceScanExec prints the
    // 'PartitionFilters: []' label even when pruning regressed, and 'tb'
    // alone could match a post-scan Filter — the regex requires a tb
    // predicate INSIDE the bracket list
    val plan = serve(root, Seq("hash"), 5).queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(plan).isDefined,
      s"no non-empty tb partition-filter list in the postings scan:\n$plan")
    // the slop serve prunes its positions scan the same way
    val slopPlan = TextStats.phraseFromIndexSlop(
        readP(s"$root/idx/positions", TextStats.PositionSchema),
        Seq("hash", "join"), 2)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(slopPlan).isDefined,
      s"no non-empty tb partition-filter list in the slop positions scan:\n$slopPlan")
    // and the unordered serve
    val unordPlan = TextStats.phraseFromIndexUnordered(
        readP(s"$root/idx/positions", TextStats.PositionSchema),
        Seq("hash", "join"), 3)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(unordPlan).isDefined,
      s"no non-empty tb partition-filter list in the unordered positions scan:\n$unordPlan")
    // the pruned serve still ranks correctly
    assert(rows(serve(root, Seq("hash"), 5)) ==
      rows(TextStats.bm25(corpus, Seq("hash"), 5)))
  }

  test("cold start: serving an absent index returns no rows") {
    val root = java.nio.file.Files.createTempDirectory("graft_b25c").toString
    assert(serve(root).count() == 0L)
    assert(TextStats.phraseFromIndex(
      readP(s"$root/idx/positions", TextStats.PositionSchema),
      Seq("hash", "join")).count() == 0L)
  }

  test("the index-served BM25 runs in at most four Spark jobs") {
    val root = java.nio.file.Files.createTempDirectory("graft_b25j").toString
    ingest(root, corpus.filter($"doc_id" <= 3), 0L)
    ingest(root, corpus.filter($"doc_id" > 3), 1L)
    serve(root).collect() // warm-up: the first action pays one-off costs
    // plan construction is inside the count: the stats ledger is read on
    // the driver when the serve is built, and that read is a job too;
    // (n_docs, avgdl) then enter the plan as literals, with no broadcast
    val n = jobsOf { serve(root).collect(); () }
    assert(n > 0, "the listener saw no jobs: the count is not measuring")
    assert(n <= 4, s"bm25FromIndex issued $n Spark jobs, want at most 4")
  }

  test("the index-served hybrid serve runs in at most eight Spark jobs") {
    val root = java.nio.file.Files.createTempDirectory("graft_hyj").toString
    ingest(root, corpus.filter($"doc_id" <= 3), 0L)
    ingest(root, corpus.filter($"doc_id" > 3), 1L)
    Similarity.buildQuantIndex(
      spark.read.parquet(sf("sf0.001") + "/embeddings.parquet"), 16, s"$root/quant")
    def hybrid(): DataFrame = HybridSearch.hybridRrfFromIndex(
      readP(s"$root/idx/postings", TextStats.PostingSchema),
      readP(s"$root/idx/stats", TextStats.Bm25StatsSchema),
      spark.read.schema(Similarity.QuantIndexSchema).parquet(s"$root/quant"), terms)
    hybrid().collect() // warm-up
    // both legs are collected while the serve is built, on threads that
    // inherit the counted job group; the fused frame is local
    val n = jobsOf { hybrid().collect(); () }
    assert(n > 0, "the listener saw no jobs: the count is not measuring")
    assert(n <= 8, s"hybridRrfFromIndex issued $n Spark jobs, want at most 8")
  }

  /** The ingest as it was before the single-checkpoint, clustered,
    * concurrent form: three checkpoints (batch, postings, doclens),
    * positions re-tokenized, the stats row a global aggregate, unclustered
    * appends run one after another. Kept as the equivalence reference. */
  private def referenceIngest(batch: DataFrame, indexPath: String,
      outPath: String, batchId: Long): Unit = {
    import org.apache.spark.sql.functions._
    def toksOf(text: org.apache.spark.sql.Column) =
      filter(split(lower(text), "[^a-z]+"), t => length(t) > 0)
    val b = batch.select("doc_id", "text").localCheckpoint()
    val post = b.select(col("doc_id"), toksOf(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .select(TextStats.termBucket(col("term")).as("tb"), col("term"), col("doc_id"),
        col("tf"), col("dl"))
      .localCheckpoint()
    val dlr = b.select(col("doc_id"), size(toksOf(col("text"))).cast("long").as("dl"))
      .localCheckpoint()
    val positions = b
      .select(col("doc_id"), posexplode(toksOf(col("text"))).as(Seq("pos", "term")))
      .select(TextStats.termBucket(col("term")).as("tb"), col("term"), col("doc_id"),
        col("pos"))
    val statsRow = dlr.agg(count(lit(1)).as("n_docs"),
        coalesce(sum("dl"), lit(0L)).as("sum_dl"))
      .select(lit(batchId).as("batch_id"), col("n_docs"), col("sum_dl"))
    // step 1 (the probe reads only the postings base) and step 2
    val basePostings = readP(s"$indexPath/postings", TextStats.PostingSchema)
      .join(b.select("doc_id"), Seq("doc_id"), "left_anti")
    val baseVocab = basePostings.select("term").distinct()
    val perDoc = post.groupBy("doc_id").agg(count(lit(1)).as("n_terms"))
    val novel = post.join(baseVocab, Seq("term"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_new_terms"))
    dlr.join(perDoc, Seq("doc_id"), "left")
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dl"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        coalesce(col("n_new_terms"), lit(0L)).as("n_new_terms"))
      .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
    // step 3, sequential and unclustered
    post.write.mode("append").partitionBy("tb").parquet(s"$indexPath/postings")
    dlr.write.mode("append").parquet(s"$indexPath/doclens")
    positions.write.mode("append").partitionBy("tb").parquet(s"$indexPath/positions")
    statsRow.write.mode("append").parquet(s"$indexPath/stats")
  }

  private val components = Seq(
    "postings" -> TextStats.PostingSchema, "doclens" -> TextStats.DocLenSchema,
    "positions" -> TextStats.PositionSchema, "stats" -> TextStats.Bm25StatsSchema)

  /** Every component's rows and every batch output, fully sorted. */
  private def indexState(root: String, batches: Seq[Long]): Seq[Seq[String]] =
    components.map { case (c, sch) =>
      rows(readP(s"$root/idx/$c", sch).orderBy(sch.fieldNames.toSeq.map(org.apache.spark.sql.functions.col): _*))
    } ++ batches.map(id => rows(spark.read.schema(TextStats.Bm25OutSchema)
      .parquet(s"$root/out/batch_id=$id").orderBy("doc_id")))

  test("bm25IngestBatch ≡ the sequential three-checkpoint form: same output and components under any shuffle-partition count and AQE") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    // three batches; the middle one brings an empty and a token-less doc
    val extra = Seq((-1L, ""), (-2L, "1234 5678")).toDF("doc_id", "text")
    val batches = Seq(docs.filter($"doc_id" % 3 === 0),
      docs.filter($"doc_id" % 3 === 1).union(extra),
      docs.filter($"doc_id" % 3 === 2))
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      for (aqe <- Seq("true", "false"); parts <- Seq("1", "7", "200")) {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        val now = java.nio.file.Files.createTempDirectory("graft_b25eq").toString
        val ref = java.nio.file.Files.createTempDirectory("graft_b25er").toString
        batches.zipWithIndex.foreach { case (b, i) =>
          ingest(now, b, i.toLong)
          referenceIngest(b, s"$ref/idx", s"$ref/out", i.toLong)
        }
        val got = indexState(now, batches.indices.map(_.toLong))
        assert(got.forall(_.nonEmpty), s"degenerate fixture at $parts/$aqe")
        assert(got == indexState(ref, batches.indices.map(_.toLong)),
          s"ingest diverged from the reference at shuffle.partitions=$parts, AQE=$aqe")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("the commit probe reads token arrays: a null text gives n_terms 0, repeated terms count once, same as the postings form") {
    // n_terms / n_new_terms come from array_distinct over the token
    // array, which dedups strings through a hash set only while the
    // element type has proper equals; a pairwise path would be O(n²)
    assert(org.apache.spark.sql.catalyst.util.TypeUtils
      .typeWithProperEquals(org.apache.spark.sql.types.StringType))
    val b0 = corpus
    val b1 = Seq[(Long, String)]((21L, null), (22L, "hash hash fresh fresh fresh"),
      (23L, ""), (24L, "zeta eta zeta")).toDF("doc_id", "text")
    val now = java.nio.file.Files.createTempDirectory("graft_b25nt").toString
    val ref = java.nio.file.Files.createTempDirectory("graft_b25nr").toString
    Seq(b0, b1).zipWithIndex.foreach { case (b, i) =>
      ingest(now, b, i.toLong)
      referenceIngest(b, s"$ref/idx", s"$ref/out", i.toLong)
    }
    assert(indexState(now, Seq(0L, 1L)) == indexState(ref, Seq(0L, 1L)))
    val out = spark.read.schema(TextStats.Bm25OutSchema).parquet(s"$now/out/batch_id=1")
      .select("doc_id", "n_terms", "n_new_terms").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((21L, 0L, 0L), (22L, 2L, 1L), (23L, 0L, 0L), (24L, 2L, 2L)))
  }

  test("one commit adds at most one file per touched term bucket to postings and positions") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_b25fc").toString
    // batches spread over several input partitions, as a stream's are
    def files(c: String): Map[String, Int] =
      Option(new java.io.File(s"$root/idx/$c").listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("tb="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
        .toMap
    ingest(root, docs.filter($"doc_id" % 2 === 0).repartition(4), 0L)
    Seq("postings", "positions").foreach { c =>
      assert(files(c).values.forall(_ == 1), s"first commit: $c ${files(c)}")
    }
    val before = Seq("postings", "positions").map(c => c -> files(c)).toMap
    ingest(root, docs.filter($"doc_id" % 2 === 1).repartition(4), 1L)
    Seq("postings", "positions").foreach { c =>
      val after = files(c)
      val added = after.map { case (tb, n) => tb -> (n - before(c).getOrElse(tb, 0)) }
      assert(added.values.count(_ > 0) > 4, s"degenerate fixture: $c gained $added")
      assert(added.values.forall(_ <= 1),
        s"a commit added more than one file to a $c bucket: $added")
    }
  }

  test("an empty query fails with a clear error on every BM25 form") {
    val root = java.nio.file.Files.createTempDirectory("graft_b25e").toString
    ingest(root, corpus, 0L)
    Seq[() => Any](
      () => TextStats.bm25(corpus, Nil, 5),
      () => serve(root, Nil),
      () => TextStats.bm25Sql(Nil, 5)).foreach { f =>
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains("empty query"), e.getMessage)
    }
  }

  test("index-served BM25 and batched hybrid: same rows under any shuffle-partition count and with AQE off") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val clean = java.nio.file.Files.createTempDirectory("graft_b25i").toString
    ingest(clean, docs.filter($"doc_id" % 2 === 0), 0L)
    ingest(clean, docs.filter($"doc_id" % 2 === 1), 1L)
    // replay-inflated: batch 1 re-delivered through the armor, then a torn
    // re-delivery that appended its postings and nothing else
    val inflated = java.nio.file.Files.createTempDirectory("graft_b25ii").toString
    ingest(inflated, docs.filter($"doc_id" % 2 === 0), 0L)
    (1 to 2).foreach(_ => ingest(inflated, docs.filter($"doc_id" % 2 === 1), 1L))
    TextStats.postingRows(docs.filter($"doc_id" % 2 === 1)).write.mode("append")
      .partitionBy("tb").parquet(s"$inflated/idx/postings")
    val cold = java.nio.file.Files.createTempDirectory("graft_b25ic").toString
    val quant = s"$clean/quant"
    Similarity.buildQuantIndex(
      spark.read.parquet(sf("sf0.001") + "/embeddings.parquet"), 16, quant)
    val batch = Seq(0L -> Seq("hash", "join", "scan"),
      1L -> Seq("vector", "absentterm"), 2L -> Seq("absentterm"))
    def served(root: String): Seq[Seq[String]] = Seq(
      rows(serve(root, terms, 20)),
      rows(serve(root, Seq("stream", "absentterm"), 20)), // one term absent
      rows(serve(root, Seq("absentterm"), 20)),           // every term absent
      rows(HybridSearch.hybridRrfBatchFromIndex(
        readP(s"$root/idx/postings", TextStats.PostingSchema),
        readP(s"$root/idx/stats", TextStats.Bm25StatsSchema),
        spark.read.parquet(quant), batch)))
    def all(): Seq[Seq[Seq[String]]] = Seq(clean, inflated, cold).map(served)
    val want = all()
    val Seq(c, i, z) = want
    assert(c(0).nonEmpty && c(1).nonEmpty && c(2).isEmpty && c(3).nonEmpty,
      s"degenerate fixture: $c")
    assert(c(0) == rows(TextStats.bm25(docs, terms, 20)))
    assert(i == c, "the replay-inflated index serves differently from the clean one")
    assert(z.take(3).forall(_.isEmpty), s"cold start served BM25 rows: $z")
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      for (aqe <- Seq("true", "false"); parts <- Seq("1", "7", "200")) {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        assert(all() == want, s"results moved with shuffle.partitions=$parts, AQE=$aqe")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // corpus-direct twin of phraseFromIndex, for equivalence pins
  private def directPhrase(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val tk = docs.select(col("doc_id"),
      posexplode(filter(split(lower(col("text")), "[^a-z]+"),
        t => length(t) > 0)).as(Seq("pos", "t")))
    val legs = phrase.zipWithIndex.map { case (t, i) =>
      tk.filter(col("t") === t).select(col("doc_id"), (col("pos") - i).as("start"))
    }
    legs.reduceLeft((a, b) => a.join(b, Seq("doc_id", "start")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits")).orderBy("doc_id")
  }

  private def phrase(root: String, p: Seq[String]): DataFrame =
    TextStats.phraseFromIndex(
      readP(s"$root/idx/positions", TextStats.PositionSchema), p)

  test("index-served phrase search ≡ corpus-direct adjacency, incl. repeated-term phrases") {
    val root = java.nio.file.Files.createTempDirectory("graft_b25f").toString
    ingest(root, corpus.filter($"doc_id" <= 3), 0L)
    ingest(root, corpus.filter($"doc_id" > 3), 1L)
    // known hits: doc 2 "hash join; scan…" → ("hash","join") once; doc 7
    // "join"×8 → ("join","join") aligns 7 overlapping starts
    assert(phrase(root, Seq("hash", "join")).collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 1L)))
    assert(phrase(root, Seq("join", "join")).collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq == Seq((7L, 7L)))
    assert(phrase(root, Seq("scan", "scan", "scan")).collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 2L)))
    assert(phrase(root, Seq("kappa", "hash")).count() == 0L)
    // and ≡ the corpus-direct twin on the real sf0.001 documents table
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val r2 = java.nio.file.Files.createTempDirectory("graft_b25g").toString
    ingest(r2, docs.filter($"doc_id" % 2 === 0), 0L)
    ingest(r2, docs.filter($"doc_id" % 2 === 1), 1L)
    assert(rows(phrase(r2, Seq("hash", "join"))) ==
      rows(directPhrase(docs, Seq("hash", "join"))))
    // replay duplicates must not inflate adjacency counts
    ingest(r2, docs.filter($"doc_id" % 2 === 1), 1L)
    assert(rows(phrase(r2, Seq("hash", "join"))) ==
      rows(directPhrase(docs, Seq("hash", "join"))))
  }

  // scalar brute force for the slop semantics: ordered index tuples
  // i1 < … < ik with toks(ij) == p(j) and ik − i1 ≤ (k−1) + slop
  private def scalarSlop(ts: Seq[String], p: Seq[String], slop: Int): Long = {
    val occs = p.map(t => ts.zipWithIndex.collect { case (`t`, i) => i })
    def rec(j: Int, first: Int, last: Int): Long =
      if (j == p.size) 1L
      else occs(j).iterator
        .filter(i => i > last && i - (if (j == 0) i else first) <= p.size - 1 + slop)
        .map(i => rec(j + 1, if (j == 0) i else first, i)).sum
    rec(0, 0, -1)
  }

  private def slopHits(root: String, p: Seq[String], slop: Int): Seq[(Long, Long)] =
    TextStats.phraseFromIndexSlop(
        readP(s"$root/idx/positions", TextStats.PositionSchema), p, slop)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("slop phrase: slop=0 ≡ exact adjacency; slop>0 ≡ scalar tuple count") {
    val root = java.nio.file.Files.createTempDirectory("graft_b25sl").toString
    ingest(root, corpus.filter($"doc_id" <= 3), 0L)
    ingest(root, corpus.filter($"doc_id" > 3), 1L)
    // slop=0 degenerates to the exact-phrase count, incl. repeated terms
    Seq(Seq("hash", "join"), Seq("join", "join"), Seq("scan", "scan", "scan"))
      .foreach { p =>
        assert(slopHits(root, p, 0) ==
          phrase(root, p).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq,
          s"slop=0 diverged from exact phrase for $p")
      }
    // known hits with slack: doc 2 "hash join; scan scan scan scan vector"
    // → ("hash","scan") needs slop ≥ 1 (positions 0 and 2..5; span ≤ 1+slop)
    assert(slopHits(root, Seq("hash", "scan"), 0) == Seq())
    assert(slopHits(root, Seq("hash", "scan"), 1) == Seq((2L, 1L)))
    assert(slopHits(root, Seq("hash", "scan"), 4) == Seq((2L, 4L)))
    // replay duplicates must not inflate tuple counts
    ingest(root, corpus.filter($"doc_id" > 3), 1L)
    assert(slopHits(root, Seq("hash", "scan"), 4) == Seq((2L, 4L)))
  }

  // scalar brute force for the UNORDERED semantics: tuples (i_0 … i_{k-1})
  // with toks(i_j) == p(j) and max − min ≤ window (terms distinct, so the
  // positions are distinct for free)
  private def scalarUnordered(ts: Seq[String], p: Seq[String], w: Int): Long = {
    val occs = p.map(t => ts.zipWithIndex.collect { case (`t`, i) => i })
    def rec(j: Int, lo: Int, hi: Int): Long =
      if (j == p.size) 1L
      else occs(j).iterator
        .filter(i => math.max(hi, i) - math.min(lo, i) <= w)
        .map(i => rec(j + 1, math.min(lo, i), math.max(hi, i))).sum
    rec(0, Int.MaxValue, Int.MinValue)
  }

  private def unorderedHits(root: String, p: Seq[String], w: Int): Seq[(Long, Long)] =
    TextStats.phraseFromIndexUnordered(
        readP(s"$root/idx/positions", TextStats.PositionSchema), p, w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("unordered proximity: k=2 window=1 ≡ both exact-phrase orders; ordered ⊆ unordered") {
    val root = java.nio.file.Files.createTempDirectory("graft_b25u").toString
    ingest(root, corpus.filter($"doc_id" <= 3), 0L)
    ingest(root, corpus.filter($"doc_id" > 3), 1L)
    // w = k−1 for k=2 admits exactly the two adjacent orders
    val both = (phrase(root, Seq("hash", "join")).collect() ++
        phrase(root, Seq("join", "hash")).collect())
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (d, xs) => (d, xs.map(_._2).sum) }.toSeq.sorted
    assert(unorderedHits(root, Seq("hash", "join"), 1) == both)
    // ordered slop-s hits ⊆ unordered hits at window = (k−1)+s, doc-for-doc
    for (slop <- 0 to 2) {
      val ord = slopHits(root, Seq("hash", "join", "scan"), slop).toMap
      val uno = unorderedHits(root, Seq("hash", "join", "scan"), 2 + slop).toMap
      ord.foreach { case (d, n) =>
        assert(uno.getOrElse(d, 0L) >= n,
          s"ordered slop=$slop doc $d has $n hits but unordered has ${uno.get(d)}")
      }
    }
    // widening the window only adds tuples (monotone)
    val w4 = unorderedHits(root, Seq("hash", "scan"), 4).toMap
    val w6 = unorderedHits(root, Seq("hash", "scan"), 6).toMap
    w4.foreach { case (d, n) => assert(w6.getOrElse(d, 0L) >= n) }
    // replay duplicates must not inflate tuple counts
    val before = unorderedHits(root, Seq("hash", "join", "scan"), 4)
    ingest(root, corpus.filter($"doc_id" > 3), 1L)
    assert(unorderedHits(root, Seq("hash", "join", "scan"), 4) == before)
    // distinct-terms and minimal-window preconditions are loud
    intercept[IllegalArgumentException] {
      TextStats.phraseFromIndexUnordered(
        readP(s"$root/idx/positions", TextStats.PositionSchema),
        Seq("join", "join"), 3)
    }
    intercept[IllegalArgumentException] {
      TextStats.phraseFromIndexUnordered(
        readP(s"$root/idx/positions", TextStats.PositionSchema),
        Seq("hash", "join", "scan"), 1)
    }
  }

  test("unordered proximity ≡ scalar brute force on random tie-heavy corpora") {
    val gen = org.scalacheck.Gen.listOfN(12, for {
      id <- org.scalacheck.Gen.choose(1L, 500L)
      toks <- org.scalacheck.Gen.listOfN(8, org.scalacheck.Gen.oneOf("a", "b", "c"))
    } yield (id, toks))
    val queryGen = org.scalacheck.Gen.choose(2, 3).map(k =>
      scala.util.Random.shuffle(List("a", "b", "c")).take(k))
    (1 to 5).foreach { i =>
      val docs = gen.sample.get.groupBy(_._1).map(_._2.head).toSeq
      val p = queryGen.sample.get
      val w = p.size - 1 + (i % 3)
      val root = java.nio.file.Files.createTempDirectory(s"graft_b25u$i").toString
      ingest(root, docs.map { case (id, ts) => (id, ts.mkString(" ")) }
        .toDF("doc_id", "text"), 0L)
      val want = docs.flatMap { case (id, ts) =>
        val n = scalarUnordered(ts, p, w)
        if (n > 0) Some((id, n)) else None
      }.sorted
      assert(unorderedHits(root, p, w) == want,
        s"unordered mismatch for terms=$p w=$w over $docs")
    }
  }

  test("slop phrase hits ≡ scalar brute force on random tie-heavy corpora") {
    val gen = org.scalacheck.Gen.listOfN(12, for {
      id <- org.scalacheck.Gen.choose(1L, 500L)
      toks <- org.scalacheck.Gen.listOfN(8, org.scalacheck.Gen.oneOf("a", "b", "c"))
    } yield (id, toks))
    val phraseGen = org.scalacheck.Gen.choose(2, 3).flatMap(k =>
      org.scalacheck.Gen.listOfN(k, org.scalacheck.Gen.oneOf("a", "b", "c")))
    (1 to 5).foreach { i =>
      val docs = gen.sample.get.groupBy(_._1).map(_._2.head).toSeq
      val p = phraseGen.sample.get
      val slop = i % 3 // 0, 1, 2 all exercised
      val root = java.nio.file.Files.createTempDirectory(s"graft_b25sl$i").toString
      ingest(root, docs.map { case (id, ts) => (id, ts.mkString(" ")) }
        .toDF("doc_id", "text"), 0L)
      val want = docs.flatMap { case (id, ts) =>
        val n = scalarSlop(ts, p, slop)
        if (n > 0) Some((id, n)) else None
      }.sortBy(_._1)
      assert(slopHits(root, p, slop) == want,
        s"case $i phrase=$p slop=$slop docs=$docs")
    }
  }

  test("phrase hits ≡ scalar sliding-window count on random tie-heavy corpora") {
    // tiny vocabulary → heavy repetition and overlapping starts, the
    // regime where an off-by-one in start alignment or a dedup mistake
    // would show; scalar reference slides a window over the token list
    val gen = org.scalacheck.Gen.listOfN(12, for {
      id <- org.scalacheck.Gen.choose(1L, 500L)
      toks <- org.scalacheck.Gen.listOfN(8, org.scalacheck.Gen.oneOf("a", "b", "c"))
    } yield (id, toks))
    val phraseGen = org.scalacheck.Gen.choose(2, 3).flatMap(k =>
      org.scalacheck.Gen.listOfN(k, org.scalacheck.Gen.oneOf("a", "b", "c")))
    (1 to 5).foreach { i =>
      val docs = gen.sample.get.groupBy(_._1).map(_._2.head).toSeq // ids unique
      val p = phraseGen.sample.get
      val root = java.nio.file.Files.createTempDirectory(s"graft_b25q$i").toString
      ingest(root, docs.map { case (id, ts) => (id, ts.mkString(" ")) }
        .toDF("doc_id", "text"), 0L)
      val want = docs.flatMap { case (id, ts) =>
        val n = ts.sliding(p.size).count(_ == p)
        if (n > 0) Some((id, n.toLong)) else None
      }.sortBy(_._1)
      val got = phrase(root, p).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == want, s"case $i phrase=$p docs=$docs")
    }
  }
}
