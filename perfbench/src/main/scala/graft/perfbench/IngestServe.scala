package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ext.{HybridSearch, Similarity, TextStats}
import graft.streaming.StreamingOps

/** `ingest_serve`: one standing index written and read. Small generated
  * batches land as files and flow through the BM25 ingest stream
  * (`StreamingOps.bm25IngestStream` → `TextStats.bm25IngestBatch` and its
  * exactly-once `IngestRecipe` armor); the index compacts every few
  * batches; after each commit a fixed number of index-served BM25 and
  * hybrid queries run. A closed loop with one client: land, wait for the
  * stream to commit, query, repeat.
  *
  * The batch count is fixed, not time-bound: index size, and with it the
  * cost of each commit and query, must not depend on how fast the program
  * is. Set-up builds the static serving artifact (the quantized vector
  * index over every doc's embedding) and warms the ingest and BM25 serving
  * paths on a small index of its own.
  *
  * Check: the final round's first BM25 query and its hybrid query equal
  * their corpus-direct twins
  * over all committed docs (`TextStats.bm25`, `HybridSearch.hybridRrf`) —
  * the bit-identity the index-served forms promise. */
final class IngestServe(args: Main.Args) extends Workload {
  import IngestServe._

  val Batches = 2
  val BatchDocs = 200
  val CompactEvery = 2
  /** Per commit: seven BM25 queries (alternating between the two less
    * popular term bands) and one hybrid query (popular terms). The first
    * query after a commit and the hybrid ones are slower; with seven BM25
    * queries a commit the median latency sits in the middle of the other
    * BM25 queries, not near the boundary between two kinds. */
  val QueriesPerCommit = 8
  val WarmDocs = 60
  val Bm25TopN = 10

  private val work = args.work
  private val BatchSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType)))

  private lazy val batches = Gen.ingestBatches(args.seed, Batches, BatchDocs)
  private val warmFirstId = Batches.toLong * BatchDocs
  private lazy val warmDocs = Gen.docs(args.seed + 1, warmFirstId, WarmDocs, _ => None,
    id => sys.error(s"warm-up docs copy nothing ($id)"))

  /** Inputs are JSON lines, written without Spark. */
  private var written = false
  def prepare(spark: SparkSession): Unit = if (!written) {
    def put(path: String, docs: Seq[Gen.Doc]): Unit =
      Main.writeLines(path, docs.iterator.map(d =>
        s"""{"doc_id":${d.docId},"text":${Main.jsonString(d.text)},"lang":"${d.lang}"}"""))
    batches.zipWithIndex.foreach { case (b, i) => put(s"$work/staged/batch-$i.json", b) }
    put(s"$work/staged/warm.json", warmDocs)
    Main.writeLines(s"$work/input/embeddings/part-0.json", (batches.flatten ++ warmDocs).iterator
      .map(d => s"""{"vec_id":${d.docId},"embedding":[${Gen.embedding(args.seed, d).mkString(",")}],"label":0}"""))
    written = true
  }

  private def embeddings(spark: SparkSession) =
    spark.read.schema(EmbeddingSchema).json(s"$work/input/embeddings")
  private def nlist = math.max(16, math.sqrt((warmFirstId + WarmDocs).toDouble).ceil.toInt)
  private def quantIdx(spark: SparkSession) = spark.read.parquet(s"$work/static/quant")

  /** One standing BM25 index and the directory its batches land in. */
  private final class Index(root: String) {
    val land = s"$root/land"
    val idx = s"$root/idx"
    val out = s"$root/out"
    private var stream: Option[StreamingQuery] = None

    def start(spark: SparkSession): Unit = {
      new File(land).mkdirs()
      stream = Some(StreamingOps.bm25IngestStream(
          spark.readStream.schema(BatchSchema).json(land), idx, out)
        .queryName("ingest.batch")
        .option("checkpointLocation", s"$root/chk").start())
    }
    def land(staged: String, name: String): Unit = Main.move(staged, s"$land/$name")
    def await(): Unit = stream.foreach(_.processAllAvailable())
    def stop(): Unit = { stream.foreach(_.stop()); stream = None }

    def postings(spark: SparkSession) =
      spark.read.schema(TextStats.PostingSchema).parquet(s"$idx/postings")
    def stats(spark: SparkSession) =
      spark.read.schema(TextStats.Bm25StatsSchema).parquet(s"$idx/stats")
  }

  private def serve(spark: SparkSession, ix: Index, q: Query): DataFrame = q match {
    case Bm25Q(t) => TextStats.bm25FromIndex(ix.postings(spark), ix.stats(spark), t, Bm25TopN)
    case HybridQ(t, id) =>
      HybridSearch.hybridRrfFromIndex(ix.postings(spark), ix.stats(spark), quantIdx(spark), t, id)
  }

  private def direct(spark: SparkSession, docs: DataFrame, q: Query): DataFrame = q match {
    case Bm25Q(t) => TextStats.bm25(docs, t, Bm25TopN)
    case HybridQ(t, id) => HybridSearch.hybridRrf(docs, embeddings(spark), t, id)
  }

  def setup(spark: SparkSession): Unit = {
    Similarity.buildQuantIndex(embeddings(spark), nlist, s"$work/static/quant")
    // warm-up of the ingest and BM25 serving paths on a small index
    val ix = new Index(s"$work/warm")
    Main.deleteTree(new File(s"$work/warm"))
    TextStats.bm25IngestBatch(spark.read.schema(BatchSchema).json(s"$work/staged/warm.json"),
      ix.idx, ix.out, 0L)
    serve(spark, ix, Bm25Q(Gen.queryTerms(new SplittableRandom(args.seed), 0))).collect()
    ()
  }

  private var passNo = 0

  private def fsBytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def measure(spark: SparkSession, tracer: Tracer): Pass = {
    val pass = new Pass
    passNo += 1
    val root = s"$work/ingest/pass$passNo"
    val staged = s"$root-staged"
    // landing moves a batch file: each pass lands its own copies
    (0 until Batches).foreach(i => Main.copy(s"$work/staged/batch-$i.json", s"$staged/batch-$i.json"))
    val inputBytes = (0 until Batches).map(i => new File(s"$staged/batch-$i.json").length).sum
    val ix = new Index(root)
    val rng = new SplittableRandom(args.seed * 7919L)
    val commitS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var compactBytes = 0L
    var lastRound = Seq.empty[(Query, Seq[String])]
    val fs0 = fsBytesWritten
    ix.start(spark)
    try {
      (0 until Batches).foreach { b =>
        val t0 = pass.busyS
        pass.timed(s"ingest commit $b") {
          tracer.span("ingest.commit", b) {
            ix.land(s"$staged/batch-$b.json", s"batch-$b.json")
            ix.await()
          }
        }.foreach { _ =>
          pass.ops += 1
          pass.items += BatchDocs
          commitS += pass.busyS - t0
        }
        if ((b + 1) % CompactEvery == 0) {
          val w0 = fsBytesWritten
          pass.timed(s"ingest compaction after $b") {
            tracer.span("ingest.compact", b)(TextStats.compactBm25Index(spark, ix.idx))
          }
          compactBytes += fsBytesWritten - w0
        }
        val committed = (b + 1).toLong * BatchDocs
        lastRound = (0 until QueriesPerCommit).map { i =>
          val q: Query =
            if (i < QueriesPerCommit - 1) Bm25Q(Gen.queryTerms(rng, 1 + i % 2))
            else HybridQ(Gen.queryTerms(rng, 0), rng.nextLong(committed))
          val t2 = pass.busyS
          val rows = pass.timed(s"serve query $b.$i") {
            tracer.span("serve.query", b)(Main.canonDf(serve(spark, ix, q)))
          }
          rows.foreach { r =>
            pass.latMs += (pass.busyS - t2) * 1000
            pass.extra("serve.rows") = pass.extra.getOrElse("serve.rows", 0.0) + r.size
          }
          q -> rows.getOrElse(Nil)
        }
      }
    } finally ix.stop()

    pass.extra("ingest.commit_p50_s") = Stats.medianOrNaN(commitS.toSeq)
    pass.extra("ingest.write_amp") = (fsBytesWritten - fs0).toDouble / inputBytes
    pass.extra("ingest.compact.bytes_rewritten") =
      compactBytes.toDouble / math.max(Batches / CompactEvery, 1)
    pass.extra("ingest.index_files") = Main.treeFiles(new File(ix.idx)).toDouble
    pass.extra("ingest.stored_bytes_per_input_byte") =
      (Main.treeBytes(new File(ix.idx)) + Main.treeBytes(new File(ix.out))).toDouble / inputBytes

    if (passNo == 1) check(spark, pass, lastRound)
    pass
  }

  private def check(spark: SparkSession, pass: Pass, lastRound: Seq[(Query, Seq[String])]): Unit = {
    import spark.implicits._
    val all = batches.flatten.map(d => (d.docId, d.text, d.lang)).toDF("doc_id", "text", "lang")
    // a BM25 query and the hybrid query (whose lexical leg is BM25 too)
    Seq(lastRound.head, lastRound.last).foreach { case (q, got) =>
      if (got != Main.canonDf(direct(spark, all, q))) {
        pass.failed += 1
        pass.fail(s"serve $q: index-served result differs from the corpus-direct one")
      }
    }
  }

  def layers(res: Result, t: Tracer, pass: Pass): Unit = {
    val nb = Batches.toDouble
    val mb = t.agg("ingest.batch")
    res.metric("ingest.batch.self_s", mb.selfS / nb, "s")
    res.metric("ingest.batch.jobs", mb.c.jobs / nb, "count")
    res.metric("ingest.batch.driver_serial_s", mb.driverSerialS / nb, "s")
    res.metric("ingest.batch.task_cpu_s", mb.c.cpuNs / 1e9 / nb, "s")
    val cp = t.agg("ingest.compact")
    res.metric("ingest.compact.self_s", cp.selfS / math.max(cp.n, 1), "s")
    Seq("ingest.commit_p50_s" -> "s", "ingest.write_amp" -> "ratio",
      "ingest.compact.bytes_rewritten" -> "bytes", "ingest.index_files" -> "count",
      "ingest.stored_bytes_per_input_byte" -> "ratio").foreach { case (k, u) =>
      res.metric(k, pass.extra(k), u)
    }
    val sq = t.agg("serve.query")
    val nq = math.max(sq.n, 1).toDouble
    res.metric("serve.query.jobs", sq.c.jobs / nq, "count")
    res.metric("serve.query.planning_s", sq.c.planningMs / 1e3 / nq, "s")
    res.metric("serve.query.task_cpu_s", sq.c.cpuNs / 1e9 / nq, "s")
    res.metric("serve.query.files_read", sq.c.filesRead / nq, "count")
    res.metric("serve.query.rows_read_per_result",
      sq.c.rowsRead / math.max(pass.extra.getOrElse("serve.rows", 0.0), 1.0), "ratio")
  }
}

object IngestServe {
  val EmbeddingSchema: StructType = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))

  sealed trait Query { def terms: Seq[String] }
  final case class Bm25Q(terms: Seq[String]) extends Query
  final case class HybridQ(terms: Seq[String], qId: Long) extends Query
}
