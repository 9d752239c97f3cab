package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The driver-side RRF tail ([[HybridSearch.fuse]]) and the hybrid serves
  * built on it are bit-identical to the Spark forms they replaced
  * ([[RrfReference]]): same rows, same doubles, same schema, on disjoint
  * and overlapping legs, empty legs, legs shorter than k, score and RRF
  * ties, and NaN cosines. (A zero-norm vector gives no NaN here: ANSI
  * division by zero fails the cosine, in the old forms and the new.) */
class HybridFuseSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def names(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))

  /** A leg's ids in the TakeOrdered order the serves collect them in. */
  private def ids(leg: DataFrame, score: String): Seq[Long] =
    leg.orderBy(desc(score), asc("doc_id")).limit(1000)
      .select("doc_id").as[Long].collect().toSeq

  test("driver fuse ≡ the Spark fuse: overlap, disjoint, empty legs, ties, NaN cosines") {
    val nan = Double.NaN
    val cases: Seq[(String, Seq[(Long, Double)], Seq[(Long, Double)], Int)] = Seq(
      ("disjoint", Seq(1L -> 5.0, 2L -> 4.0, 3L -> 3.0),
        Seq(4L -> 0.9, 5L -> 0.8, 6L -> 0.7), 20),
      ("full overlap", Seq(1L -> 3.0, 2L -> 2.0, 3L -> 1.0),
        Seq(3L -> 0.9, 1L -> 0.5, 2L -> 0.1), 20),
      ("partial overlap, topN cuts", Seq(1L -> 3.0, 2L -> 2.0, 3L -> 1.0, 4L -> 0.5),
        Seq(4L -> 0.9, 7L -> 0.5, 1L -> 0.1), 3),
      ("empty lexical leg", Nil, Seq(8L -> 0.9, 2L -> 0.8, 5L -> -0.2), 20),
      ("empty dense leg", Seq(8L -> 2.0, 2L -> 1.0), Nil, 20),
      ("both legs empty", Nil, Nil, 20),
      ("score ties broken by id", Seq(5L -> 2.0, 3L -> 2.0, 4L -> 1.0, 1L -> 1.0),
        Seq(1L -> 0.5, 5L -> 0.5, 3L -> 0.4, 4L -> 0.4), 20),
      ("RRF ties broken by id", Seq(20L -> 2.0, 10L -> 1.0),
        Seq(10L -> 0.9, 20L -> 0.8), 20),
      ("NaN cosines rank first", Seq(2L -> 1.0, 9L -> 0.5),
        Seq(7L -> nan, 8L -> nan, 2L -> 0.3, 9L -> -0.1), 20))
    cases.foreach { case (name, lexRows, denRows, topN) =>
      val lex0 = lexRows.toDF("doc_id", "bm25")
      val den0 = denRows.toDF("doc_id", "cos")
      val want = RrfReference.fuse(lex0, den0, topN, 60)
      val got = HybridSearch.fuse(spark, ids(lex0, "bm25"), ids(den0, "cos"), topN, 60)
      assert(rows(got) == rows(want), s"$name:\n driver=${rows(got)}\n spark=${rows(want)}")
      val bits = (df: DataFrame) => df.collect().map(r =>
        java.lang.Double.doubleToLongBits(r.getDouble(1))).toSeq
      assert(bits(got) == bits(want), s"$name: rrf bits differ")
      assert(names(got) == names(want), s"$name: ${got.schema} vs ${want.schema}")
    }
  }

  test("index-served hybrid ≡ reference legs + Spark fuse: k past the corpus, absent query, empty lexical leg, NaN cosines") {
    val root = java.nio.file.Files.createTempDirectory("graft_hyfuse").toString
    val docs = Seq(
      (0L, "hash join scan"), (1L, "hash hash vector"), (2L, "scan scan stream"),
      (3L, "join vector vector"), (4L, "join vector vector"), (5L, "stream hash"),
      (6L, "kappa"), (7L, "hash join"), (8L, "vector scan hash"), (9L, "join")
    ).toDF("doc_id", "text")
    TextStats.bm25IngestBatch(docs.filter($"doc_id" < 5), s"$root/idx", s"$root/out", 0L)
    TextStats.bm25IngestBatch(docs.filter($"doc_id" >= 5), s"$root/idx", s"$root/out", 1L)
    // ids 3 and 4 share a vector (a cosine tie broken by id); 5 and 9
    // carry a NaN element (NaN cosines, which sort first and which the
    // pruned serve keeps as candidates through their NaN bounds)
    val embs = Seq(
      0L -> Seq(1.0f, 0.5f, -0.25f, 2.0f), 1L -> Seq(-1.0f, 0.5f, 0.75f, 0.1f),
      2L -> Seq(0.9f, 0.4f, -0.2f, 1.9f), 3L -> Seq(0.3f, -0.7f, 1.1f, 0.2f),
      4L -> Seq(0.3f, -0.7f, 1.1f, 0.2f), 5L -> Seq(Float.NaN, 1f, 0f, 0f),
      6L -> Seq(2.0f, 1.0f, -0.5f, 4.0f), 7L -> Seq(-0.4f, -0.4f, 0.3f, 0.9f),
      8L -> Seq(1.5f, -2.0f, 0.0f, 0.5f), 9L -> Seq(0.5f, Float.NaN, 0f, 1f)
    ).toDF("vec_id", "embedding")
    Similarity.buildQuantIndex(embs, 2, s"$root/quant")
    val postings = ParquetIO.readOrEmpty(spark, s"$root/idx/postings", TextStats.PostingSchema)
    val stats = ParquetIO.readOrEmpty(spark, s"$root/idx/stats", TextStats.Bm25StatsSchema)
    val quant = spark.read.schema(Similarity.QuantIndexSchema).parquet(s"$root/quant")
    val cases: Seq[(String, Seq[String], Long, Int, Int)] = Seq(
      ("default shape", Seq("hash", "join", "vector"), 0L, 3, 4),
      ("k past the corpus", Seq("hash", "scan"), 2L, 50, 40),
      ("absent query id: empty dense leg", Seq("hash", "vector"), 999L, 5, 10),
      ("empty lexical leg", Seq("absentterm"), 1L, 4, 10),
      ("ties and NaN cosines", Seq("vector"), 3L, 10, 20))
    cases.foreach { case (name, terms, qId, k, topN) =>
      val got = HybridSearch.hybridRrfFromIndex(postings, stats, quant, terms, qId, k, topN)
      val want = RrfReference.hybridRrfFromIndex(postings, stats, quant, terms, qId, k, topN)
      assert(rows(got) == rows(want), s"$name:\n got=${rows(got)}\n want=${rows(want)}")
      assert(names(got) == names(want), s"$name: ${got.schema} vs ${want.schema}")
    }
    // the fixture reaches what it claims: NaN cosines lead the dense leg,
    // and an absent query id leaves only lexical ranks
    val nanLed = Similarity.exactTopKPruned(quant, 3L, 10).collect()
    assert(nanLed.take(2).forall(_.getDouble(1).isNaN), nanLed.toSeq.toString)
    val absent = HybridSearch.hybridRrfFromIndex(postings, stats, quant,
      Seq("hash", "vector"), 999L, 5, 10).collect()
    assert(absent.nonEmpty && absent.forall(_.isNullAt(3)), absent.toSeq.toString)
  }
}
