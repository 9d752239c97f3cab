package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Registry.table

/** The native codegen [[VectorDot]] must agree bit-for-bit with the
  * higher-order-function reference on real embedding data. */
class VectorDotSpec extends SparkSpec {

  /** Same semantics as [[VectorOps.dot]] via stock higher-order functions
    * (interpreted): the slow reference the native kernel is checked
    * against. */
  private def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** Euclidean distance by element-wise subtraction (interpreted HOF):
    * the reference form for [[VectorOps.l2ViaDot]]. */
  private def l2(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0),
      (acc, v) => acc + v))

  test("native dot == HOF dot, bit-exact, on all sf0.001 embedding pairs (sampled)") {
    val e = table(spark, sf("sf0.001"), "embeddings")
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    val diffs = a.join(b, col("id_a") % 5 === 0 && col("id_b") % 7 === 0)
      .select(VectorOps.dot(col("ea"), col("eb")).as("native"),
        dotHof(col("ea"), col("eb")).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diffs == 0)
  }

  test("l2ViaDot (codegen identity) tracks the HOF subtraction form") {
    // not bit-exact by nature (the identity rearranges the arithmetic);
    // on unit-scale embeddings the drift must stay far below any distance
    // gap that could flip a k-means assignment
    val e = table(spark, sf("sf0.001"), "embeddings")
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    val maxDrift = a.join(b, col("id_a") % 5 === 0 && col("id_b") % 7 === 0)
      .select(abs(VectorOps.l2ViaDot(col("ea"), col("eb"))
        - l2(col("ea"), col("eb"))).as("d"))
      .agg(max("d")).collect().head.getDouble(0)
    assert(maxDrift < 1e-9, s"maxDrift=$maxDrift")
  }

  test("null array propagates null; self-dot is norm squared") {
    import spark.implicits._
    val df = Seq((Some(Array(1.0f, 2.0f, 2.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
    val r = df.select(
      VectorOps.dot(col("a"), col("a")),
      VectorOps.dot(col("a"), col("b")),
      VectorOps.norm(col("a"))).collect().head
    assert(r.getDouble(0) == 9.0)
    assert(r.isNullAt(1))
    assert(r.getDouble(2) == 3.0)
  }
}
