package graft.functions

import org.apache.spark.sql.{GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec

/** Every custom kernel in `graft.functions` must agree bit-for-bit on its
  * two execution paths: the interpreted `nullSafeEval` (what constant
  * folding and non-codegen plans run) and the generated code (what
  * whole-stage codegen runs on executors). A drift between them is the
  * classic custom-Expression bug — invisible on any single-mode test.
  * Both paths call one row function per kernel, so this pins the wiring:
  * literal plan-time constants, reference objects, null handling and the
  * result type each `doGenCode` hands to the generated code.
  */
class VectorDotPropSpec extends SparkSpec {
  import VectorDotPropSpec._

  private val vecGen: Gen[Array[Float]] = for {
    n <- Gen.choose(0, 5)
    xs <- Gen.listOfN(n, Gen.oneOf(0.1f, -0.3f, 0.7f, 1.5f, -2.25f, 0f, 3e4f))
  } yield xs.toArray

  /** `body` with whole-stage codegen and the codegen projection factory
    * both switched off. */
  private def noCodegen[T](body: => T): T = {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  /** `body` with generated code only: a kernel whose generated code fails
    * to compile fails the run instead of falling back to interpretation. */
  private def compiledOnly[T](body: => T): T = {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body
    finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("interpreted eval ≡ whole-stage codegen, bit-exact, on 60 random vector pairs") {
    import spark.implicits._
    val pairs = Gen.listOfN(60, Gen.zip(vecGen, vecGen)).sample.get
    val df = pairs.toDF("a", "b").localCheckpoint() // freeze input before mode flips
    def run(): Seq[Double] =
      df.select(VectorOps.dot(col("a"), col("b")).as("d"))
        .collect().map(_.getDouble(0)).toSeq
    val codegen = run()
    val interpreted = noCodegen(run())
    // juxtapose raw bits: 0.0 == -0.0 under ==, but they're different results
    assert(codegen.map(java.lang.Double.doubleToLongBits) ==
      interpreted.map(java.lang.Double.doubleToLongBits),
      s"codegen/interpreted drift:\n${codegen.zip(interpreted).filter(p => p._1 != p._2)}")
    // and both honor the shorter-prefix rule: scalar reference
    val want = pairs.map { case (a, b) =>
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x.toDouble * y.toDouble }
    }
    assert(codegen == want, "dot must fold left-to-right over the shorter prefix")
  }

  private def e(name: String): Expression = GraftColumnBridge.expression(col(name))

  /** All nine kernels over the shared edge-input columns. */
  private def kernels: Seq[(String, Expression)] = Seq(
    "GopherCounts" -> GopherCounts(e("toks"), graft.ext.TextStats.GopherStops),
    "RepetitionCounts" -> RepetitionCounts(e("toks"), 3),
    "CdcChunks" -> CdcChunks(e("text")),
    "WinnowSelect" -> WinnowSelect(e("toks"), 4, 5),
    "DedupSpanAudit" -> DedupSpanAudit(e("toks"), e("starts"), 2),
    "VectorDot" -> VectorDot(e("vec"), e("vecD")),
    "QuantizeInt8" -> QuantizeInt8(e("vecD")),
    "Int8Dot" -> Int8Dot(QuantizeInt8(e("vec")), e("vecD")),
    "NormalizeUnicode" -> NormalizeUnicode(e("text"), "NFKC"))

  test("all nine kernels: interpreted eval ≡ compiled whole-stage codegen, bit-exact, on edge inputs") {
    import spark.implicits._
    val edges = fixedEdges ++ Gen.listOfN(80, edge).sample.get
    val df = edges.toDF().localCheckpoint() // freeze input before mode flips
    val cols = kernels.map { case (name, k) => GraftColumnBridge.column(k).as(name) }
    def run(): Seq[Seq[Any]] =
      df.select(cols: _*).collect().map(_.toSeq.map(canonical)).toSeq
    val codegen = compiledOnly(run())
    val interp = noCodegen(run())
    kernels.map(_._1).zipWithIndex.foreach { case (name, i) =>
      val drift = edges.indices.filter(r => codegen(r)(i) != interp(r)(i))
      assert(drift.isEmpty, s"$name: codegen/interpreted drift on " +
        drift.take(3).map(r => s"${edges(r)}: ${codegen(r)(i)} vs ${interp(r)(i)}").mkString("; "))
      // null in, null out; every non-null edge yields a value
      edges.indices.foreach { r =>
        val nullIn = edges(r).text.isEmpty
        assert((codegen(r)(i) == null) == nullIn, s"$name on ${edges(r)}: ${codegen(r)(i)}")
      }
    }
  }

  test("WinnowSelect's 10⁶ pad guard throws from generated and interpreted code alike") {
    // the array length comes from a column, so constant folding cannot
    // evaluate the kernel at plan time
    val df = spark.range(1).select(
      array_repeat(lit("a"), (col("id") + 1000001).cast("int")).as("toks"))
    val sel = GraftColumnBridge.column(WinnowSelect(e("toks"), 1, 1))
    def guardMessage(): String = {
      val err = intercept[Exception](df.select(size(sel)).collect())
      Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    }
    assert(compiledOnly(guardMessage()).contains("1000000 pad contract"))
    assert(noCodegen(guardMessage()).contains("1000000 pad contract"))
  }

  test("WinnowSelect at exactly 10⁶ gram positions passes on both paths") {
    // 10⁶ equal grams in one 10⁶-wide window: the rightmost wins the tie,
    // so the one selected key carries position 10⁶, padded as 10⁶ − 10⁶
    val df = spark.range(1).select(
      array_repeat(lit("a"), (col("id") + 1000000).cast("int")).as("toks"))
    val sel = GraftColumnBridge.column(WinnowSelect(e("toks"), 1, 1000000))
    def keys(): Seq[String] = df.select(sel).head().getSeq[String](0)
    val compiled = compiledOnly(keys())
    assert(compiled == noCodegen(keys()))
    assert(compiled.size == 1 && compiled.head.length == 39 &&
      compiled.head.endsWith("0000000"), s"$compiled")
  }
}

object VectorDotPropSpec {

  /** One row of kernel inputs. `toks` splits `text` on whitespace (empty
    * for blank text), `starts` marks 1-based token positions for
    * [[DedupSpanAudit]], and a null `text` nulls every column. */
  final case class Edge(
      text: Option[String], toks: Option[Seq[String]], starts: Option[Seq[Int]],
      vec: Option[Seq[Float]], vecD: Option[Seq[Double]])

  // ASCII words and stop words, digits, a decomposed é (NFKC rewrites
  // it), and supplementary-plane code points (math fraktur, an emoji)
  private val word: Gen[String] = Gen.oneOf(
    "the", "and", "of", "data", "Spark", "42", "x", "e\u0301te\u0301",
    "𝔘𝔫𝔦", "😀", "a😀b")

  private def words(lo: Int, hi: Int): Gen[String] =
    Gen.choose(lo, hi).flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))

  private val vector: Gen[Seq[Float]] =
    Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.oneOf(0.1f, -0.3f, 0.7f, 1.5f, -2.25f, 0f, 3e4f)))

  private def edgeOf(text: Option[String], v: Seq[Float], w: Seq[Float], pick: Int => Boolean): Edge = {
    val toks = text.map(t => if (t.trim.isEmpty) Seq.empty[String] else t.trim.split("\\s+").toSeq)
    Edge(text, toks, toks.map(ts => (1 to ts.size).filter(pick)),
      text.map(_ => v), text.map(_ => w.map(_ * 1.1)))
  }

  /** Mostly ordinary text of up to 40 words, plus the edges: null, empty,
    * whitespace-only, and fewer tokens than the k-gram and window
    * widths. */
  val edge: Gen[Edge] = for {
    text <- Gen.frequency(
      1 -> Gen.const(None),
      1 -> Gen.const(Some("")),
      1 -> Gen.oneOf(" ", " \t\n  ").map(Some(_)),
      2 -> words(1, 3).map(Some(_)),
      5 -> words(4, 40).map(Some(_)))
    v <- vector
    w <- vector
    seed <- Gen.choose(0, 1 << 20)
  } yield edgeOf(text, v, w, p => (p * 31 + seed) % 5 == 0)

  /** Each edge once, whatever the random sample draws. */
  val fixedEdges: Seq[Edge] = Seq(
    edgeOf(None, Nil, Nil, _ => false),
    edgeOf(Some(""), Nil, Nil, _ => false),
    edgeOf(Some(" \t "), Seq(1f), Nil, _ => false),
    edgeOf(Some("the cat"), Seq(0.5f, -0.25f), Seq(2f), _ => true),
    edgeOf(Some("𝔘 😀 é 😀 𝔘 😀"),
      Seq(3e4f, -0.3f), Seq(0.1f, 0.7f, 1.5f), _ % 2 == 1))

  /** A comparable form of a collected value: doubles by their bits (0.0
    * and -0.0 differ), byte arrays and rows by content. */
  def canonical(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(canonical)
    case s: scala.collection.Seq[_] => s.map(canonical)
    case x => x
  }
}
