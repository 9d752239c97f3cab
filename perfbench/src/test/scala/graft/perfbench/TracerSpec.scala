package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("perfbench-tracer-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** A grouped query with one shuffle, collected in order. */
  private def query() = spark.range(0, 2000)
    .select((col("id") % 7).as("k"), col("id"))
    .groupBy("k").agg(sum("id").as("s"), count(lit(1)).as("n"))
    .orderBy("k")

  /** Jobs Spark starts while `body` runs, counted by an independent listener. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.sql.PerfbenchBridge.drain(spark.sparkContext)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("tracing adds no Spark jobs and changes no query result") {
    query().collect() // compile once so both legs run warm plans
    val (plain, plainJobs) = jobsDuring {
      val t = new Tracer(spark, enabled = false)
      t.span("q")(query().collect().toSeq)
    }
    val (traced, tracedJobs) = jobsDuring {
      val t = new Tracer(spark, enabled = true)
      val r = t.span("q")(query().collect().toSeq)
      t.finish()
      r
    }
    assert(traced == plain)
    assert(tracedJobs == plainJobs)
  }

  test("jobs, tasks and plan counters land in the span that ran them") {
    val t = new Tracer(spark, enabled = true)
    t.span("outer") {
      t.span("inner")(query().collect())
      Thread.sleep(20)
    }
    spark.range(10).collect() // outside every span
    t.finish()
    val inner = t.agg("inner")
    val outer = t.agg("outer")
    assert(inner.n == 1 && inner.c.jobs >= 1 && inner.c.tasks >= 1)
    assert(inner.c.exchanges >= 1, "the grouped query shuffles")
    assert(inner.c.planningMs > 0)
    // outer includes its child's work; its self time excludes the child's span
    assert(outer.c.jobs == inner.c.jobs)
    assert(outer.selfS < outer.wallS && outer.selfS >= 0.015)
    assert(math.abs(outer.selfS + inner.wallS - outer.wallS) < 1e-6)
    assert(inner.driverSerialS >= 0 && inner.driverSerialS <= inner.wallS)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(spark, enabled = false)
    t.span("x")(query().collect())
    t.finish()
    assert(t.allSpans.isEmpty && t.agg("x").n == 0)
  }
}
