package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkEntry.localSession("4")

  def sf(name: String): String = s"/root/testdata/$name"

  /** Spark jobs `body` issues, counted by a SparkListener on a job group
    * of its own. A sentinel job run afterwards flushes the asynchronous
    * listener bus: events reach a listener in order, so once the
    * sentinel's start arrives every earlier job start has been counted. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"spec-jobs-${System.nanoTime()}"
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => counted.incrementAndGet(); ()
          case g if g == s"$group-flush" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(s"$group-flush", "flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job")
      counted.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}

