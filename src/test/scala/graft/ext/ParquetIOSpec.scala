package graft.ext

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

import graft.SparkSpec

/** [[ParquetIO.readOrEmpty]]'s cold start: a missing path and a
  * present-but-empty directory both read as no rows, and the missing
  * path does so without Spark logging a stack trace for it. */
class ParquetIOSpec extends SparkSpec {

  /** WARN-and-above events of Spark's file-sink metadata probe (the
    * logger that prints the cold-start stack trace) raised by `body`,
    * captured on a logger config of its own so nothing reaches the
    * console. */
  private def sinkProbeLogs(body: => Unit): Seq[LogEvent] = {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]
    val appender = new AbstractAppender("parquetio-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = { events.add(e.toImmutable); () }
    }
    appender.start()
    // the session first: starting it reconfigures logging, which would
    // drop a logger config added before it
    spark.sparkContext
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val name = "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"
    val lc = new LoggerConfig(name, Level.WARN, false)
    lc.addAppender(appender, Level.WARN, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
    try body
    finally {
      cfg.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
    scala.jdk.CollectionConverters.CollectionHasAsScala(events).asScala.toSeq
  }

  test("readOrEmpty: a missing path reads as no rows without a logged stack trace") {
    val missing = java.nio.file.Files.createTempDirectory("graft_pio").resolve("absent").toString
    // the capture works: reading the missing path directly logs the probe
    val direct = sinkProbeLogs {
      intercept[org.apache.spark.sql.AnalysisException](
        spark.read.schema(TextStats.DocLenSchema).parquet(missing))
      ()
    }
    assert(direct.nonEmpty, "the capture saw no FileStreamSink event for a direct read")
    val logged = sinkProbeLogs {
      val df = ParquetIO.readOrEmpty(spark, missing, TextStats.DocLenSchema)
      assert(df.schema == TextStats.DocLenSchema)
      assert(df.count() == 0L)
    }
    assert(logged.isEmpty,
      s"readOrEmpty logged ${logged.size} events: ${logged.map(_.getMessage.getFormattedMessage)}")
  }

  test("readOrEmpty: a present-but-empty directory reads as no rows") {
    val empty = java.nio.file.Files.createTempDirectory("graft_pio_e").toString
    val df = ParquetIO.readOrEmpty(spark, empty, TextStats.DocLenSchema)
    assert(df.schema == TextStats.DocLenSchema)
    assert(df.count() == 0L)
  }
}
