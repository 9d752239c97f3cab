package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Time base shared by spans and Spark task intervals: epoch microseconds
  * with nanoTime resolution. */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

/** Spark-side work attributed to one span (or one streaming micro-batch). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var planningMs = 0.0
  var fallbackOps = 0L
  var exchanges = 0L
  var filesRead = 0L
  var rowsRead = 0L
  val taskIv = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; spill += o.spill
    planningMs += o.planningMs; fallbackOps += o.fallbackOps
    exchanges += o.exchanges; filesRead += o.filesRead; rowsRead += o.rowsRead
    taskIv ++= o.taskIv
  }
}

final case class Span(id: Int, name: String, parent: Int, op: Long,
    start: Long, end: Long)

/** Sum over all spans of one name. Times in seconds. */
final case class Agg(n: Int, wallS: Double, selfS: Double, driverSerialS: Double,
    c: Counters)

/** The benchmark's tracer: spans opened around every call the benchmark
  * makes into a module, and Spark counters attributed to them through a
  * job-local property. Spans and counters stay in memory until the run
  * reports. With `enabled = false` no listener is registered and
  * [[span]] only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long, Long)] // id, name, op, start
  private var nextId = 0

  // listener-side state (listener-bus thread)
  private val byKey = mutable.HashMap.empty[String, Counters]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val execKey = mutable.HashMap.empty[Long, String]
  // query executions by identity → SQL execution id, and their plan counters
  private val qeExec = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()
  private val plans = mutable.ArrayBuffer.empty[(QueryExecution, Counters)]
  private val progress = mutable.ArrayBuffer.empty[(String, String, Long, Long, Long)]
  private val streamNames = mutable.HashMap.empty[String, String]

  private def counters(k: String) = byKey.getOrElseUpdate(k, new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = byKey.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val key = prop(SpanKey).map("s:" + _)
        .orElse(prop(StreamQueryKey).map(q => s"q:$q:${prop(StreamBatchKey).getOrElse("-")}"))
        .getOrElse("none")
      counters(key).jobs += 1
      e.stageIds.foreach(stageKey(_) = key)
      prop("spark.sql.execution.id").foreach(x => execKey(x.toLong) = key)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = byKey.synchronized {
      val c = counters(stageKey.getOrElse(e.stageId, "none"))
      c.tasks += 1
      c.taskIv += ((e.taskInfo.launchTime * 1000L, e.taskInfo.finishTime * 1000L))
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.PerfbenchBridge.queryExecution(end)
          .foreach(qe => byKey.synchronized { qeExec.put(qe, java.lang.Long.valueOf(end.executionId)) })
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val c = new Counters
      c.planningMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      // a query that failed in analysis has no physical plan to walk
      scala.util.Try(qe.executedPlan).foreach(walkPlan(_) { p =>
        if (p.expressions.exists(_.find(_.isInstanceOf[CodegenFallback]).isDefined))
          c.fallbackOps += 1
        p match {
          case _: Exchange => c.exchanges += 1
          case s: FileSourceScanExec =>
            s.metrics.get("numFiles").foreach(m => c.filesRead += m.value)
            s.metrics.get("numOutputRows").foreach(m => c.rowsRead += m.value)
          case _ =>
        }
      })
      byKey.synchronized { plans += ((qe, c)) }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      byKey.synchronized { streamNames(e.id.toString) = String.valueOf(e.name) }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val durUs = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L) * 1000L
      if (p.numInputRows > 0) byKey.synchronized {
        progress += ((p.id.toString, p.batchId.toString, startUs, startUs + durUs, p.numInputRows))
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` inside a span named `name` belonging to operation `op`. */
  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parentProp = sc.getLocalProperty(SpanKey)
      open = (id, name, op, Clock.nowUs) :: open
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        val (_, _, _, start) = open.head
        open = open.tail
        val parent = open.headOption.map(_._1).getOrElse(-1)
        spans += Span(id, name, parent, op, start, Clock.nowUs)
        sc.setLocalProperty(SpanKey, parentProp)
      }
    }

  /** Stop listening and fold plan records into their spans. After this the
    * query methods below read a complete, frozen picture. */
  def finish(): Unit = if (enabled) {
    org.apache.spark.sql.PerfbenchBridge.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    byKey.synchronized {
      plans.foreach { case (qe, c) =>
        val key = Option(qeExec.get(qe)).flatMap(id => execKey.get(id.longValue))
        counters(key.getOrElse("none")).add(c)
      }
      plans.clear()
      // one synthetic span per streaming micro-batch that carried rows,
      // parented to the driver span open when it started
      progress.foreach { case (qid, batch, s, e, _) =>
        val parent = spans.filter(sp => sp.start <= s && s < sp.end)
          .sortBy(sp => sp.end - sp.start).headOption.map(_.id).getOrElse(-1)
        val id = nextId; nextId += 1
        spans += Span(id, streamNames.getOrElse(qid, qid), parent, -1L, s, e)
        byKey.remove(s"q:$qid:$batch").foreach(c => byKey(s"s:$id") = c)
      }
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Counters of a span and all its descendants. */
  def inclusive(sp: Span): Counters = {
    val c = new Counters
    def go(s: Span): Unit = {
      byKey.get(s"s:${s.id}").foreach(c.add)
      children.getOrElse(s.id, Nil).foreach(go)
    }
    go(sp)
    c
  }

  def agg(name: String): Agg = {
    val ss = spans.filter(_.name == name).toSeq
    val c = new Counters
    var self = 0L; var wall = 0L; var serial = 0L
    ss.foreach { s =>
      val ic = inclusive(s)
      c.add(ic)
      wall += s.end - s.start
      self += Stats.selfTime(s.start, s.end,
        children.getOrElse(s.id, Nil).map(k => (k.start, k.end)))
      serial += Stats.driverSerial(s.start, s.end, ic.taskIv.toSeq)
    }
    Agg(ss.size, wall / 1e6, self / 1e6, serial / 1e6, c)
  }

  /** Everything Spark did while the tracer listened, regardless of span,
    * over the window `from`–`to` (µs) that the traced pass took. */
  def whole(from: Long, to: Long): Agg = {
    val c = new Counters
    byKey.values.foreach(c.add)
    Agg(1, (to - from) / 1e6, 0.0, Stats.driverSerial(from, to, c.taskIv.toSeq) / 1e6, c)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val StreamQueryKey = "sql.streaming.queryId"
  val StreamBatchKey = "streaming.sql.batchId"

  /** Every node of a physical plan, through the final adaptive plan,
    * query stages and subqueries. */
  def walkPlan(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walkPlan(a.executedPlan)(f)
      case q: QueryStageExec => walkPlan(q.plan)(f)
      case _ =>
    }
    p.children.foreach(walkPlan(_)(f))
    p.subqueries.foreach(walkPlan(_)(f))
  }
}
