package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Benchmark entry point: one workload, one seed, one run.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --result <file>
  *
  * Generates the workload's inputs under `--work`, sets the system up
  * several times (reporting the median), measures the workload for about
  * `--seconds` of operation time, checks every output it can check in
  * process, and writes the metrics as JSON to `--result`. With
  * `--trace 1` it measures three times: untraced, traced (the per-layer
  * metrics) and untraced again; the two untraced passes are the reference
  * for the tracing overhead. Oracle checks that need DuckDB are left to the caller
  * (`run.py`), which reads the check files this program writes.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, result: String)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("result"))
  }

  /** Set-ups per untraced run. The first runs in a cold JVM, the second in
    * a warm one; `setup_s` is their median. More would not fit the run
    * budget. A traced run reports no `setup_s` and sets up once. */
  val SetupRepeats = 2

  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f $msg")

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val w: Workload = args.workload match {
      case "etl_curation" => new EtlCuration(args)
      case "ingest_serve" => new IngestServe(args)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    new File(args.work).mkdirs()
    log("start")

    // set-up: session, warm-up pass, static artifacts — several times,
    // the last session stays up for the measurement
    val repeats = if (args.trace) 1 else SetupRepeats
    val setups = (1 to repeats).map { i =>
      val t0 = System.nanoTime()
      val s = newSession(args.work)
      val t1 = System.nanoTime()
      w.prepare(s) // the workload's own input writing: untimed
      val t2 = System.nanoTime()
      w.setup(s)
      val dt = ((t1 - t0) + (System.nanoTime() - t2)) / 1e9
      log(f"setup $i $dt%8.3f s")
      if (i < repeats) s.stop()
      dt
    }
    val spark = SparkSession.active

    val untraced = w.measure(spark, new Tracer(spark, enabled = false))
    val res = new Result(args.workload)
    res.add(untraced)
    if (!args.trace) {
      res.metric("setup_s", Stats.median(setups), "s")
      res.metric("retained_mem_mb", retainedMemMb(), "MB")
      res.metric("items_per_s", untraced.items / untraced.busyS, "1/s")
      res.metric("op_p50_ms", Stats.medianOrNaN(untraced.latMs.toSeq), "ms")
      res.samples("op_ms", untraced.latMs.toSeq)
    } else {
      val tracer = new Tracer(spark, enabled = true)
      val t0 = Clock.nowUs
      val traced = w.measure(spark, tracer)
      val t1 = Clock.nowUs
      tracer.finish()
      res.add(traced)
      sparkLayer(res, tracer.whole(t0, t1), traced.ops, spark.sparkContext.defaultParallelism)
      w.layers(res, tracer, traced)
      // untraced passes on both sides of the traced one, so warm-up that is
      // still going on cancels out of the overhead
      val after = w.measure(spark, new Tracer(spark, enabled = false))
      res.add(after)
      val reference =
        (Stats.medianOrNaN(untraced.latMs.toSeq) + Stats.medianOrNaN(after.latMs.toSeq)) / 2
      res.metric("trace.overhead_ratio", Stats.medianOrNaN(traced.latMs.toSeq) / reference - 1.0, "ratio")
      writeSpans(args.work, tracer)
    }
    log("measured")
    spark.stop()
    log("stopped")
    Files.write(Paths.get(args.result), res.json.getBytes(UTF_8))
    println(res.summary)
  }

  def newSession(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
  }

  /** Memory the program still holds after the measured pass: the heap in
    * use after a full collection, plus the non-heap pools (metaspace, code
    * cache). Runs the collections itself, outside any timed operation;
    * Spark frees broadcast and shuffle state only once a collection has
    * found its owner unreachable, so it collects until the heap in use
    * stops falling. The heap is fixed in size, so the JVM's resident set
    * would read its full size whatever the program keeps, and the heap in
    * use after a young collection moves with the collector's timing. */
  def retainedMemMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    def heapAfterGc() = { System.gc(); m.getHeapMemoryUsage.getUsed }
    var last = heapAfterGc()
    var rounds = 1
    var settled = false
    while (!settled && rounds < 8) {
      Thread.sleep(300)
      val now = heapAfterGc()
      settled = now > last - (last >> 6)
      last = math.min(last, now)
      rounds += 1
    }
    (last + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Per-operation engine counters over the traced pass. */
  def sparkLayer(res: Result, a: Agg, ops: Int, cores: Int): Unit = {
    val n = math.max(ops, 1).toDouble
    res.metric("spark.jobs", a.c.jobs / n, "count")
    res.metric("spark.tasks", a.c.tasks / n, "count")
    res.metric("spark.task_cpu_s", a.c.cpuNs / 1e9 / n, "s")
    res.metric("spark.gc_s", a.c.gcMs / 1e3 / n, "s")
    res.metric("spark.shuffle_write_bytes", a.c.shuffleWrite / n, "bytes")
    res.metric("spark.spill_bytes", a.c.spill / n, "bytes")
    res.metric("spark.planning_s", a.c.planningMs / 1e3 / n, "s")
    res.metric("spark.utilization", Stats.utilization(a.c.runMs / 1e3, a.wallS, cores), "ratio")
    res.metric("spark.driver_serial_s", a.driverSerialS / n, "s")
  }

  private def writeSpans(work: String, t: Tracer): Unit = {
    val lines = t.allSpans.sortBy(_.start).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},"start_us":${s.start},"end_us":${s.end}}""")
    Files.write(Paths.get(work, "spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    ()
  }

  // ---------------------------------------------------------------- files

  def writeLines(path: String, lines: Iterator[String]): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(f), UTF_8), 1 << 16)
    try lines.foreach { l => out.write(l); out.write('\n') } finally out.close()
  }

  def deleteTree(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete(); ()
  }

  def treeBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)

  /** Data files of a directory tree (checksums and markers excluded). */
  def treeFiles(f: File): Long =
    if (f.isFile) { if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else 1L }
    else Option(f.listFiles()).map(_.map(treeFiles).sum).getOrElse(0L)

  def copy(from: String, to: String): Unit = {
    new File(to).getParentFile.mkdirs()
    Files.copy(Paths.get(from), Paths.get(to))
    ()
  }

  def move(from: String, to: String): Unit = {
    new File(to).getParentFile.mkdirs()
    Files.move(Paths.get(from), Paths.get(to), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Rows as sorted, comparable strings (doubles by their exact bits). */
  def canon(rows: Iterable[Row]): Seq[String] =
    rows.iterator.map(_.toSeq.map {
      case d: java.lang.Double => java.lang.Double.toString(d)
      case null => "null"
      case x => x.toString
    }.mkString("\u0001")).toSeq.sorted

  def canonDf(df: DataFrame): Seq[String] = canon(df.collect().toSeq)

  /** A JSON string literal. */
  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** What one measurement pass produced. */
final class Pass {
  var attempted = 0L
  var failed = 0L
  var ops = 0
  var items = 0.0
  /** Σ time of all timed operations: the throughput denominator. */
  var busyS = 0.0
  val latMs = mutable.ArrayBuffer.empty[Double]
  val notes = mutable.ArrayBuffer.empty[String]
  val extra = mutable.LinkedHashMap.empty[String, Double]
  /** Operations whose outputs an oracle check made after the run covers:
    * a mismatch found there fails all of them. */
  var oracleOps = 0L

  /** Time one operation; a throw counts it failed and is noted. A failed
    * operation's time counts toward `busyS` too, so a time-bound loop over
    * an operation that keeps failing still ends. */
  def timed[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    def took() = { val dt = (System.nanoTime() - t0) / 1e9; busyS += dt; dt }
    try {
      val r = body
      val dt = took()
      Main.log(f"op $what%-40s $dt%8.3f s")
      Some(r)
    } catch {
      case e: Exception =>
        took()
        failed += 1
        fail(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  def fail(msg: String): Unit = {
    notes += msg
    System.err.println(s"MISMATCH/FAILURE $msg")
  }
}

/** Metric accumulator and the JSON the caller completes. */
final class Result(workload: String) {
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]
  var oracleOps = 0L

  def add(p: Pass): Unit = {
    attempted += p.attempted
    failed += p.failed
    notes ++= p.notes
    oracleOps += p.oracleOps
  }
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val sampleSets = mutable.LinkedHashMap.empty[String, Seq[Double]]

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def samples(name: String, xs: Seq[Double]): Unit = sampleSets(name) = xs

  private def num(d: Double) =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  private def str(s: String) = Main.jsonString(s)

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    s"""{"workload": ${str(workload)}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}, """ +
      s""""oracle_ops": $oracleOps, """ +
      s""""notes": [${notes.map(str).mkString(", ")}]}"""
  }

  /** Human-readable lines: every metric with its unit, and each latency
    * sample set with its count, median and the highest percentile that
    * has at least ten samples beyond it. */
  def summary: String = {
    val b = new StringBuilder
    metrics.foreach { case (k, (v, u)) => b ++= f"  $k%-40s $v%14.6f $u\n" }
    sampleSets.foreach { case (k, xs) =>
      val tail = Stats.tailPercentile(xs.size)
        .map(p => f"p$p%.1f=${Stats.percentile(xs, p)}%.3f").getOrElse("tail n/a (<20 samples)")
      b ++= f"  $k%-40s n=${xs.size} p50=${Stats.medianOrNaN(xs)}%.3f $tail\n"
    }
    b.toString
  }
}

/** One benchmark workload. */
trait Workload {
  /** Write the seeded inputs, once (untimed). */
  def prepare(spark: SparkSession): Unit
  /** Warm-up pass and static artifacts on a fresh session. */
  def setup(spark: SparkSession): Unit
  /** Measure for about the configured seconds; every call into the
    * program goes through `tracer.span`. */
  def measure(spark: SparkSession, tracer: Tracer): Pass
  /** Per-layer metrics from a finished traced pass. */
  def layers(res: Result, tracer: Tracer, pass: Pass): Unit
}
