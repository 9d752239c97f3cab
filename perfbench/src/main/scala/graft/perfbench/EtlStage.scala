package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.etl.{CsvSink, Extract, JdbcSink, Load, ParquetSink, Pipeline, Sink, Transform}
import graft.model.Schemas

/** The reference scrape → clean → fan-out pipeline, one stage of the
  * `etl_curation` batch job. Generated HTML pages (20 cards each, ~13%
  * dirty, all three price spellings) go through `Extract.extract` →
  * `Pipeline.run` into CSV, Parquet and JDBC (embedded Derby) sinks. After
  * every run the three sinks are read back and compared with the clean
  * rows the generator expects. */
final class EtlStage(args: Main.Args) {
  val Pages = 200
  val InputFiles = 4
  val Ts = "2025-01-01T00:00:00"

  private val work = args.work
  private lazy val cards = Gen.cards(args.seed, Pages)
  private lazy val expected = Main.canon(cards.flatMap(_.clean(Ts)).map(org.apache.spark.sql.Row.fromSeq))

  private def pagesDir(name: String) = s"$work/input/$name"
  private val derbyUrl = s"jdbc:derby:$work/derby/etl;create=true"

  private var written = false
  def prepare(spark: SparkSession): Unit = if (!written) {
    val lines = Gen.pageLines(cards).toIndexedSeq
    val per = (lines.size + InputFiles - 1) / InputFiles
    lines.grouped(per).zipWithIndex.foreach { case (g, i) =>
      Main.writeLines(s"${pagesDir("pages")}/part-$i.html", g.iterator)
    }
    written = true
  }

  private def sinks(tag: String): Seq[Sink] = Seq(
    CsvSink(s"$work/out/$tag/products.csv", singleFile = true),
    ParquetSink(s"$work/out/$tag/products.parquet"),
    JdbcSink(derbyUrl, s"PRODUCTS_${tag.toUpperCase}"))

  private def pages(spark: SparkSession, name: String) =
    spark.read.textFile(pagesDir(name))

  /** Warm-up: the same pipeline over the same pages into separate sinks,
    * twice (the HTML scanner's hot loops need more than one pass to be
    * compiled). */
  def setup(spark: SparkSession): Unit = (1 to 2).foreach { _ =>
    Pipeline.run(Extract.extract(pages(spark, "pages"), Ts),
      Pipeline.SinkPlan(sinks("warm"), Map.empty)) match {
      case l: Pipeline.Loaded if l.success => ()
      case other => throw new IllegalStateException(s"warm-up pipeline failed: $other")
    }
  }

  def run(spark: SparkSession, tracer: Tracer, op: Int): Long =
    tracer.span("etl.pipeline", op) {
      if (tracer.enabled) tracedRun(spark, tracer, op) else untracedRun(spark)
    }

  /** Read every sink back and compare with the generator's clean rows;
    * a mismatch fails the job in `pass`. True if all three match. */
  def check(spark: SparkSession, pass: Pass, op: Int): Boolean = {
    val s = sinks("run")
    val csv = spark.read.option("header", "true").schema(Schemas.clean)
      .csv(s(0).asInstanceOf[CsvSink].path)
    val pq = spark.read.parquet(s(1).asInstanceOf[ParquetSink].path)
    val jdbc = spark.read.jdbc(derbyUrl, s(2).asInstanceOf[JdbcSink].table, new java.util.Properties)
    val bad = Seq("csv" -> csv, "parquet" -> pq, "jdbc" -> jdbc).flatMap { case (name, df) =>
      val got = Main.canonDf(df.select(Schemas.clean.fieldNames.map(df.col): _*))
      if (got == expected) None
      else Some(s"$name sink holds ${got.size} rows, ${got.diff(expected).size} unexpected vs ${expected.size} expected")
    }
    if (bad.nonEmpty) { pass.failed += 1; pass.fail(s"job $op: ${bad.mkString("; ")}") }
    bad.isEmpty
  }

  private def untracedRun(spark: SparkSession): Long =
    Pipeline.run(Extract.extract(pages(spark, "pages"), Ts),
      Pipeline.SinkPlan(sinks("run"), Map.empty)) match {
      case l: Pipeline.Loaded if l.success => l.rows
      case other => throw new IllegalStateException(s"pipeline outcome $other")
    }

  /** The same work as `Pipeline.run`, one span per module call:
    * extract (with its empty guard), transform materialized by the
    * persist, then each sink's write. */
  private def tracedRun(spark: SparkSession, tracer: Tracer, op: Int): Long = {
    val raw = tracer.span("etl.extract", op) {
      val r = Extract.extract(pages(spark, "pages"), Ts)
      require(!r.isEmpty, "empty extract")
      r
    }
    val (clean, rows) = tracer.span("etl.extract_transform", op) {
      val c = Transform.transform(raw).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (c, c.count())
    }
    try {
      require(rows > 0, "empty transform")
      sinks("run").foreach { s =>
        tracer.span(s"etl.load.${s.name}", op)(Load.loadData(clean, Seq(s))).values.foreach(_.get)
      }
      rows
    } finally { clean.unpersist(); () }
  }

  def layers(res: Result, t: Tracer, ops: Int): Unit = {
    val n = math.max(ops, 1).toDouble
    val et = t.agg("etl.extract_transform")
    res.metric("etl.extract_transform.self_s", (et.selfS + t.agg("etl.extract").selfS) / n, "s")
    res.metric("etl.extract_transform.task_cpu_s",
      (et.c.cpuNs + t.agg("etl.extract").c.cpuNs) / 1e9 / n, "s")
    res.metric("etl.kept_ratio", expected.size.toDouble / cards.size, "ratio")
    Seq("csv" -> "csv", "parquet" -> "parquet", "jdbc" -> "postgres").foreach { case (m, sink) =>
      res.metric(s"etl.load.$m.self_s", t.agg(s"etl.load.$sink").selfS / n, "s")
    }
    // file sinks only: Derby's directory also holds its log and preallocation
    res.metric("etl.load.bytes_per_row",
      Main.treeBytes(new File(s"$work/out/run")).toDouble / math.max(expected.size, 1), "bytes")
    res.metric("etl.pipeline.jobs", t.agg("etl.pipeline").c.jobs / n, "count")
  }
}
