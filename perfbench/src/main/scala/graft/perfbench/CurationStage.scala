package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One batch curation pass over a generated corpus in the harness
  * `documents` schema, one stage of the `etl_curation` batch job. Each
  * registered step runs through `SparkEntry.queries` and lands its result
  * as parquet under `check/`, each job replacing the last one's. Beside it
  * lie the steps' registered oracle SQL and the input directory, for the
  * DuckDB compare the caller runs after the run: it checks the output of
  * the last timed job. */
final class CurationStage(args: Main.Args) {
  val Docs = 400
  /** Registered curation steps, with their per-layer metric names. */
  val Steps: Seq[(String, String)] = Seq(
    "gopher" -> "text_gopher_rules",
    "repetition" -> "text_repetition",
    "cdc_chunks" -> "text_cdc_chunks",
    "winnow_pairs" -> "dedup_winnow_pairs")

  private val work = args.work
  private def dir(name: String) = s"$work/input/$name"

  private var written = false
  def prepare(spark: SparkSession): Unit = if (!written) {
    import spark.implicits._
    def put(name: String, docs: Seq[Gen.Doc]): Unit =
      docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"${dir(name)}/documents.parquet")
    put("corpus", Gen.corpus(args.seed, Docs))
    val oracle = SparkEntry.oracleSql
    val json = Steps.flatMap { case (_, q) => oracle.get(q).map(q -> _) }.map { case (q, s) =>
      "\"" + q + "\": " + org.json4s.jackson.JsonMethods.compact(org.json4s.JString(s))
    }.mkString("{", ", ", "}")
    Main.writeLines(s"$work/check/oracle_sql.json", Iterator(json))
    Main.writeLines(s"$work/check/input_dir.txt", Iterator(dir("corpus")))
    written = true
  }

  /** Warm-up: one pass of the steps, as a timed job runs them. */
  def setup(spark: SparkSession): Unit =
    Steps.foreach { case (_, q) => runStep(spark, q) }

  private def runStep(spark: SparkSession, q: String): Unit =
    SparkEntry.queries(q)(spark, dir("corpus")).write.mode("overwrite").parquet(s"$work/check/$q")

  def run(spark: SparkSession, tracer: Tracer, op: Int): Long = {
    Steps.foreach { case (step, q) => tracer.span(s"curation.$step", op)(runStep(spark, q)) }
    Docs.toLong
  }

  def layers(res: Result, t: Tracer, ops: Int): Unit = {
    val passes = math.max(ops, 1).toDouble
    var fallback = 0L; var exchanges = 0L
    Steps.foreach { case (step, _) =>
      val a = t.agg(s"curation.$step")
      res.metric(s"curation.$step.self_s", a.selfS / passes, "s")
      res.metric(s"curation.$step.task_cpu_s", a.c.cpuNs / 1e9 / passes, "s")
      res.metric(s"curation.$step.jobs", a.c.jobs / passes, "count")
      res.metric(s"curation.$step.shuffle_write_bytes", a.c.shuffleWrite / passes, "bytes")
      fallback += a.c.fallbackOps; exchanges += a.c.exchanges
    }
    res.metric("functions.fallback_ops", fallback / passes, "count")
    res.metric("curation.exchanges", exchanges / passes, "count")
  }
}
