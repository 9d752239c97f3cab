package graft.perfbench

import org.apache.spark.sql.SparkSession

/** `etl_curation`: the batch side of the system as one job. The reference
  * ETL pipeline lands the crawl's product cards ([[EtlStage]]), then one
  * curation pass runs over the document corpus ([[CurationStage]]). One
  * operation is one job; an item is a clean row landed or a document
  * curated. Jobs repeat until `--seconds` of job time is used. */
final class EtlCuration(args: Main.Args) extends Workload {
  private val etl = new EtlStage(args)
  private val curation = new CurationStage(args)

  def prepare(spark: SparkSession): Unit = { etl.prepare(spark); curation.prepare(spark) }

  def setup(spark: SparkSession): Unit = { etl.setup(spark); curation.setup(spark) }

  def measure(spark: SparkSession, tracer: Tracer): Pass = {
    val pass = new Pass
    var op = 0
    while (pass.busyS < args.seconds) {
      val t0 = pass.busyS
      pass.timed(s"batch job $op") {
        tracer.span("batch.job", op)(etl.run(spark, tracer, op) + curation.run(spark, tracer, op))
      }.foreach { items =>
        if (etl.check(spark, pass, op)) {
          pass.items += items
          pass.latMs += (pass.busyS - t0) * 1000
        }
      }
      pass.ops += 1
      op += 1
    }
    // the caller's oracle compare stands for every job of the pass
    pass.oracleOps = pass.ops
    pass
  }

  def layers(res: Result, tracer: Tracer, pass: Pass): Unit = {
    etl.layers(res, tracer, pass.ops)
    curation.layers(res, tracer, pass.ops)
  }
}
