package graft.tools

/** Builder-side plan audit: print the physical plan of any registered
  * query by name (PERF.md methodology — "explain, then iterate until it's
  * the plan you'd want"). Usage:
  *
  *   sbt "runMain graft.tools.PlanAudit graph_pagerank text_bm25"
  *
  * Optional env SPARK_GRAFT_SF_DIR overrides the sf directory (plans are
  * audited at sf0.01 by default; AQE finalizes some shapes only at run
  * time, so treat this as the static shape check).
  * Optional env SPARK_GRAFT_EXPLAIN=formatted switches to
  * `.explain("formatted")` output (the optimization-round plan-capture
  * contract: plans/rN/<query>_{before,after}.txt), and
  * SPARK_GRAFT_PLAN_OUT=<dir>/<suffix> writes each query's plan to
  * `<dir>/<query>_<suffix>.txt` instead of stdout. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.localSession("4")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val mode =
      if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("formatted"))
        org.apache.spark.sql.execution.FormattedMode
      else org.apache.spark.sql.execution.SimpleMode
    val out = sys.env.get("SPARK_GRAFT_PLAN_OUT").map { spec =>
      val i = spec.lastIndexOf('/')
      (spec.take(i), spec.drop(i + 1))
    }
    for (name <- args) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(mode)
      out match {
        case Some((d, suffix)) =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$d/${name}_$suffix.txt"), plan + "\n")
          println(s"[plan] $name -> $d/${name}_$suffix.txt")
        case None =>
          println(s"========== $name ==========")
          println(plan)
      }
    }
    spark.stop()
  }
}
