package graft.tools

/** Builder-side targeted timer: run ONE registered query against one or
  * more sf directories and print per-trial wall seconds (PERF.md scale-
  * probe methodology, without paying a full-surface Bench run). Executes
  * through the same `noop` sink as graft.Bench so Catalyst cannot prune
  * the operator away. Usage:
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.TimeQuery link_fuzzy \
  *     /root/testdata/sf0.1 /tmp/graft_8x"
  *
  * Env: SPARK_GRAFT_TRIALS (default 2). First prints a warm-up run at
  * sf0.001 (JIT), then `trials` timed runs per directory. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val names = args.head.split(',').toSeq // one query, or comma-separated batch
    val dirs = args.tail.toSeq
    val trials = sys.env.get("SPARK_GRAFT_TRIALS").flatMap(_.toIntOption).getOrElse(2)
    val spark = graft.SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    def run(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach(run(_, "/root/testdata/sf0.001")) // JIT warm-up
    for (dir <- dirs) {
      graft.queries.Warmup.artifacts(spark, dir)
      for (name <- names) {
        val ts = (1 to trials).map(_ => run(name, dir))
        println(f"[time] $name $dir trials=${ts.map(t => f"$t%.3f").mkString(",")} min=${ts.min}%.3f")
      }
    }
    spark.stop()
  }
}
