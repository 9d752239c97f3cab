package graft

/** Local stand-in for the driver's t1 smoke: `SparkEntry.entry` must return
  * >0 rows on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession("4")
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n schema=${df.schema.simpleString}")
    assert(n > 0, "entry must return >0 rows")
    spark.stop()
  }
}
