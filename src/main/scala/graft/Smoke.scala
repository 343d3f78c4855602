package graft

/** Local stand-in for the driver's t1 smoke: run SparkEntry.entry on
  * sf0.001 and require rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(GraftSession.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"SMOKE entry rows=$n ${if (n > 0) "OK" else "FAIL"}")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
