package graft

/** Local smoke: drives SparkEntry.entry the way the driver does
  * (rows>0 on sf0.001) and prints the result.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(8)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, false)
    println(s"[smoke] entry rows=$n ${if (n > 0) "PASS" else "FAIL"}")
    spark.stop()
  }
}
