package graft

/** Plan-inspection surface: dumps `explain("formatted")` for every
  * registered query (or the names passed as args) so plan properties
  * — PushedFilters reaching the parquet scan, broadcast joins on the
  * dims, WholeStageCodegen span width — can be reviewed and asserted
  * on (see PlanSpec for the automated checks).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session(4)
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
