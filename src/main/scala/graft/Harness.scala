package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main (Bench, Verify, Smoke,
  * Explain, ScaleUp) runs on.
  */
object Harness {

  /** Cores for Bench, Verify and ScaleUp: SPARK_GRAFT_CPUS, else the
    * machine's cores capped at 32.
    */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors))

  /** local[cores] with one shuffle partition per core, UTC session
    * time, the graft extensions, no UI and WARN logging; `conf`
    * entries apply on top, before the session starts.
    */
  def session(cores: Int,
              conf: Seq[(String, String)] = Nil): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
