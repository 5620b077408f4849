package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(Harness.envCores)
    // Local-iteration filter (same contract as Bench): run only the
    // named queries. The driver never sets this — full dump there.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObject(SparkEntry.oracleSql.toSeq))
    spark.stop()
  }

  /** Write each query's result to `<outDir>/<name>` as parquet. A query
    * that throws is logged to stderr and recorded in
    * `<outDir>/failed.json` (name → message) — never dropped silently —
    * and every other query is still dumped. Returns the failures.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Map[String, (SparkSession, String) => DataFrame])
  : Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      // snapshot first — release only THIS query's checkpoint blocks
      // (see Bench: a blanket unpersist would destroy any shared
      // cached state a future cross-query store might hold)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val failure =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> e.toString)
        }
      // drop the query's localCheckpoint blocks (see Bench — the
      // debris of ~250 queries squeezes execution memory)
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) =>
          if (!before.contains(id)) rdd.unpersist(blocking = false) }
      failure
    }
    Files.writeString(Paths.get(s"$outDir/failed.json"), jsonObject(failed))
    failed.toMap
  }

  /** A flat JSON object of string pairs. The escape covers backslash,
    * quote, and ALL control chars (<0x20) — a tab or CR in an oracle's
    * SQL would otherwise make a JSON reader fail and silently void the
    * whole correctness compare.
    */
  private def jsonObject(kvs: Seq[(String, String)]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
