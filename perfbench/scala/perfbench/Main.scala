package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** State of one benchmark run inside the JVM: the timed region, its
  * units and requests, the correctness checks made here and the
  * numbers handed back to run.py in `result.json`.
  */
final class Run(val spark: SparkSession, val tracer: Tracer, val work: String,
                val plan: JsonNode, val seconds: Double) {
  val units = mutable.ArrayBuffer.empty[Double]
  val latenciesMs = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val stageS = mutable.ArrayBuffer.empty[Double]
  var warmupS = 0.0
  val passWalls = mutable.ArrayBuffer.empty[Double]
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  var rowsPerPass = 0L
  private var passWall = 0.0

  def input(name: String): String = plan.get("paths").get(name).asText
  def strings(key: String): Seq[String] = plan.get(key).elements().asScala.map(_.asText).toSeq
  def cores: Int = spark.sparkContext.defaultParallelism

  /** Time a set-up step; repeated steps report their median. */
  def stage(body: => Unit): Unit = { val t = System.nanoTime(); body; stageS += (System.nanoTime() - t) / 1e9 }
  def warmup(body: => Unit): Unit = { val t = System.nanoTime(); body; warmupS = (System.nanoTime() - t) / 1e9 }

  /** Passes run while the run's time budget lasts; at least one. */
  def passes(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var p = 0
    while (p == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      passWall = 0.0
      tracer.enter(s"pass$p")
      body(p)
      tracer.enter("post")
      passWalls += passWall
      p += 1
    }
  }

  /** A stretch of the timed region; checks run between stretches. */
  def timed[A](body: => A): A = {
    tracer.timed = true
    val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try body
    finally {
      passWall += (System.nanoTime() - t0) / 1e9
      windows += ((w0, System.currentTimeMillis()))
      tracer.timed = false
    }
  }

  /** One unit of work (a day, a retrain cycle, a query); a throw counts
    * as a failed unit. Returns the unit's seconds.
    */
  def unit(name: String)(body: => Unit): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    try timed(body)
    catch { case e: Throwable =>
      failed += 1
      System.err.println(s"[perfbench] unit $name failed: $e")
      e.printStackTrace()
    }
    val s = (System.nanoTime() - t0) / 1e9
    units += s
    s
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] check $name failed: $detail")
  }

  def timedWindows: Seq[(Long, Long)] = windows.toSeq
}

trait Workload {
  /** Stage inputs, warm up and run timed passes, recording into `r`. */
  def run(r: Run): Unit
}

object Main {
  val Layers = Seq("medallion", "dashboard", "cleaning", "registry", "recommend",
    "alerts", "dedup", "similarity", "text")

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    val plan = new ObjectMapper().readTree(new File(s"$work/plan.json"))
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val tracer = new Tracer(spark, opts("trace") == "1")
    val r = new Run(spark, tracer, work, plan, opts("seconds").toDouble)
    val workload: Workload = plan.get("workload").asText match {
      case "daily_backfill" => DailyBackfill
      case "cf_retrain" => CfRetrain
      case "corpus_index" => CorpusIndex
      case w => sys.error(s"unknown workload $w")
    }
    workload.run(r)
    tracer.enter("post")

    val timedWall = r.passWalls.sum
    val layers = tracer.layerStats(Layers, timedWall, r.timedWindows)
    val (spin, scan) = calibrate(spark, r.input("calib"))
    val out = mutable.LinkedHashMap[String, Any](
      "session_s" -> sessionS, "stage_s" -> r.stageS.toSeq, "warmup_s" -> r.warmupS,
      "pass_walls" -> r.passWalls.toSeq, "units" -> r.units.toSeq,
      "latencies_ms" -> r.latenciesMs.toSeq, "attempted" -> r.attempted, "failed" -> r.failed,
      "rows_per_pass" -> r.rowsPerPass,
      "checks" -> r.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "layers" -> layers, "extra" -> r.extra.toMap,
      "peak_rss_mb" -> peakRssMb,
      "env" -> Map("cores" -> cores, "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576, "spark" -> spark.version,
        "java" -> System.getProperty("java.version"), "seed" -> plan.get("seed").asLong,
        "calib_spin_ms" -> spin, "calib_scan_ms" -> scan))
    Files.write(Paths.get(s"$work/result.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(out))
    spark.stop()
  }

  /** Peak resident memory of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Two fixed readings of the box itself, reported beside the metrics
    * and never folded into them: a CPU spin and a parquet scan.
    */
  def calibrate(spark: SparkSession, scanPath: String): (Double, Double) = {
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    def time(body: => Unit): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e6 }
    var sink = 0L
    val spin = median((1 to 3).map(_ => time {
      var x = 88172645463325252L; var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink += x
    }))
    if (sink == 42) println(sink)
    val scan = median((1 to 3).map(_ => time {
      spark.read.parquet(scanPath).agg(sum(col("l_quantity")), count(lit(1))).collect()
    }))
    (spin, scan)
  }
}
