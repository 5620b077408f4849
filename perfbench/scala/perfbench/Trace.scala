package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer, recorded by the benchmark around its own
  * call. Times are wall-clock milliseconds so they line up with Spark's
  * listener event times.
  */
final case class Span(id: String, layer: String, t0: Long, t1: Long,
                      failed: Boolean, timed: Boolean)

/** Per-span task totals, filled by [[SpanListener]]. */
final class TaskAcc {
  var taskMs = 0L; var shuffleBytes = 0L; var peakExec = 0L
  var rowsWritten = 0L; var bytesWritten = 0L
}

/** Attributes Spark jobs and tasks to benchmark spans through the local
  * property [[Tracer.Key]]. The property is inherited by threads the
  * program starts from inside a span (the parallel thunks of
  * `graft.operators.Par`), and unlike the job group it is never
  * overwritten by the program.
  */
final class SpanListener extends SparkListener {
  val jobSpan = new ConcurrentHashMap[Int, String]()
  val jobStart = new ConcurrentHashMap[Int, Long]()
  val jobEnd = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  val acc = new ConcurrentHashMap[String, TaskAcc]()
  private val ended = new AtomicLong

  private def tag(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty(Tracer.Key))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = tag(e.properties)
    jobSpan.put(e.jobId, s)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageSpan.put(_, s))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnd.put(e.jobId, e.time)
    ended.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = acc.computeIfAbsent(stageSpan.getOrDefault(e.stageId, ""), _ => new TaskAcc)
    a.synchronized {
      a.taskMs += m.executorRunTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a.peakExec = math.max(a.peakExec, m.peakExecutionMemory)
      a.rowsWritten += m.outputMetrics.recordsWritten
      a.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  /** Block until every event posted before this call was delivered:
    * the bus is FIFO, so a sentinel job's end arrives last.
    */
  def sync(spark: SparkSession): Unit = {
    val before = ended.get()
    spark.sparkContext.parallelize(0 until 1, 1).foreach(_ => ())
    val deadline = System.nanoTime() + 10000000000L
    while (ended.get() <= before && System.nanoTime() < deadline) Thread.sleep(2)
  }
}

/** Spans around the benchmark's calls into each layer. With tracing on,
  * each span also tags the Spark jobs it runs; with tracing off only
  * the span's own start and end are kept.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val ids = new AtomicLong
  val spans = mutable.ArrayBuffer.empty[Span]
  val rows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val listener: Option[SpanListener] =
    if (on) { val l = new SpanListener; spark.sparkContext.addSparkListener(l); Some(l) }
    else None
  /** Spans opened while this is true count toward the timed region. */
  var timed = false
  private var scope = "setup"

  private def sc = spark.sparkContext

  /** Tag jobs outside any layer span (the benchmark's own glue). */
  def enter(scopeTag: String): Unit = {
    scope = scopeTag
    if (on) sc.setLocalProperty(Tracer.Key, scopeTag)
  }

  /** Tag the benchmark's own correctness checks, which run between the
    * timed stretches of a pass, so that no layer and not the session
    * totals count their jobs; then return to the enclosing scope.
    */
  def checking[A](body: => A): A = {
    val outer = scope
    enter("check")
    try body finally enter(outer)
  }

  def apply[A](layer: String)(body: => A): A = {
    val id = s"$layer#${ids.incrementAndGet()}"
    if (on) sc.setLocalProperty(Tracer.Key, id)
    val t0 = System.currentTimeMillis()
    var failed = true
    try { val r = body; failed = false; r }
    finally {
      spans += Span(id, layer, t0, System.currentTimeMillis(), failed, timed)
      if (on) sc.setLocalProperty(Tracer.Key, scope)
    }
  }

  def addRows(layer: String, n: Long): Unit = rows(layer) += n

  /** Per-layer statistics over the timed region. `passWindows` are the
    * (start, end) wall-clock intervals of the timed region; `timedWall`
    * is its total length in seconds.
    */
  def layerStats(layers: Seq[String], timedWall: Double,
                 passWindows: Seq[(Long, Long)]): Map[String, Map[String, Double]] = {
    listener.foreach(_.sync(spark))
    val timedSpans = spans.filter(_.timed).toVector
    val jobs: Vector[(Int, String, Long, Long)] = listener.toVector.flatMap { l =>
      l.jobSpan.asScala.toVector.flatMap { case (j, s) =>
        val t0 = l.jobStart.get(j)
        Option(l.jobEnd.get(j)).map(t1 => (j.intValue, s, t0, t1.longValue))
      }
    }
    def acc(ids: Set[String]): TaskAcc = {
      val out = new TaskAcc
      listener.foreach(_.acc.asScala.foreach { case (id, a) =>
        if (ids(id)) a.synchronized {
          out.taskMs += a.taskMs; out.shuffleBytes += a.shuffleBytes
          out.peakExec = math.max(out.peakExec, a.peakExec)
          out.rowsWritten += a.rowsWritten; out.bytesWritten += a.bytesWritten
        }
      })
      out
    }
    def covered(windows: Seq[(Long, Long)], ivs: Seq[(Long, Long)]): Long =
      windows.map { case (w0, w1) =>
        Tracer.union(ivs.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }
          .filter { case (a, b) => b > a })
      }.sum
    def stats(ids: Set[String], windows: Seq[(Long, Long)], busy: Double, calls: Double,
              failed: Double, extraRows: Long): Map[String, Double] = {
      val js = jobs.filter(j => ids(j._2))
      val a = acc(ids)
      val driver = math.max(0.0, busy - covered(windows, js.map(j => (j._3, j._4))) / 1e3)
      Map("calls" -> calls, "busy_s" -> busy, "failed" -> failed, "driver_s" -> driver,
        "jobs" -> js.size.toDouble, "task_s" -> a.taskMs / 1e3,
        "parallelism" -> (if (busy > 0) a.taskMs / 1e3 / busy else 0.0),
        "shuffle_mb" -> a.shuffleBytes / 1048576.0, "peak_exec_mb" -> a.peakExec / 1048576.0,
        "rows_out" -> (a.rowsWritten + extraRows).toDouble,
        "write_mb" -> a.bytesWritten / 1048576.0)
    }
    val perLayer = layers.map { l =>
      val ss = timedSpans.filter(_.layer == l)
      l -> stats(ss.map(_.id).toSet, ss.map(s => (s.t0, s.t1)),
        ss.map(s => (s.t1 - s.t0) / 1e3).sum, ss.size.toDouble,
        ss.count(_.failed).toDouble, rows(l))
    }.toMap
    // session-wide totals over the timed region: every job that ran in
    // it, whether a layer span or the benchmark's own glue tagged it;
    // check work is tagged "check" and left out
    val timedIds = timedSpans.map(_.id).toSet ++ jobs.map(_._2).filter(_.startsWith("pass"))
    val session = stats(timedIds, passWindows, timedWall, passWindows.size.toDouble,
      timedSpans.count(_.failed).toDouble, layers.map(rows).sum)
    perLayer + ("spark" -> session)
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** Total length of the union of half-open intervals. */
  def union(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}
