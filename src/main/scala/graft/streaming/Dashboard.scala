package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Functions._
import graft.plans.StoreOps

/** The five dashboard metric tables (SURVEY §2.4 A3–A7; reference
  * dags/micro_batch_dashboard.py:95-133) as pure transforms over an
  * order-shaped frame (order_id, customer_id, product_name, category,
  * region, order_date, total, quantity, status). Consumed per
  * micro-batch by Alerts.dashboardRefresh and directly by batch
  * queries — one codepath for both cadences.
  */
object Dashboard {

  val ValidStatuses = Seq("completed", "processing", "pending")

  /** Freshness-marker TTL semantics (reference
    * dags/micro_batch_dashboard.py:182-186: Redis markers written
    * with an expiry so consumers can tell a live dashboard from a
    * stalled one). The parquet analog: markers carry `expires_at_ms`;
    * readers filter to live rows, and a compaction pass physically
    * drops expired rows — Redis's eviction, run as maintenance
    * instead of per-key timers.
    */
  val MarkerTtlMs: Long = 120000L

  def stampMarker(spark: org.apache.spark.sql.SparkSession, batchId: Long,
                  nowMs: Long, ttlMs: Long = MarkerTtlMs): DataFrame = {
    import spark.implicits._
    Seq((batchId, nowMs, nowMs + ttlMs))
      .toDF("batch_id", "updated_at_ms", "expires_at_ms")
  }

  /** Read-side TTL: only markers whose expiry is in the future. */
  def liveMarkers(markers: DataFrame, nowMs: Long): DataFrame =
    markers.filter(col("expires_at_ms") > nowMs)

  /** Eviction: rewrite the marker table without expired rows, staged
    * beside the table it reads and swapped in (StoreOps).
    */
  def compactMarkers(spark: org.apache.spark.sql.SparkSession,
                     dir: String, nowMs: Long): Unit = {
    StoreOps.recover(spark, Seq(dir))
    StoreOps.stage(spark, dir)(
      liveMarkers(spark.read.parquet(dir), nowMs).write.parquet(_))
    StoreOps.swap(spark, Seq(dir))
  }

  /** Streaming OHLC — the event-time form of the batch
    * `ts_resample_ohlc`: tumbling event-time windows under a
    * watermark, open/close via min_by/max_by on the (ts, event_id)
    * tuple (no row_number — rank windows don't stream; the ordered-
    * tuple argmin/argmax is the streamable equivalent). Emits one
    * final row per (window, series) in append mode once the watermark
    * passes; state is bounded by live windows × series.
    */
  def streamOhlc(events: DataFrame, bucket: String = "5 minutes",
                 watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), bucket), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min_by(col("value"),
          struct(col("ts"), col("event_id"))).as("open"),
        max_by(col("value"),
          struct(col("ts"), col("event_id"))).as("close"),
        max(col("value")).as("high"),
        min(col("value")).as("low"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n"), col("open"), col("close"), col("high"), col("low"))

  def validOrders(orders: DataFrame): DataFrame =
    orders.filter(col("status").isin(ValidStatuses: _*))

  def overallMetrics(orders: DataFrame): DataFrame =
    orders.agg(
      count(lit(1)).as("total_orders"),
      dsum(col("total")).as("total_revenue"),
      countDistinct(col("customer_id")).as("unique_customers"))
      .withColumn("avg_order_value",
        col("total_revenue") / col("total_orders"))

  def topProducts(orders: DataFrame, k: Int = 10): DataFrame =
    orders.groupBy(col("product_name"))
      .agg(count(lit(1)).as("order_count"),
        dsum(col("quantity")).as("quantity_sold"),
        dsum(col("total")).as("revenue"))
      .orderBy(col("revenue").desc, col("product_name"))
      .limit(k)

  def categoryStats(orders: DataFrame): DataFrame =
    orders.groupBy(col("category"))
      .agg(count(lit(1)).as("order_count"),
        dsum(col("total")).as("revenue"),
        dsum(col("quantity")).as("quantity_sold"))

  def regionalStats(orders: DataFrame): DataFrame =
    orders.groupBy(col("region"))
      .agg(count(lit(1)).as("order_count"),
        dsum(col("total")).as("revenue"))

  def hourlyStats(orders: DataFrame): DataFrame =
    orders.groupBy(hour(col("order_date")).cast("long").as("hour"))
      .agg(count(lit(1)).as("order_count"),
        dsum(col("total")).as("revenue"))

  def allMetrics(orders: DataFrame): Seq[(String, DataFrame)] = {
    val v = validOrders(orders)
    Seq(
      "overall_metrics" -> overallMetrics(v),
      "top_products" -> topProducts(v),
      "category_stats" -> categoryStats(v),
      "regional_stats" -> regionalStats(v),
      "hourly_stats" -> hourlyStats(v))
  }
}
