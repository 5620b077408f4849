package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.Functions.decimalSum
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

  /** The key of each grouping set, in `allMetrics`' set order. */
  private val Keys =
    Seq("product_name", "category", "region", "hour", "customer_id")

  /** The five metric tables from one pass over the valid orders: one
    * GROUPING SETS aggregate by each key alone, counting rows and
    * summing `total` and `quantity` exactly (`decimalSum`; the cast to
    * double comes per table), materialized once.
    * Each table is a projection of its set's rows, picked by
    * `grouping_id`; `overall_metrics` folds the customer set, whose
    * non-NULL keys are the distinct customers. Names, column order,
    * types and nullability are those of one aggregate per table.
    */
  def allMetrics(orders: DataFrame): Seq[(String, DataFrame)] = {
    val v = validOrders(orders)
      .withColumn("hour", hour(col("order_date")).cast("long"))
    val sets = v.groupingSets(Keys.map(k => Seq(col(k))), Keys.map(col): _*)
      .agg(grouping_id().as("gid"), count(lit(1)).as("order_count"),
        decimalSum(col("total")).as("revenue"),
        decimalSum(col("quantity")).as("quantity_sold"))
      .localCheckpoint(true)

    // grouping_id sets the bit of every key outside the row's set,
    // the first key's highest. The set's keys are its source's, so a
    // key the source never leaves NULL is declared non-null again.
    def set(k: String): DataFrame = {
      val all = (1 << Keys.size) - 1
      val rows = sets.filter(
        col("gid") === all - (1 << (Keys.size - 1 - Keys.indexOf(k))))
      if (v.schema(k).nullable) rows
      else rows.sparkSession.createDataFrame(rows.rdd, StructType(
        rows.schema.map(f => if (f.name == k) f.copy(nullable = false) else f)))
    }
    def money(c: String) = col(c).cast("double").as(c)

    Seq(
      // one task folds the customer set: no shuffle, so no extra job
      "overall_metrics" -> set("customer_id").coalesce(1).agg(
        coalesce(sum(col("order_count")), lit(0L)).as("total_orders"),
        sum(col("revenue")).cast("double").as("total_revenue"),
        count(col("customer_id")).as("unique_customers"))
        .withColumn("avg_order_value",
          col("total_revenue") / col("total_orders")),
      "top_products" -> set("product_name")
        .select(col("product_name"), col("order_count"),
          money("quantity_sold"), money("revenue"))
        .orderBy(col("revenue").desc, col("product_name"))
        .limit(10),
      "category_stats" -> set("category")
        .select(col("category"), col("order_count"), money("revenue"),
          money("quantity_sold")),
      "regional_stats" -> set("region")
        .select(col("region"), col("order_count"), money("revenue")),
      "hourly_stats" -> set("hour")
        .select(col("hour"), col("order_count"), money("revenue")))
  }
}
