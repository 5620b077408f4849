package graft.streaming

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming alert pipeline (SURVEY §2.8 ST1–ST8) — the Spark
  * Structured Streaming re-expression of the reference's Flink jobs
  * (reference flink-jobs/flink_job_alert_detection_simple.py and
  * flink_job_telegram_sender.py).
  *
  * Every transform is a plain `DataFrame => DataFrame`, so the SAME
  * code runs on the batch tables (oracle-checked in
  * operators.StreamingBatch) and on `readStream` sources (exercised
  * with MemoryStream in AlertsSpec). That one-codepath property is the
  * point: Structured Streaming's incremental planner, not a second
  * engine, provides the streaming semantics.
  *
  * Scale notes (100 TB / high-rate streams):
  *  - ST1 detection is stateless filter+project → no state store, no
  *    shuffle; scales linearly with source partitions;
  *  - ST4 rapid-orders is the one stateful op: tumbling-window count
  *    keyed by (customer, window) with a watermark bounding state;
  *    skewed customers are still one key each — the state store
  *    shards by key hash across partitions;
  *  - sinks go through foreachBatch so each micro-batch is one
  *    idempotent parquet/table write (exactly-once per checkpoint).
  */
object Alerts {

  /** Alert thresholds — the reference's rule constants
    * (flink_job_alert_detection_simple.py:65-71, :78-81).
    */
  val HighValueTotal = 10000.0
  val SuspiciousQty = 50
  val RapidCount = 2
  val RapidWindow = "5 minutes"
  val Watermark = "1 minute"

  /** P11+P12: the four alert rules, CASE priority order exactly as the
    * reference (HIGH_VALUE > SUSPICIOUS_QTY > NEGATIVE_PRICE >
    * INVALID_QTY). Input: order-shaped frame (order_id, total,
    * quantity, price, customer_id, product_name). Works on batch and
    * streaming frames alike.
    */
  def detectAlerts(orders: DataFrame): DataFrame =
    orders
      .filter(col("total") > HighValueTotal ||
        col("quantity") > SuspiciousQty ||
        col("price") < 0 || col("quantity") <= 0)
      .withColumn("alert_type",
        when(col("total") > HighValueTotal, "HIGH_VALUE_ORDER")
          .when(col("quantity") > SuspiciousQty, "SUSPICIOUS_QUANTITY")
          .when(col("price") < 0, "NEGATIVE_PRICE")
          .when(col("quantity") <= 0, "INVALID_QUANTITY")
          .otherwise("UNKNOWN"))
      .select(col("alert_type"), col("order_id"), col("customer_id"),
        col("product_name"), col("total"), col("quantity"))

  /** P14: per-alert-type notification text (the Telegram formatter,
    * flink_job_telegram_sender.py:54-102, minus HTML). Money renders
    * through DECIMAL(18,2)→string — identical on any engine, unlike
    * locale-dependent printf grouping.
    */
  def formatAlertMessage(alerts: DataFrame): DataFrame = {
    val money: Column => Column =
      c => c.cast("decimal(18,2)").cast("string")
    alerts.withColumn("message",
      when(col("alert_type") === "HIGH_VALUE_ORDER",
        concat(lit("HIGH VALUE ORDER: order "), col("order_id"),
          lit(" customer "), col("customer_id"),
          lit(" total $"), money(col("total"))))
        .when(col("alert_type") === "SUSPICIOUS_QUANTITY",
          concat(lit("SUSPICIOUS QUANTITY: order "), col("order_id"),
            lit(" qty "), col("quantity").cast("string"),
            lit(" of "), col("product_name")))
        .when(col("alert_type") === "NEGATIVE_PRICE",
          concat(lit("NEGATIVE PRICE: order "), col("order_id"),
            lit(" total $"), money(col("total")),
            lit(" requires review")))
        .when(col("alert_type") === "INVALID_QUANTITY",
          concat(lit("INVALID QUANTITY: order "), col("order_id"),
            lit(" quantity "), col("quantity").cast("string")))
        .otherwise(concat(lit("UNKNOWN ALERT: order "), col("order_id"))))
  }

  /** ST4: RAPID_ORDERS — ≥ n orders per customer per tumbling window.
    * The only stateful streaming op; watermark bounds the state store.
    * On a batch frame `window()` degrades to a plain derived column,
    * which is what makes it oracle-checkable.
    */
  def rapidOrders(orders: DataFrame, tsCol: String = "ts",
                  n: Int = RapidCount): DataFrame = {
    val base =
      if (orders.isStreaming) orders.withWatermark(tsCol, Watermark)
      else orders
    base
      .groupBy(col("customer_id"), window(col(tsCol), RapidWindow))
      .agg(count(lit(1)).as("order_count"))
      .filter(col("order_count") >= n)
      .select(col("customer_id"),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("order_count"))
  }

  /** JSON decode of a Kafka-style value column (S9/P13), PERMISSIVE
    * like the reference's `json.ignore-parse-errors=true`.
    */
  def decodeJson(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"),
      Tables.alertInputSchema).as("o"))
      .select(col("o.*"))

  /** JSON encode for a Kafka-style sink (S10). */
  def encodeJson(alerts: DataFrame): DataFrame =
    alerts.select(to_json(struct(alerts.columns.map(col): _*)).as("value"))

  /** Kafka source options mirroring the reference Flink DDL
    * (flink_job_alert_detection_simple.py:33-41): subscribe topic,
    * start at latest, lenient parse. The connector jar is not present
    * in this container, so this is exercised via MemoryStream/file
    * sources in tests; on a real cluster:
    * spark.readStream.format("kafka").options(kafkaSourceOptions(...)).
    */
  def kafkaSourceOptions(bootstrap: String, topic: String): Map[String, String] =
    Map("kafka.bootstrap.servers" -> bootstrap,
      "subscribe" -> topic,
      "startingOffsets" -> "latest",
      "failOnDataLoss" -> "false")

  def kafkaSinkOptions(bootstrap: String, topic: String): Map[String, String] =
    Map("kafka.bootstrap.servers" -> bootstrap, "topic" -> topic)

  /** ST1 end-to-end: streaming source → detect → append sink (memory/
    * parquet). One incremental query replaces the Flink SQL job.
    */
  def alertQuery(orders: DataFrame, sinkFormat: String, queryName: String,
                 checkpoint: String, path: Option[String] = None): StreamingQuery = {
    val w = detectAlerts(orders).writeStream
      .format(sinkFormat)
      .outputMode("append")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
    path.fold(w)(p => w.option("path", p)).start()
  }

  /** ST8: the micro-batch dashboard refresh — one
    * Trigger.ProcessingTime query whose every tick recomputes the 5
    * metric tables from the batch's rows via foreachBatch (replaces
    * the reference's poll-Postgres-every-minute DAG,
    * micro_batch_dashboard.py:227). Exactly-once per batch via the
    * checkpoint; `notifications` is the append analog of the Redis
    * publish (ST5/S13).
    */
  def dashboardRefresh(orders: DataFrame, outDir: String, checkpoint: String,
                       intervalSecs: Int = 30): StreamingQuery =
    orders.writeStream
      .trigger(Trigger.ProcessingTime(s"$intervalSecs seconds"))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // one fetch of the batch serves the emptiness test and all five
        // metric tables
        val rows = batch.persist()
        try {
          if (!rows.isEmpty) {
            val m = Dashboard.allMetrics(rows)
            m.foreach { case (name, df) =>
              df.write.mode("overwrite").parquet(s"$outDir/$name")
            }
            Dashboard.stampMarker(spark, batchId, System.currentTimeMillis())
              .write.mode("append").parquet(s"$outDir/notifications")
          }
        } finally rows.unpersist()
      }
      .start()
}
