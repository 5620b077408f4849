package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

case class Order(order_id: String, total: Double, quantity: Int,
                 price: Double, customer_id: String, product_name: String)

case class Ev(customer_id: String, ts: Timestamp)

case class CdcRow(order_id: String, ts: Timestamp)

case class TickEv(event_id: Long, ts: Timestamp, event_type: String,
                  value: Double)

/** Streaming semantics against the reference's own CDC smoke fixture
  * (reference scripts/test_cdc_alerts.py:34-50; FIXTURES.md §3):
  * incremental execution via MemoryStream, exact alert typing and
  * rule priority, stateful windowed count, and the foreachBatch
  * dashboard refresh.
  */
class AlertsSpec extends SparkSpec {

  import spark.implicits._

  val fixture = Seq(
    Order("O1001", 200.0, 2, 100.0, "C1", "Mouse"),          // no alert
    Order("O1002", 450.0, 3, 150.0, "C2", "Keyboard"),       // no alert
    Order("O2001", 15000.0, 5, 3000.0, "C3", "Laptop"),      // HIGH_VALUE
    Order("O2002", 5000.0, 60, 83.0, "C4", "Pen"),           // SUSPICIOUS
    Order("O2003", -500.0, 5, -100.0, "C5", "Voucher"),      // NEG_PRICE
    Order("O2004", 999.0, 0, 999.0, "C6", "Invalid Item"),   // INVALID_QTY
    Order("O2005", 20000.0, 99, 202.0, "C7", "Bulk"))        // priority: HIGH_VALUE

  test("ST1: alert detection over a MemoryStream, exact types + priority") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Order]
    val q = Alerts.detectAlerts(in.toDF())
      .writeStream.format("memory").queryName("alerts_out")
      .outputMode("append").start()
    in.addData(fixture: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("alerts_out")
      .select("order_id", "alert_type").as[(String, String)].collect().toMap
    assert(got === Map(
      "O2001" -> "HIGH_VALUE_ORDER",
      "O2002" -> "SUSPICIOUS_QUANTITY",
      "O2003" -> "NEGATIVE_PRICE",
      "O2004" -> "INVALID_QUANTITY",
      "O2005" -> "HIGH_VALUE_ORDER")) // both rules match; HIGH_VALUE wins
  }

  test("P14: alert messages format money through DECIMAL(18,2)") {
    val msgs = Alerts.formatAlertMessage(
      Alerts.detectAlerts(fixture.toDF()))
      .select("order_id", "message").as[(String, String)].collect().toMap
    assert(msgs("O2001") ===
      "HIGH VALUE ORDER: order O2001 customer C3 total $15000.00")
    assert(msgs("O2003") ===
      "NEGATIVE PRICE: order O2003 total $-500.00 requires review")
    assert(msgs("O2004") === "INVALID QUANTITY: order O2004 quantity 0")
  }

  private def t(s: String) = Timestamp.valueOf(s)

  test("ST4: rapid-orders tumbling window with watermark (stateful)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Alerts.rapidOrders(in.toDF(), "ts", n = 3)
      .writeStream.format("memory").queryName("rapid_out")
      .outputMode("update").start()
    // C1: 3 orders inside one 5-min window; C2: 3 orders across windows
    in.addData(
      Ev("C1", t("2024-01-01 10:00:10")), Ev("C1", t("2024-01-01 10:01:00")),
      Ev("C1", t("2024-01-01 10:04:59")),
      Ev("C2", t("2024-01-01 10:04:00")), Ev("C2", t("2024-01-01 10:06:00")),
      Ev("C2", t("2024-01-01 10:11:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("rapid_out")
      .select("customer_id", "order_count").as[(String, Long)].collect()
    assert(got.toSeq === Seq(("C1", 3L)))
  }

  test("ST15: streaming OHLC emits finalized buckets in append mode") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[TickEv]
    val q = Dashboard.streamOhlc(in.toDF())
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode("append").start()
    // bucket 10:00-10:05: open=5.0 (earliest ts), close=2.0 (latest),
    // high=9.0, low=2.0 — arrival order deliberately scrambled
    in.addData(
      TickEv(2L, t("2024-01-01 10:03:00"), "view", 9.0),
      TickEv(1L, t("2024-01-01 10:00:30"), "view", 5.0),
      TickEv(3L, t("2024-01-01 10:04:50"), "view", 2.0))
    q.processAllAvailable()
    // advance the watermark far past the first bucket → it finalizes
    in.addData(TickEv(9L, t("2024-01-01 11:00:00"), "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ohlc_out")
      .select("event_type", "n", "open", "close", "high", "low")
      .as[(String, Long, Double, Double, Double, Double)].collect()
    assert(got.toSeq === Seq(("view", 3L, 5.0, 2.0, 9.0, 2.0)))
  }

  test("ST10: session_window aggregates incrementally under a watermark") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = in.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(col("customer_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("customer_id"), col("sw.start").as("s"),
        col("sw.end").as("e"), col("n_events"))
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    in.addData(
      // C1: two events 10 min apart -> one merged session
      Ev("C1", t("2024-01-01 10:00:00")), Ev("C1", t("2024-01-01 10:10:00")),
      // C1: 31+ min later -> second session
      Ev("C1", t("2024-01-01 10:41:01")))
    q.processAllAvailable()
    // late-arriving event lands inside session 1 and merges into it
    in.addData(Ev("C1", t("2024-01-01 10:05:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_out")
      .select("customer_id", "n_events").as[(String, Long)].collect()
      .sortBy(_._2)
    assert(got.toSeq === Seq(("C1", 1L), ("C1", 3L)))
  }

  test("ST11: CDC redelivery dedup — dropDuplicatesWithinWatermark, bounded state") {
    // at-least-once CDC redelivers rows; the ingest dedup must
    // suppress them while holding state only for the watermark span
    // (A9's batch keep-latest has unbounded state on a stream)
    implicit val sc = spark.sqlContext
    val in = MemoryStream[CdcRow]
    val q = in.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("order_id")
      .writeStream.format("memory").queryName("cdc_dedup_out")
      .outputMode("append").start()
    in.addData(
      CdcRow("O1", t("2024-01-01 10:00:00")),
      CdcRow("O1", t("2024-01-01 10:00:30")), // same-batch redelivery
      CdcRow("O2", t("2024-01-01 10:01:00")))
    q.processAllAvailable()
    in.addData(CdcRow("O1", t("2024-01-01 10:05:00"))) // cross-batch redelivery
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cdc_dedup_out")
      .select("order_id").as[String].collect().sorted
    assert(got.toSeq === Seq("O1", "O2"))
  }

  test("ST8: foreachBatch dashboard refresh writes the 5 metric tables") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("dash").toString
    val in = MemoryStream[Order]
    val orders = in.toDF()
      .withColumn("category", lit("Electronics"))
      .withColumn("region", lit("North"))
      .withColumn("order_date", lit(t("2024-01-01 10:00:00")))
      .withColumn("status",
        when(col("order_id") === "O1001", "cancelled").otherwise("completed"))
    val q = Alerts.dashboardRefresh(orders, dir, s"$dir/ckpt", intervalSecs = 1)
    in.addData(fixture: _*)
    q.processAllAvailable()
    q.stop()
    val overall = spark.read.parquet(s"$dir/overall_metrics")
    val row = overall.collect().head
    // 6 valid orders (O1001 cancelled is filtered), revenue = sum of totals
    assert(row.getAs[Long]("total_orders") === 6L)
    assert(math.abs(row.getAs[Double]("total_revenue") - 40949.0) < 1e-9)
    for (tbl <- Seq("top_products", "category_stats", "regional_stats",
      "hourly_stats", "notifications"))
      assert(spark.read.parquet(s"$dir/$tbl").count() > 0, tbl)
  }

  test("ST8: the dashboard refresh computes each micro-batch's rows once") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("dash1").toString
    // a filter is never pruned away, so it runs on every read of the batch
    val reads = spark.sparkContext.longAccumulator("batch row reads")
    val seen = udf { (_: String) => reads.add(1); true }
    val in = MemoryStream[Order]
    val orders = in.toDF().filter(seen(col("order_id")))
      .withColumn("category", lit("Electronics"))
      .withColumn("region", lit("North"))
      .withColumn("order_date", lit(t("2024-01-01 10:00:00")))
      .withColumn("status", lit("completed"))
    val q = Alerts.dashboardRefresh(orders, dir, s"$dir/ckpt", intervalSecs = 1)
    in.addData(fixture: _*)
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$dir/overall_metrics")
      .collect().head.getAs[Long]("total_orders") === fixture.size.toLong)
    assert(reads.sum === fixture.size.toLong)
  }

  test("S13/S14: markers expire by TTL and compact away (Redis expiry analog)") {
    val dir = java.nio.file.Files.createTempDirectory("markers").toString + "/n"
    val t0 = 1000000L
    Dashboard.stampMarker(spark, 1L, t0).write.mode("append").parquet(dir)
    Dashboard.stampMarker(spark, 2L, t0 + 60000L)
      .write.mode("append").parquet(dir)

    val all = spark.read.parquet(dir)
    // both live mid-TTL; only the fresher one after the first expires
    assert(Dashboard.liveMarkers(all, t0 + 60000L).count() === 2)
    val after = Dashboard.liveMarkers(all, t0 + Dashboard.MarkerTtlMs + 1)
      .select("batch_id").as[Long].collect().toSeq
    assert(after === Seq(2L))
    // eviction pass physically drops the expired row
    Dashboard.compactMarkers(spark, dir, t0 + Dashboard.MarkerTtlMs + 1)
    assert(spark.read.parquet(dir).select("batch_id")
      .as[Long].collect().toSeq === Seq(2L))
  }

  test("S9/S10: kafka option maps mirror the reference DDL") {
    val src = Alerts.kafkaSourceOptions("kafka:9092", "cdc.public.orders")
    assert(src("startingOffsets") === "latest")
    assert(src("subscribe") === "cdc.public.orders")
    val js = Alerts.encodeJson(Seq(("A", 1)).toDF("alert_type", "n"))
    assert(js.columns.toSeq === Seq("value"))
    val back = Alerts.decodeJson(
      Seq("""{"order_id":"O1","total":5.0,"quantity":2,"price":2.5,"customer_id":"C","product_name":"P"}""")
        .toDF("value"))
    assert(back.select("order_id", "quantity").as[(String, Int)].collect()
      .toSeq === Seq(("O1", 2)))
  }
}
