package graft.streaming

import graft.SparkSpec
import graft.functions.Functions.dsum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.sql.Timestamp

case class DashOrder(order_id: String, customer_id: String,
                     product_name: String, category: String,
                     region: String, order_date: Timestamp,
                     total: Option[Double], quantity: Int, status: String)

/** The dashboard pass (`Dashboard.allMetrics`): its five tables equal
  * one aggregate per table, keep their parquet footers, and cost one
  * aggregate pass plus the writes.
  */
class DashboardSpec extends SparkSpec {

  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  /** One aggregate per table, each over the valid orders: the
    * definitions `allMetrics` replaces, kept as its reference.
    */
  private def perTable(orders: DataFrame): Map[String, DataFrame] = {
    val v = Dashboard.validOrders(orders)
    Map(
      "overall_metrics" -> v.agg(
        count(lit(1)).as("total_orders"),
        dsum(col("total")).as("total_revenue"),
        countDistinct(col("customer_id")).as("unique_customers"))
        .withColumn("avg_order_value",
          col("total_revenue") / col("total_orders")),
      "top_products" -> v.groupBy(col("product_name"))
        .agg(count(lit(1)).as("order_count"),
          dsum(col("quantity")).as("quantity_sold"),
          dsum(col("total")).as("revenue"))
        .orderBy(col("revenue").desc, col("product_name"))
        .limit(10),
      "category_stats" -> v.groupBy(col("category"))
        .agg(count(lit(1)).as("order_count"),
          dsum(col("total")).as("revenue"),
          dsum(col("quantity")).as("quantity_sold")),
      "regional_stats" -> v.groupBy(col("region"))
        .agg(count(lit(1)).as("order_count"),
          dsum(col("total")).as("revenue")),
      "hourly_stats" -> v.groupBy(hour(col("order_date")).cast("long").as("hour"))
        .agg(count(lit(1)).as("order_count"),
          dsum(col("total")).as("revenue")))
  }

  // 13 named products plus NULL-named orders; P09 and P10 tie on
  // revenue across the top-10 cut (the name decides), cancelled and
  // empty statuses must not count, and customers and totals hold NULLs
  private val orders = {
    val named = (1 to 13).flatMap { p =>
      val name = f"P$p%02d"
      val rev = 400.0 - 10 * math.min(p, 9)
      Seq(
        DashOrder(s"$name-a", s"C${p % 5}", name, s"cat${p % 3}",
          s"r${p % 2}", t(f"2024-01-01 ${p % 24}%02d:15:00"),
          Some(rev / 2 + 0.01), p, "completed"),
        DashOrder(s"$name-b", if (p % 4 == 0) null else s"C${p % 7}", name,
          s"cat${p % 3}", null, t(f"2024-01-01 ${(p * 5) % 24}%02d:45:00"),
          Some(rev / 2 - 0.01), 1, if (p % 2 == 0) "pending" else "processing"))
    }
    named ++ Seq(
      DashOrder("N1", null, null, null, "r0", t("2024-01-01 03:00:00"),
        Some(395.5), 2, "completed"),
      DashOrder("N2", "C1", null, "cat1", "r1", null, None, 3, "completed"),
      DashOrder("X1", "C9", "P01", "cat0", "r0", t("2024-01-01 04:00:00"),
        Some(9999.0), 50, "cancelled"),
      DashOrder("X2", "C9", "P13", "cat0", "r0", t("2024-01-01 04:00:00"),
        Some(9999.0), 50, ""))
  }

  /** The fixture with category, region and the order time as literals,
    * so those keys (and the hour) cannot be NULL.
    */
  private def literalKeys(df: DataFrame): DataFrame =
    df.withColumn("category", lit("Electronics"))
      .withColumn("region", lit("North"))
      .withColumn("order_date", lit(t("2024-01-01 10:00:00")))

  private def rows(df: DataFrame, ordered: Boolean): Seq[String] = {
    val r = df.collect().map(_.toString).toSeq
    if (ordered) r else r.sorted
  }

  test("allMetrics equals one aggregate per table: rows, order and schema") {
    val batches = Seq(
      "fixture" -> orders.toDF(),
      "literal keys" -> literalKeys(orders.toDF()),
      "empty batch" -> orders.toDF().filter(lit(false)))
    for ((label, batch) <- batches) {
      val got = Dashboard.allMetrics(batch)
      val want = perTable(batch)
      assert(got.map(_._1) === Seq("overall_metrics", "top_products",
        "category_stats", "regional_stats", "hourly_stats"), label)
      for ((name, df) <- got) {
        assert(df.schema === want(name).schema, s"$label $name")
        val ordered = name == "top_products"
        assert(rows(df, ordered) === rows(want(name), ordered), s"$label $name")
      }
    }
    // the fixture exercises the cut: P10 ties P09 at the 10th place
    val top = Dashboard.allMetrics(orders.toDF()).toMap
      .apply("top_products").collect().map(r => Option(r.getString(0)))
    assert(top.length === 10 && top.contains(Some("P09")) &&
      !top.contains(Some("P10")) && top.contains(None))
    val empty = Dashboard.allMetrics(orders.toDF().filter(lit(false))).toMap
    assert(empty("overall_metrics").collect().map(_.toString).toSeq ===
      Seq("[0,null,0,null]"))
  }

  test("the five tables keep their parquet footers") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    def footers(batch: DataFrame): Map[String, Seq[String]] = {
      val dir = java.nio.file.Files.createTempDirectory("dashfoot").toString
      Dashboard.allMetrics(batch).map { case (name, df) =>
        df.write.parquet(s"$dir/$name")
        val file = new java.io.File(s"$dir/$name").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.toString), conf))
        val schema = try reader.getFooter.getFileMetaData.getSchema
        finally reader.close()
        name -> schema.getFields.asScala.toSeq.map(f =>
          s"${f.getRepetition} ${f.asPrimitiveType.getPrimitiveTypeName} ${f.getName}")
      }.toMap
    }
    // taken from the five per-table aggregates' files
    val overall = Seq("REQUIRED INT64 total_orders",
      "OPTIONAL DOUBLE total_revenue", "REQUIRED INT64 unique_customers",
      "OPTIONAL DOUBLE avg_order_value")
    val top = Seq("OPTIONAL BINARY product_name", "REQUIRED INT64 order_count",
      "OPTIONAL DOUBLE quantity_sold", "OPTIONAL DOUBLE revenue")
    def keyed(rep: String) = Map(
      "category_stats" -> Seq(s"$rep BINARY category",
        "REQUIRED INT64 order_count", "OPTIONAL DOUBLE revenue",
        "OPTIONAL DOUBLE quantity_sold"),
      "regional_stats" -> Seq(s"$rep BINARY region",
        "REQUIRED INT64 order_count", "OPTIONAL DOUBLE revenue"),
      "hourly_stats" -> Seq(s"$rep INT64 hour",
        "REQUIRED INT64 order_count", "OPTIONAL DOUBLE revenue"))
    val fixed = Map("overall_metrics" -> overall, "top_products" -> top)
    assert(footers(orders.toDF()) === fixed ++ keyed("OPTIONAL"))
    assert(footers(literalKeys(orders.toDF())) === fixed ++ keyed("REQUIRED"))
  }

  test("allMetrics and its five writes run in 7 Spark jobs") {
    // the grouping-sets aggregate is one shuffle and one materializing
    // pass (AQE runs the shuffle stage as a job of its own), then one
    // job per table write; five aggregates over the batch cost 11
    val dir = java.nio.file.Files.createTempDirectory("dashjobs").toString
    val batch = orders.toDF().localCheckpoint(true)
    val sc = spark.sparkContext
    val tag = "dashboard-jobs-" + java.util.UUID.randomUUID()
    sc.addJobTag(tag)
    try Dashboard.allMetrics(batch).foreach { case (name, df) =>
      df.write.parquet(s"$dir/$name")
    } finally sc.removeJobTag(tag)
    assert(org.apache.spark.TaggedJobs.count(sc, tag) === 7)
  }
}
