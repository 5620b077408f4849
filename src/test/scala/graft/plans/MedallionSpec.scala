package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.sql.Timestamp

case class SrcOrder(order_id: String, order_date: Timestamp,
                    customer_id: String, product_name: String,
                    category: String, price: Double, quantity: Int,
                    status: String)

/** Medallion pipeline semantics: layer contracts on disk, per-day
  * idempotence (C1), empty-day no-op (C5), and the C4 registry gate.
  */
class MedallionSpec extends SparkSpec {

  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  val source = Seq(
    SrcOrder("O1", t("2024-01-01 09:00:00"), "C1", "P1", "Books", 10.0, 2, "completed"),
    SrcOrder("O2", t("2024-01-01 10:00:00"), "C2", "P2", "Toys", 5.0, 1, "completed"),
    SrcOrder(null, t("2024-01-01 11:00:00"), "C3", "P3", "Toys", 5.0, 1, "completed"),
    SrcOrder("O4", t("2024-01-02 09:00:00"), "C1", "P1", "Books", 20.0, 1, "completed"))

  test("C1/C2: runDay materializes bronze→silver→gold and is idempotent") {
    val lake = java.nio.file.Files.createTempDirectory("lake").toString
    val r1 = Medallion.runDay(source.toDF(), lake, "2024-01-01")
    assert(r1.extracted === 3 && r1.cleaned === 2) // null key dropped
    // re-run the same day: same result, no duplication (overwrite)
    Medallion.runDay(source.toDF(), lake, "2024-01-01")
    Medallion.runDay(source.toDF(), lake, "2024-01-02")
    val silver = spark.read.parquet(s"$lake/silver/orders")
    assert(silver.count() === 3) // 2 (day1) + 1 (day2)
    val gold = spark.read.parquet(s"$lake/gold/daily_summary")
      .select("date", "total_orders", "total_revenue")
      .as[(String, Long, Double)].collect().sortBy(_._1)
    assert(gold.toSeq === Seq(("2024-01-01", 2L, 25.0), ("2024-01-02", 1L, 20.0)))
  }

  test("C1 catchup: re-running one day leaves sibling partitions byte-identical") {
    // the reference's catchup=True backfill contract
    // (dags/daily_pipeline.py:736-751): a day's re-run — even with
    // changed input — must replace exactly that day's partitions
    val lake = java.nio.file.Files.createTempDirectory("lake").toString
    val threeDays = source :+
      SrcOrder("O5", t("2024-01-03 09:00:00"), "C9", "P9", "Games", 7.0, 3, "completed")
    Seq("2024-01-01", "2024-01-02", "2024-01-03")
      .foreach(Medallion.runDay(threeDays.toDF(), lake, _))

    // fingerprint every parquet file outside the re-run day
    def fingerprint(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(lake)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          !p.toString.contains("date=2024-01-02"))
        .map { p =>
          val md = java.security.MessageDigest.getInstance("MD5")
          p.toString -> md.digest(java.nio.file.Files.readAllBytes(p))
            .map("%02x".format(_)).mkString
        }.toMap
    }
    val before = fingerprint()

    // mutate day 2's input (price change) and replay just that day
    val mutated = threeDays.map(o =>
      if (o.order_id == "O4") o.copy(price = 99.0) else o)
    Medallion.runDay(mutated.toDF(), lake, "2024-01-02")

    assert(fingerprint() === before, "sibling day partitions were rewritten")
    val gold = spark.read.parquet(s"$lake/gold/daily_summary")
      .select("date", "total_revenue").as[(String, Double)].collect().toMap
    assert(gold("2024-01-02") === 99.0) // re-run day reflects the mutation
    assert(gold("2024-01-01") === 25.0 && gold("2024-01-03") === 21.0)
  }

  test("upsert rewrites only touched partitions (copy-on-write MERGE)") {
    val dir = java.nio.file.Files.createTempDirectory("cow").toString + "/t"
    val base = Seq(
      ("K1", 10.0, "2024-01-01"), ("K2", 20.0, "2024-01-01"),
      ("K3", 30.0, "2024-01-02"), ("K4", 40.0, "2024-01-02"))
      .toDF("k", "v", "date")
    base.write.option("partitionOverwriteMode", "dynamic")
      .partitionBy("date").parquet(dir)

    def filesOf(day: String) =
      new java.io.File(s"$dir/date=$day").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    val day1Before = filesOf("2024-01-01")

    // update K3, insert K5 — both land in day 2 only
    val updates = Seq(("K3", 99.0, "2024-01-02"), ("K5", 50.0, "2024-01-02"))
      .toDF("k", "v", "date")
    Medallion.upsertPartitioned(spark, dir, updates, "k")

    assert(filesOf("2024-01-01") === day1Before,
      "untouched partition was rewritten")
    val got = spark.read.parquet(dir).select("k", "v", "date")
      .as[(String, Double, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      ("K1", 10.0, "2024-01-01"), ("K2", 20.0, "2024-01-01"),
      ("K3", 99.0, "2024-01-02"), ("K4", 40.0, "2024-01-02"),
      ("K5", 50.0, "2024-01-02")))
  }

  test("C5: empty day is a no-op, not a crash") {
    val lake = java.nio.file.Files.createTempDirectory("lake").toString
    val r = Medallion.runDay(source.toDF(), lake, "2030-12-31")
    assert(r.extracted === 0)
    assert(!new java.io.File(s"$lake/bronze").exists())
  }

  test("C5: a zero-partition source and a limit(0) source are empty days") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val schema = source.toDF().schema
    val sources = Seq(
      "zero partitions" ->
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
      "limit(0)" -> source.toDF().limit(0))
    for ((name, src) <- sources) {
      val lake = java.nio.file.Files.createTempDirectory("lake").toString
      // the row count arrives by observation: it must arrive, not hang
      val r = Await.result(
        Future(Medallion.runDay(src, lake, "2024-01-01")), 60.seconds)
      assert(r === Medallion.DayResult("2024-01-01", 0, 0), name)
      assert(!new java.io.File(s"$lake/bronze").exists(), name)
    }
  }

  test("lineage: every silver row carries its bronze row's ingestion " +
    "timestamp, also after a re-run") {
    val lake = java.nio.file.Files.createTempDirectory("lake").toString
    def check(): Unit = {
      def ts(layer: String) =
        spark.read.parquet(s"$lake/$layer/orders")
          .filter(col("date") === "2024-01-01")
          .select(col("order_id"), col("_ingestion_timestamp"))
      val s = ts("silver").collect().map(r => r.getString(0) -> r.get(1)).toMap
      val b = ts("bronze").collect().map(r => r.getString(0) -> r.get(1)).toMap
      assert(s.keySet === Set("O1", "O2"))
      s.foreach { case (id, t) => assert(b(id) === t, id) }
    }
    Medallion.runDay(source.toDF(), lake, "2024-01-01")
    check()
    Medallion.runDay(source.toDF(), lake, "2024-01-01")
    check()
  }

  test("layer files keep their parquet schema") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val lake = java.nio.file.Files.createTempDirectory("lake").toString
    Medallion.runDay(source.toDF(), lake, "2024-01-01")
    val conf = spark.sessionState.newHadoopConf()
    def footer(table: String): Seq[String] = {
      val file = new java.io.File(s"$lake/$table/date=2024-01-01")
        .listFiles().filter(_.getName.endsWith(".parquet")).head
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString), conf))
      val schema = try reader.getFooter.getFileMetaData.getSchema
      finally reader.close()
      schema.getFields.asScala.toSeq.map(f =>
        s"${f.getRepetition} ${f.asPrimitiveType.getPrimitiveTypeName} ${f.getName}")
    }
    val leading = Seq("OPTIONAL BINARY order_id", "OPTIONAL INT96 order_date",
      "OPTIONAL BINARY customer_id", "OPTIONAL BINARY product_name",
      "OPTIONAL BINARY category")
    // bronze keeps the source's nullability and a required audit stamp;
    // silver's input columns are all optional, its own stamp required
    assert(footer("bronze/orders") === leading ++ Seq(
      "REQUIRED DOUBLE price", "REQUIRED INT32 quantity",
      "OPTIONAL BINARY status", "REQUIRED INT96 _ingestion_timestamp"))
    assert(footer("silver/orders") === leading ++ Seq(
      "OPTIONAL DOUBLE price", "OPTIONAL INT32 quantity",
      "OPTIONAL BINARY status", "OPTIONAL INT96 _ingestion_timestamp",
      "OPTIONAL DOUBLE total", "REQUIRED INT96 _cleaned_timestamp"))
    assert(footer("gold/daily_summary") === Seq(
      "REQUIRED INT64 total_orders", "OPTIONAL DOUBLE total_revenue",
      "REQUIRED INT64 unique_customers", "REQUIRED INT64 unique_products"))
    assert(footer("gold/category_agg") === Seq(
      "OPTIONAL BINARY category", "REQUIRED INT64 order_count",
      "OPTIONAL DOUBLE revenue"))
  }

  test("runDay runs a non-empty day in 9 Spark jobs") {
    // one pass each for bronze and silver, the four layer writes and
    // the gold aggregations' shuffle stages, which AQE runs as jobs of
    // their own; reading a layer back or counting it apart adds jobs
    val lake = java.nio.file.Files.createTempDirectory("lake").toString
    val sc = spark.sparkContext
    val tag = "medallion-jobs-" + java.util.UUID.randomUUID()
    sc.addJobTag(tag)
    try Medallion.runDay(source.toDF(), lake, "2024-01-01")
    finally sc.removeJobTag(tag)
    assert(org.apache.spark.TaggedJobs.count(sc, tag) === 9)
  }

  test("C4: registry promotes only on the reference's better-model rule") {
    import ModelRegistry._
    assert(isBetter(Metrics(0.5, 0.1), None))
    assert(isBetter(Metrics(0.6, 0.0), Some(Metrics(0.5, 0.9))))      // coverage up (any strict gain)
    assert(isBetter(Metrics(0.495, 0.2), Some(Metrics(0.5, 0.1))))    // near-tie, precision up
    assert(!isBetter(Metrics(0.495, 0.05), Some(Metrics(0.5, 0.1))))  // near-tie, precision down
    assert(!isBetter(Metrics(0.4, 0.9), Some(Metrics(0.5, 0.1))))     // coverage down
  }

  test("C4 end-to-end: train→eval→register, production pointer moves") {
    val reg = java.nio.file.Files.createTempDirectory("reg").toString
    val inter = (1L to 200L).flatMap(u =>
      Seq((u, u % 13), (u, (u + 1) % 13), (u, (u * 7) % 13)))
      .toDF("user_id", "item_id")
    val registered = ModelRegistry.trainEvalRegister(spark, inter, reg, "v1")
    assert(registered)
    assert(ModelRegistry.productionVersion(reg) === Some("v1"))
    val sim = spark.read.parquet(s"$reg/version=v1/item_similarity")
    assert(sim.count() > 0)
    // same data again: metrics identical → precision not strictly
    // better → not promoted
    val again = ModelRegistry.trainEvalRegister(spark, inter, reg, "v2")
    assert(!again)
    assert(ModelRegistry.productionVersion(reg) === Some("v1"))
  }

  /** The C4 fixture: 200 users over 13 items. */
  private def c4Interactions =
    (1L to 200L).flatMap(u =>
      Seq((u, u % 13), (u, (u + 1) % 13), (u, (u * 7) % 13)))
      .toDF("user_id", "item_id")

  test("C4: a promoting trainEvalRegister builds the similarity " +
    "self-join once") {
    import graft.operators.Recommend
    // a filter is never pruned away, so it counts every read of the
    // interactions; an RDD source keeps the optimizer from folding it
    val reads = spark.sparkContext.longAccumulator("interaction row reads")
    val seen = udf { (_: Long) => reads.add(1); true }
    val inter = spark.createDataFrame(c4Interactions.rdd, c4Interactions.schema)
      .filter(seen(col("user_id")))
    def scans(f: => Any): Long = { val r0 = reads.sum; f; reads.sum - r0 }
    val train = Recommend.trainSet(inter)
    val eval_ = Recommend.evalSet(inter)
    var sim: org.apache.spark.sql.DataFrame = null
    val once = scans { sim = Recommend.itemSimilarity(train).localCheckpoint(true) }
    val gate = scans {
      Recommend.coverage(train, eval_).head()
      Recommend.precisionAtK(Recommend.recommend(train, sim), eval_).head()
    }
    assert(once > 0 && gate > 0)
    val reg = java.nio.file.Files.createTempDirectory("regonce").toString
    var promoted = false
    assert(scans { promoted = ModelRegistry.trainEvalRegister(spark, inter, reg, "v1") }
      === once + gate, "the similarity is derived more than once")
    assert(promoted)
  }

  /** One registry cycle with every read in sequence and the similarity
    * derived for the evaluation and again for the save: the cycle
    * trainEvalRegister shortens, kept as its reference.
    */
  private def sequentialCycle(inter: org.apache.spark.sql.DataFrame,
                              reg: String, version: String): Boolean = {
    import graft.operators.Recommend
    import ModelRegistry._
    val train = Recommend.trainSet(inter)
    val eval_ = Recommend.evalSet(inter)
    val sim = Recommend.itemSimilarity(train)
    val cov = Recommend.coverage(train, eval_).head()
    val prec = Recommend.precisionAtK(Recommend.recommend(train, sim), eval_).head()
    val m = Metrics(cov.getAs[Double]("overall_coverage"),
      prec.getAs[Double]("avg_precision"))
    val better = isBetter(m, productionMetrics(spark, reg))
    if (better) {
      sim.write.parquet(s"$reg/version=$version/item_similarity")
      Seq((version, m.coverage, m.precisionAt10))
        .toDF("version", "coverage", "precision_at_10")
        .write.parquet(s"$reg/version=$version/metrics")
      promote(reg, version)
    }
    better
  }

  test("C4: trainEvalRegister writes what the sequential cycle writes " +
    "(flags, pointer, rows, file counts, parquet footers)") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    def table(dir: String): (Int, Seq[String], Seq[String]) = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head.toString), conf))
      val schema = try reader.getFooter.getFileMetaData.getSchema
      finally reader.close()
      (files.length,
        schema.getFields.asScala.toSeq.map(f =>
          s"${f.getRepetition} ${f.asPrimitiveType.getPrimitiveTypeName} ${f.getName}"),
        spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq)
    }
    def registry(reg: String): Map[String, (Int, Seq[String], Seq[String])] =
      new java.io.File(reg).listFiles().filter(_.getName.startsWith("version="))
        .flatMap(v => Seq("item_similarity", "metrics").map(t =>
          s"${v.getName}/$t" -> table(s"$reg/${v.getName}/$t"))).toMap
    val sf = graft.operators.Recommend.interactions(spark, "/root/testdata/sf0.001")
    val fixtures = Seq(
      "C4 fixture" -> c4Interactions,
      "sf0.001" -> sf.localCheckpoint(true))
    for ((label, inter) <- fixtures) {
      // a first model on half the users, then the whole window twice
      // (the repeat ties its own metrics and is kept out)
      val windows = Seq(inter.filter(col("user_id") % 2 === 0), inter, inter)
      val got = java.nio.file.Files.createTempDirectory("regnew").toString
      val want = java.nio.file.Files.createTempDirectory("regseq").toString
      val flags = windows.zipWithIndex.map { case (w, i) =>
        (ModelRegistry.trainEvalRegister(spark, w, got, s"v${i + 1}"),
          sequentialCycle(w, want, s"v${i + 1}"))
      }
      assert(flags.map(_._1) === flags.map(_._2), label)
      assert(flags.head._1 && !flags.last._1, label)
      assert(ModelRegistry.productionVersion(got) ===
        ModelRegistry.productionVersion(want), label)
      val g = registry(got)
      assert(g === registry(want), label)
      assert(g("version=v1/item_similarity")._3.nonEmpty, label)
    }
  }

  test("C4: a promote that cannot move the pointer throws and leaves " +
    "it unchanged") {
    val reg = java.nio.file.Files.createTempDirectory("regfail").toString
    val keep = new java.io.File(reg, "production/keep")
    assert(keep.mkdirs()) // `production` is a non-empty directory
    val before = scala.util.Try(ModelRegistry.productionVersion(reg)).toString
    intercept[java.io.IOException](ModelRegistry.promote(reg, "v2"))
    assert(scala.util.Try(ModelRegistry.productionVersion(reg)).toString
      === before)
    assert(keep.exists())
  }
}
