package graft.plans

import graft.operators.{Cleaning, Par, Recommend}
import graft.functions.Functions._
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The daily medallion pipeline as one lazily-planned program per
  * layer (SURVEY §3.1, §2.10; reference dags/daily_pipeline.py) —
  * Airflow task boundaries become function boundaries. Each layer is
  * materialized once per day and written once: bronze and silver are
  * each computed in one pass that also counts them, and the layer
  * contracts (bronze/silver/gold parquet) are written from those
  * materializations, never re-derived by reading a layer back.
  *
  * Semantics preserved from the reference:
  *  - C1 idempotent backfill: every write is
  *    `overwrite`+`partitionBy(date)` with dynamic partition
  *    overwrite, so re-running a day replaces exactly that day;
  *  - C5 empty-day no-op: each stage short-circuits on empty input;
  *  - C2 task chain extract→clean→aggregate→ml→train→eval→register.
  *
  * Scale notes: per-day partition pruning at every read (hive layout);
  * a 1000-executor backfill runs days in parallel driver-side with no
  * cross-day shuffle at all.
  */
object Medallion {

  final case class DayResult(ds: String, extracted: Long, cleaned: Long)

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date").parquet(path)

  /** Bronze: S1 filtered extraction of one day from the order-shaped
    * source + P7 audit columns.
    */
  def extractDay(orders: DataFrame, ds: String): DataFrame =
    orders.filter(to_date(col("order_date")) === lit(ds))
      .withColumn("_ingestion_timestamp", current_timestamp())
      .withColumn("date", lit(ds))

  /** Silver: P2–P6 cleaning. */
  def cleanDay(bronze: DataFrame): DataFrame =
    Cleaning.cleanOrders(bronze)
      .withColumn("_cleaned_timestamp", current_timestamp())

  /** Gold: A1 daily summary + A2 category rollup. */
  def dailySummary(silver: DataFrame, ds: String): DataFrame =
    silver.agg(
      count(lit(1)).as("total_orders"),
      dsum(col("total")).as("total_revenue"),
      countDistinct(col("customer_id")).as("unique_customers"),
      countDistinct(col("product_name")).as("unique_products"))
      .withColumn("date", lit(ds))

  def categoryAgg(silver: DataFrame, ds: String): DataFrame =
    silver.groupBy(col("category"))
      .agg(count(lit(1)).as("order_count"), dsum(col("total")).as("revenue"))
      .withColumn("date", lit(ds))

  /** Copy-on-write MERGE (upsert) over a date-partitioned parquet
    * table — the Delta/Hudi upsert shape without a table format:
    * rewrite ONLY the partitions the updates touch. Existing rows in
    * touched partitions are anti-joined out by key and replaced by /
    * unioned with the update rows; untouched partitions are never
    * read or written (partition pruning bounds the rewrite, which is
    * what makes late-arriving corrections affordable on a 100 TB
    * table).
    *
    * `updates` must carry the partition column `date` and the merge
    * key. The merged frame is localCheckpoint-ed before the write:
    * it materializes off the source files, so the dynamic-partition
    * overwrite isn't rejected as a read-write cycle on `dir`.
    */
  def upsertPartitioned(spark: SparkSession, dir: String,
                        updates: DataFrame, key: String): Unit = {
    val days = updates.select(col("date")).distinct()
      .collect().map(_.getString(0)).toSeq
    if (days.isEmpty) return
    val existing = spark.read.parquet(dir)
      .filter(col("date").isin(days: _*))
    val merged = existing.join(updates.select(col(key)), Seq(key), "left_anti")
      .unionByName(updates)
      .localCheckpoint()
    write(merged, dir)
  }

  /** Eagerly local-checkpoint `df`, counting its rows in the same pass
    * (an unnamed Observation, so days run from concurrent driver
    * threads never share a metric name).
    */
  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val obs = new Observation()
    val out = df.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    (out, obs.get("n").asInstanceOf[Long])
  }

  /** One day end-to-end, bronze→silver→gold on disk. Idempotent per
    * partition; total on empty days. Bronze and silver are each one
    * job; the four layer writes overlap two at a time (all four at
    * once raised the daily benchmark's peak RSS by 3–8%).
    */
  def runDay(source: DataFrame, lakeDir: String, ds: String): DayResult = {
    val (bronze, nB) = materialize(extractDay(source, ds))
    if (nB == 0) return DayResult(ds, 0, 0) // C5: graceful empty day

    // cleaned as if read back from the bronze file: every column
    // nullable, so silver's file schema is the layer contract's
    // (`Dataset.to` would keep the checkpoint's non-null columns)
    val nullable = StructType(bronze.schema.map(_.copy(nullable = true)))
    val spark = source.sparkSession
    val (silver, nS) =
      materialize(cleanDay(spark.createDataFrame(bronze.rdd, nullable)))

    Par.run2(
      () => write(bronze, s"$lakeDir/bronze/orders"),
      () => write(silver, s"$lakeDir/silver/orders"))
    Par.run2(
      () => write(dailySummary(silver, ds), s"$lakeDir/gold/daily_summary"),
      () => write(categoryAgg(silver, ds), s"$lakeDir/gold/category_agg"))
    DayResult(ds, nB, nS)
  }
}

/** Versioned parquet model registry (SURVEY §2.1 S6/S7 replacement):
  * the CF model is two long-form tables (item_similarity, id maps
  * implicit in it) written under `models/version=<v>/`, with a
  * `production` pointer file — no pickle, no external tracker. C4's
  * best-model gate decides promotion.
  */
object ModelRegistry {

  final case class Metrics(coverage: Double, precisionAt10: Double)

  /** C4 gate exactly as the reference (daily_pipeline.py:592-604):
    * better coverage wins; a coverage tie within 0.01 falls through
    * to precision.
    */
  def isBetter(candidate: Metrics, best: Option[Metrics]): Boolean =
    best match {
      case None => true
      case Some(b) =>
        candidate.coverage > b.coverage ||
          (math.abs(candidate.coverage - b.coverage) < 0.01 &&
            candidate.precisionAt10 > b.precisionAt10)
    }

  /** Write a version's two tables; the writes are independent, so
    * they overlap.
    */
  def save(spark: SparkSession, registryDir: String, version: String,
           sim: DataFrame, m: Metrics): Unit = {
    import spark.implicits._
    val metrics = Seq((version, m.coverage, m.precisionAt10))
      .toDF("version", "coverage", "precision_at_10")
    Par.run2(
      () => sim.write.mode(SaveMode.Overwrite)
        .parquet(s"$registryDir/version=$version/item_similarity"),
      () => metrics.write.mode(SaveMode.Overwrite)
        .parquet(s"$registryDir/version=$version/metrics"))
  }

  /** Promote: atomically repoint the production alias (tmp+rename);
    * a failed move throws instead of leaving the old pointer silently.
    */
  def promote(registryDir: String, version: String): Unit = {
    val dir = new java.io.File(registryDir)
    dir.mkdirs()
    val tmp = new java.io.File(dir, ".production.tmp")
    java.nio.file.Files.writeString(tmp.toPath, version)
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(dir, "production").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def productionVersion(registryDir: String): Option[String] = {
    val f = new java.io.File(registryDir, "production")
    if (f.exists()) Some(java.nio.file.Files.readString(f.toPath).trim)
    else None
  }

  def productionMetrics(spark: SparkSession, registryDir: String): Option[Metrics] =
    productionVersion(registryDir).map { v =>
      val r = spark.read.parquet(s"$registryDir/version=$v/metrics")
        .select("coverage", "precision_at_10").head()
      Metrics(r.getDouble(0), r.getDouble(1))
    }

  /** Train→evaluate→conditionally-register, the reference's ML tail
    * (C2/C4) on any interactions frame. The similarity model is
    * materialized once and serves the evaluation and the save alike
    * (daily_pipeline.py:361-533 trains one matrix): its checkpoint is
    * lazy, so its last stage runs inside the precision read (the one
    * gate read of `sim`) rather than as a job of its own, and the save
    * re-reads it. The gate's three reads are independent and overlap.
    */
  def trainEvalRegister(spark: SparkSession, interactions: DataFrame,
                        registryDir: String, version: String): Boolean = {
    val train = Recommend.trainSet(interactions)
    val eval_ = Recommend.evalSet(interactions)
    val sim = Recommend.itemSimilarity(train).localCheckpoint(false)
    val recs = Recommend.recommend(train, sim)
    val Seq(cov: Row, prec: Row, best: Option[Metrics @unchecked]) =
      Par.run[Any](Seq(
        () => Recommend.coverage(train, eval_).head(),
        () => Recommend.precisionAtK(recs, eval_).head(),
        () => productionMetrics(spark, registryDir)))
    val m = Metrics(cov.getAs[Double]("overall_coverage"),
      prec.getAs[Double]("avg_precision"))
    val better = isBetter(m, best)
    if (better) {
      save(spark, registryDir, version, sim, m)
      promote(registryDir, version)
    }
    better
  }
}
