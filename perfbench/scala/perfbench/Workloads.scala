package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Cleaning, Recommend}
import graft.plans.{Medallion, ModelRegistry}
import graft.streaming.{Alerts, Dashboard}

/** The staged order source: the generated parquet, cached in memory the
  * way the reference's Postgres source serves extraction queries.
  */
object Source {
  def stage(r: Run, times: Int = 3): DataFrame = {
    var df: DataFrame = null
    (1 to times).foreach { _ =>
      r.stage {
        if (df != null) df.unpersist(true)
        df = r.spark.read.parquet(r.input("source")).cache()
        df.count()
      }
    }
    df
  }
}

/** A window of consecutive days through bronze→silver→gold, the alert
  * tier over the day's bronze and the dashboard tables over its silver,
  * then a seeded share of the days re-run as catchup.
  */
object DailyBackfill extends Workload {
  def run(r: Run): Unit = {
    val spark = r.spark
    val t = r.tracer
    val source = Source.stage(r)
    val days = r.strings("days")
    val catchup = r.strings("catchup")
    r.rowsPerPass = r.plan.get("rows_per_pass").asLong
    var bronze = 0L; var silver = 0L

    def day(lake: String, ds: String): Unit = {
      val res = t("medallion") { Medallion.runDay(source, lake, ds) }
      bronze += res.extracted; silver += res.cleaned
      // the alert transforms are plain DataFrame => DataFrame, so the day's
      // bronze runs through the same code a stream would
      t("alerts") {
        val b = spark.read.parquet(s"$lake/bronze/orders").filter(col("date") === ds)
        Alerts.formatAlertMessage(Alerts.detectAlerts(b))
          .write.mode("overwrite").parquet(s"$lake/alerts/messages/date=$ds")
        Alerts.rapidOrders(b, "order_date")
          .write.mode("overwrite").parquet(s"$lake/alerts/rapid/date=$ds")
      }
      t("dashboard") {
        val s = spark.read.parquet(s"$lake/silver/orders").filter(col("date") === ds)
        Dashboard.allMetrics(s).foreach { case (name, df) =>
          df.write.mode("overwrite").parquet(s"$lake/dashboard/$name/date=$ds")
        }
      }
    }

    r.warmup(day(s"${r.work}/lake-warm", r.plan.get("warmup_day").asText))
    var last = ""
    r.passes { p =>
      val lake = s"${r.work}/lake-$p"
      days.foreach { ds => r.latenciesMs += 1e3 * r.unit(ds)(day(lake, ds)) }
      def state() = t.checking((snapshot(lake, catchup), catchup.map(ds => gold(spark, lake, ds))))
      val (before, goldBefore) = state()
      catchup.foreach(ds => r.unit(s"catchup $ds")(day(lake, ds)))
      val (after, goldAfter) = state()
      r.check(s"pass$p.catchup_other_days_byte_identical", before == after && before.nonEmpty,
        s"${before.size} files before, ${after.size} after, " +
          s"${before.count { case (k, v) => !after.get(k).contains(v) }} changed")
      r.check(s"pass$p.catchup_gold_unchanged", goldAfter == goldBefore)
      if (last.nonEmpty) deleteTree(new File(last))
      last = lake
    }
    r.extra("lake") = last
    r.extra("medallion.clean_ratio") = if (bronze > 0) silver.toDouble / bronze else 0.0
    val lakeBronze = spark.read.parquet(s"$last/bronze/orders").count()
    r.extra("alerts.hit_ratio") =
      if (lakeBronze > 0) spark.read.parquet(s"$last/alerts/messages").count().toDouble / lakeBronze
      else 0.0
  }

  /** md5 of every data file under a date partition other than `skip`. */
  def snapshot(lake: String, skip: Seq[String]): Map[String, String] = {
    val root = new File(lake).toPath
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).toVector
    files.map(root.relativize(_).toString)
      .filter(p => p.contains("date=") && !skip.exists(ds => p.contains(s"date=$ds")))
      .map { p =>
        val md = MessageDigest.getInstance("MD5").digest(
          java.nio.file.Files.readAllBytes(root.resolve(p)))
        p -> md.map("%02x".format(_)).mkString
      }.toMap
  }

  def gold(spark: SparkSession, lake: String, ds: String): Seq[String] =
    Seq("daily_summary", "category_agg").flatMap { t =>
      spark.read.parquet(s"$lake/gold/$t").filter(col("date") === ds)
        .collect().map(_.toString).sorted
    }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Retrain cycles over growing cut-off windows, each gated by the
  * registry, with a closed-loop client requesting top-N from the
  * production model between cycles.
  */
object CfRetrain extends Workload {
  def run(r: Run): Unit = {
    val spark = r.spark
    val t = r.tracer
    val source = Source.stage(r)
    val cutoffs = r.strings("cutoffs")
    def pairs(key: String) = r.plan.get(key).elements().asScala
      .map(n => (n.get(0).asLong, n.get(1).asInt)).toVector
    val requests = pairs("requests")
    val perCycle = requests.size / cutoffs.size
    r.rowsPerPass = r.plan.get("rows_per_pass").asLong
    var gates = 0; var promotions = 0

    def interactions(cut: String): DataFrame = t("cleaning") {
      Cleaning.cleanOrders(source.filter(col("order_date") < to_timestamp(lit(cut))))
        .select(col("customer_key").as("user_id"), col("product_key").as("item_id"))
        .distinct().localCheckpoint(true)
    }

    def serve(reg: String, inter: DataFrame, user: Long, topN: Int): Array[org.apache.spark.sql.Row] =
      t("recommend") {
        val v = ModelRegistry.productionVersion(reg).getOrElse(sys.error("no production model"))
        val sim = spark.read.parquet(s"$reg/version=$v/item_similarity")
        val recs = Recommend.recommend(inter.filter(col("user_id") === user), sim)
        val out = Recommend.serveTopN(recs, topN).collect()
        t.addRows("recommend", out.length)
        out
      }

    r.warmup {
      val reg = s"${r.work}/registry-warm"
      val inter = interactions(r.plan.get("warmup_cutoff").asText)
      ModelRegistry.trainEvalRegister(spark, inter, reg, "v1")
      pairs("warmup_requests").foreach { case (user, topN) => serve(reg, inter, user, topN) }
    }
    var last = ""
    r.passes { p =>
      val reg = s"${r.work}/registry-$p"
      val promoted = cutoffs.zipWithIndex.map { case (cut, c) =>
        var inter: DataFrame = null
        var better = false
        r.unit(s"cycle $c") {
          inter = interactions(cut)
          better = t("registry") { ModelRegistry.trainEvalRegister(spark, inter, reg, s"v${c + 1}") }
        }
        gates += 1
        if (better) promotions += 1
        requests.slice(c * perCycle, (c + 1) * perCycle).foreach { case (user, topN) =>
          r.attempted += 1
          val t0 = System.nanoTime()
          try {
            val rows = r.timed(serve(reg, inter, user, topN))
            val ranks = rows.map(_.getAs[Long]("rank")).sorted.toSeq
            if (ranks != (1L to rows.length.toLong) || rows.length > topN) {
              r.failed += 1
              r.check(s"pass$p.request.$user.$topN", ok = false, s"ranks $ranks")
            }
          } catch { case e: Throwable =>
            r.failed += 1
            System.err.println(s"[perfbench] request failed: $e")
          }
          r.latenciesMs += (System.nanoTime() - t0) / 1e6
        }
        better
      }
      r.extra("promoted") = promoted
      r.extra("production") = t.checking(ModelRegistry.productionVersion(reg).getOrElse(""))
      if (last.nonEmpty) DailyBackfill.deleteTree(new File(last))
      last = reg
    }
    r.extra("registry") = last
    r.extra("oracle") = Seq("ml_coverage", "ml_precision_at_10")
      .map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
    r.extra("registry.promote_ratio") = if (gates > 0) promotions.toDouble / gates else 0.0
  }
}

/** Registered corpus-tier queries run through the program's query
  * registry over the generated corpus, in a seeded order.
  */
object CorpusIndex extends Workload {
  def layer(q: String): String =
    if (q.startsWith("dedup_")) "dedup" else if (q.startsWith("sim_")) "similarity" else "text"

  def run(r: Run): Unit = {
    val spark = r.spark
    val corpus = r.input("corpus")
    val queries = r.strings("queries")
    val registry = graft.SparkEntry.queries
    r.rowsPerPass = r.plan.get("rows_per_pass").asLong
    (1 to 3).foreach(_ => r.stage {
      Seq("documents", "embeddings").foreach(n => spark.read.parquet(s"$corpus/$n.parquet").count())
    })
    def query(q: String, dir: String, out: String): Unit = r.tracer(layer(q)) {
      registry(q)(spark, dir).write.mode("overwrite").parquet(s"$out/$q")
    }
    // the queries that persist an index keep it per corpus directory, so
    // every run over the corpus gets a fresh copy and builds them anew
    def fresh(dir: String): String = {
      Files.createDirectories(Paths.get(dir))
      Seq("documents", "embeddings").foreach { n =>
        Files.copy(Paths.get(s"$corpus/$n.parquet"), Paths.get(s"$dir/$n.parquet"))
      }
      dir
    }
    // every query once over the corpus, untimed: JIT, codegen and class
    // loading at the shapes the timed pass sees
    r.warmup {
      val dir = fresh(s"${r.work}/corpus-warm")
      queries.foreach(q => query(q, dir, s"${r.work}/corpus-warm-out"))
    }
    val out = s"${r.work}/corpus-out"
    r.passes { p =>
      val dir = fresh(s"${r.work}/corpus-$p")
      queries.foreach { q => r.latenciesMs += 1e3 * r.unit(q)(query(q, dir, out)) }
    }
    r.extra("out") = out
    r.extra("oracle") = queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap
  }
}
