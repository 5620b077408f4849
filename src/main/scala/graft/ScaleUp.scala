package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-cliff probe data generator: replicates an existing testdata
  * dir `factor`× by KEY-SHIFTED union — every surrogate key gets a
  * per-replica stride offset, so referential integrity (orders→
  * customer, lineitem→part/supplier, replica-local) and PER-KEY
  * densities (lines per order, orders per customer, events per user)
  * are preserved while every data-sized cardinality grows `factor`×.
  * Dimension tables bounded by a domain (region, nation) and the
  * calendar (timestamps) are NOT scaled — that is how real data
  * grows: more rows per day, not more days. Document text and
  * embedding vectors repeat verbatim across replicas (shifted ids),
  * so dedup/ANN operators see factor-sized duplicate clusters — a
  * deliberate stress, noted when reading BENCH_sf1.json.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <outDir> <factor>
  */
object ScaleUp {

  /** Stride between replicas' key spaces — far above any sf1 key. */
  val Stride = 100000000L

  def replicate(df: DataFrame, keys: Seq[String], factor: Int): DataFrame =
    (0 until factor).map { r =>
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(r * Stride)))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    val spark = Harness.session(Harness.envCores)
    // events.ts is TIMESTAMP(NANOS); read it as a plain long (same
    // nanos value) — Tables.events applies `ts div 1000` on the long
    // form identically, so the scaled copy stays loader-compatible.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val plan: Seq[(String, Seq[String])] = Seq(
      "region" -> Nil,
      "nation" -> Nil,
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    plan.foreach { case (name, keys) =>
      val df = spark.read.parquet(s"$src/$name.parquet")
      val scaled = if (keys.isEmpty) df else replicate(df, keys, factor)
      scaled.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name -> ${if (keys.isEmpty) "copied"
        else s"${factor}x"}")
    }
    spark.stop()
  }
}
