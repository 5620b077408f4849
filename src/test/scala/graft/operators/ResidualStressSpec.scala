package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-7 instrument for the round-6 driver-gate hash flake on
  * `sim_knn_ivfpq_res` (VERDICT r6 finding #1): the residual-ADC tier
  * is rerun across DISTINCT physical input layouts — different file
  * splits, pre-shuffled input plans, different shuffle-partition
  * counts, and a parquet rewrite with a different file count — inside
  * the already-populated suite JVM, and every rerun must produce
  * byte-identical rows. DeterminismSpec covers the registered-query
  * surface at two partition counts; this spec drills the one flagged
  * operator across MORE layout axes (file-split geometry is the axis
  * a shuffle-partition rerun cannot reach — input splits decide the
  * initial partitioning of every scan, localCheckpoint layout, and
  * AQE's coalesce decisions).
  *
  * Together with the pure-integer residual fix (residualSlicesQ now
  * subtracts int64 micro-units — no float subtraction, so no
  * manufactured 6-decimal half-ties), a green run here is the
  * layout-nondeterminism half of the flake attribution: if the
  * committed operator cannot drift across these layouts, a one-off
  * driver-gate mismatch that no rerun reproduces is evidence of a
  * glitch in that run, not of a surviving tie in the operator.
  */
class ResidualStressSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("residual IVF-PQ is byte-stable across input-split and partition layouts") {
    val emb = graft.Tables.embeddings(spark, d)
    val base = canon(Similarity.knnIvfPqRes(emb))

    // axis 1: pre-shuffled input plans (single partition, prime count)
    assert(canon(Similarity.knnIvfPqRes(emb.repartition(1))) == base,
      "drifted under repartition(1)")
    assert(canon(Similarity.knnIvfPqRes(emb.repartition(13))) == base,
      "drifted under repartition(13)")

    // axis 2: shuffle-partition count (the DeterminismSpec axis,
    // re-applied to this operator specifically)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      assert(canon(Similarity.knnIvfPqRes(emb)) == base,
        "drifted under shuffle.partitions=7")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)

    // axis 3: file-split geometry — rewrite the table as 5 files and
    // again as 1 file; the scan's initial partitioning (and every
    // downstream localCheckpoint layout) differs from the source read
    val work = java.nio.file.Files
      .createTempDirectory("graft-res-stress").toString
    Seq(1, 5).foreach { n =>
      emb.repartition(n).write.mode("overwrite").parquet(s"$work/f$n")
      assert(canon(Similarity.knnIvfPqRes(spark.read.parquet(s"$work/f$n")))
        == base, s"drifted under a $n-file parquet rewrite")
    }

    // axis 4: forced tiny input splits (maxPartitionBytes) — many
    // splits per file, the multi-executor read shape local[4] would
    // otherwise never exercise
    val beforeMpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
      assert(canon(Similarity.knnIvfPqRes(
        spark.read.parquet(s"$work/f5"))) == base,
        "drifted under 64 KiB input splits")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", beforeMpb)
  }
}
