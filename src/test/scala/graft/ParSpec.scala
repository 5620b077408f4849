package graft

import graft.operators.Par
import org.apache.spark.sql.functions._

/** The round-14 driver-thread overlap helper (guide §2.6): results
  * must be order-preserving and value-identical to the sequential
  * form, failures must propagate like a sequential call's would, and
  * materialize() must hand back frames whose rows equal the inputs'.
  */
class ParSpec extends SparkSpec {

  test("run2 returns both results in order while overlapping") {
    val (a, b) = Par.run2(() => { Thread.sleep(30); "left" },
      () => "right")
    assert(a == "left" && b == "right")
  }

  test("run propagates a thunk failure as the original exception") {
    val boom = intercept[IllegalStateException] {
      Par.run[Int](Seq(() => 1, () => throw new IllegalStateException("x")))
    }
    assert(boom.getMessage == "x")
  }

  test("run rethrows the first failure in completion order without " +
    "waiting for a slower sibling submitted before it") {
    val latch = new java.util.concurrent.CountDownLatch(1)
    val t0 = System.nanoTime()
    val boom = intercept[IllegalStateException] {
      Par.run[Int](Seq(
        () => { latch.await(30, java.util.concurrent.TimeUnit.SECONDS); 0 },
        () => throw new IllegalStateException("fast")))
    }
    val waitedS = (System.nanoTime() - t0) / 1e9
    latch.countDown()
    assert(boom.getMessage == "fast")
    assert(waitedS < 10.0, s"waited $waitedS s for the blocked sibling")
  }

  test("run fails loudly when a sibling ignores cancellation") {
    val release = new java.util.concurrent.CountDownLatch(1)
    val stubborn: () => Int = () => {
      while (release.getCount > 0) {
        try Thread.sleep(10)
        catch { case _: InterruptedException => () } // swallowed
      }
      0
    }
    try {
      val e = intercept[IllegalStateException] {
        Par.run[Int](Seq(stubborn,
          () => throw new IllegalArgumentException("boom")), drainMs = 200)
      }
      assert(e.getMessage.contains("still running"))
      assert(e.getCause.isInstanceOf[IllegalArgumentException])
      assert(e.getCause.getMessage == "boom")
    } finally release.countDown()
  }

  test("materialize returns frames row-identical to their inputs and " +
    "usable from the calling thread (Spark actions inside threads)") {
    val df1 = spark.range(0, 100).toDF("id")
      .withColumn("v", col("id") * 2)
    val df2 = spark.range(0, 50).toDF("id")
      .groupBy((col("id") % 5).as("k")).agg(count(lit(1)).as("n"))
    val Seq(m1, m2) = Par.materialize(df1, df2)
    assert(m1.columns.toSeq == Seq("id", "v"))
    assert(m1.count() == 100 && m2.count() == 5)
    assert(m1.agg(sum(col("v"))).head.getLong(0) == 9900L)
    assert(m2.agg(sum(col("n"))).head.getLong(0) == 50L)
  }

  test("overlapped label fixpoints equal the sequential ones " +
    "(clusterAgreement-shaped workload: two independent CC chains)") {
    import spark.implicits._
    val pairs1 = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("i", "j")
    val pairs2 = Seq((1L, 3L), (4L, 5L)).toDF("i", "j")
    val universe = spark.range(1, 12).toDF("doc_id")
    def labels(p: org.apache.spark.sql.DataFrame) =
      operators.Dedup.labelComponents(p, universe)
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val seq1 = labels(pairs1); val seq2 = labels(pairs2)
    val (par1, par2) = Par.run2(() => labels(pairs1), () => labels(pairs2))
    assert(par1.sameElements(seq1) && par2.sameElements(seq2))
  }
}
