package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Verify's dump loop must never drop a failing query silently. */
class VerifySpec extends SparkSpec {

  test("a query that throws lands in failed.json and its siblings " +
    "are still written") {
    val out = java.nio.file.Files.createTempDirectory("graft-verify").toString
    val ok: (SparkSession, String) => DataFrame =
      (s, _) => s.range(0, 3).toDF("id")
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "a_ok" -> ok,
      "b_boom" -> ((_, _) => throw new IllegalStateException("planted")),
      "c_ok" -> ok)
    val failed = Verify.dump(spark, "unused", out, queries)
    assert(failed.keySet == Set("b_boom"))
    assert(failed("b_boom").contains("planted"))
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/failed.json")), "UTF-8")
    assert(json.contains("\"b_boom\": ") && json.contains("planted"))
    Seq("a_ok", "c_ok").foreach { n =>
      assert(spark.read.parquet(s"$out/$n").count() == 3, n)
    }
    assert(!new java.io.File(s"$out/b_boom").exists())
  }
}
