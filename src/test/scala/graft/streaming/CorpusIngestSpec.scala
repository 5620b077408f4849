package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

case class StreamDoc(doc_id: Long, text: String, lang: String,
                     source: String)

class CorpusIngestSpec extends SparkSpec {

  import spark.implicits._

  private val good = "the quick brown fox jumps over the lazy dog and " +
    "then it ran away to find some other interesting things in a forest"

  test("streaming gate splits keepers and quarantine across batches") {
    implicit val sc = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("ingest").toString
    val (clean, quar, ckpt) = (s"$root/clean", s"$root/quar", s"$root/ckpt")
    val in = MemoryStream[StreamDoc]
    val q = CorpusIngest.run(in.toDF(), clean, quar, ckpt)

    in.addData(
      StreamDoc(1, good, "en", "web"),
      StreamDoc(2, "spam spam spam spam spam spam the of and to", "en", "web"))
    q.processAllAvailable()
    in.addData(StreamDoc(3, good + " second wave of text here", "en", "crawl"))
    q.processAllAvailable()
    q.stop()

    val kept = spark.read.parquet(clean)
      .select("doc_id", "source").as[(Long, String)].collect().sortBy(_._1)
    assert(kept.toSeq === Seq((1L, "web"), (3L, "crawl")))
    // quality column rides along for downstream budget selection
    assert(spark.read.parquet(clean).columns.contains("quality"))

    val dropped = spark.read.parquet(quar)
      .select("doc_id", "r_keep").as[(Long, Int)].collect()
    assert(dropped.map(_._1).toSeq === Seq(2L))
    assert(dropped.head._2 === 0) // audit flag names the failing gate
  }

  test("stream-static near-dup gate equals the batch incremental pass") {
    implicit val sc = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("neardup").toString
    // corpus ids end in 0-7 (the batch operator's split rule), batch
    // ids end in 8/9 — so the batch-side incrementalDedup run on the
    // union is exactly this stream's oracle
    val corpus = Seq(
      (10L, good), (20L, "some entirely different corpus text " +
        "discussing completely other topics at length today")).toDF("doc_id", "text")
    val bands = CorpusIngest.corpusBands(corpus).cache()
    val corpusSh = CorpusIngest.corpusShingles(corpus).cache()
    val in = MemoryStream[StreamDoc]
    val q = CorpusIngest.runNearDup(in.toDF().select($"doc_id", $"text"),
      bands, corpusSh, s"$root/clean", s"$root/ckpt")
    in.addData(
      StreamDoc(18, good + " extra", "en", "web"), // near-dup of corpus 10
      StreamDoc(19, "fresh unseen material with plenty of new words " +
        "that match nothing already stored in the lake", "en", "web"))
    q.processAllAvailable()
    in.addData(StreamDoc(29, good, "en", "web")) // exact text of corpus 10
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(s"$root/clean")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(19L), s"stream kept $kept")
    // equivalence with the batch operator on corpus ∪ stream
    val union = corpus.unionByName(Seq(
      (18L, good + " extra"),
      (19L, "fresh unseen material with plenty of new words " +
        "that match nothing already stored in the lake"),
      (29L, good)).toDF("doc_id", "text"))
    val batchDropped = graft.operators.Dedup.incrementalDedup(union)
      .select("batch_id").as[Long].collect().toSet
    assert(batchDropped === Set(18L, 29L))
  }

  test("stream-static span dedup equals the batch incremental pass") {
    implicit val sc = spark.sqlContext
    import graft.operators.TextAnalysis
    val root = java.nio.file.Files.createTempDirectory("spandup").toString
    // corpus ids end 0-7, batch ids 8/9 — so the batch-side
    // spanMergeIncremental on the union is exactly this stream's
    // oracle (the one-codepath contract)
    val corpus = Seq(
      (7L, "k1 k2 k3 k4 filler words here"),
      (10L, "unrelated corpus document text entirely")).toDF("doc_id", "text")
    val fps = CorpusIngest.corpusWindowFps(corpus, w = 3).cache()
    val in = MemoryStream[StreamDoc]
    val q = CorpusIngest.runSpanDedup(in.toDF().select($"doc_id", $"text"),
      fps, s"$root/spans", s"$root/ckpt", w = 3)
    in.addData(
      StreamDoc(8, "x k1 k2 k3 k4 y bb1 bb2 bb3", "en", "web"),
      StreamDoc(18, "bb1 bb2 bb3 tail tokens pad", "en", "web"))
    q.processAllAvailable()
    in.addData(StreamDoc(9, "k2 k3 k4 suffix run only", "en", "web"))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$root/spans")
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet
    // 8: corpus run k1..k4 at [1,5); 18: batch-internal only → none;
    // 9: k2 k3 k4 at [0,3) (window "k2 k3 k4" exists in corpus doc 7)
    assert(got === Set((8L, 1L, 5L), (9L, 0L, 3L)))
    // equivalence with the registered batch operator on corpus ∪ stream
    val union = corpus.unionByName(Seq(
      (8L, "x k1 k2 k3 k4 y bb1 bb2 bb3"),
      (18L, "bb1 bb2 bb3 tail tokens pad"),
      (9L, "k2 k3 k4 suffix run only")).toDF("doc_id", "text"))
    val batch = TextAnalysis.spanMergeIncremental(union, w = 3)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet
    assert(batch === got)
  }

  test("span-cut ingest: cuts against a LIVE index — batch 2 sees " +
    "batch 1's windows — and equals the sequential batch passes") {
    implicit val sc = spark.sqlContext
    import graft.operators.TextAnalysis
    val root = java.nio.file.Files.createTempDirectory("spancut").toString
    val (fpDir, clean, ckpt) = (s"$root/fps", s"$root/clean", s"$root/ckpt")
    val corpus = Seq(
      (7L, "k1 k2 k3 k4 filler words here")).toDF("doc_id", "text")
    CorpusIngest.seedSpanIndex(corpus, fpDir, w = 3)
    val in = MemoryStream[StreamDoc]
    val q = CorpusIngest.runSpanCut(in.toDF().select($"doc_id", $"text"),
      fpDir, clean, ckpt, w = 3)
    val b1 = Seq(StreamDoc(8, "x k1 k2 k3 k4 y", "en", "web"),
      StreamDoc(18, "bb1 bb2 bb3 tail tokens pad", "en", "web"))
    val b2 = Seq(StreamDoc(9, "bb1 bb2 bb3 other stuff", "en", "web"))
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    q.stop()
    def fp(s: String): Long = spark.range(1)
      .select(graft.functions.Functions.hex60(
        org.apache.spark.sql.functions.lit(s)).as("h")).head().getLong(0)
    val got = spark.read.parquet(clean)
      .select("doc_id", "cut_tokens", "kept_fp")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    // 8: corpus run k1..k4 cut; 18: fresh, whole; 9: its bb1 bb2 bb3
    // window was published by BATCH 1's doc 18 — the cross-micro-batch
    // duplication the static-snapshot runSpanDedup cannot see
    assert(got(8L) === ((4L, fp("x y"))))
    assert(got(18L) === ((0L, fp("bb1 bb2 bb3 tail tokens pad"))))
    assert(got(9L) === ((3L, fp("other stuff"))))
    assert(got.keySet === Set(8L, 18L, 9L))
    // stream ≡ batch: the same two cycles through the batch verbs —
    // cut against the index-so-far, then augment the index
    val b1df = b1.toDF().select($"doc_id", $"text")
    val b2df = b2.toDF().select($"doc_id", $"text")
    val idx1 = CorpusIngest.corpusWindowFps(corpus, w = 3)
    val seq1 = TextAnalysis.spanCutAgainstIndex(b1df, idx1, w = 3)
    val idx2 = idx1.unionByName(
      TextAnalysis.spanWindows(b1df, 3).select("fp").distinct()).distinct()
    val seq2 = TextAnalysis.spanCutAgainstIndex(b2df, idx2, w = 3)
    val batchGot = seq1.unionByName(seq2)
      .select("doc_id", "cut_tokens", "kept_fp")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(batchGot === got)
    // replay idempotence: re-running batch 1 (same id) against the
    // now-augmented index dir must rewrite, not append, and must NOT
    // dedup the batch against its own published fps
    CorpusIngest.spanIngestBatch(b1df, fpDir, clean, batchId = 0L, w = 3)
    val replay = spark.read.parquet(clean)
      .select("doc_id", "cut_tokens", "kept_fp")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(replay === got)
    // lifecycle tail: compaction folds seed + per-batch partitions
    // into one, preserves the fp SET exactly, and the SAME-checkpoint
    // continuation (next batch id, per the contract) cuts identically
    // afterwards without touching earlier cleaned partitions
    val before = spark.read.parquet(fpDir)
      .select("fp").as[Long].collect().toSet
    val n = CorpusIngest.compactSpanIndex(spark, fpDir)
    val after = spark.read.parquet(fpDir)
      .select("fp").as[Long].collect().toSet
    assert(after === before)
    assert(n === before.size.toLong) // folded to distinct fps
    assert(new java.io.File(s"$root/fps").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch=")) === 1)
    // z1/z2 flank the runs so no window of THIS doc matches b1 doc
    // 8's published flanks: corpus run k1..k4 → [1,5), batch-1 run
    // bb1 bb2 bb3 → [6,9), both found through the compacted partition
    val b3 = Seq((28L, "z1 k1 k2 k3 k4 z2 bb1 bb2 bb3"))
      .toDF("doc_id", "text")
    CorpusIngest.spanIngestBatch(b3, fpDir, clean, batchId = 2L, w = 3)
    val postCompact = spark.read.parquet(clean)
      .select("doc_id", "cut_tokens", "kept_fp")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(postCompact(28L) === ((7L, fp("z1 z2"))))
    // the earlier epochs' cleaned partitions are untouched
    assert(postCompact - 28L === got)
    // and a wrong-w ingest REFUSES instead of silently missing spans
    val ex = intercept[IllegalArgumentException] {
      CorpusIngest.spanIngestBatch(b3, fpDir, clean, batchId = 3L, w = 5)
    }
    assert(ex.getMessage.contains("stamped w=3"))
  }

  test("stream-static eval guard drops incoming docs that carry eval " +
    "content, one kernel with the batch operator") {
    implicit val sc = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("evalguard").toString
    val evalDocs = Seq(
      (13L, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val idx = CorpusIngest.evalShingleIndex(evalDocs).cache()
    val in = MemoryStream[StreamDoc]
    val q = CorpusIngest.runEvalGuard(in.toDF().select($"doc_id", $"text"),
      idx, s"$root/clean", s"$root/ckpt")
    in.addData(
      StreamDoc(100, "alpha beta gamma delta epsilon zeta eta theta iota",
        "en", "web"),                                      // eval copy: drop
      StreamDoc(101, "completely fresh training text with new words only",
        "en", "web"))                                      // keep
    q.processAllAvailable()
    in.addData(StreamDoc(102, "short", "en", "web"))       // no shingles: keep
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(s"$root/clean")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(101L, 102L))
    // one kernel: the stream kept exactly what the batch verb keeps
    val all = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (101L, "completely fresh training text with new words only"),
      (102L, "short")).toDF("doc_id", "text")
    val batchKept = CorpusIngest.evalGuardBatch(all, idx)
      .select("doc_id").as[Long].collect().toSet
    assert(batchKept === kept)
  }

  test("compaction crash states: re-run converges from every leftover " +
    "layout and the fp set is preserved throughout") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("spancomp").toString
    val dir = s"$root/fps"
    val corpus = Seq((7L, "k1 k2 k3 k4 filler words here")).toDF("doc_id", "text")
    CorpusIngest.seedSpanIndex(corpus, dir, w = 3)
    graft.operators.TextAnalysis.spanWindows(
        Seq((8L, "aa bb cc dd ee")).toDF("doc_id", "text"), 3)
      .select(col("fp")).distinct()
      .write.parquet(s"$dir/batch=0")
    graft.operators.TextAnalysis.spanWindows(
        Seq((18L, "pp qq rr ss")).toDF("doc_id", "text"), 3)
      .select(col("fp")).distinct()
      .write.parquet(s"$dir/batch=1")
    val truth = spark.read.parquet(dir).select("fp").as[Long].collect().toSet
    def fpSet = spark.read.parquet(dir).select("fp").as[Long].collect().toSet
    def partitions = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet
    // crash state A (after move-in, before deletes): the fold sits
    // beside every original as batch=compacted0 — a duplicated
    // superset; reads must already be correct, and a re-run converges
    spark.read.parquet(dir).select("fp").distinct()
      .write.parquet(s"$dir/batch=compacted0")
    assert(fpSet === truth) // superset state answers identically
    assert(CorpusIngest.compactSpanIndex(spark, dir) === truth.size.toLong)
    assert(fpSet === truth)
    assert(partitions === Set("batch=compacted"))
    // crash state B (after deletes, before the final rename): ONLY
    // the fresh-named fold remains
    assert(new java.io.File(s"$dir/batch=compacted")
      .renameTo(new java.io.File(s"$dir/batch=compacted0")))
    assert(fpSet === truth) // non-numeric partition serves reads
    assert(CorpusIngest.compactSpanIndex(spark, dir) === truth.size.toLong)
    assert(fpSet === truth)
    assert(partitions === Set("batch=compacted"))
    // stale staging from a crash mid-write is swept, not folded
    new java.io.File(s"$dir._compact/batch=compacted").mkdirs()
    assert(CorpusIngest.compactSpanIndex(spark, dir) === truth.size.toLong)
    assert(fpSet === truth)
    assert(!new java.io.File(s"$dir._compact").exists())
  }

  test("stream-static mix: yesterday's plan samples the live firehose, " +
    "one codepath with the batch operator") {
    import graft.operators.TextAnalysis
    implicit val sc = spark.sqlContext
    // "yesterday's corpus": big source vs small source → derived plan
    val hist = ((1L to 80L).map(i =>
      StreamDoc(i, Seq.fill(20)("w").mkString(" "), "en", "web"))
      ++ (81L to 85L).map(i => StreamDoc(i, "w w", "en", "books"))).toDF()
    val plan = TextAnalysis.mixTemperature(hist).localCheckpoint()

    val in = MemoryStream[StreamDoc]
    val q = TextAnalysis.applyMixPlan(in.toDF(), plan)
      .writeStream.format("memory").queryName("mix_out")
      .outputMode("append").start()
    val wave1 = (200L to 260L).map(i => StreamDoc(i, "t", "en", "web"))
    val wave2 = (300L to 320L).map(i => StreamDoc(i, "t", "en", "books"))
    in.addData(wave1)
    q.processAllAvailable()
    in.addData(wave2)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("mix_out")
      .select("doc_id").as[Long].collect().toSet
    // one codepath: the stream kept exactly what the batch form keeps
    val batch = TextAnalysis.applyMixPlan((wave1 ++ wave2).toDF(), plan)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed === batch)
    // the plan really discriminates: the small source is taken whole,
    // the big source is rate-limited
    assert((300L to 320L).toSet.subsetOf(streamed))
    assert(streamed.count(_ <= 260L) < wave1.size)
  }

  test("streaming lsh dedup ingest: micro-batch folds converge to the " +
    "one-shot full recompute") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // real corpus: the %10<8 side seeds the persisted index, the
    // batch side streams in TWO micro-batches split by parity — the
    // sequential-fold algebra says the final labels must equal
    // dedupClustersLsh over EVERYTHING, for any split
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = real.filter(col("doc_id") % 10 < 8)
    val batchRows = real.filter(col("doc_id") % 10 >= 8)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, tx) => StreamDoc(id, tx, "en", "web") }
    val (b1, b2) = batchRows.partition(_.doc_id % 2 == 0)
    val root = java.nio.file.Files.createTempDirectory("lshstream").toString
    val dir = s"$root/idx"
    graft.operators.Dedup.lshIndexBuild(spark, dir, corpus)
    val in = MemoryStream[StreamDoc]
    val q = CorpusIngest.runLshDedup(
      in.toDF().select(col("doc_id"), col("text")), dir, s"$root/ckpt")
    in.addData(b1.toIndexedSeq); q.processAllAvailable()
    in.addData(b2.toIndexedSeq); q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$dir/labels")
      .collect().map(_.toString).sorted.toSeq
    val want = graft.operators.Dedup.dedupClustersLsh(real)
      .select("doc_id", "canonical_id")
      .collect().map(_.toString).sorted.toSeq
    assert(got === want && got.nonEmpty)
    // both cycles published their rows for the next one
    val segs = spark.read.parquet(s"$dir/bands")
      .select("batch").distinct().as[String].collect().toSet
    assert(segs === Set("seed", "0", "1"))
  }
}
