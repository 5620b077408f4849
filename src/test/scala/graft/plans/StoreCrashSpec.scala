package graft.plans

import graft.SparkSpec
import graft.operators.{Dedup, Similarity}
import graft.streaming.{CorpusIngest, Dashboard}

/** Every crash point of every persisted-store verb, enumerated: the
  * verb runs over `fault:///` (FaultFs) with a crash injected at each
  * counted store-level mutation k in turn. For each k:
  *  1. after the crash and the store's recover, the store equals the
  *     pre-verb store when the commit step (the first delete of the
  *     swap group's first dir) had not run, and the no-fault store
  *     otherwise;
  *  2. replaying the verb from the recovered pre-verb store reaches the
  *     no-fault store.
  * A store is compared as its directory tree (names, stamp texts and
  * the sorted rows of every parquet dir), so staging debris counts.
  */
class StoreCrashSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    FaultFs.register(spark.sparkContext.hadoopConfiguration)
  }

  override def afterAll(): Unit = {
    pool.shutdown()
    super.afterAll()
  }

  private def parquetRows(f: java.io.File): Seq[String] = {
    val r = org.apache.parquet.hadoop.ParquetReader.builder(
      new org.apache.parquet.hadoop.example.GroupReadSupport(),
      new org.apache.hadoop.fs.Path(f.toURI)).build()
    try Iterator.continually(r.read()).takeWhile(_ != null)
      .map(_.toString.replace('\n', ' ')).toList
    finally r.close()
  }

  /** The tree under `root`: every dir by relative name, the text of
    * every stamp, the sorted rows of every dir holding parquet files
    * and, with `counts`, how many files hold them.
    */
  private def tree(root: String, counts: Boolean): Map[String, Seq[String]] = {
    val base = new java.io.File(root)
    def walk(d: java.io.File, rel: String): Seq[(String, Seq[String])] = {
      val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
        .filterNot(f => f.getName.endsWith(".crc") || f.getName == "_SUCCESS")
      val (dirs, files) = kids.partition(_.isDirectory)
      val (parts, other) = files.partition(_.getName.endsWith(".parquet"))
      val rows = parts.flatMap(parquetRows).sorted
      (rel -> (if (counts) s"${parts.size} files" +: rows else rows)) +:
        (other.map(f => s"$rel/${f.getName}" ->
          Seq(java.nio.file.Files.readString(f.toPath))) ++
          dirs.flatMap(c => walk(c, s"$rel/${c.getName}")))
    }
    walk(base, "").toMap
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val stream = java.nio.file.Files.walk(src)
    try stream.forEach { p =>
      val q = java.nio.file.Paths.get(to).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally stream.close()
  }

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"crash-$tag").toString

  /** Run `verb` on `root` armed to crash at step k, as one job tag.
    * A crash also ends the crashed process's Spark tasks: wait for
    * the tag's cancelled tasks to drain before the root is disarmed
    * (until then any write they attempt fails). Returns the verb's
    * outcome and the counted mutations.
    */
  private def armed(root: String, k: Int)(verb: String => Unit)
  : (scala.util.Try[Unit], Seq[String]) = {
    val sc = spark.sparkContext
    val tag = s"crash${root.hashCode}k$k"
    FaultFs.arm(root, k)
    sc.addJobTag(tag)
    val out = try scala.util.Try(verb(s"fault://$root"))
      finally sc.removeJobTag(tag)
    val end = System.currentTimeMillis() + 30000
    while ((org.apache.spark.TaggedJobs.running(sc, tag) ||
      { Thread.sleep(50); org.apache.spark.TaggedJobs.running(sc, tag) }) &&
      System.currentTimeMillis() < end) Thread.sleep(20)
    (out, FaultFs.disarm(root))
  }

  private val pool = scala.concurrent.ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newFixedThreadPool(4))

  /** Run the enumeration for one verb. `setup` builds the pre-verb
    * store under a root, `verb`/`recover` act on a root, `commit` is
    * the commit step as `"<op> <path under the root>"`, and `view` is
    * what assertion 1 compares (the whole tree unless overridden).
    * `counts` adds parquet file counts to the compared trees;
    * `replayCommitted` also replays after the commit step, for a verb
    * whose recovery IS the replay. The crash points run concurrently,
    * each on its own copy of the pre-verb store.
    * Returns (counted mutations, commit step).
    */
  private def enumerate(tag: String, commit: String)(setup: String => Unit)
                       (verb: String => Unit)(recover: String => Unit,
                        view: Option[String => Any] = None,
                        replayCommitted: Boolean = false,
                        counts: Boolean = false): (Int, Int) = {
    val snap = (r: String) => tree(r, counts)
    val look = view.getOrElse(snap)
    val tpl = tmpRoot(tag)
    setup(s"fault://$tpl")
    val pre = look(tpl)
    val ref = tmpRoot(tag)
    copyTree(tpl, ref)
    val (ok, ops) = armed(ref, Int.MaxValue)(verb)
    ok.get
    val post = snap(ref)
    val postView = look(ref)
    val (op, path) = commit.splitAt(commit.indexOf(' '))
    val at = s"$op $ref/${path.trim}"
    val commitStep = ops.indexWhere(o => o == at || o.startsWith(s"$at ")) + 1
    assert(commitStep >= 1, s"$tag: no step '$commit' in $ops")
    assert(snap(tpl) != post, s"$tag: the verb changed nothing")
    def crashAt(k: Int): Unit = {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      val r = tmpRoot(tag)
      copyTree(tpl, r)
      assert(armed(r, k)(verb)._1.isFailure, s"$tag: no crash at step $k")
      recover(s"fault://$r")
      val want = if (k > commitStep) postView else pre
      assert(look(r) == want,
        s"$tag: crash at step $k (${ops(k - 1)}), commit step $commitStep")
      if (k <= commitStep || replayCommitted) {
        verb(s"fault://$r")
        assert(snap(r) == post, s"$tag: replay after crash at step $k")
      }
    }
    implicit val ec: scala.concurrent.ExecutionContext = pool
    scala.concurrent.Await.result(
      scala.concurrent.Future.traverse(1 to ops.size)(k =>
        scala.concurrent.Future(crashAt(k))),
      scala.concurrent.duration.Duration.Inf)
    info(s"$tag: ${ops.size} counted mutations, commit at step $commitStep")
    (ops.size, commitStep)
  }

  // 3 distinct vectors, duplicated 12/6/6 times: three occupied cells,
  // the first over the split threshold — a few cell dirs per store
  private val vecs = (0 until 24).map { i =>
    val c = if (i < 12) 0 else if (i < 18) 1 else 2
    (i.toLong, (0 until Similarity.Dim)
      .map(d => ((c * 31 + d * 17) % 13 - 6).toFloat).toArray)
  }.toDF("vec_id", "embedding")

  test("ivfApplySplit: every crash point recovers and replays") {
    enumerate("split", "delete i.codebook")(
      r => Similarity.ivfBuild(spark, s"$r/i", vecs))(
      r => Similarity.ivfApplySplit(spark, s"$r/i"))(
      r => Similarity.ivfRecover(spark, s"$r/i"))
  }

  test("ivfRetrain: every crash point recovers and replays") {
    enumerate("retrain", "delete i.codebook")(
      r => Similarity.ivfBuild(spark, s"$r/i", vecs.filter($"vec_id" < 20)))(
      r => Similarity.ivfRetrain(spark, s"$r/i"))(
      r => Similarity.ivfRecover(spark, s"$r/i"))
  }

  test("ivfPqRebuild: every crash point recovers and replays; " +
    "tombstones retire with the old generation") {
    enumerate("pqrebuild", "delete i.codebook") { r =>
      Similarity.ivfPqBuild(spark, s"$r/i", vecs.filter($"vec_id" < 20))
      Similarity.ivfDelete(spark, s"$r/i", Seq(3L))
    }(r => Similarity.ivfPqRebuild(spark, s"$r/i", vecs))(
      r => Similarity.ivfRecover(spark, s"$r/i"))
  }

  test("ivfCompact tail fold: every crash point recovers and replays; " +
    "the tail and tombstones retire with the old generation") {
    enumerate("fold", "delete i") { r =>
      Similarity.ivfBuild(spark, s"$r/i", vecs.filter($"vec_id" < 20))
      Similarity.ingestBatchWrite(Similarity.storeCodebook(spark, s"$r/i"),
        vecs.filter($"vec_id" >= 20), s"$r/i", 0L)
      Similarity.ivfDelete(spark, s"$r/i", Seq(3L, 21L))
    }(r => Similarity.ivfCompact(spark, s"$r/i"))(
      r => Similarity.ivfRecover(spark, s"$r/i"))
  }

  test("ivfCompact tombstone rewrite: every crash point recovers and " +
    "replays") {
    // two cells lose a row and the third every row; the swap commits
    // at the delete of the lowest touched cell
    val dead = Seq(3L, 13L) ++ (18L to 23L)
    val probe = tmpRoot("tombcells")
    Similarity.ivfBuild(spark, s"$probe/i", vecs)
    val first = spark.read.parquet(s"$probe/i")
      .filter($"vec_id".isin(dead: _*)).select("cell").as[Long].collect().min
    enumerate("tombstones", s"delete i/cell=$first") { r =>
      Similarity.ivfBuild(spark, s"$r/i", vecs)
      Similarity.ivfDelete(spark, s"$r/i", dead)
    }(r => Similarity.ivfCompact(spark, s"$r/i"))(
      r => Similarity.ivfRecover(spark, s"$r/i"))
  }

  test("ivfApplySplit refuses the staged cells of a tombstone rewrite " +
    "that crashed before its commit") {
    val dead = Seq(3L, 13L) ++ (18L to 23L)
    val compact: String => Unit = r => Similarity.ivfCompact(spark, s"$r/i")
    def store(r: String): Unit = {
      Similarity.ivfBuild(spark, s"fault://$r/i", vecs)
      Similarity.ivfDelete(spark, s"fault://$r/i", dead)
    }
    val ref = tmpRoot("tombguard")
    store(ref)
    val (ok, ops) = armed(ref, Int.MaxValue)(compact)
    ok.get
    val commit = ops.indexWhere(_.startsWith(s"delete $ref/i/cell=")) + 1
    val r = tmpRoot("tombguard")
    store(r)
    assert(armed(r, commit)(compact)._1.isFailure)
    assert(new java.io.File(s"$r/i").list().exists(_.startsWith(".cell=")))
    val e = intercept[IllegalArgumentException](
      Similarity.ivfApplySplit(spark, s"fault://$r/i"))
    assert(e.getMessage.contains("tombstone rewrite") &&
      e.getMessage.contains("Run ivfRecover first"))
    Similarity.ivfRecover(spark, s"fault://$r/i")
    assert(Similarity.ivfApplySplit(spark, s"fault://$r/i") >= 0L)
  }

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog again"),
    (3L, "an entirely different sentence about data pipelines"),
    (4L, "spark jobs write parquet files into the lake"),
    (5L, "the quick brown fox jumps over the lazy dog now"),
    (6L, "spark jobs write parquet files into the lake daily"))
    .toDF("doc_id", "text")

  test("lshIndexAppend: every crash point recovers and replays") {
    enumerate("lsh", "delete idx/labels")(
      r => Dedup.lshIndexBuild(spark, s"$r/idx", docs.filter($"doc_id" < 5)))(
      r => Dedup.lshIndexAppend(spark, s"$r/idx",
        docs.filter($"doc_id" >= 5), 1L))(
      r => Dedup.lshRecover(spark, s"$r/idx"))
  }

  test("compactSpanIndex: every crash point serves the fp set and " +
    "replays to the compacted layout") {
    // reads are correct at every step of this verb's superset
    // protocol, so what a crash must preserve is the served fp set;
    // its commit is the move-in rename, and it needs no recover
    val fps = (r: String) => spark.read.parquet(s"$r/fps")
      .select("fp").as[Long].collect().toSet
    enumerate("span", "rename fps._compact/batch=compacted") { r =>
      CorpusIngest.seedSpanIndex(
        Seq((7L, "k1 k2 k3 k4 filler words here")).toDF("doc_id", "text"),
        s"$r/fps", w = 3)
      CorpusIngest.spanIngestBatch(
        Seq((8L, "aa bb cc dd ee")).toDF("doc_id", "text"),
        s"$r/fps", s"$r/clean", 0L, w = 3)
    }(r => CorpusIngest.compactSpanIndex(spark, s"$r/fps"))(
      _ => (), view = Some(fps), replayCommitted = true)
  }

  test("Layout.compact: every crash point recovers and replays") {
    enumerate("layout", "delete t") { r =>
      (1 to 4).foreach(i => spark.range(i * 10, i * 10 + 5).toDF("id")
        .write.mode("append").parquet(s"$r/t"))
    }(r => Layout.compact(spark, s"$r/t"))(
      r => StoreOps.recover(spark, Seq(s"$r/t")), counts = true)
  }

  test("Dashboard.compactMarkers: every crash point recovers and replays") {
    val t0 = 1000000L
    enumerate("markers", "delete m") { r =>
      Dashboard.stampMarker(spark, 1L, t0).write.parquet(s"$r/m")
      Dashboard.stampMarker(spark, 2L, t0 + 60000L)
        .write.mode("append").parquet(s"$r/m")
    }(r => Dashboard.compactMarkers(spark, s"$r/m",
      t0 + Dashboard.MarkerTtlMs + 1))(
      r => StoreOps.recover(spark, Seq(s"$r/m")))
  }
}
