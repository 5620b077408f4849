package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

case class Doc(doc_id: Long, text: String)

/** Dedup family on literal documents: exact groups on normalized
  * text, Jaccard pairs, LSH candidate recall on a true near-dup,
  * simhash locality, embedding near-dup.
  */
class DedupSpec extends SparkSpec {

  import spark.implicits._

  val base = "the quick brown fox jumps over the lazy dog and runs far away today"
  val docs = Seq(
    Doc(1, base),
    Doc(2, base + " extra"),                       // near-dup of 1
    Doc(3, "   THE  quick brown fox jumps over the lazy dog and runs far away today "),
    Doc(4, "completely different words about spark catalyst tungsten codegen shuffles")
  ).toDF()

  test("exact: normalization (case/whitespace) collapses 1 and 3") {
    val g = Dedup.exact(docs.withColumn("text", lower(col("text"))))
    // doc 3 differs only by case/whitespace → same fp as 1 after norm
    val out = Dedup.exact(docs).filter(col("n_docs") > 1)
      .select("canonical_id", "n_docs").as[(Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 2L)))
    assert(g.count() === 3)
  }

  test("ngram jaccard: near-dup pair found, unrelated doc excluded") {
    val pairs = Dedup.ngramJaccard(docs, t = 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ppjoin prefix: exact threshold ratio, equality with the full join") {
    // the integer ratio of the emitted relation must BE the registered
    // threshold — a drifted constant silently breaks completeness,
    // not just a score
    assert(Dedup.PpTNum.toDouble / Dedup.PpTDen === Dedup.JaccardT)
    // ...and the pruning guard must sit EXACTLY one millionth below it
    // (integer arithmetic): wide enough to cover every pair the
    // round-to-6 emission cut can admit (J ≥ t − 5e-7), tight enough
    // that prefixes only lengthen beyond ~10⁶ shingles per doc
    assert(Dedup.PpGuardDen % Dedup.PpTDen === 0L)
    assert(Dedup.PpTNum * (Dedup.PpGuardDen / Dedup.PpTDen) -
      Dedup.PpGuardNum === 1L)
    // planted corpus: near-dups + boilerplate suffix shingles + an
    // unrelated doc — prefix-filtered result must equal the full
    // co-count join exactly (the PPJoin completeness theorem)
    val full = Dedup.ngramJaccard(docs)
      .as[(Long, Long, Long, Double)].collect().toSet
    val pp = Dedup.ppjoinPrefix(docs)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(pp === full)
    assert(pp.nonEmpty)
  }

  test("ppjoin prefix: equality on the real corpus; candidates pruned") {
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val full = Dedup.ngramJaccard(corpus)
      .as[(Long, Long, Long, Double)].collect().toSet
    val pp = Dedup.ppjoinPrefix(corpus)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(pp === full)
    // the filter must actually prune: prefix candidates < all
    // co-sharing pairs (the full join's candidate universe)
    val sh = Dedup.docShingleHashes(corpus).localCheckpoint()
    val nCand = Dedup.ppjoinCandidates(sh).count()
    val nAll = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    assert(nCand < nAll, s"prefix filter pruned nothing: $nCand vs $nAll")
  }

  test("ppjoin verify bound: planted template burst — rare-first " +
    "prefixes generate ZERO candidates when the burst is not truly " +
    "near-dup; candidate volume is output-shaped, not df-shaped") {
    // THE BOUND (SURVEY, round 13): verify-path shuffle bytes ≤
    // 16·Σ_{(i,j)∈C}(n_i + n_j) — two sorted 8-byte shingle arrays
    // per surviving candidate pair — and C itself decomposes as
    // C ≤ true-pairs(t') + Σ_s dfp(s)·(dfp(s)−1)/2 where dfp(s) is
    // the number of docs carrying shingle s in their PREFIX. The
    // df-asc order makes dfp of template shingles ZERO whenever a
    // doc has ≥ prefix-length rarer shingles, so template df never
    // multiplies into the bound. This test plants both regimes.
    val B = 40
    val template = (1 to 10).map(k => s"tpl$k").mkString(" ")
    // regime 1: template is a MINORITY of each doc (40 unique tokens
    // beside 10 template tokens) → pairwise J ≈ 8/88 ≈ 0.09 ≪ t, no
    // true pairs; the co-count universe still holds all B·(B−1)/2
    // pairs through the df=B template shingles, but every doc has 40
    // df=1 shingles against a 25-element prefix → prefixes are all
    // unique shingles → dfp(template)=0 → zero candidates
    val burst = (0 until B).map { i =>
      (i.toLong + 1,
        template + " " + (1 to 40).map(k => s"u${i}x$k").mkString(" "))
    }.toDF("doc_id", "text")
    val sh1 = Dedup.docShingleHashes(burst).localCheckpoint()
    val coUniverse = sh1.as("a").join(sh1.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    assert(coUniverse === (B * (B - 1) / 2).toLong) // the f² hazard
    assert(Dedup.ppjoinCandidates(sh1).count() === 0L,
      "template shingles leaked into prefixes")
    assert(Dedup.ppjoinPrefix(burst).count() === 0L)
    // regime 2: the template DOMINATES (1 unique token per doc) →
    // every pair is a true near-dup (J = 8/10 ≥ t): candidates are
    // exactly the output pairs — the Θ(output) floor every exact
    // all-pairs operator pays, not a df artifact
    val dupBurst = (0 until B).map(i => (i.toLong + 1, template + s" only$i"))
      .toDF("doc_id", "text")
    val sh2 = Dedup.docShingleHashes(dupBurst).localCheckpoint()
    val nTrue = Dedup.ngramJaccard(dupBurst).count()
    assert(nTrue === (B * (B - 1) / 2).toLong)
    assert(Dedup.ppjoinCandidates(sh2).count() === nTrue)
    // and the df-cap composition — the documented pre-sf10 knob —
    // bounds the candidate space at S·maxDf² REGARDLESS of true-pair
    // mass: the same burst through capped shingles loses the
    // template keys entirely (df = 40 > maxDf = 5)
    assert(Dedup.ppjoinCandidates(
      Dedup.docShingleHashesCapped(dupBurst, Dedup.MaxShingleDf)
        .localCheckpoint()).count() === 0L)
  }

  test("minhash LSH: identical-normalized docs always collide; verify matches jaccard") {
    val lsh = Dedup.minhashLsh(docs, t = 0.5)
      .select("i", "j", "jaccard").as[(Long, Long, Double)].collect()
    val m = lsh.map(r => (r._1, r._2) -> r._3).toMap
    assert(m((1L, 3L)) === 1.0) // identical shingle sets → all bands equal
    val jac = Dedup.ngramJaccard(docs, t = 0.5)
      .select("i", "j", "jaccard").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    lsh.foreach { case (i, j, v) => assert(jac((i, j)) === v) }
  }

  test("stop-shingle cap drops planted boilerplate, keeps rare shingles") {
    // every doc carries the same boilerplate prefix; the cap must
    // remove exactly those shingles and keep the per-doc tails
    val boiler = "click here to subscribe to our newsletter today"
    val many = (1L to 10L).map(i =>
      Doc(i, s"$boiler unique${i}a unique${i}b unique${i}c")).toDF()
    val uncapped = Dedup.docShingleHashes(many)
    val capped = Dedup.docShingleHashesCapped(many, maxDf = 5)
    val dropped = uncapped.count() - capped.count()
    // boilerplate yields shingles with df=10 > 5; tail shingles df=1
    assert(dropped > 0)
    val maxDfLeft = capped.groupBy("sh").count()
      .agg(max("count")).as[Long].head()
    assert(maxDfLeft <= 5)
    // candidate pair space collapses: no shared shingles remain
    val pairs = capped.as("a").join(capped.as("b"),
      col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id")).count()
    assert(pairs === 0)
  }

  test("eval contamination flags eval docs copied from train") {
    // bucket10(id, 5) = (id + 5) % 10 for small ids: ids ending in
    // 3/4 land in the eval split, everything else in train
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota"
    val d = Seq(
      Doc(1, shared),                                            // train
      Doc(13, shared),                                           // eval, copied
      Doc(23, "fresh words never appearing anywhere in training data")) // eval, clean
      .toDF()
    val got = Dedup.evalContamination(d)
      .select("doc_id", "overlap_ratio", "contaminated")
      .as[(Long, Double, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(13L) === ((1.0, 1)))
    assert(got(23L) === ((0.0, 0)))
    assert(!got.contains(1L)) // train docs are not scored
  }

  test("train contamination flags train docs carrying eval content " +
    "(the flipped, ingest-time direction)") {
    // same bucket arithmetic as the eval-direction test: ids ending
    // 3/4 are eval, others train. Train doc 1 copies eval doc 13's
    // text → flagged; train doc 2 is fresh → clean; eval docs are
    // not scored in this direction.
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota"
    val d = Seq(
      Doc(1, shared),                                             // train, dirty
      Doc(2, "clean training words with no benchmark overlap at all"), // train
      Doc(13, shared),                                            // eval
      Doc(23, "fresh words never appearing anywhere in training data")) // eval
      .toDF()
    val got = Dedup.trainContamination(d)
      .select("doc_id", "overlap_ratio", "contaminated")
      .as[(Long, Double, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((1.0, 1)))
    assert(got(2L) === ((0.0, 0)))
    assert(got.keySet === Set(1L, 2L)) // eval docs not scored here
  }

  test("containment: embedded doc scores 1.0 in its direction") {
    // doc 2 = doc 1 + " extra": every shingle of 1 appears in 2
    val got = Dedup.containment(docs, t = 0.9)
      .select("i", "j", "cont_i", "cont_j")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got((1L, 2L))._1 === 1.0) // all of 1's shingles ⊂ 2
    assert(got((1L, 2L))._2 < 1.0)   // 2 has shingles 1 lacks
    assert(got((1L, 3L)) === ((1.0, 1.0))) // same normalized text
    assert(!got.keySet.exists { case (i, j) => i == 4L || j == 4L })
  }

  test("simhash: identical docs give identical hashes; near-dups are close") {
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    assert(sh(1L) === sh(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(4L)))
    val pairs = Dedup.simhashPairs(docs)
      .select("i", "j", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 0L))
  }

  test("embedding near-dup finds the planted pair") {
    // vec 2 ≈ vec 1 (cos ≈ 1): identical hyperplane signs up to at
    // most one flip, so the Hamming-1 multiprobe always surfaces the
    // candidate; vec 3 is orthogonal and must be filtered
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.001f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(emb, t = 0.9)
      .select("i", "j").as[(Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 2L)))
  }

  test("embedding decontam: eval clone of a train vector flagged, " +
    "orthogonal eval clean, cross-side only") {
    // bucket10(id, salt 7) = (id + 9) % 10 for small ids: ids ending
    // 0/9 are eval (b >= 8), the rest train. id 9 clones train id 1;
    // id 10 is orthogonal to everything in train; train id 2 clones
    // id 1 too — train×train must NOT emit.
    val u = Seq.fill(4)(1.0f)
    val w = Seq(1.0f, -1.0f, 1.0f, -1.0f)
    val emb = Seq((1L, u), (2L, u), (3L, w.map(-_)), (9L, u), (10L, w))
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingDecontam(emb)
      .as[(Long, Long, Long, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got.keySet === Set(9L, 10L)) // one row per EVAL vector
    assert(got(9L) === ((2L, 1000000L, 1))) // clones: train ids 1 AND 2
    // id 10's only cosine-matches are w itself (eval) and -w (train,
    // cos -1 < t): clean
    assert(got(10L) === ((0L, 0L, 0)))
    // partition invariance
    val got2 = Dedup.embeddingDecontam(emb.repartition(4))
      .as[(Long, Long, Long, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got2 === got)
  }

  test("cluster weights: floor(1e6/size) per doc, one weight per cluster") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val w = Dedup.clusterWeights(docs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(w.size === docs.count())
    // weight is exactly floor(1e6 / cluster_size), and size is the
    // actual member count of the canonical label
    val bySize = w.groupBy(_._2)
    w.foreach { case (_, canon, size, ppm) =>
      assert(size === bySize(canon).size.toLong)
      assert(ppm === 1000000L / size)
    }
    // soft-dedup mass conservation: each cluster contributes ~1e6 ppm
    // (short only by the integer-floor remainder < size)
    bySize.foreach { case (_, members) =>
      val mass = members.map(_._4).sum
      val size = members.head._3
      assert(mass <= 1000000L && 1000000L - mass < size)
    }
  }

  test("cluster split: every near-dup cluster rides one fold") {
    // docs 1,2,3 are one near-dup cluster; 4 is a singleton
    val got = Dedup.clusterSplit(docs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.size === 4)
    // one canonical id, hence ONE fold for the whole cluster
    val cluster = Seq(1L, 2L, 3L).map(got(_))
    assert(cluster.map(_._2).distinct.size === 1)
    assert(cluster.map(_._3).distinct.size === 1)
    // folds are in range and the arithmetic is the documented device
    got.values.foreach { case (_, canon, fold) =>
      assert(fold === ((canon % 100003) * 31 + 17) % Dedup.SplitFolds)
      assert(fold >= 0 && fold < Dedup.SplitFolds)
    }
  }

  test("gated cluster split: passes at good LSH recall, refuses below threshold") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the real corpus: recall on the monitor sample is healthy, the
    // gate passes and the folds equal the raw derivation
    val gated = Dedup.clusterSplitGated(real)
      .collect().map(_.toString).sorted.toSeq
    val raw = Dedup.clusterSplit(real)
      .collect().map(_.toString).sorted.toSeq
    assert(gated === raw && gated.nonEmpty)
    // an unreachable threshold (> 1.0) must REFUSE folds whenever the
    // sample holds any ground-truth pair — the leakage-refusal path
    val ex = intercept[IllegalStateException] {
      Dedup.clusterSplitGated(real, minRecall = 1.01)
    }
    assert(ex.getMessage.contains("LSH edge recall"))
  }

  test("incremental dedup: cross-side pairs only, consistent with the batch pass") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val inc = Dedup.incrementalDedup(docs)
      .select("corpus_id", "batch_id").as[(Long, Long)].collect().toSet
    // sides are disjoint by the split rule
    inc.foreach { case (c, b) =>
      assert(c % 10 < 8 && b % 10 >= 8, s"pair ($c,$b) crosses the split wrong")
    }
    // the incremental pass is the batch pass restricted to cross-side
    // pairs: same index, same verify, so exactly the cross-side subset
    val full = Dedup.minhashLsh(docs)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val crossOfFull = full.collect {
      case (i, j) if i % 10 < 8 && j % 10 >= 8 => (i, j)
      case (i, j) if j % 10 < 8 && i % 10 >= 8 => (j, i)
    }
    assert(inc === crossOfFull)
  }

  test("incremental clusters: a batch bridge MERGES two prior corpus " +
    "clusters; output ≡ full recompute") {
    // Planted quotient-graph hard case. Corpus (%10 < 8): cluster A =
    // {1, 2}, cluster B = {21, 22}, singleton 4. Batch (%10 >= 8):
    // doc 18 = A's text ++ B's text (J ≈ 0.45 to each side — the
    // texts are tuned so the banded MinHash index surfaces all four
    // bridge candidates deterministically), doc 19 = exact dup of 4.
    // The naive "assign each batch doc to its nearest cluster" shape
    // cannot represent this: 18 must UNIFY two existing components.
    val pA = "delta alpha iota zeta lambda theta eta gamma mu epsilon beta kappa"
    val pB = "river west plain forest island south valley north desert ocean mountain east"
    val other = "completely different words about spark catalyst tungsten codegen shuffles"
    val corpus = Seq(
      Doc(1, pA), Doc(2, pA + " coral"),
      Doc(21, pB), Doc(22, pB + " five"),
      Doc(4, other))
    val batch = Seq(Doc(18, pA + " " + pB), Doc(19, other))
    val all = (corpus ++ batch).toDF()
    val t = 0.4
    // precondition: the prior (corpus-only) clustering has A and B as
    // DISTINCT components — so equality below exercises the merge
    val prior = Dedup.dedupClustersLsh(corpus.toDF(), t)
      .select("doc_id", "canonical_id").as[(Long, Long)].collect().toMap
    assert(prior(1L) === 1L && prior(2L) === 1L,
      "fixture drift: cluster A did not form in the prior pass")
    assert(prior(21L) === 21L && prior(22L) === 21L,
      "fixture drift: cluster B did not form in the prior pass")
    val inc = Dedup.clustersIncremental(all, t)
      .select("doc_id", "canonical_id", "is_canonical")
      .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    val full = Dedup.dedupClustersLsh(all, t)
      .select("doc_id", "canonical_id", "is_canonical")
      .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    assert(inc === full) // the registered contract (the shared oracle)
    val labels = inc.map(r => r._1 -> r._2).toMap
    // the bridge unified A ∪ {18} ∪ B under the global min id...
    assert(Seq(1L, 2L, 18L, 21L, 22L).forall(labels(_) == 1L),
      s"bridge did not merge: $labels")
    // ...and the cross-side exact dup joined its corpus singleton
    assert(labels(4L) === 4L && labels(19L) === 4L)
  }

  test("lsh index store: from-store twins ≡ inline; stamp and " +
    "double-build guards refuse") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = real.filter(col("doc_id") % 10 < 8)
    val batch = real.filter(col("doc_id") % 10 >= 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lsh-spec").toString + "/idx"
    Dedup.lshIndexBuild(spark, dir, corpus)
    // pair twin: row-identical to the inline incremental pass
    val ps = Dedup.incrementalDedupFromStore(spark, dir, batch)
      .collect().map(_.toString).sorted.toSeq
    val pi = Dedup.incrementalDedup(real)
      .collect().map(_.toString).sorted.toSeq
    assert(ps === pi)
    // cluster twin: row-identical to the inline fold (hence to the
    // full recompute, which the inline spec already pins)
    val cs = Dedup.clustersIncrementalFromStore(spark, dir, batch)
      .collect().map(_.toString).sorted.toSeq
    val ci = Dedup.clustersIncremental(real)
      .collect().map(_.toString).sorted.toSeq
    assert(cs === ci && cs.nonEmpty)
    // build over an existing store must refuse (the ivfBuild contract)
    val exB = intercept[IllegalArgumentException] {
      Dedup.lshIndexBuild(spark, dir, corpus)
    }
    assert(exB.getMessage.contains("existing LSH index"))
    // a drifted contract stamp must refuse serving, loudly
    val p = new org.apache.hadoop.fs.Path(dir, "_lsh_contract")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write("sh9-mh16-b4x4-t0.9-v0".getBytes("UTF-8"))
    finally out.close()
    val exS = intercept[IllegalArgumentException] {
      Dedup.incrementalDedupFromStore(spark, dir, batch).collect()
    }
    assert(exS.getMessage.contains("contract"))
  }

  test("lsh index store: serving at a foreign threshold refuses " +
    "against the stamp") {
    // the t rides IN the stamp, so a non-default threshold cannot
    // silently mix edge semantics with a default-signed store
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = real.filter(col("doc_id") % 10 < 8)
    val batch = real.filter(col("doc_id") % 10 >= 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lsh-spec-t").toString + "/idx"
    Dedup.lshIndexBuild(spark, dir, corpus)
    val ex = intercept[IllegalArgumentException] {
      Dedup.incrementalDedupFromStore(spark, dir, batch, t = 0.4).collect()
    }
    assert(ex.getMessage.contains("t0.4"))
  }

  test("lsh index append: labels fold to the full recompute, " +
    "replay is idempotent") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = real.filter(col("doc_id") % 10 < 8)
    val batch = real.filter(col("doc_id") % 10 >= 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lsh-spec").toString + "/idx"
    Dedup.lshIndexBuild(spark, dir, corpus)
    def table(t: String): Seq[String] = spark.read.parquet(s"$dir/$t")
      .collect().map(_.toString).sorted.toSeq
    Dedup.lshIndexAppend(spark, dir, batch, batchId = 1L)
    // after the fold, the store's labels ARE the full-corpus recompute
    val want = Dedup.dedupClustersLsh(real)
      .select("doc_id", "canonical_id")
      .collect().map(_.toString).sorted.toSeq
    assert(table("labels") === want)
    // and the batch's rows joined the index under its partition
    val segs = spark.read.parquet(s"$dir/bands")
      .select("batch").distinct().as[String].collect().toSet
    assert(segs === Set("seed", "1"))
    // crash replay: the same append again leaves every table
    // byte-identical (fold of a folded batch is the identity)
    val before = (table("labels"), table("bands"), table("shingles"))
    Dedup.lshIndexAppend(spark, dir, batch, batchId = 1L)
    assert((table("labels"), table("bands"), table("shingles")) === before)
    // the stagedSwap crash window (live labels deleted, completed
    // stage behind): reads fall back to the stage, and a replayed
    // append finishes the swap instead of wedging
    val lp = new org.apache.hadoop.fs.Path(s"$dir/labels")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/labels._tmp")
    fs.delete(tmp, true)
    assert(fs.rename(lp, tmp)) // simulate: crashed between del + rename
    val served = Dedup.clustersIncrementalFromStore(spark, dir, batch)
      .select("doc_id", "canonical_id")
      .collect().map(_.toString).sorted.toSeq
    assert(served === want) // fallback read; folded docs via prior
    Dedup.lshIndexAppend(spark, dir, batch, batchId = 1L)
    assert(fs.exists(lp) && !fs.exists(tmp))
    assert(table("labels") === want)
  }

  test("semantic dedup: greedy min-id prune invariants on real vectors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Dedup.semanticDedup(emb)
    // total: one verdict per vector
    assert(out.count() === emb.count())
    // the greedy contract: a vector is dropped iff some LOWER-id
    // cluster-mate clears the threshold — so within a cell the
    // minimum id is always kept, and every cell keeps at least one
    val perCell = out.groupBy("cell")
      .agg(min(col("vec_id")).as("lo"), sum(col("is_kept")).as("kept"),
        min(when(col("is_kept") === 1, col("vec_id"))).as("lo_kept"))
      .collect()
    perCell.foreach { r =>
      assert(r.getAs[Long]("kept") >= 1L, s"cell ${r.get(0)} kept nothing")
      assert(r.getAs[Long]("lo") === r.getAs[Long]("lo_kept"),
        s"cell ${r.get(0)} dropped its min id")
    }
    val nDropped = out.filter(col("is_kept") === 0).count()
    info(s"semantic dedup dropped $nDropped/${emb.count()}")
  }

  test("bucketed embedding near-dup ⊆ brute; measurable recall on real vectors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bucketed = Dedup.embeddingNearDup(emb)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val brute = Dedup.embeddingNearDupBrute(emb)
      .select("i", "j").as[(Long, Long)].collect().toSet
    // precision is exact (same cosine verify), recall is the LSH trade
    assert(bucketed.subsetOf(brute),
      s"bucketed pairs not in brute: ${bucketed.diff(brute).take(5)}")
    if (brute.nonEmpty)
      info(s"multiprobe recall: ${bucketed.size}/${brute.size} = " +
        f"${bucketed.size.toDouble / brute.size}%.3f")
  }

  test("bloom decontamination never under-counts the exact overlap") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.evalContamination(real)
      .select("doc_id", "n_overlap", "contaminated")
      .as[(Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    // fpp tight enough that most docs see zero false-positive probes
    // (a doc makes ~100 probes; at 1e-3 P(all exact) ≈ 0.9)
    val bloom = Dedup.evalContaminationBloom(real, fpp = 0.001)
      .select("doc_id", "n_overlap", "contaminated")
      .as[(Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    assert(bloom.keySet === exact.keySet)
    // a bloom filter has no false negatives: overlap can only grow
    exact.foreach { case (id, (_, nOv, flag)) =>
      assert(bloom(id)._2 >= nOv, s"bloom under-counted doc $id")
      assert(bloom(id)._3 >= flag, s"bloom cleared an exact flag on $id")
    }
    val agree = exact.count { case (id, (_, nOv, _)) => bloom(id)._2 == nOv }
    assert(agree >= (exact.size * 0.8).toInt, s"only $agree/${exact.size} exact")
  }

  test("labelComponents converges a 64-doc chain (pointer jumping)") {
    // path graph 1-2-…-64: diameter 63. The fixpoint loop must reach
    // every vertex (on aligned chains the jump term doubles coverage
    // per round, so this converges in 7 rounds, checked after rounds
    // 1, 2, 4 and 8, well under the CcMaxRounds valve); every vertex
    // must land on 1.
    val chain = (1L until 64L).map(k => (k, k + 1)).toDF("i", "j")
    val universe = (1L to 64L).toDF("doc_id")
    val labels = Dedup.labelComponents(chain, universe)
      .select("doc_id", "canonical_id").as[(Long, Long)].collect().toMap
    assert(labels.size === 64)
    assert(labels.values.forall(_ == 1L),
      s"unconverged labels: ${labels.filter(_._2 != 1L).take(5)}")
  }

  test("cluster agreement: identical clusterings read P = R = 1e6") {
    // exact duplicates cluster identically under BOTH pipelines
    // (identical shingle sets → identical signatures → every band
    // matches → verified J = 1), so the agreement monitor must read
    // perfect pair masses: C(3,2) + C(2,2) = 4 pairs on each side and
    // in the intersection, with both ppm ratios at exactly 1e6
    val a = "alpha beta gamma delta epsilon zeta"
    val b = "one two three four five six seven"
    val corpus = Seq(
      (1L, a), (2L, a), (3L, a), // 3-clique
      (4L, b), (5L, b), // pair
      (6L, "lonely document with unique words"),
      (7L, "another singleton text entirely different"))
      .toDF("doc_id", "text")
    val r = Dedup.clusterAgreement(corpus).collect().head
    assert(r.getLong(0) === 7L) // n_docs
    assert(r.getLong(1) === 4L) // pairs_exact
    assert(r.getLong(2) === 4L) // pairs_lsh
    assert(r.getLong(3) === 4L) // pairs_both
    assert(r.getLong(4) === 1000000L)
    assert(r.getLong(5) === 1000000L)
  }
}
