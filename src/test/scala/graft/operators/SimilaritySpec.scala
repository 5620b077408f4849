package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class SimilaritySpec extends SparkSpec {

  import spark.implicits._

  // deterministic 64-dim integer vectors, varied enough to spread
  // across several hyperplane buckets
  private def emb(n: Int) =
    (0 until n).map { i =>
      (i.toLong, (0 until Similarity.Dim)
        .map(d => ((i * 31 + d * 17) % 13 - 6).toFloat).toArray, 0)
    }.toDF("vec_id", "embedding", "label")

  test("mmr rerank: diversity flips the greedy order vs pure relevance") {
    // A (id 1) and its near-clone A' (id 2) sit +25 deg from the
    // query; B (id 3) sits -25 deg: equal relevance, but A' is ~1.0
    // similar to A while B is only cos(50 deg) ~ 0.64. Pure relevance
    // would emit A, A', B; MMR must demote the clone: A, B, A'.
    val a = (math.cos(0.436), math.sin(0.436))
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(a._1.toFloat, a._2.toFloat, 0.0f)),
      (2L, Seq(a._1.toFloat, (a._2 + 0.0004).toFloat, 0.0f)),
      (3L, Seq(a._1.toFloat, -a._2.toFloat, 0.0f)))
      .toDF("vec_id", "embedding")
    // every id is a query at this size (bounded batch covers n ≤ 128)
    val picks = Similarity.mmrRerank(emb)
      .filter(col("query_id") === 0L)
      .select("rank", "id").as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(picks.map(_._2) === Seq(1L, 3L, 2L))
  }

  test("hybrid rrf: agreement doubles the fused score, exact ppm arithmetic") {
    // doc/vec 1 is query 0's near-dup in BOTH modalities; doc/vec 2
    // matches in neither. n=3 < 5 floors the trained codebook at one
    // cell, so the ann branch sees every pair; all three ids are
    // queries (bounded batch covers n ≤ 128) — assert query 0's rows.
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon eta"),
      (2L, "completely different unrelated words here now"))
      .toDF("doc_id", "text")
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.001f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val all = Similarity.hybridRrf(docs, emb)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(all.map(_._1).distinct.sorted === Seq(0L, 1L, 2L))
    val out = all.filter(_._1 == 0L).sortBy(_._2)
    // id 1: rank 1 in ann AND lex -> 2 * (1e6 div 61); id 2: ann rank
    // 2 only -> 1e6 div 62
    assert(out === Seq(
      (0L, 1L, 1L, 2 * (1000000L / 61)),
      (0L, 2L, 2L, 1000000L / 62)))
  }

  test("hard negatives: banded, ranked, self-free, k-capped") {
    val got = Similarity.hardNegatives(emb(200))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    got.foreach { case (a, rk, n, cos) =>
      assert(a !== n)
      assert(cos >= Similarity.HardNegLo && cos < Similarity.HardNegHi)
      assert(rk >= 1L && rk <= Similarity.HardNegK)
    }
    // ranks are dense per anchor and ordered by cos desc
    got.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2) === (1L to sorted.length))
      assert(sorted.map(-_._4).sorted === sorted.map(-_._4))
    }
    // a true near-duplicate (cos ~= 1) never appears as a negative:
    // plant an exact copy of vector 0 and check the pair is banned
    val base = emb(100)
    val dup = base.filter($"vec_id" === 0L)
      .select(org.apache.spark.sql.functions.lit(9999L).as("vec_id"),
        $"embedding", $"label")
    val withDup = Similarity.hardNegatives(base.unionByName(dup))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(!withDup.exists(r => r._1 === 0L && r._2 === 9999L))
    assert(!withDup.exists(r => r._1 === 9999L && r._2 === 0L))
  }

  test("truncation recall: prefix-only information -> perfect recall") {
    // second half all zeros: truncated cosine == full cosine exactly
    val prefixOnly = (0 until 120).map { i =>
      (i.toLong, (0 until Similarity.Dim).map { d =>
        if (d < Similarity.TruncDim) ((i * 31 + d * 17) % 13 - 6).toFloat
        else 0.0f
      }.toArray, 0)
    }.toDF("vec_id", "embedding", "label")
    val got = Similarity.truncationRecallAtK(prefixOnly)
      .as[(Long, Double)].head()
    assert(got._1 === 120L) // n <= QueryCount: every id is a query
    assert(got._2 === 1.0)
  }

  test("truncation recall: tail-heavy vectors lose recall, bounded in [0,1]") {
    // discriminating signal lives ONLY in the tail half: truncation
    // must not score a perfect 1.0 (the knob measurably costs recall)
    val tailHeavy = (0 until 120).map { i =>
      (i.toLong, (0 until Similarity.Dim).map { d =>
        if (d < Similarity.TruncDim) (d % 3 + 1).toFloat // shared prefix
        else ((i * 37 + d * 19) % 15 - 7).toFloat
      }.toArray, 0)
    }.toDF("vec_id", "embedding", "label")
    val got = Similarity.truncationRecallAtK(tailHeavy)
      .as[(Long, Double)].head()
    assert(got._2 >= 0.0 && got._2 < 1.0)
  }

  test("pca: rank-2 data survives 2-component projection losslessly") {
    // vectors on an exact 2-D plane inside Dim-space: v = a·e + b·f
    // where e/f mix all coordinates, so no axis shortcut exists
    val planar = (0 until 40).map { i =>
      val (a, b) = ((i % 5).toDouble + 1, (i / 5).toDouble + 1)
      (i.toLong, (0 until Similarity.Dim)
        .map(d => (a * ((d % 7) + 1) + b * ((d % 11) + 1)).toFloat)
        .toArray, 0)
    }.toDF("vec_id", "embedding", "label")
    val out = Similarity.pcaProject(planar, kDim = 2)
      .as[(Long, Array[Double])].collect().toMap
    assert(out.size === 40 && out.values.forall(_.length === 2))
    // projection preserves total energy: rank-2 input, 2 components
    val orig = (0 until 40).map { i =>
      val (a, b) = ((i % 5).toDouble + 1, (i / 5).toDouble + 1)
      (0 until Similarity.Dim)
        .map(d => a * ((d % 7) + 1) + b * ((d % 11) + 1))
        .map(x => x * x).sum
    }.sum
    val kept = out.values.map(_.map(x => x * x).sum).sum
    assert(math.abs(kept - orig) / orig < 1e-6,
      s"energy lost: kept=$kept orig=$orig")
  }

  test("pca as the ANN bandwidth lever: reduced-space kNN keeps recall") {
    // 4 well-separated clusters on axis groups + deterministic jitter
    val clustered = (0 until 200).map { i =>
      val k = i % 4
      (i.toLong, (0 until Similarity.Dim).map { d =>
        val base = if (d % 4 == k) 10.0 else 0.0
        (base + ((i * 31 + d * 17) % 7 - 3) * 0.1).toFloat
      }.toArray, 0)
    }.toDF("vec_id", "embedding", "label")
    val full = Similarity.knnBrute(clustered)
      .select("query_id", "nbr_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val reduced = Similarity.pcaProject(clustered, kDim = 16)
      .select($"vec_id", $"pv".cast("array<float>").as("embedding"),
        org.apache.spark.sql.functions.lit(0).as("label"))
    val pca = Similarity.knnBrute(reduced)
      .select("query_id", "nbr_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(full.keySet === pca.keySet && full.nonEmpty)
    val recall = full.keys.toSeq.map(q =>
      (full(q) intersect pca(q)).size.toDouble / full(q).size).sum / full.size
    assert(recall >= 0.8, s"PCA-space recall $recall")
  }

  test("multiprobe: strict superset of the single-bucket LSH result space") {
    val e = emb(40)
    val lsh = Similarity.knnLsh(e)
      .select("query_id", "rank", "nbr_id", "cos")
      .as[(Long, Long, Long, Double)].collect()
    val multi = Similarity.knnLshMultiprobe(e)
      .select("query_id", "rank", "nbr_id", "cos")
      .as[(Long, Long, Long, Double)].collect()
    // every query answered by LSH is answered by multiprobe, and its
    // best neighbor is at least as good (candidates are a superset)
    val lshBest = lsh.filter(_._2 == 1L).map(r => r._1 -> r._4).toMap
    val multiBest = multi.filter(_._2 == 1L).map(r => r._1 -> r._4).toMap
    assert(lshBest.keySet.subsetOf(multiBest.keySet))
    lshBest.foreach { case (q, c) => assert(multiBest(q) >= c) }
    // multiprobe reaches at least as many (query, nbr) pairs
    assert(multi.length >= lsh.length)
  }

  test("centroids: element-wise mean per label, exact on known vectors") {
    val e = Seq(
      (1L, Array.fill(Similarity.Dim)(1.0f), 0),
      (2L, Array.fill(Similarity.Dim)(3.0f), 0),
      (3L, Array.fill(Similarity.Dim)(5.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroids(e)
      .select("label", "idx", "n_vecs", "centroid")
      .as[(Long, Int, Long, Double)].collect()
    assert(got.length === 2 * Similarity.Dim)
    got.foreach {
      case (0L, _, n, c) => assert(n === 2L && c === 2.0) // (1+3)/2
      case (1L, _, n, c) => assert(n === 1L && c === 5.0)
      case other => fail(s"unexpected row $other")
    }
  }

  test("ivf probe2: candidate superset of single-cell ivf, no pair dups") {
    val e = emb(40)
    val one = Similarity.knnIvf(e)
      .select("query_id", "rank", "nbr_id", "cos")
      .as[(Long, Long, Long, Double)].collect()
    val two = Similarity.knnIvfProbe(e)
      .select("query_id", "rank", "nbr_id", "cos")
      .as[(Long, Long, Long, Double)].collect()
    val oneBest = one.filter(_._2 == 1L).map(r => r._1 -> r._4).toMap
    val twoBest = two.filter(_._2 == 1L).map(r => r._1 -> r._4).toMap
    assert(oneBest.keySet.subsetOf(twoBest.keySet))
    oneBest.foreach { case (q, c) => assert(twoBest(q) >= c) }
    // a candidate's single home cell ⇒ each (query, nbr) pair is unique
    val pairs = two.map(r => (r._1, r._3))
    assert(pairs.distinct.length === pairs.length)
  }

  test("sq8 rerank: finds the exact duplicate, reranks with true cosine") {
    // vec 50 is a strided query; vec 51 is its exact duplicate, so it
    // must surface at rank 1 with cos 1.0 after the coarse+rerank pass
    val base = emb(60).as[(Long, Array[Float], Int)].collect()
    val dup = base.map {
      case (51L, _, l) => (51L, base.find(_._1 == 50L).get._2, l)
      case row => row
    }.toSeq.toDF("vec_id", "embedding", "label")
    val got = Similarity.knnSq8Rerank(dup)
      .select("query_id", "rank", "nbr_id", "cos")
      .as[(Long, Long, Long, Double)].collect()
    // emb() repeats with period 13 in vec_id, so 11/24/37 are also
    // exact duplicates of 50 — all must lead the ranking at cos 1.0,
    // with the planted 51 among them
    val q50 = got.filter(_._1 == 50L).sortBy(_._2)
    assert(q50.take(4).forall(_._4 === 1.0))
    assert(q50.take(4).map(_._3).toSet === Set(11L, 24L, 37L, 51L))
    // every query emits exactly K ranked rows, ranks contiguous
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to Similarity.K))
    }
  }

  test("multiprobe: no duplicate (query, nbr) pairs from the probe fan-out") {
    val got = Similarity.knnLshMultiprobe(emb(40))
      .select("query_id", "nbr_id").as[(Long, Long)].collect()
    assert(got.length === got.distinct.length)
  }

  test("pq codes: PqM codes per vector; codebook vectors code to themselves") {
    val got = Similarity.pqCodes(emb(200))
      .as[(Long, Int, Long)].collect().toSeq
    // exactly one code per (vector, subspace)
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (0 until Similarity.PqM))
    }
    // codebook members (the "c" hashSample) are distance-0 from
    // their own entry in every subspace, so they must code to an
    // entry with an IDENTICAL vector — emb() repeats with period 13,
    // so exact-duplicate codebook entries tie at d²=0 and the lower
    // cent_id wins: the code is the least codebook id in the member's
    // residue class
    val cb = Similarity.hashSample(emb(200), "c", Similarity.CentCount)
      .select("vec_id").as[Long].collect().toSet
    assert(cb.size === Similarity.CentCount)
    val leastInClass = cb.groupBy(_ % 13).map { case (r, ids) => r -> ids.min }
    got.filter(r => cb(r._1)).foreach {
      case (id, _, code) => assert(code === leastInClass(id % 13))
    }
    // every emitted code is a codebook id
    assert(got.forall(r => cb(r._3)))
  }

  // three exactly-repeated prototypes: codes reconstruct each cluster's
  // prototype losslessly, ADC ties resolve on nbr_id, and the PQ top-k
  // matches the exact top-k — recall 1.0
  private def protoEmb(n: Int) = {
    def proto(c: Int) = (0 until Similarity.Dim)
      .map(d => if (d / 21 == c || (c == 2 && d >= 42)) 5.0f else 0.1f)
      .toArray
    (0 until n).map(i => (i.toLong, proto(i % 3), i % 3))
      .toDF("vec_id", "embedding", "label")
  }

  test("pq adc on separable clusters: same-cluster retrieval, recall 1.0") {
    val e = protoEmb(120)
    val got = Similarity.knnPqAdc(e)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // every id is a query (n <= QueryCount); K dense ranks each
    assert(got.map(_._1).distinct.length === 120)
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to Similarity.K))
    }
    // query 0 is cluster 0 (ids ≡ 0 mod 3): its ADC top-5 are the five
    // lowest same-cluster ids (scores tie exactly, nbr_id breaks them)
    val q0 = got.filter(_._1 == 0L).sortBy(_._2).map(_._3)
    assert(q0 === Seq(3L, 6L, 9L, 12L, 15L))
    // exact brute top-5 ties identically -> measured recall is 1.0
    val rec = Similarity.annRecallAtK(e, index = Similarity.knnPqAdc(_, _))
      .as[(Long, Double)].head()
    assert(rec._1 === 120L)
    assert(rec._2 === 1.0)
  }

  test("ivf-pq: cell-restricted ADC retrieval, recall 1.0 on separable clusters") {
    val e = protoEmb(120)
    val got = Similarity.knnIvfPq(e)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.map(_._1).distinct.length === 120)
    // candidates never leave the query's IVF cell (= cluster here)
    got.foreach { case (q, _, n, _) => assert(q % 3 === n % 3) }
    val q0 = got.filter(_._1 == 0L).sortBy(_._2).map(_._3)
    assert(q0 === Seq(3L, 6L, 9L, 12L, 15L))
    val rec = Similarity.annRecallAtK(e, index = Similarity.knnIvfPq(_, _))
      .as[(Long, Double)].head()
    assert(rec === ((120L, 1.0)))
  }

  test("ivf-pq nprobe=2: probing strictly widens the candidate space " +
    "(recall is NOT guaranteed monotone on a quantized scorer); " +
    "dense-ranked, self-free, recall 1.0 on separable clusters") {
    val e = protoEmb(120)
    val got = Similarity.knnIvfPqProbe(e)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.map(_._1).distinct.length === 120)
    got.foreach { case (q, _, n, _) => assert(q !== n) }
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length))
      assert(rows.length <= Similarity.K)
    }
    // separable clusters: the home cell already holds the true top-k,
    // and widening cannot displace it (same-prototype ADC dominates)
    val rec = Similarity.annRecallAtK(e,
      index = Similarity.knnIvfPqProbe(_, _)).as[(Long, Double)].head()
    assert(rec === ((120L, 1.0)))
    // the property probing actually guarantees is CANDIDATE widening,
    // not per-fixture recall monotonicity: quantized far-cell
    // candidates can displace true hits from the quantized top-k
    // (measured here: on a fixture whose true neighbors all share the
    // home cell, probe recall DIPPED 0.598→0.558 — probing added only
    // noise). With k large enough to emit every scored pair, probe2's
    // (query, candidate) pairs must strictly contain the single-cell
    // composite's.
    val p1 = Similarity.knnIvfPq(e, k = 500)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val p2 = Similarity.knnIvfPqProbe(e, k = 500)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    assert(p1.subsetOf(p2), "probe candidates must contain home-cell's")
    assert(p2.size > p1.size, "probe must widen the candidate space")
  }

  test("ivfpq refine: exact rerank of the ADC survivors — cluster-" +
    "restricted, self-free, recall 1.0 on separable clusters") {
    val e = protoEmb(120)
    val got = Similarity.knnIvfPqRefine(e)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.map(_._1).distinct.length === 120)
    got.foreach { case (q, _, n, _) =>
      assert(q !== n)
      assert(q % 3 === n % 3) // candidates never leave the home cell
    }
    // refined scores are true cosines: same-prototype rows score 1.0
    val q0 = got.filter(_._1 == 0L).sortBy(_._2)
    assert(q0.map(_._3) === Seq(3L, 6L, 9L, 12L, 15L))
    assert(q0.forall(_._4 === 1.0))
    val rec = Similarity.annRecallAtK(e,
      index = Similarity.knnIvfPqRefine(_, _)).as[(Long, Double)].head()
    assert(rec === ((120L, 1.0)))
  }

  test("ivfpq code-only store: serving from codes equals the inline " +
    "composite; no float vectors at rest; sidecar is metric-stamped") {
    val all = (0 until 200).map { i =>
      val c = i % 3
      (i.toLong, (0 until Similarity.Dim).map { d =>
        val base = if (d / 21 == c || (c == 2 && d >= 42)) 5.0f else 0.1f
        base + ((i * 13 + d * 3) % 97) * 0.01f
      }.toArray, c)
    }.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("ivfpqs").toString + "/i"
    Similarity.ivfPqBuild(spark, dir, all)
    // the at-rest store is integer codes + the cell key ONLY — the
    // 16x compression claim is a schema fact, not a docstring
    val stored = spark.read.parquet(dir)
    assert(stored.schema.fieldNames.sorted.toSeq
      === Seq("cell", "code", "m", "vec_id"))
    assert(stored.count() === 200L * Similarity.PqM)
    // the coarse sidecar rides the stamped ivfBuild contract
    assert(new java.io.File(s"$dir.codebook/_assign_metric").exists())
    // serving from codes + sidecars is row-identical to the inline
    // composite (same quantizers, same codes, same integer ADC)
    val got = Similarity.knnIvfPqFromStore(spark, dir, all)
      .collect().map(_.toString).sorted.toSeq
    val inline = Similarity.knnIvfPq(all)
      .collect().map(_.toString).sorted.toSeq
    assert(got === inline && got.nonEmpty)
    // round 11: the refine rung from the store equals the inline
    // refine (same candidates through the store contract, same
    // exactRerank kernel) — the shared-oracle claim, proven
    val gotR = Similarity.knnIvfPqRefineFromStore(spark, dir, all)
      .collect().map(_.toString).sorted.toSeq
    val inlineR = Similarity.knnIvfPqRefine(all)
      .collect().map(_.toString).sorted.toSeq
    assert(gotR === inlineR && gotR.nonEmpty)
    // round 11: filtered retrieval on the code tier — PRE-filter
    // semantics (every answer satisfies the predicate; the rank
    // column stays dense 1..k over the allowed set), and the
    // from-store twin is row-identical to the inline composition
    val docs = all.select(col("vec_id").as("doc_id"))
      .withColumn("lang", org.apache.spark.sql.functions
        .when(col("doc_id") % 2 === 0, "en").otherwise("de"))
      .withColumn("text", org.apache.spark.sql.functions.lit("t"))
    val finDf = Similarity.knnIvfPqFiltered(all, docs)
    val fin = finDf.as[(Long, Long, Long, Double)].collect().toSeq
    assert(fin.nonEmpty)
    assert(fin.forall(_._3 % 2 === 0), "a filtered answer broke the predicate")
    fin.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted === (1L to rs.length).toSeq) }
    val fst = Similarity.knnIvfPqFilteredFromStore(spark, dir, all, docs)
      .collect().map(_.toString).sorted.toSeq
    assert(fst === finDf.collect().map(_.toString).sorted.toSeq)
  }

  test("streaming pq-store serve: micro-batch answers equal the batch " +
    "kernel over the same queries, through one codepath") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val all = (0 until 120).map { i =>
      (i.toLong, (0 until Similarity.Dim).map { d =>
        ((i * 31 + d * 17) % 13 - 6).toFloat
      }.toArray)
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpqsv")
      .toString + "/i"
    Similarity.ivfPqBuild(spark, dir, all)
    // fresh query vectors (ids outside the store) arriving in batches
    def qvec(i: Int) = (0 until Similarity.Dim)
      .map(d => ((i * 19 + d * 11) % 13 - 6).toFloat).toArray
    val q1 = Seq((1000L, qvec(1)), (1001L, qvec(2)))
    val q2 = Seq((1002L, qvec(3)))
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.ArrayBuffer[String]()
    val st = Similarity.servePqStoreStream(spark, dir,
      in.toDF().toDF("vec_id", "embedding")) { (res, _) =>
      got ++= res.collect().map(_.toString)
    }
    in.addData(q1: _*); st.processAllAvailable()
    val afterB1 = got.size
    in.addData(q2: _*); st.processAllAvailable()
    st.stop()
    assert(afterB1 > 0 && got.size > afterB1,
      "both micro-batches must produce answers")
    // batch reference: the same queries through the same kernel
    val expect = Similarity.searchPqStore(spark, dir,
      (q1 ++ q2).toDF("vec_id", "embedding"))
      .collect().map(_.toString).sorted.toSeq
    assert(got.sorted.toSeq === expect && expect.nonEmpty)
  }

  test("ivfpq append: fixed-sidecar ingest into the code store is " +
    "batching-invariant and build/append encodes agree") {
    val mk = (r: Range) => r.map { i =>
      val c = i % 3
      (i.toLong, (0 until Similarity.Dim).map { d =>
        val base = if (d / 21 == c || (c == 2 && d >= 42)) 5.0f else 0.1f
        base + ((i * 13 + d * 3) % 97) * 0.01f
      }.toArray, c)
    }.toDF("vec_id", "embedding", "label")
    val first = mk(0 until 120)
    val dir1 = java.nio.file.Files.createTempDirectory("ivfpqa1")
      .toString + "/i"
    val dir2 = java.nio.file.Files.createTempDirectory("ivfpqa2")
      .toString + "/i"
    // identical deterministic builds → identical sidecars + codes
    Similarity.ivfPqBuild(spark, dir1, first)
    Similarity.ivfPqBuild(spark, dir2, first)
    val all = mk(0 until 200)
    // dir1: build-encoded head + the tail in two append batches.
    // dir2: data dir dropped (sidecars kept) and the WHOLE corpus
    // re-ingested through the append path in one batch — so the
    // compare proves BOTH batching invariance and that the build
    // encode and the append encode agree row-for-row under the same
    // sidecars.
    Similarity.ivfPqAppend(spark, dir1, mk(120 until 160))
    Similarity.ivfPqAppend(spark, dir1, mk(160 until 200))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
    Similarity.ivfPqAppend(spark, dir2, all)
    val s1 = Similarity.knnIvfPqFromStore(spark, dir1, all)
      .collect().map(_.toString).sorted.toSeq
    val s2 = Similarity.knnIvfPqFromStore(spark, dir2, all)
      .collect().map(_.toString).sorted.toSeq
    assert(s1 === s2 && s1.nonEmpty)
    // the appended store stays code-only (no float column at rest)
    assert(spark.read.parquet(dir1).schema.fieldNames.sorted.toSeq
      === Seq("cell", "code", "m", "vec_id"))
    assert(spark.read.parquet(dir1).count() === 200L * Similarity.PqM)
    // delete parity: tombstones (id-only, tier-agnostic) stop a code
    // row from ANSWERING at read time (the query batch comes from the
    // caller's base table, not the store — its filtering is the
    // caller's concern, unlike searchStoreLive's store-fed queries)
    val dead = s1.map(_.split(",")(2).trim.filter(_.isDigit).toLong)
      .distinct.take(2)
    Similarity.ivfDelete(spark, dir1, dead)
    val live = Similarity.knnIvfPqFromStore(spark, dir1, all)
      .as[(Long, Long, Long, Double)].collect()
    assert(live.nonEmpty)
    assert(live.forall(r => !dead.contains(r._3)),
      s"tombstoned ids ${dead.mkString(",")} answered from the code store")
  }

  test("ivfPqRebuild: rebuilt serving equals a fresh build over the " +
    "same source; tombstones fold; refuses a missing store") {
    val mk = (r: Range) => r.map { i =>
      val c = i % 3
      (i.toLong, (0 until Similarity.Dim).map { d =>
        val base = if (d / 21 == c || (c == 2 && d >= 42)) 5.0f else 0.1f
        base + ((i * 13 + d * 3) % 97) * 0.01f
      }.toArray, c)
    }.toDF("vec_id", "embedding", "label")
    val head = mk(0 until 120)
    val all = mk(0 until 200)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqr1")
      .toString + "/i"
    val ref = java.nio.file.Files.createTempDirectory("ivfpqr2")
      .toString + "/i"
    // a STALE store: quantizers trained on the head only, the tail
    // appended under them, plus a pending delete — exactly the state
    // the drift gauge tells an operator to rebuild out of
    Similarity.ivfPqBuild(spark, dir, head)
    Similarity.ivfPqAppend(spark, dir, mk(120 until 200))
    Similarity.ivfDelete(spark, dir, Seq(7L, 13L))
    // the drift gauge reflects the SERVING view: tombstoned ids are
    // excluded from the reconstruction totals (review fix)
    import spark.implicits._
    val gaugeN = Similarity.pqStoreDrift(spark, dir, all)
      .agg(org.apache.spark.sql.functions.sum("n_subvecs"))
      .as[Long].head()
    assert(gaugeN === 198L * Similarity.PqM)
    val srcLive = all.filter(!col("vec_id").isin(7L, 13L))
    val n = Similarity.ivfPqRebuild(spark, dir, all)
    assert(n === 198L)
    // the tombstones FOLDED: file retired, ids gone from the data
    assert(!new java.io.File(s"$dir.tombstones").exists())
    import spark.implicits._
    val ids = spark.read.parquet(dir).select("vec_id").distinct()
      .as[Long].collect().toSet
    assert(!ids(7L) && !ids(13L) && ids.size === 198)
    // no staging debris survives the swap
    assert(!new java.io.File(s"$dir._rebuild").exists())
    assert(!new java.io.File(s"$dir._rebuild.pq").exists())
    assert(!new java.io.File(s"$dir._rebuild.codebook").exists())
    // serving is byte-identical to a FRESH build over the live source
    Similarity.ivfPqBuild(spark, ref, srcLive)
    val got = Similarity.knnIvfPqFromStore(spark, dir, srcLive)
      .collect().map(_.toString).sorted.toSeq
    val fresh = Similarity.knnIvfPqFromStore(spark, ref, srcLive)
      .collect().map(_.toString).sorted.toSeq
    assert(got === fresh && got.nonEmpty)
    // both sidecars re-stamped by the rebuild
    assert(new java.io.File(s"$dir.codebook/_assign_metric").exists())
    assert(new java.io.File(s"$dir.pq/_encode_contract").exists())
    // a first build must go through ivfPqBuild, loudly
    val miss = java.nio.file.Files.createTempDirectory("ivfpqr3")
      .toString + "/i"
    val e1 = intercept[IllegalArgumentException] {
      Similarity.ivfPqRebuild(spark, miss, all)
    }
    assert(e1.getMessage.contains("ivfPqBuild"))
  }

  test("pq encode-contract stamp: a contradicting stamp refuses " +
    "serve/append toward ivfPqRebuild; absence warns but serves; " +
    "no sidecar staging debris after a build") {
    val all = (0 until 120).map { i =>
      (i.toLong, (0 until Similarity.Dim).map { d =>
        ((i * 31 + d * 17) % 13 - 6).toFloat
      }.toArray)
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpqc")
      .toString + "/i"
    Similarity.ivfPqBuild(spark, dir, all)
    val mp = new org.apache.hadoop.fs.Path(s"$dir.pq/_encode_contract")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fresh build: stamped with the current contract, no ._tmp debris
    // (the atomic stamped-sidecar write leaves only the live dirs)
    val in = fs.open(mp)
    val stamped = try new String(in.readAllBytes(), "UTF-8").trim
      finally in.close()
    assert(stamped === Similarity.PqEncodeContract)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir.pq._tmp")))
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir.codebook._tmp")))
    // contradicting stamp → both read verbs refuse, naming the remedy
    val out = fs.create(mp, true)
    try out.write("some-other-encode-v9".getBytes("UTF-8"))
    finally out.close()
    val q = all.limit(3)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.searchPqStore(spark, dir, q).collect()
    }
    assert(e1.getMessage.contains("ivfPqRebuild"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfPqAppend(spark, dir,
        Seq((500L, (0 until Similarity.Dim).map(_.toFloat).toArray))
          .toDF("vec_id", "embedding"))
    }
    assert(e2.getMessage.contains("ivfPqRebuild"))
    // absence (legacy store) warns but serves
    fs.delete(mp, false)
    assert(Similarity.searchPqStore(spark, dir, q).count() > 0)
    // rebuild restores the stamp and clears the refusal
    Similarity.ivfPqRebuild(spark, dir, all)
    assert(Similarity.searchPqStore(spark, dir, q).count() > 0)
    assert(fs.exists(mp))
  }

  test("pq trainer: training strictly reduces distortion on jittered " +
    "clusters; trained codes are valid") {
    // 3 cluster prototypes + deterministic per-vector jitter: sampled
    // seed sub-vectors carry jitter, trained centroids move to the
    // (floored) cluster means — Lloyd monotonicity must show up as a
    // strict distortion drop
    val e = (0 until 200).map { i =>
      val c = i % 3
      (i.toLong, (0 until Similarity.Dim).map { d =>
        val base = if (d / 21 == c || (c == 2 && d >= 42)) 5.0f else 0.1f
        // jitter period 97 > codebook size: seeds can't cover every
        // distinct sub-vector, so sampled distortion is genuinely > 0
        base + ((i * 13 + d * 3) % 97) * 0.01f
      }.toArray, c)
    }.toDF("vec_id", "embedding", "label")
    val dist = Similarity.pqDistortion(e)
      .as[(Long, Double, Double)].head()
    assert(dist._1 === 200L * Similarity.PqM)
    assert(dist._3 < dist._2,
      s"training must reduce distortion: trained=${dist._3} sampled=${dist._2}")
    assert(dist._3 > 0.0)
    // codes: exactly one per (vector, subspace), all referencing
    // trained-codebook cells (= seed ids)
    val codes = Similarity.pqCodesTrained(e)
      .as[(Long, Int, Long)].collect().toSeq
    codes.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (0 until Similarity.PqM))
    }
    val seeds = Similarity.hashSample(e, "c", Similarity.CentCount)
      .select("vec_id").as[Long].collect().toSet
    assert(codes.forall(r => seeds(r._3)))
  }

  test("residual ivfpq: residual encoding beats plain trained PQ; " +
    "retrieval is dense-ranked and self-free") {
    // same jittered clusters as the trainer test: the coarse centroid
    // absorbs the cluster-level offset, so the fine codebook's error
    // must drop strictly below the plain trained PQ's
    val e = (0 until 200).map { i =>
      val c = i % 3
      (i.toLong, (0 until Similarity.Dim).map { d =>
        val base = if (d / 21 == c || (c == 2 && d >= 42)) 5.0f else 0.1f
        base + ((i * 13 + d * 3) % 97) * 0.01f
      }.toArray, c)
    }.toDF("vec_id", "embedding", "label")
    val dist = Similarity.ivfPqResDistortion(e)
      .as[(Long, Double, Double)].head()
    assert(dist._1 === 200L * Similarity.PqM)
    assert(dist._3 < dist._2,
      s"residual must beat plain PQ: res=${dist._3} plain=${dist._2}")
    assert(dist._3 > 0.0)
    val got = Similarity.knnIvfPqRes(e)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    got.foreach { case (q, _, n, _) => assert(q !== n) }
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length))
      assert(rows.length <= Similarity.K)
    }
  }

  test("residual nprobe=1 shares the home-cell ADC tail: same ranked " +
    "rows as knnIvfPqRes, adc_q offset by the per-query |r_q|²") {
    val e = (0 until 200).map { i =>
      val c = i % 3
      (i.toLong, (0 until Similarity.Dim).map { d =>
        val base = if (d / 21 == c || (c == 2 && d >= 42)) 5.0f else 0.1f
        base + ((i * 13 + d * 3) % 97) * 0.01f
      }.toArray, c)
    }.toDF("vec_id", "embedding", "label")
    val home = Similarity.knnIvfPqRes(e)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val probe1 = Similarity.knnIvfPqResProbe(e, probes = 1)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(home.nonEmpty)
    // the rank-1 probe cell is the ivfAssign home cell under the same
    // (s, cent_id) order, so the ranking is the same
    assert(probe1.map(r => (r._1, r._2, r._3)).sorted ===
      home.map(r => (r._1, r._2, r._3)).sorted)
    // |r_q|² against the home centroid, in the same integer micro-units
    val cents = Similarity.ivfCodebook(e)
    val rq2 = Similarity.ivfAssign(e, Some(cents))
      .join(cents, col("cell") === col("cent_id"))
      .selectExpr("vec_id", "aggregate(zip_with(v, cv, (a, b) -> " +
        "cast(round(a * 1000000.0D) as bigint) - " +
        "cast(round(b * 1000000.0D) as bigint)), 0L, " +
        "(acc, x) -> acc + x * x) AS rq2")
      .as[(Long, Long)].collect().toMap
    val homeScore = home.map(r => ((r._1, r._3), r._4)).toMap
    probe1.foreach { case (q, _, n, s) =>
      assert(s - homeScore((q, n)) === rq2(q), s"query $q, nbr $n")
    }
  }

  test("rp project: RpDim whole-integer dims; scalar multiples stay parallel") {
    val base = (0 until Similarity.Dim).map(d => ((d * 17) % 13 - 6).toFloat)
    val e = Seq(
      (1L, base.toArray),
      (2L, base.map(_ * 3f).toArray)) // positive scalar multiple
      .toDF("vec_id", "embedding")
    val rows = Similarity.rpProject(e)
      .select("vec_id", "embedding").as[(Long, Seq[Double])]
      .collect().toMap
    assert(rows(1L).size === Similarity.RpDim)
    // exact integer projections (micro-quantized components, ±1 signs)
    rows.values.flatten.foreach(p => assert(p === math.rint(p)))
    // projection is linear: p(3v) = 3·p(v) exactly
    assert(rows(2L) === rows(1L).map(_ * 3d))
  }

  test("rp signs: balanced, pairwise-distinct projection rows") {
    Similarity.rpSigns.foreach { row =>
      assert(row.contains(1L) && row.contains(-1L)) // never degenerate
    }
    assert(Similarity.rpSigns.distinct.size === Similarity.RpDim)
  }

  test("rp recall: parallel clusters survive projection, recall 1.0") {
    // two near-orthogonal clusters of exact scalar multiples: every
    // within-cluster cosine is exactly 1.0 in BOTH spaces (linearity),
    // ties break on nbr_id identically, so top-5 sets coincide
    val baseA = (0 until Similarity.Dim).map(d =>
      if (d < 32) ((d * 17) % 13 - 6).toFloat else 0f)
    val baseB = (0 until Similarity.Dim).map(d =>
      if (d >= 32) ((d * 29) % 11 - 5).toFloat else 0f)
    val e = (0 until 120).map { i =>
      val b = if (i < 60) baseA else baseB
      (i.toLong, b.map(_ * (1 + (i % 60)).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val got = Similarity.rpRecallAtK(e).as[(Long, Double)].head()
    assert(got._1 === 120L) // every id is a query at this size
    assert(got._2 === 1.0)
  }

  test("planesFor: occupancy target 8 at every corpus size; buckets " +
    "stay inside the plane-count range") {
    // the pure contract: p is the SMALLEST plane count >= 8 with
    // TargetOcc * 2^p >= n — expected occupancy never exceeds
    // TargetOcc, and one fewer plane would exceed it
    for (n <- Seq(0L, 1L, 100L, 2048L, 2049L, 6000L, 20000L, 1000000L,
      1000000000L)) {
      val p = Similarity.planesFor(n)
      assert(p >= Similarity.Planes && p <= Similarity.MaxPlanes)
      if (p < Similarity.MaxPlanes)
        assert((Similarity.TargetOcc.toLong << p) >= n,
          s"n=$n p=$p misses the occupancy target")
      if (p > Similarity.Planes)
        assert((Similarity.TargetOcc.toLong << (p - 1)) < n,
          s"n=$n p=$p is not minimal")
    }
    assert(Similarity.planesFor(2048) === 8)  // boundary: 8*2^8 = 2048
    assert(Similarity.planesFor(2049) === 9)
    // realized partition at a size that forces 9 planes: every vector
    // bucketed, every bucket id inside [0, 2^9)
    val n = 4096
    val stats = Similarity.bucketStats(emb(n))
      .as[(Long, Long)].collect()
    assert(stats.map(_._2).sum === n.toLong)
    assert(stats.forall(r => r._1 >= 0L && r._1 < (1L << 9)))
    // and the extra plane is really used: some bucket has bit 8 set
    // (prefix-stable weights: the first 8 bits match the 8-plane ids)
    assert(stats.exists(r => (r._1 >> 8) == 1L))
  }

  test("kmeans lloyd: separable clusters never mix; counts partition") {
    // cluster A (ids 0-59) near 0, cluster B (ids 60-119) near 100 —
    // 100 apart in every one of the 64 dims, within-cluster spread
    // ≤ 0.4. A cell that mixed A and B members would put some point
    // ≥ 50 from its centroid in every dim: per-point inertia ≥
    // 64·(50e6)² / 1e12 = 160 000 — while the all-pure bound is
    // 120·64·(0.4e6)²/1e12 ≈ 1 229. The inertia total therefore
    // PROVES no cell mixes, for any seed sample.
    val e = (0 until 120).map { i =>
      val base = if (i < 60) 0f else 100f
      (i.toLong, (0 until Similarity.Dim).map { d =>
        base + ((i * 13 + d * 7) % 5).toFloat * 0.1f
      }.toArray)
    }.toDF("vec_id", "embedding")
    val got = Similarity.kmeansLloyd(e)
      .select("cell", "n_vecs", "inertia_e12")
      .as[(Long, Long, Double)].collect()
    // K floors at n/MinCellFill = 24 sampled seeds; cells partition n
    assert(got.length <= 24)
    assert(got.map(_._2).sum === 120L)
    assert(got.map(_._3).sum < 100000.0,
      s"inertia ${got.map(_._3).sum} implies a mixed A/B cell")
  }

  test("ivf split: exactly the oversized cells split; sub sizes " +
    "partition membership; a pure clone cell keeps its centroid") {
    // 30 identical far-corner clones (all-20.0) + 70 varied vectors:
    // the clones form one cell of occupancy ~30 against mean ~5 —
    // guaranteed oversized at the 4/3 threshold
    val clones = (0 until 30).map(i =>
      (i.toLong, Array.fill(Similarity.Dim)(20.0f), 0))
    val varied = (30 until 100).map { i =>
      (i.toLong, (0 until Similarity.Dim)
        .map(d => ((i * 31 + d * 17) % 13 - 6).toFloat).toArray, 0)
    }
    val e = (clones ++ varied).toDF("vec_id", "embedding", "label")
    val out = Similarity.ivfSplitCells(e)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // recompute the expected split set from the operator's own
    // assignment (shared derivation, package-private)
    val assigned = Similarity.ivfAssignQ(e)
      .select(col("vec_id"), col("cell"))
      .as[(Long, Long)].collect().toSeq
    val occ = assigned.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val mean = occ.values.sum / occ.size
    val expected = occ.filter { case (_, n) =>
      n > (Similarity.SplitOccNum * mean) / Similarity.SplitOccDen
    }.keySet
    assert(out.map(_._1).toSet === expected)
    assert(expected.nonEmpty)
    // per (cell, sub): exactly Dim component rows, one n_vecs value;
    // sub sizes partition the cell's membership
    out.groupBy(r => (r._1, r._2)).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted ===
        (0L until Similarity.Dim.toLong))
      assert(rows.map(_._5).distinct.size === 1)
    }
    val cellSize = out.groupBy(_._1).view.mapValues(rs =>
      rs.groupBy(_._2).map(_._2.head._5).sum).toMap
    cellSize.foreach { case (c, n) => assert(n === occ(c)) }
    // the clone cell: identical members -> identical seeds -> every
    // member ties to sub 0, and the floor-mean IS the clone vector
    val cloneCell = assigned.find(_._1 == 0L).get._2
    assert(expected.contains(cloneCell))
    val cloneRows = out.filter(_._1 == cloneCell)
    assert(cloneRows.map(_._2).distinct === Seq(0L))
    assert(cloneRows.forall(_._4 === 20000000L)) // round(20.0 * 1e6)
    assert(cloneRows.head._5 >= 30L) // all 30 clones in one sub
    // partition invariance
    val out2 = Similarity.ivfSplitCells(e.repartition(7))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out2.sorted === out.sorted)
  }

  test("ivf from store: the persisted index serves identical rows") {
    val d = "/root/testdata/sf0.001"
    val inline = Similarity.knnIvf(graft.Tables.embeddings(spark, d))
      .collect().map(_.toString).sorted.toSeq
    val stored = Similarity.knnIvfFromStore(spark, d)
      .collect().map(_.toString).sorted.toSeq
    assert(stored === inline)
    assert(stored.nonEmpty)
  }

  test("ivf append: fixed-codebook ingest equals the batch build") {
    // the appended batch must assign against the STORE's persisted
    // codebook sidecar (trained from base), not retrain
    val all = (0 until 120).map { i =>
      (i.toLong, (0 until Similarity.Dim).map { d =>
        ((i * 31 + d * 17) % 13 - 6).toFloat
      }.toArray)
    }.toDF("vec_id", "embedding")
    val base = all.filter($"vec_id" < 80)
    val batch = all.filter($"vec_id" >= 80)
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString + "/i"
    Similarity.ivfBuild(spark, dir, base)
    Similarity.ivfAppend(spark, dir, batch)
    val stored = Similarity.searchAssigned(
      spark.read.parquet(dir).select(col("vec_id"), col("v"), col("cell")))
      .collect().map(_.toString).sorted.toSeq
    // reference: batch build over the union with base's codebook
    val cents = Similarity.storeCodebook(spark, dir)
    val direct = Similarity.searchAssigned(
      Similarity.ivfAssign(all, Some(cents)))
      .collect().map(_.toString).sorted.toSeq
    assert(stored === direct)
    assert(stored.nonEmpty)
    // appended vectors really landed in the base codebook's cells
    val cbCells = cents.select($"cent_id".cast("long")).as[Long]
      .collect().toSet
    val cells = spark.read.parquet(dir).filter($"vec_id" >= 80)
      .select($"cell".cast("long")).distinct().as[Long].collect().toSet
    assert(cells.nonEmpty && cells.subsetOf(cbCells))
  }

  test("streaming knn serve: micro-batch answers equal the batch " +
    "search over the same queries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val all = (0 until 120).map { i =>
      (i.toLong, (0 until Similarity.Dim).map { d =>
        ((i * 31 + d * 17) % 13 - 6).toFloat
      }.toArray)
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfs").toString + "/i"
    Similarity.ivfBuild(spark, dir, all)

    // fresh query vectors (ids outside the store) arriving in batches
    def qvec(i: Int) = (0 until Similarity.Dim)
      .map(d => ((i * 19 + d * 11) % 13 - 6).toFloat).toArray
    val q1 = Seq((1000L, qvec(1)), (1001L, qvec(2)))
    val q2 = Seq((1002L, qvec(3)))
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.ArrayBuffer[String]()
    val sq2 = Similarity.serveStoreStream(spark, dir,
      in.toDF().toDF("vec_id", "embedding")) { (res, _) =>
      got ++= res.collect().map(_.toString)
    }
    in.addData(q1: _*); sq2.processAllAvailable()
    val afterB1 = got.size
    in.addData(q2: _*); sq2.processAllAvailable()
    sq2.stop()
    assert(afterB1 > 0 && got.size > afterB1,
      "both micro-batches must produce answers")

    // batch reference: the same queries through the same kernel
    val cents = Similarity.storeCodebook(spark, dir)
    val qdf = (q1 ++ q2).toDF("vec_id", "embedding")
    val expect = Similarity.searchCells(
      Similarity.ivfAssign(qdf, Some(cents)),
      spark.read.parquet(dir).select(col("vec_id"), col("v"), col("cell")))
      .collect().map(_.toString).sorted.toSeq
    assert(got.sorted.toSeq === expect)
    assert(expect.nonEmpty)

    // tombstoned ids must not answer on a serve stream started after
    // the delete (the searchStoreLive contract on the streaming path)
    val dead = got.map(_.split(",")(2).trim).distinct.take(2)
      .map(_.filter(c => c.isDigit)).map(_.toLong).toSeq
    Similarity.ivfDelete(spark, dir, dead)
    val got2 = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val in2 = MemoryStream[(Long, Array[Float])]
    val sq3 = Similarity.serveStoreStream(spark, dir,
      in2.toDF().toDF("vec_id", "embedding")) { (res, _) =>
      got2 ++= res.select("query_id", "nbr_id")
        .as[(Long, Long)].collect()
    }
    in2.addData(q1 ++ q2: _*); sq3.processAllAvailable(); sq3.stop()
    assert(got2.nonEmpty)
    assert(got2.forall(r => !dead.contains(r._2)),
      s"tombstoned ids ${dead.mkString(",")} served on the stream")
  }

  test("streaming range serve: micro-batch answers equal the batch " +
    "kernel over the same queries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val all = (0 until 100).map { i =>
      (i.toLong, (0 until Similarity.Dim).map { d =>
        ((i * 29 + d * 13) % 11 - 5).toFloat
      }.toArray)
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfr").toString + "/i"
    Similarity.ivfBuild(spark, dir, all)
    def qvec(i: Int) = (0 until Similarity.Dim)
      .map(d => ((i * 23 + d * 7) % 11 - 5).toFloat).toArray
    val qs = Seq((2000L, qvec(1)), (2001L, qvec(2)), (2002L, qvec(3)))
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.ArrayBuffer[String]()
    // tau = -1 admits every in-cell pair: the stream ≡ batch check
    // then covers the whole scored stream, not a lucky radius
    val stq = Similarity.serveRangeStream(spark, dir,
      in.toDF().toDF("vec_id", "embedding"), tau = -1.0) { (res, _) =>
      got ++= res.collect().map(_.toString)
    }
    in.addData(qs: _*); stq.processAllAvailable(); stq.stop()
    val cents = Similarity.storeCodebook(spark, dir)
    val expect = Similarity.rangeCells(
      Similarity.ivfAssign(qs.toDF("vec_id", "embedding"), Some(cents)),
      spark.read.parquet(dir).select(col("vec_id"), col("v"), col("cell")),
      tau = -1.0).collect().map(_.toString).sorted.toSeq
    assert(got.sorted.toSeq === expect)
    assert(expect.nonEmpty)
    // and the batch store verb honors a binding radius
    val bound = Similarity.searchStoreRange(spark, dir, tau = 0.5).collect()
    assert(bound.forall(_.getDouble(2) >= 0.5))
  }

  test("streaming index ingest: per-batch appends equal the batch " +
    "build under the fixed codebook") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val all = (0 until 150).map { i =>
      (i.toLong, (0 until Similarity.Dim).map { d =>
        ((i * 31 + d * 17) % 13 - 6).toFloat
      }.toArray)
    }.toDF("vec_id", "embedding")
    val base = all.filter($"vec_id" < 90)
    val b1 = all.filter($"vec_id" >= 90 && $"vec_id" < 120)
      .as[(Long, Array[Float])].collect().toSeq
    val b2 = all.filter($"vec_id" >= 120)
      .as[(Long, Array[Float])].collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("ivfi").toString + "/i"
    Similarity.ivfBuild(spark, dir, base)
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Array[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("ivfick").toString
    val ing = Similarity.ingestStoreStream(spark, dir,
      in.toDF().toDF("vec_id", "embedding"), Some(ckpt))
    in.addData(b1: _*); ing.processAllAvailable()
    in.addData(b2: _*); ing.processAllAvailable()
    ing.stop()
    val stored = Similarity.searchAssigned(Similarity.storeIndex(spark, dir))
      .collect().map(_.toString).sorted.toSeq
    val direct = Similarity.searchAssigned(
      Similarity.ivfAssign(all, Some(Similarity.storeCodebook(spark, dir))))
      .collect().map(_.toString).sorted.toSeq
    assert(stored === direct)
    assert(stored.nonEmpty)
    // every streamed vector landed, exactly once
    assert(Similarity.storeIndex(spark, dir).count() === 150L)

    // a REPLAYED micro-batch (failure/restart re-runs the last
    // uncommitted batchId) must not duplicate vectors: the batch
    // writer overwrites its own batchId-keyed tail subdir
    val cents = Similarity.storeCodebook(spark, dir)
    Similarity.ingestBatchWrite(cents, b1.toDF("vec_id", "embedding"),
      dir, 0L)
    assert(Similarity.storeIndex(spark, dir).count() === 150L)
    assert(Similarity.searchAssigned(Similarity.storeIndex(spark, dir))
      .collect().map(_.toString).sorted.toSeq === direct)

    // compact-under-serve lifecycle (stop -> compact -> restart):
    // a serve stream answers from base+tail, is STOPPED (the
    // ivfCompact single-writer contract: compaction physically
    // replaces files a live stream's resolved static plan holds),
    // compaction folds the tail into the cell-partitioned base, and
    // a RESTARTED serve stream gives byte-identical answers
    def qvec(i: Int) = (0 until Similarity.Dim)
      .map(d => ((i * 23 + d * 7) % 13 - 6).toFloat).toArray
    val qs = Seq((2000L, qvec(1)), (2001L, qvec(2)))
    def serveOnce(): Seq[String] = {
      val got = scala.collection.mutable.ArrayBuffer[String]()
      val qin = MemoryStream[(Long, Array[Float])]
      val sq1 = Similarity.serveStoreStream(spark, dir,
        qin.toDF().toDF("vec_id", "embedding")) { (res, _) =>
        got ++= res.collect().map(_.toString)
      }
      qin.addData(qs: _*); sq1.processAllAvailable(); sq1.stop()
      got.sorted.toSeq
    }
    val servedPre = serveOnce()   // base + tail
    assert(Similarity.ivfCompact(spark, dir) === 0L) // no tombstones
    assert(!new java.io.File(s"$dir.ingest").exists(),
      "compaction must fold and remove the ingest tail")
    assert(spark.read.parquet(dir).count() === 150L)
    val servedPost = serveOnce()  // compacted base only
    assert(servedPre.nonEmpty && servedPost === servedPre,
      "stop-compact-restart must not change serve answers")
  }

  test("normalize: mean-centered unit vectors, exact symmetric case") {
    // mean = (1,1); centered v1=(1,-1), v2=(-1,1); both normalize to
    // ±1/√2 = ±0.707107 (rounded)
    val e = Seq((1L, Seq(2.0f, 0.0f)), (2L, Seq(0.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.normalizeCenter(e)
      .select("vec_id", "idx", "nval").as[(Long, Int, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 0)) === 0.707107)
    assert(got((1L, 1)) === -0.707107)
    assert(got((2L, 0)) === -0.707107)
    assert(got((2L, 1)) === 0.707107)
  }

  test("codebook drift: the shifted half reads worse under one codebook") {
    // bucket10(id, salt 11) = (id + 7) % 10 for small ids: ids ending
    // 3-7 are the "old" half (b < 5). Plant them as far-corner clones
    // (their cell is pure -> distortion exactly 0) and the "new" half
    // as spread vectors -> the monitor must read new > old = 0.
    val emb = (0 until 40).map { i =>
      val old = Seq(3, 4, 5, 6, 7).contains(i % 10)
      val v =
        if (old) Array.fill(Similarity.Dim)(50.0f)
        else (0 until Similarity.Dim)
          .map(d => ((i * 31 + d * 17) % 13 - 6).toFloat).toArray
      (i.toLong, v, 0)
    }.toDF("vec_id", "embedding", "label")
    val got = Similarity.codebookDrift(emb)
      .as[(Int, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1)._2 === 20L && got(0)._2 === 20L)
    assert(got(1)._4 === 0.0) // pure clone cell: zero distortion
    assert(got(0)._4 > 0.0)  // the spread half fits worse
  }

  test("ivf apply-split: hot cell physically split, codebook swapped, " +
    "membership preserved, clone retrieval unchanged") {
    // 30 identical clones (one hot cell) + 30 spread vectors
    val clones = (0 until 30).map(i =>
      (i.toLong, Array.fill(Similarity.Dim)(20.0f)))
    val spread = (30 until 60).map { i =>
      (i.toLong, (0 until Similarity.Dim)
        .map(d => ((i * 31 + d * 17) % 13 - 6).toFloat).toArray)
    }
    val all = (clones ++ spread).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfs").toString + "/i"
    Similarity.ivfBuild(spark, dir, all)
    val cbBefore = Similarity.storeCodebook(spark, dir)
      .select("cent_id").as[Long].collect().toSet
    val cloneCellBefore = spark.read.parquet(dir)
      .filter($"vec_id" === 0L).select("cell").as[Long].head()
    val cloneTopBefore = Similarity.searchStoreLive(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
      .filter(r => r._1 < 30L).map(_.toString).sorted.toSeq

    val nSplit = Similarity.ivfApplySplit(spark, dir)
    assert(nSplit >= 1L) // the hot cell must trip the threshold

    // membership preserved exactly; parent dirs physically gone
    val after = spark.read.parquet(dir)
      .select(col("vec_id"), col("cell")).as[(Long, Long)].collect()
    assert(after.map(_._1).sorted.toSeq === (0L until 60L))
    assert(!after.map(_._2).contains(cloneCellBefore))
    assert(!new java.io.File(s"$dir/cell=$cloneCellBefore").exists())

    // codebook: split parents replaced by fresh sub-centroids, and
    // every stored cell id resolves against the new sidecar
    val cbAfter = Similarity.storeCodebook(spark, dir)
      .select("cent_id").as[Long].collect().toSet
    assert(!cbAfter.contains(cloneCellBefore))
    // new sidecar = old minus the split parents plus the
    // member-bearing sub-cells (an all-tied cell yields ONE sub —
    // empty subs never enter the codebook, the Lloyd drop-empty rule)
    val removed = cbBefore -- cbAfter
    val added = cbAfter -- cbBefore
    assert(removed.size === nSplit.toInt)
    assert(removed.contains(cloneCellBefore))
    assert(added === after.map(_._2).toSet -- cbBefore)
    assert(added.nonEmpty && added.forall(_ > cbBefore.max))
    assert(after.map(_._2).toSet.subsetOf(cbAfter))

    // identical clones tie to one sub-cell; their retrieval is
    // byte-identical across the split
    assert(after.filter(_._1 < 30L).map(_._2).distinct.length === 1)
    val cloneTopAfter = Similarity.searchStoreLive(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
      .filter(r => r._1 < 30L).map(_.toString).sorted.toSeq
    assert(cloneTopAfter === cloneTopBefore)

    // a live ingest tail is refused — its rows are keyed by parent
    // cell ids the split retires (compact first, the offline contract)
    new java.io.File(s"$dir.ingest/batch=0").mkdirs()
    intercept[IllegalArgumentException] {
      Similarity.ivfApplySplit(spark, dir)
    }
  }

  test("ivf delete+compact: tombstoned rows vanish; compaction is physical") {
    val all = (0 until 120).map { i =>
      (i.toLong, (0 until Similarity.Dim).map { d =>
        ((i * 31 + d * 17) % 13 - 6).toFloat
      }.toArray)
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfd").toString + "/i"
    Similarity.ivfAssign(all).write.partitionBy("cell").parquet(dir)

    val before = Similarity.searchStoreLive(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(before.nonEmpty)

    // an empty delete list is refused (centroids live in the
    // .codebook sidecar, so every stored id is deletable payload)
    intercept[IllegalArgumentException] {
      Similarity.ivfDelete(spark, dir, Seq.empty)
    }

    // tombstone two payload rows: they disappear from both roles
    val dead = Seq(7L, 23L)
    Similarity.ivfDelete(spark, dir, dead)
    val served = Similarity.searchStoreLive(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    assert(served.forall(r => !dead.contains(r._1) && !dead.contains(r._3)))
    // served rows equal the index rebuilt WITHOUT the dead rows
    val expect = Similarity.searchAssigned(
      spark.read.parquet(dir)
        .select(col("vec_id"), col("v"), col("cell"))
        .filter(!$"vec_id".isin(dead: _*)))
      .collect().map(_.toString).sorted.toSeq
    assert(served.map(_.toString).sorted.toSeq.nonEmpty)
    assert(Similarity.searchStoreLive(spark, dir)
      .collect().map(_.toString).sorted.toSeq === expect)

    // compaction: physical removal, tombstones cleared, same answers
    assert(Similarity.ivfCompact(spark, dir) === 2L)
    assert(!new java.io.File(s"$dir.tombstones").exists())
    assert(spark.read.parquet(dir)
      .filter($"vec_id".isin(dead: _*)).count() === 0L)
    assert(Similarity.searchStoreLive(spark, dir)
      .collect().map(_.toString).sorted.toSeq === expect)
    // idempotent
    assert(Similarity.ivfCompact(spark, dir) === 0L)
  }

  test("corpus diversity: exact ppm mean, collapse share, negative-safe") {
    // bounded sample covers all ids at this size; cosines: (0,50)=1,
    // (0,100)=0, (50,100)=0 -> mean (1e6+0+0) div 3, one pair >0.9
    val e = Seq((0L, Seq(1.0f, 0.0f)), (50L, Seq(1.0f, 0.0f)),
      (100L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.corpusDiversity(e)
      .as[(Long, Long, Double, Double, Long)].head()
    assert(got === ((3L, 333333L, 0.0, 1.0, 333333L)))
    // antipodal pair: the mean is negative and still engine-exact
    // under the offset-then-divide device (-1e6 div 1 = -1e6)
    val anti = Seq((0L, Seq(1.0f, 0.0f)), (50L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val g2 = Similarity.corpusDiversity(anti)
      .as[(Long, Long, Double, Double, Long)].head()
    assert(g2 === ((1L, -1000000L, -1.0, -1.0, 0L)))
  }

  test("ivf recover: crash debris (cell dirs the sidecar does not " +
    "reference) is removed and serving returns to the committed state") {
    val all = (0 until 60).map { i =>
      (i.toLong, (0 until Similarity.Dim).map { d =>
        ((i * 31 + d * 17) % 13 - 6).toFloat
      }.toArray)
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfrc").toString + "/i"
    Similarity.ivfBuild(spark, dir, all)
    val base = Similarity.searchStoreLive(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(base.nonEmpty)
    // plant swap debris: duplicates of live vectors under a cell id
    // the sidecar does not reference — what a crash in either swap
    // window (pre- or post-sidecar-commit) leaves behind
    spark.read.parquet(dir).select("vec_id", "v").limit(5)
      .write.parquet(s"$dir/cell=999999")
    assert(spark.read.parquet(dir).count() === 65L,
      "debris must be visible to the raw base read (that's the hazard)")
    // the swap verbs refuse to run over debris (round-10 ADVICE —
    // enforced, not just documented: a re-run would re-derive the
    // same fresh ids from the unchanged sidecar max and append
    // duplicates into the leftover dirs); ivfRecover must come first
    intercept[IllegalArgumentException] {
      Similarity.ivfRetrain(spark, dir)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfApplySplit(spark, dir)
    }
    assert(Similarity.ivfRecover(spark, dir) === 1L)
    assert(!new java.io.File(s"$dir/cell=999999").exists())
    assert(Similarity.searchStoreLive(spark, dir)
      .collect().map(_.toString).sorted.toSeq === base)
    // idempotent: a clean store recovers nothing
    assert(Similarity.ivfRecover(spark, dir) === 0L)
  }

  test("codebook metric stamp: a sidecar routed under a different " +
    "metric is refused toward ivfRetrain; retrain re-stamps; an " +
    "unstamped legacy sidecar is accepted") {
    val all = (0 until 60).map { i =>
      (i.toLong, (0 until Similarity.Dim).map { d =>
        ((i * 31 + d * 17) % 13 - 6).toFloat
      }.toArray)
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfm").toString + "/i"
    Similarity.ivfBuild(spark, dir, all)
    val marker = new java.io.File(s"$dir.codebook/_assign_metric")
    assert(marker.exists())
    assert(java.nio.file.Files.readString(marker.toPath)
      === Similarity.AssignMetric)
    // contradicting stamp — what a store persisted by the round-6
    // cosine build would carry had the stamp existed then: every
    // checked read (serve/append/split) refuses, because stored
    // memberships and fresh assignments would disagree on routing.
    // (Written through the Hadoop FS API like a real older build
    // would — the local FS keeps .crc sidecars, so a raw-java edit
    // only manufactures a checksum error, not this scenario.)
    val mp = new org.apache.hadoop.fs.Path(s"$dir.codebook/_assign_metric")
    val mfs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mout = mfs.create(mp, true)
    mout.write("cosine-v0".getBytes("UTF-8")); mout.close()
    intercept[IllegalArgumentException] {
      Similarity.storeCodebook(spark, dir)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfAppend(spark, dir, all.limit(1))
    }
    // the directed remedy runs on the mismatched store (unchecked
    // read — it re-derives everything from rows) and re-stamps
    assert(Similarity.ivfRetrain(spark, dir) >= 1L)
    assert(java.nio.file.Files.readString(marker.toPath)
      === Similarity.AssignMetric)
    assert(Similarity.storeCodebook(spark, dir).count() > 0L)
    // absence = pre-stamp store or interrupted sidecar write:
    // accepted (warn-only), since refusal would brick crash recovery
    assert(mfs.delete(mp, false))
    assert(Similarity.storeCodebook(spark, dir).count() > 0L)
  }

  test("ivf retrain: retrained store serves byte-identical to a fresh " +
    "build over the same rows; live tail and tombstones are refused") {
    val all = (0 until 100).map { i =>
      (i.toLong, (0 until Similarity.Dim).map { d =>
        ((i * 31 + d * 17) % 13 - 6).toFloat
      }.toArray)
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfr").toString + "/i"
    // a DRIFTED store: codebook trained on the first 60 rows only,
    // the last 40 appended under that stale codebook — the state
    // sim_codebook_drift flags and this verb repairs
    Similarity.ivfBuild(spark, dir, all.filter($"vec_id" < 60))
    Similarity.ivfAppend(spark, dir, all.filter($"vec_id" >= 60))
    val oldMax = Similarity.storeCodebook(spark, dir)
      .agg(org.apache.spark.sql.functions.max($"cent_id"))
      .as[Long].head()

    val k = Similarity.ivfRetrain(spark, dir)
    assert(k >= 1L)
    // sidecar: exactly k FRESH ids, all past the old max (no dir
    // collisions possible), and every stored row resolves against it
    val cb = Similarity.storeCodebook(spark, dir)
      .select("cent_id").as[Long].collect().toSet
    assert(cb.size === k.toInt && cb.forall(_ > oldMax))
    val rows = spark.read.parquet(dir)
      .select($"vec_id", $"cell".cast("long")).as[(Long, Long)].collect()
    assert(rows.map(_._1).sorted.toSeq === (0L until 100L))
    assert(rows.map(_._2).toSet.subsetOf(cb))
    // serving equals a FRESH build over the same rows: the remap is
    // order-preserving, so memberships — and the in-cell top-k —
    // are byte-identical
    val dir2 = java.nio.file.Files.createTempDirectory("ivfr2").toString + "/i"
    Similarity.ivfBuild(spark, dir2, all)
    val got = Similarity.searchStoreLive(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val fresh = Similarity.searchStoreLive(spark, dir2)
      .collect().map(_.toString).sorted.toSeq
    assert(got === fresh && got.nonEmpty)

    // single-writer offline contract: a live ingest tail is refused
    new java.io.File(s"$dir.ingest/batch=0").mkdirs()
    intercept[IllegalArgumentException] {
      Similarity.ivfRetrain(spark, dir)
    }
    new java.io.File(s"$dir.ingest/batch=0").delete()
    new java.io.File(s"$dir.ingest").delete()
    // ...and so are pending tombstones (compact first)
    Similarity.ivfDelete(spark, dir, Seq(5L))
    intercept[IllegalArgumentException] {
      Similarity.ivfRetrain(spark, dir)
    }
  }

  test("ingest checkpoint contract: a checkpoint-less restart over an " +
    "existing tail is refused; a checkpointed resume appends, never " +
    "clobbers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val all = (0 until 100).map { i =>
      (i.toLong, (0 until Similarity.Dim).map { d =>
        ((i * 31 + d * 17) % 13 - 6).toFloat
      }.toArray)
    }.toDF("vec_id", "embedding")
    val b1 = all.filter($"vec_id" >= 60 && $"vec_id" < 80)
      .as[(Long, Array[Float])].collect().toSeq
    val b2 = all.filter($"vec_id" >= 80)
      .as[(Long, Array[Float])].collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("ivfck").toString + "/i"
    Similarity.ivfBuild(spark, dir, all.filter($"vec_id" < 60))
    implicit val sq = spark.sqlContext
    val ck = java.nio.file.Files.createTempDirectory("ivfckpt").toString
    val in1 = MemoryStream[(Long, Array[Float])]
    val ing1 = Similarity.ingestStoreStream(spark, dir,
      in1.toDF().toDF("vec_id", "embedding"), Some(ck))
    in1.addData(b1: _*); ing1.processAllAvailable(); ing1.stop()
    assert(new java.io.File(s"$dir.ingest/batch=0").exists())
    assert(Similarity.storeIndex(spark, dir).count() === 80L)

    // the RESTART hazard: a checkpoint-less stream over this tail
    // would reuse batchId 0 and overwrite the committed batch — it
    // must be refused before it can start
    val in2 = MemoryStream[(Long, Array[Float])]
    intercept[IllegalArgumentException] {
      Similarity.ingestStoreStream(spark, dir,
        in2.toDF().toDF("vec_id", "embedding"))
    }
    // refusal happened before any write: the tail is untouched
    assert(Similarity.storeIndex(spark, dir).count() === 80L)

    // a FRESH checkpoint is the same hazard (batchIds restart at 0):
    // also refused
    val ck2 = java.nio.file.Files.createTempDirectory("ivffresh").toString
    intercept[IllegalArgumentException] {
      Similarity.ingestStoreStream(spark, dir,
        in2.toDF().toDF("vec_id", "embedding"), Some(ck2))
    }

    // the production resume: the stream's OWN checkpoint → batchIds
    // continue, the new batch lands beside batch 0, nothing is
    // clobbered (MemoryStream replays from its block offsets, so the
    // resumed instance re-adds b1 to line offsets up with the
    // recovered commit, then b2 arrives as the genuinely new batch)
    val in3 = MemoryStream[(Long, Array[Float])]
    in3.addData(b1: _*)
    val ing3 = Similarity.ingestStoreStream(spark, dir,
      in3.toDF().toDF("vec_id", "embedding"), Some(ck))
    in3.addData(b2: _*); ing3.processAllAvailable(); ing3.stop()
    assert(new java.io.File(s"$dir.ingest/batch=0").exists())
    assert(new java.io.File(s"$dir.ingest/batch=1").exists())
    assert(Similarity.storeIndex(spark, dir).count() === 100L)
    // and the served view equals the batch build under the store's
    // fixed codebook — the tail really holds b1 AND b2
    val stored = Similarity.searchAssigned(Similarity.storeIndex(spark, dir))
      .collect().map(_.toString).sorted.toSeq
    val direct = Similarity.searchAssigned(
      Similarity.ivfAssign(all, Some(Similarity.storeCodebook(spark, dir))))
      .collect().map(_.toString).sorted.toSeq
    assert(stored === direct && stored.nonEmpty)

    // the FIRST-BATCH-CRASH window (round-10 ADVICE): the engine
    // writes offsets/0, foreachBatch lands the tail's batch=0 dir,
    // and the crash hits BEFORE commits/0 — the checkpoint owns the
    // tail (offsets prove it started batch 0) but holds no commit.
    // The same-checkpoint resume is the documented idempotent replay
    // (overwrite of batch=0) and must be ACCEPTED; a commits-gated
    // guard would refuse it and strand the store.
    val dirC = java.nio.file.Files.createTempDirectory("ivfcr").toString + "/i"
    Similarity.ivfBuild(spark, dirC, all.filter($"vec_id" < 60))
    val ckC = java.nio.file.Files.createTempDirectory("ivfcrck").toString
    val inC = MemoryStream[(Long, Array[Float])]
    val ingC = Similarity.ingestStoreStream(spark, dirC,
      inC.toDF().toDF("vec_id", "embedding"), Some(ckC))
    inC.addData(b1: _*); ingC.processAllAvailable(); ingC.stop()
    // manufacture the crash state: commit record gone, offsets + tail
    // batch dir in place (deleted through the Hadoop FS so its .crc
    // sidecar goes too — a real crash never wrote either)
    val c0 = new org.apache.hadoop.fs.Path(s"$ckC/commits/0")
    val cfs = c0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(cfs.exists(c0)); assert(cfs.delete(c0, false))
    assert(new java.io.File(s"$ckC/offsets/0").exists())
    assert(new java.io.File(s"$dirC.ingest/batch=0").exists())
    val inC2 = MemoryStream[(Long, Array[Float])]
    inC2.addData(b1: _*) // the replay source re-offers batch 0's data
    val ingC2 = Similarity.ingestStoreStream(spark, dirC,
      inC2.toDF().toDF("vec_id", "embedding"), Some(ckC))
    inC2.addData(b2: _*); ingC2.processAllAvailable(); ingC2.stop()
    // replay overwrote batch=0 (no duplicates), b2 landed as batch=1
    assert(Similarity.storeIndex(spark, dirC).count() === 100L)
    assert(new java.io.File(s"$dirC.ingest/batch=1").exists())
  }

  test("nprobe sweep: monotone recall, separable clusters saturate at 1") {
    val e = protoEmb(120)
    val got = Similarity.nprobeSweep(e)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet === Similarity.NprobeSweep.map(_.toLong).toSet)
    // every sweep point scores the same bounded query batch
    assert(got.values.forall(_._1 == 120L))
    // recall can only grow with probes...
    val sorted = Similarity.NprobeSweep.map(p => got(p.toLong)._2)
    assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b })
    // ...and on cells == clusters the home cell already holds the
    // true top-k: recall is 1.0 at every operating point
    assert(sorted.forall(_ == 1.0))
  }

  test("range search: equals the unbounded top-k filtered at the radius") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // the rank-window path with k = ∞ is an independent derivation of
    // the same in-cell scored stream — the radius cut must match it
    val viaK = Similarity.knnIvf(emb, k = Int.MaxValue)
      .filter(col("cos") >= Similarity.RangeTau)
      .select("query_id", "nbr_id", "cos")
      .as[(Long, Long, Double)].collect().toSet
    val rng = Similarity.rangeSearchIvf(emb)
      .as[(Long, Long, Double)].collect().toSet
    assert(rng === viaK)
    assert(rng.nonEmpty, "radius returns nothing at sf0.001 — tau too high")
    assert(rng.forall(_._3 >= Similarity.RangeTau))
  }

  test("range from store: row-identical to the inline range search") {
    val d = "/root/testdata/sf0.001"
    val inline = Similarity.rangeSearchIvf(graft.Tables.embeddings(spark, d))
      .collect().map(_.toString).sorted.toSeq
    val store = Similarity.rangeSearchIvfFromStore(spark, d)
      .collect().map(_.toString).sorted.toSeq
    assert(store === inline)
    assert(inline.nonEmpty)
  }
}
