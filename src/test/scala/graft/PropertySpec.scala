package graft

import graft.functions.Functions
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

/** Property-based layer over the pure kernels the whole engine leans
  * on — the example-based specs prove behavior at chosen points;
  * these prove the ALGEBRAIC laws on generated inputs (fixed seed,
  * so the suite stays deterministic):
  *
  *  - minhash signatures: the union law (sig(A ∪ B) = slot-wise
  *    min) is what makes banding correct and signatures mergeable
  *    across shards/ingest batches; order/multiplicity invariance is
  *    what makes them partitioning-safe.
  *  - shingles: the Column HOF chain must equal an independent Scala
  *    sliding-window derivation, and shinglesFast must equal
  *    shingles (the 2× scan-path claim rests on byte-equality).
  *  - zValue: the Morton interleave must match an independent Scala
  *    bit-weave — the Layout file-skipping guarantee is only as good
  *    as the curve.
  *  - dsum: the money-sum must be invariant to row order and
  *    partitioning (the decimal device exists precisely because
  *    double sums are not).
  *
  * Each property evaluates the REAL Column expression through the
  * live session (one-row local relation), not a reimplementation.
  */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(20)
    .withInitialSeed(Seed(42L))
    .withWorkers(1)

  private def check(label: String, p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, s"$label: ${r.status}")
  }

  private def evalRow(cols: Column*) =
    spark.range(1).select(cols: _*).head()

  private def longArr(xs: Seq[Long]): Column =
    if (xs.isEmpty) array().cast("array<bigint>")
    else array(xs.map(lit(_)): _*)

  private def strArr(xs: Seq[String]): Column =
    if (xs.isEmpty) array().cast("array<string>")
    else array(xs.map(lit(_)): _*)

  private val hashSetGen: Gen[List[Long]] = for {
    n <- Gen.choose(1, 40)
    l <- Gen.listOfN(n, Gen.chooseNum(0L, Functions.P32 - 1))
  } yield l

  private val tokGen: Gen[List[String]] = for {
    n <- Gen.choose(0, 12)
    l <- Gen.listOfN(n, Gen.oneOf("aa", "b", "ccc", "dd", "e", "ff"))
  } yield l

  test("minhash: union of shingle sets = slot-wise min of signatures") {
    check("union law", Prop.forAll(hashSetGen, hashSetGen) { (a, b) =>
      val row = evalRow(
        Functions.minhashSig(longArr(a ++ b)).as("u"),
        zip_with(Functions.minhashSig(longArr(a)),
          Functions.minhashSig(longArr(b)),
          (x, y) => least(x, y)).as("m"))
      row.getSeq[Long](0) == row.getSeq[Long](1)
    })
  }

  test("minhash: signature invariant to order and multiplicity") {
    check("order/multiplicity", Prop.forAll(hashSetGen) { a =>
      val row = evalRow(
        Functions.minhashSig(longArr(a)).as("s"),
        Functions.minhashSig(longArr(a.reverse ++ a)).as("t"))
      row.getSeq[Long](0) == row.getSeq[Long](1)
    })
  }

  test("shingles: equals an independent sliding-window derivation") {
    check("sliding", Prop.forAll(tokGen, Gen.choose(1, 4)) { (toks, n) =>
      val expected =
        if (toks.size < n) Seq.empty[String]
        else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
      val got = evalRow(Functions.shingles(strArr(toks), n).as("s"))
        .getSeq[String](0)
      got == expected
    })
  }

  test("shinglesFast: equals shingles on whitespace-collapsed text") {
    // non-empty BY CONSTRUCTION (not suchThat): shrinking ignores
    // suchThat predicates, and the empty list fails this property for
    // unrelated reasons (tokens("") = [""]), which would mask the
    // real counterexample
    val nonEmpty = for {
      n <- Gen.choose(1, 12)
      l <- Gen.listOfN(n, Gen.oneOf("aa", "b", "ccc", "dd", "e", "ff"))
    } yield l
    check("fast=slow", Prop.forAll(nonEmpty, Gen.choose(1, 3)) { (toks, n) =>
      val txt = toks.mkString(" ")
      val row = evalRow(
        Functions.shingles(Functions.tokens(lit(txt)), n).as("a"),
        Functions.shinglesFast(lit(txt), n).as("b"))
      row.getSeq[String](0) == row.getSeq[String](1)
    })
  }

  test("zValue: matches an independent Scala Morton interleave") {
    def mortonRef(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
    val dim = Gen.chooseNum(0L, 65535L)
    check("morton", Prop.forAll(dim, dim) { (x, y) =>
      evalRow(plans.Layout.zValue(lit(x), lit(y)).as("z")).getLong(0) ==
        mortonRef(x, y, 16)
    })
  }

  test("dsum: invariant to row order and partitioning") {
    val moneyGen = for {
      n <- Gen.choose(1, 30)
      l <- Gen.listOfN(n, Gen.chooseNum(-99999L, 99999L))
    } yield l.map(_ / 100.0)
    val p = Prop.forAll(moneyGen) { vs =>
      def total(xs: Seq[Double], parts: Int): Double =
        xs.toDF("v").repartition(parts)
          .agg(Functions.dsum(col("v")).as("s")).head().getDouble(0)
      val base = total(vs, 1)
      total(vs.reverse, 7) == base && total(vs.sorted, 3) == base
    }
    check("dsum", SCTest.Parameters.default.withMinSuccessfulTests(10)
      .withInitialSeed(Seed(42L)).withWorkers(1), p)
  }

  private def check(label: String, params: SCTest.Parameters, p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, s"$label: ${r.status}")
  }

  test("labelComponents: equals a union-find reference on random graphs") {
    // pointer-jumping CC backs every *_clusters / er_golden /
    // mm_phash_clusters query — prove the labels against an
    // independent union-find on generated graphs. THIS TEST FOUND A
    // REAL BUG: the former fixed 7-round ladder left a non-min label
    // on a 29-vertex graph (the jump only doubles coverage when the
    // local min-id chain points toward the component min), which
    // drove the fixpoint rewrite — change note 49. Self-pairs, both
    // orientations and repeated pairs are generated too: the seeded
    // first round aggregates straight over the raw edge list.
    val gGen = for {
      n <- Gen.choose(2, 36)
      m <- Gen.choose(0, n)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(1, n)
        b <- Gen.frequency(1 -> Gen.const(a), 5 -> Gen.choose(1, n))
      } yield (a.toLong, b.toLong))
    } yield (n, es ++ es.take(m / 3))
    val p = Prop.forAll(gGen) { case (n, edges) =>
      val universe = (1 to n).map(_.toLong).toDF("doc_id")
      val pairs =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("i", "j")
        else edges.toDF("i", "j")
      val got = Dedup.labelComponents(pairs, universe)
        .select("doc_id", "canonical_id").as[(Long, Long)].collect().toMap
      // union-by-min reference: the root of a set is always its min
      // id, so find(v) IS the expected canonical label
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x
        else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (1 to n).forall(v => got(v.toLong) == find(v).toLong)
    }
    check("cc", SCTest.Parameters.default.withMinSuccessfulTests(8)
      .withInitialSeed(Seed(42L)).withWorkers(1), p)
  }

  test("hex60: matches an independent md5-prefix derivation, in range") {
    // the cross-engine hash bridge every dedup/LSH join keys on —
    // derive it independently (JDK MessageDigest on UTF-8 bytes,
    // 15-hex-char prefix) and pin range: [0, 2^60)
    val strGen = Gen.frequency(
      9 -> (for {
        n <- Gen.choose(0, 24)
        cs <- Gen.listOfN(n, Gen.alphaNumChar)
      } yield cs.mkString),
      1 -> Gen.const("héllo wörld ✓"))
    check("hex60", Prop.forAll(strGen) { s =>
      val got = evalRow(Functions.hex60(lit(s)).as("h")).getLong(0)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val ref = java.lang.Long.parseLong(md.take(15), 16)
      got == ref && got >= 0L && got < (1L << 60)
    })
  }

  test("bucket10: lands in [0, 10) for non-negative keys and salts") {
    check("bucket10", Prop.forAll(
      Gen.chooseNum(0L, 1000000000000L), Gen.chooseNum(0L, 1000L)) {
      (k, s) =>
        val b = evalRow(graft.functions.Functions
          .bucket10(lit(k), lit(s)).as("b")).getLong(0)
        b >= 0L && b < 10L
    })
  }

  // ------------------------------------------------------------------
  // Round-12 laws: the candidate-generation kernels the dedup/ANN
  // production paths stand on. Each law runs the LIVE operator
  // pipeline (the same Columns/joins the registered queries execute)
  // against an independent Scala derivation of the mathematical
  // definition — the same method that exposed the CC bug (note 49).
  // ------------------------------------------------------------------

  /** Independent slot-wise minhash signature: per permutation k, the
    * min of ((2k+3)·(h mod P32) + k²+7) mod P32 over the set — plain
    * Scala longs, no Spark.
    */
  private def sigRef(set: Seq[Long]): IndexedSeq[Long] =
    (0 until Dedup.Bands * Dedup.Rows).map { k =>
      set.map(sh => ((2L * k + 3L) * (sh % Functions.P32) +
        (k.toLong * k + 7L)) % Functions.P32).min
    }

  test("minhash banding: candidates ⟺ some band's slots all agree") {
    // the LSH index law: the operator's band join (bandSignaturesFrom
    // over minhashSignaturesFrom — the exact relation minhashLsh and
    // incrementalDedup key on) emits a pair IFF the two signatures
    // agree on every slot of at least one band. Soundness AND
    // completeness of the banding against the definition — the recall
    // floor: identical sets (J = 1) have identical signatures, so
    // the ⟸ direction proves they can never be missed.
    val setGen = for {
      n <- Gen.choose(1, 12)
      l <- Gen.listOfN(n, Gen.chooseNum(0L, 7L)) // tiny universe →
      // signature collisions actually occur, both directions exercised
    } yield l.distinct
    val p = Prop.forAll(setGen, setGen) { (a, b) =>
      val sh = (a.map((1L, _)) ++ b.map((2L, _))).toDF("doc_id", "sh")
      val bands = Dedup.bandSignaturesFrom(Dedup.minhashSignaturesFrom(sh))
      val got = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bsig") === col("y.bsig") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id")).count() > 0
      val (sa, sb) = (sigRef(a), sigRef(b))
      val expected = (0 until Dedup.Bands).exists(band =>
        (0 until Dedup.Rows).forall(r =>
          sa(band * Dedup.Rows + r) == sb(band * Dedup.Rows + r)))
      got == expected
    }
    check("banding", SCTest.Parameters.default.withMinSuccessfulTests(10)
      .withInitialSeed(Seed(42L)).withWorkers(1), p)
  }

  test("minhash banding: identical sets are always candidates") {
    // the degenerate-but-load-bearing corner of the recall floor,
    // pinned separately so a generator drift can't stop covering it
    val setGen = for {
      n <- Gen.choose(1, 12)
      l <- Gen.listOfN(n, Gen.chooseNum(0L, Functions.P32 - 1))
    } yield l.distinct
    val p = Prop.forAll(setGen) { a =>
      val sh = (a.map((1L, _)) ++ a.map((2L, _))).toDF("doc_id", "sh")
      val bands = Dedup.bandSignaturesFrom(Dedup.minhashSignaturesFrom(sh))
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bsig") === col("y.bsig") &&
            col("x.doc_id") < col("y.doc_id"))
        .count() == Dedup.Bands.toLong
    }
    check("banding-identical", SCTest.Parameters.default
      .withMinSuccessfulTests(8).withInitialSeed(Seed(42L)).withWorkers(1), p)
  }

  test("ppjoin: prefix candidates cover every pair the exact join emits") {
    // the prefix lemma on GENERATED corpora: every pair with
    // ROUND(J, 6) ≥ JaccardT (the emission cut, computed here in
    // plain Scala from the raw sets) must appear in
    // ppjoinCandidates' output — the completeness the shared-oracle
    // claim of dedup_ppjoin_prefix rests on. Tiny shingle universe
    // forces heavy overlap so the threshold actually splits pairs.
    val corpusGen = for {
      nd <- Gen.choose(3, 8)
      sets <- Gen.listOfN(nd, for {
        n <- Gen.choose(1, 9)
        l <- Gen.listOfN(n, Gen.chooseNum(0L, 11L))
      } yield l.distinct)
    } yield sets
    val p = Prop.forAll(corpusGen) { sets =>
      val rows = sets.zipWithIndex.flatMap { case (s, d) =>
        s.map(sh => ((d + 1).toLong, sh))
      }
      val sh = rows.toDF("doc_id", "sh")
      val cand = Dedup.ppjoinCandidates(sh)
        .as[(Long, Long)].collect().toSet
      val expected = (for {
        i <- sets.indices; j <- sets.indices if i < j
        ai = sets(i).toSet; bj = sets(j).toSet
        common = (ai & bj).size
        jac = BigDecimal(common.toDouble / (ai.size + bj.size - common))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if jac >= Dedup.JaccardT
      } yield ((i + 1).toLong, (j + 1).toLong)).toSet
      expected.subsetOf(cand)
    }
    check("ppjoin-prefix", SCTest.Parameters.default
      .withMinSuccessfulTests(10).withInitialSeed(Seed(42L)).withWorkers(1), p)
  }

  test("ivf assign: argmin invariant to row order and centroid order") {
    // the agreement law the whole IVF tier leans on: build-time
    // assignment and serve-time probing share one integer argmin with
    // the (s, cent_id) tie-break, so the chosen cell must not depend
    // on HOW rows arrive — permuting the corpus and re-ordering the
    // codebook relation must reproduce the assignment exactly
    val dim = operators.Similarity.Dim
    val corpusGen = for {
      n <- Gen.choose(6, 14)
      vs <- Gen.listOfN(n * dim, Gen.chooseNum(-20, 20))
    } yield vs.map(_ / 10.0f).grouped(dim).toList
    val p = Prop.forAll(corpusGen) { vecs =>
      val emb = vecs.zipWithIndex
        .map { case (v, i) => ((i + 1).toLong, v) }
        .toDF("vec_id", "embedding")
      val cent = operators.Similarity.ivfCodebook(emb)
        .localCheckpoint(false) // one codebook, both assignment runs
      def cells(e: org.apache.spark.sql.DataFrame,
                c: org.apache.spark.sql.DataFrame) =
        operators.Similarity.ivfAssign(e, Some(c))
          .select(col("vec_id"), col("cell"))
          .as[(Long, Long)].collect().toMap
      val base = cells(emb, cent)
      val shuffled = cells(
        emb.orderBy(md5(col("vec_id").cast("string"))).repartition(5),
        cent.orderBy(col("cent_id").desc))
      base == shuffled
    }
    check("ivf-argmin", SCTest.Parameters.default
      .withMinSuccessfulTests(4).withInitialSeed(Seed(42L)).withWorkers(1), p)
  }

  test("span merge: equals a brute-force reference on generated corpora") {
    // the round-12 span kernel, proven the PropertySpec way: on random
    // tiny-alphabet corpora (heavy accidental overlap), the live
    // operator's merged intervals must equal an independent Scala
    // derivation — duplicated window positions by brute-force
    // cross-doc window comparison, merged by a simple linear sweep.
    val w = 3
    val corpusGen = for {
      nd <- Gen.choose(2, 6)
      docs <- Gen.listOfN(nd, for {
        n <- Gen.choose(1, 14)
        toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
      } yield toks)
    } yield docs
    val p = Prop.forAll(corpusGen) { docs =>
      val corpus = docs.zipWithIndex
        .map { case (t, i) => ((i + 1).toLong, t.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = TextAnalysis.spanMerge(corpus, w)
        .select("doc_id", "span_start", "span_end")
        .as[(Long, Long, Long)].collect().toSet
      // reference: window at (d, p) is duplicated iff the same w-token
      // sequence occurs at any position of any OTHER doc; merge by
      // linear sweep over sorted positions
      val wins = docs.zipWithIndex.flatMap { case (t, d) =>
        if (t.size < w) Nil
        else (0 to t.size - w).map(p => (d, p, t.slice(p, p + w)))
      }
      val byKey = wins.groupBy(_._3).view
        .mapValues(_.map(_._1).toSet).toMap
      val dup = wins.filter { case (d, _, k) =>
        byKey(k).exists(_ != d) }
      val expected = dup.groupBy(_._1).toSeq.flatMap { case (d, ps) =>
        val sorted = ps.map(_._2).sorted
        val spans = scala.collection.mutable.ListBuffer[(Int, Int)]()
        sorted.foreach { s =>
          if (spans.nonEmpty && s <= spans.last._2)
            spans(spans.size - 1) = (spans.last._1, math.max(spans.last._2, s + w))
          else spans += ((s, s + w))
        }
        spans.map { case (a, b) => ((d + 1).toLong, a.toLong, b.toLong) }
      }.toSet
      got == expected
    }
    check("span-merge", SCTest.Parameters.default
      .withMinSuccessfulTests(10).withInitialSeed(Seed(42L)).withWorkers(1), p)
  }

  test("span kernel: mergeIntervals equals a linear-sweep reference " +
    "on ARBITRARY interval relations (duplicate starts, nested, " +
    "adjacent, exact duplicates)") {
    // the round-13 totality claim at kernel grain: every production
    // caller feeds unique (doc_id, s) intervals, but the kernel must
    // now be correct and deterministic on ANY interval relation —
    // same-start intervals collapse to their max end before the
    // running-max window numbers spans
    val ivGen = for {
      n <- Gen.choose(1, 25)
      xs <- Gen.listOfN(n, for {
        d <- Gen.choose(1, 3)
        s <- Gen.choose(0, 20)
        len <- Gen.choose(1, 6)
      } yield (d.toLong, s.toLong, (s + len).toLong))
    } yield xs
    val p = Prop.forAll(ivGen) { xs =>
      val got = TextAnalysis.mergeIntervals(xs.toDF("doc_id", "s", "e"))
        .select("doc_id", "span_id", "span_start", "span_end",
          "span_tokens")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val expected = xs.groupBy(_._1).flatMap { case (d, ivs) =>
        val sorted = ivs.map(x => (x._2, x._3)).distinct
          .sortBy(identity)
        val spans = scala.collection.mutable.ListBuffer[(Long, Long)]()
        sorted.foreach { case (s, e) =>
          if (spans.nonEmpty && s <= spans.last._2)
            spans(spans.size - 1) =
              (spans.last._1, math.max(spans.last._2, e))
          else spans += ((s, e))
        }
        spans.zipWithIndex.map { case ((a, b), i) =>
          (d, (i + 1).toLong, a, b, b - a) }
      }.toSet
      got == expected
    }
    check("merge-intervals", SCTest.Parameters.default
      .withMinSuccessfulTests(10).withInitialSeed(Seed(42L)).withWorkers(1), p)
  }

  test("simhash banding: hamming ≤ 3 pairs always share a chunk " +
    "(pigeonhole), 4 spread bits need not") {
    // the EXACT-recall claim of dedup_simhash_pairs, on the live
    // chunk Column the operator joins on: 3 flipped bits cannot touch
    // all 4 15-bit chunks, so some chunk survives verbatim — and the
    // bound is tight: one bit in each of the 4 chunks defeats it.
    val gen = for {
      h <- Gen.chooseNum(0L, (1L << 60) - 1)
      k <- Gen.choose(0, 3)
      bits <- Gen.listOfN(k, Gen.choose(0, 59))
    } yield (h, bits.distinct)
    def chunks(h: Long): Seq[Long] = {
      val row = evalRow((0 until Dedup.SimChunks).map(c =>
        Dedup.simhashChunk(lit(h), c).as(s"c$c")): _*)
      (0 until Dedup.SimChunks).map(row.getLong)
    }
    check("pigeonhole", Prop.forAll(gen) { case (h, bits) =>
      val h2 = bits.foldLeft(h)((a, b) => a ^ (1L << b))
      java.lang.Long.bitCount(h ^ h2) <= 3 &&
        chunks(h).zip(chunks(h2)).exists { case (a, b) => a == b }
    })
    // tightness: exactly one flipped bit per chunk → zero shared chunks
    val h = 0L
    val h4 = (0 until 4).foldLeft(h)((a, c) => a ^ (1L << (c * 15 + 3)))
    assert(!chunks(h).zip(chunks(h4)).exists { case (a, b) => a == b })
  }

  test("incremental clusters: ≡ full LSH recompute on generated corpora") {
    // the quotient-graph law behind dedup_clusters_incremental: for
    // ANY corpus (and hence any %10 corpus/batch split and any set of
    // LSH-surfaced edges — both paths share the banding and verify
    // kernels, so the law holds regardless of banding recall),
    // folding the batch's new edges into the prior labels through the
    // contracted graph equals CC over the full corpus. Generator:
    // clone groups from a small template pool with filler suffixes,
    // ids spread across the split classes so clusters straddle sides.
    val templates = Vector(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "north south east west river mountain valley forest desert sea",
      "spark catalyst tungsten codegen shuffle exchange predicate scan")
    val fill = Vector("one", "two", "three", "four")
    val corpusGen = for {
      n <- Gen.choose(4, 18)
      rows <- Gen.sequence[Seq[(Int, Int)], (Int, Int)]((1 to n).map(_ =>
        for {
          tpl <- Gen.choose(0, templates.size - 1)
          nf <- Gen.choose(0, 2)
        } yield (tpl, nf)))
    } yield rows.zipWithIndex.map { case ((tpl, nf), i) =>
      ((i + 1).toLong, templates(tpl) + " " + fill.take(nf).mkString(" "))
    }
    val p = Prop.forAll(corpusGen) { rows =>
      val docs = rows.toDF("doc_id", "text")
      val inc = Dedup.clustersIncremental(docs)
        .select("doc_id", "canonical_id", "is_canonical")
        .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
      val full = Dedup.dedupClustersLsh(docs)
        .select("doc_id", "canonical_id", "is_canonical")
        .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
      inc == full
    }
    check("inc-clusters", SCTest.Parameters.default
      .withMinSuccessfulTests(6).withInitialSeed(Seed(42L)).withWorkers(1), p)
  }

  // A 256-vertex chain whose ids are SCRAMBLED along it (v ↦ 171·v
  // mod 257, a bijection on 1..256) so min-label propagation cannot
  // ride a monotone edge layout for free — the adversarial shape note
  // 49 was about. Min-label + jump needs 10 rounds to label it.
  private val chainN = 256
  private val chainEdges = {
    def p(v: Int): Long = (v.toLong * 171L) % 257L
    (1 until chainN)
      .map(v => (math.min(p(v), p(v + 1)), math.max(p(v), p(v + 1))))
  }

  test("labelComponents: one large planted chain — exact, priced") {
    // the closure-price case change note 50 points at: a single
    // 256-vertex chain is the worst closure-to-edge ratio at fixed
    // component size — the ORACLE's recursive reachability would
    // materialize 256² = 65 536 rows against 255 edges (Σ size², the
    // documented ccFixSql bound), while the engine's fixpoint labels
    // it exactly in 10 rounds (convergence checked after rounds 1, 2,
    // 4, 8 and 16), well inside the CcMaxRounds valve.
    val n = chainN
    val universe = (1 to n).map(_.toLong).toDF("doc_id")
    val edges = chainEdges
    val pairs = edges.toDF("i", "j")
    val got = Dedup.labelComponents(pairs, universe)
      .select("doc_id", "canonical_id").as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 1L), "every vertex labels to the chain min")
    // the priced bound, DERIVED from the edge list (not literals): BFS
    // the symmetric graph and sum per-vertex reachable-set sizes
    // (self included — ccFixSql seeds rch with the identity l0), i.e.
    // exactly the row count the oracle's recursive closure
    // materializes before its GROUP BY
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    def reach(v: Long): Int = {
      val seen = scala.collection.mutable.Set(v)
      var frontier = Set(v)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty[Long]))
          .filterNot(seen)
        seen ++= frontier
      }
      seen.size
    }
    val closureRows = (1 to n).map(v => reach(v.toLong).toLong).sum
    assert(closureRows == n.toLong * n, // one chain component → n² rows
      s"closure volume $closureRows — the Σ size² bound drifted")
    assert(edges.size == n - 1) // against 255 edges on the Spark side
  }

  test("labelComponents: the valve throws instead of returning labels") {
    // the scrambled chain needs 10 rounds; at maxRounds = 2 the call
    // itself must fail loudly, before any DataFrame is handed out
    val universe = (1 to chainN).map(_.toLong).toDF("doc_id")
    val e = intercept[IllegalStateException] {
      Dedup.labelComponents(chainEdges.toDF("i", "j"), universe,
        maxRounds = 2)
    }
    assert(e.getMessage.contains("did not converge within 2 rounds"),
      e.getMessage)
  }

  test("labelComponents: maxRounds counts rounds, the seeded one included") {
    val universe = (1L to 3L).toDF("doc_id")
    def labels(pairs: Seq[(Long, Long)], maxRounds: Int): Map[Long, Long] =
      Dedup.labelComponents(pairs.toDF("i", "j"), universe, maxRounds)
        .select("doc_id", "canonical_id").as[(Long, Long)].collect().toMap
    // a single pair converges in its first (seeded) round
    assert(labels(Seq((1L, 2L)), 1) == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // the path 1–2–3 needs exactly two rounds: 3 reads 2 after round 1
    val path = Seq((1L, 2L), (2L, 3L))
    val e = intercept[IllegalStateException](labels(path, 1))
    assert(e.getMessage.contains("did not converge within 1 rounds"),
      e.getMessage)
    assert(labels(path, 2) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }
}
