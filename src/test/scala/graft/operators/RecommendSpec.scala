package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

case class Inter(user_id: Long, item_id: Long)

/** CF pipeline on the FIXTURES.md §4 shape: hand-computed cosines,
  * purchased-mask anti-join, deterministic top-N tie-break, coverage
  * with an eval-only user.
  */
class RecommendSpec extends SparkSpec {

  import spark.implicits._

  // items 1,2 co-bought by users 10,20; item 3 only with 1 (user 30)
  val inter = Seq(
    Inter(10, 1), Inter(10, 2),
    Inter(20, 1), Inter(20, 2),
    Inter(30, 1), Inter(30, 3)).toDF()

  test("A13: binary cosine = co / sqrt(n_i * n_j), i < j only") {
    val sim = Recommend.itemSimilarity(inter, minCo = 1, minCos = 0.0)
      .select("i", "j", "co", "cos")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    // n1=3, n2=2, n3=1; co(1,2)=2, co(1,3)=1
    assert(sim.map(r => (r._1, r._2, r._3)).toSeq ===
      Seq((1L, 2L, 2L), (1L, 3L, 1L)))
    assert(math.abs(sim(0)._4 - 2.0 / math.sqrt(6.0)) < 1e-15)
    assert(math.abs(sim(1)._4 - 1.0 / math.sqrt(3.0)) < 1e-15)
  }

  test("A13''': user-user transpose mirrors the item-item algebra") {
    val usim = Recommend.userSimilarity(inter, minCo = 1, minCos = 0.0)
      .select("u", "v", "co", "cos")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    // nu10=2, nu20=2, nu30=2; co(10,20)=2 (items 1,2), co(10,30)=1,
    // co(20,30)=1 (item 1)
    assert(usim.map(r => (r._1, r._2, r._3)).toSeq ===
      Seq((10L, 20L, 2L), (10L, 30L, 1L), (20L, 30L, 1L)))
    assert(math.abs(usim(0)._4 - 1.0) < 1e-15) // identical baskets
    // user-based recs: user 10's neighbor 30 bought item 3 → candidate
    val recs = Recommend.recommendUserBased(inter,
      Recommend.userSimilarity(inter, minCo = 1, minCos = 0.0))
      .select("user_id", "rank", "item_id")
      .as[(Long, Long, Long)].collect()
    assert(recs.contains((10L, 1L, 3L)))
    // no own purchase ever recommended
    val owned = Set((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L),
      (30L, 1L), (30L, 3L))
    assert(recs.forall(r => !owned.contains((r._1, r._3))))
  }

  test("A14: recommendations mask purchases and rank deterministically") {
    val sim = Recommend.itemSimilarity(inter, minCo = 1, minCos = 0.0)
    val recs = Recommend.recommend(inter, sim, topN = 10)
      .select("user_id", "rank", "item_id")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // user 10 owns {1,2} → only candidate is 3 (via sim(1,3))
    // user 20 owns {1,2} → 3; user 30 owns {1,3} → 2 (via sim(1,2))
    assert(recs.toSeq === Seq((10L, 1L, 3L), (20L, 1L, 3L), (30L, 1L, 2L)))
  }

  test("A15: coverage counts eval rows whose user/item was trained") {
    val train = Seq(Inter(10, 1), Inter(10, 2)).toDF()
    val eval_ = Seq(Inter(10, 1), Inter(99, 2), Inter(10, 7)).toDF()
    val cov = Recommend.coverage(train, eval_)
      .select("user_coverage", "product_coverage", "overall_coverage")
      .as[(Double, Double, Double)].head()
    assert(cov._1 === 2.0 / 3.0) // users: 10,99,10 → 2 of 3 trained
    assert(cov._2 === 2.0 / 3.0) // items: 1,2,7 → 2 of 3
    assert(cov._3 === 2.0 / 3.0)
  }

  test("A16: precision@k divides hits by recs per user, then averages") {
    val recs = Seq((10L, 1L, 3L, 0.5), (10L, 2L, 4L, 0.4), (20L, 1L, 3L, 0.9))
      .toDF("user_id", "rank", "item_id", "score_r")
    val eval_ = Seq(Inter(10, 3), Inter(20, 7)).toDF()
    val p = Recommend.precisionAtK(recs, eval_)
      .select("avg_precision", "n_users").as[(Double, Long)].head()
    // user 10: 1 hit / 2 recs = 0.5; user 20: 0/1 = 0 → avg 0.25
    assert(p === ((0.25, 2L)))
  }

  test("NDCG@10: rank-1 hit scores 1.0, rank-2-of-two scores its discount") {
    val recs = Seq(
      (10L, 1L, 3L, 0.5),              // user 10: hit at rank 1
      (20L, 1L, 4L, 0.9), (20L, 2L, 7L, 0.8), // user 20: hit at rank 2
      (30L, 1L, 9L, 0.7))              // user 30: no eval rows → excluded
      .toDF("user_id", "rank", "item_id", "score_r")
    val eval_ = Seq(Inter(10, 3), Inter(20, 7)).toDF()
    val out = Recommend.ndcgAtK(recs, eval_)
      .select("avg_ndcg", "n_users").as[(Double, Long)].head()
    // user 10: dcg = g(1), idcg = g(1) → 1.0
    // user 20: dcg = g(2) = 630930, idcg = g(1) = 1e6 → 0.630930
    // mean = floor((1000000 + 630930)/2)/1e6 = 0.815465
    assert(out === ((0.815465, 2L)))
  }

  test("MAP@10: hit positions weight average precision, misses dilute") {
    val recs = Seq(
      (10L, 1L, 3L, 0.9), (10L, 2L, 4L, 0.8), (10L, 3L, 5L, 0.7),
      (20L, 1L, 6L, 0.9), (20L, 2L, 7L, 0.8))
      .toDF("user_id", "rank", "item_id", "score_r")
    val eval_ = Seq(Inter(10, 3), Inter(10, 5), Inter(20, 7)).toDF()
    val out = Recommend.mapAtK(recs, eval_)
      .select("avg_map", "n_users").as[(Double, Long)].head()
    // user 10: hits at ranks 1 and 3 → (1/1 + 2/3)/min(2,10)
    //   = (1000000 + 666666)/2 = 833333 ppm
    // user 20: hit at rank 2 → (1/2)/1 = 500000 ppm
    // mean = floor((833333+500000)/2)/1e6 = 0.666666
    assert(out === ((0.666666, 2L)))
    // k truncates the list: at k=1 user 20's rank-2 hit is outside
    // the cut (AP 0), user 10's rank-1 hit is a perfect 1.0 → 0.5
    val at1 = Recommend.mapAtK(recs, eval_, k = 1)
      .select("avg_map", "n_users").as[(Double, Long)].head()
    assert(at1 === ((0.5, 2L)))
  }

  test("ALS: recovers planted block structure, masks seen items") {
    // two disjoint taste blocks; each user misses one in-block item
    val block = (1L to 12L).flatMap { u =>
      val items = if (u <= 6) (1L to 6L) else (11L to 16L)
      items.filter(_ % 6 != u % 6).map(i => Inter(u, i))
    }.toDF()
    val recs = Recommend.alsRecommend(block, k = 3, maxIter = 10)
    val top = recs.filter(col("rank") === 1)
      .select("user_id", "item_id").as[(Long, Long)].collect().toMap
    // rank-1 rec stays inside the user's taste block for most users
    val inBlock = top.count { case (u, i) =>
      if (u <= 6) i <= 6 else i >= 11 }
    assert(inBlock >= top.size - 2, s"cross-block top recs: $top")
    // seen items never recommended
    val seen = block.as[(Long, Long)].collect().toSet
    val leaked = recs.select("user_id", "item_id").as[(Long, Long)]
      .collect().filter(seen.contains)
    assert(leaked.isEmpty, s"recommended seen items: ${leaked.toSeq}")
  }

  test("A13 DIMSUM fallback: threshold 0 reproduces the exact cosines") {
    val exact = Recommend.itemSimilarity(inter, minCo = 1, minCos = 0.0)
      .select("i", "j", "cos").as[(Long, Long, Double)].collect()
      .map { case (i, j, c) => (i, j) -> math.rint(c * 1e6) / 1e6 }.toMap
    val dimsum = Recommend.itemSimilarityDimsum(inter, threshold = 0.0)
      .select("i", "j", "cos").as[(Long, Long, Double)].collect()
      .map { case (i, j, c) => (i, j) -> c }.toMap
    assert(dimsum.keySet === exact.keySet)
    dimsum.foreach { case (k, v) => assert(math.abs(v - exact(k)) < 1e-9, k) }
  }

  test("A13 cap: keeps the `cap` most recent items, ties to lower item_id") {
    val raw = Seq(
      (1L, 101L, 300L), (1L, 102L, 200L), (1L, 103L, 200L), (1L, 104L, 100L),
      (2L, 201L, 50L))
      .toDF("user_id", "item_id", "last_ts")
    val got = Recommend.capInteractions(raw, cap = 2)
      .as[(Long, Long)].collect().toSet
    // user 1: ts 300 first, then the ts-200 tie resolves to item 102
    assert(got === Set((1L, 101L), (1L, 102L), (2L, 201L)))
  }

  test("U4: split is deterministic and ~80/20 by bucket") {
    val big = (1L to 1000L).flatMap(u => Seq(Inter(u, u % 37))).toDF()
    val tr = Recommend.trainSet(big).count()
    val ev = Recommend.evalSet(big).count()
    assert(tr + ev === 1000)
    assert(tr > 700 && tr < 900) // exact 80% only in expectation
    assert(Recommend.trainSet(big).intersect(Recommend.evalSet(big)).count() === 0)
  }

  test("popularity baseline: global top-k minus the user's own items") {
    // items 1,2,3 with popularity 3,2,1; k=2 -> top = {1,2}
    val train = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),
      (1L, 2L), (2L, 2L),
      (1L, 3L))
      .toDF("user_id", "item_id")
    val got = Recommend.popularityRecs(train, k = 2)
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(!got.contains(1L)) // owns both top items -> nothing left
    assert(!got.contains(2L)) // likewise
    assert(got(3L) === Set(2L)) // has item 1, gets item 2
  }

  test("negative samples: never a positive, at most k, reproducible") {
    // user 1 touched items 1..8 of a 10-item catalog; user 2 touched
    // only item 1 — plenty of negatives for user 2, few for user 1
    val inter = ((1 to 8).map(i => (1L, i.toLong)) ++
      Seq((2L, 1L)) ++ (1 to 10).map(i => (99L, i.toLong)))
      .toDF("user_id", "item_id")
    val got = Recommend.negativeSamples(inter, k = 3, slots = 24)
      .select("user_id", "item_id").as[(Long, Long)].collect()
    val byUser = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // no sampled negative is a positive
    assert(byUser.getOrElse(1L, Set.empty).subsetOf(Set(9L, 10L)))
    assert(!byUser(2L).contains(1L))
    assert(byUser(2L).size === 3)
    // user 99 owns the whole catalog: nothing to sample
    assert(!byUser.contains(99L))
    // deterministic: a second run yields the identical sample
    val again = Recommend.negativeSamples(inter, k = 3, slots = 24)
      .select("user_id", "item_id").as[(Long, Long)].collect()
    assert(got.sorted.toSeq === again.sorted.toSeq)
  }

  test("serving slice: top_n clamp matches the API contract [1, 50]") {
    val recs = Seq((1L, 1L, 10L, 0.9), (1L, 2L, 11L, 0.8),
      (1L, 3L, 12L, 0.7)).toDF("user_id", "rank", "item_id", "score_r")
    assert(Recommend.serveTopN(recs, 2).count() === 2)
    intercept[IllegalArgumentException](Recommend.serveTopN(recs, 0))
    intercept[IllegalArgumentException](Recommend.serveTopN(recs, 51))
  }

  test("userSimilarity is itemSimilarity of the transposed relation") {
    val inter = Recommend
      .interactionsItemCapped(spark, "/root/testdata/sf0.001").localCheckpoint(false)
    val usim = Recommend.userSimilarity(inter)
    val viaItems = Recommend.itemSimilarity(inter.select(
        col("item_id").as("user_id"), col("user_id").as("item_id")))
      .select(col("i").as("u"), col("j").as("v"), col("co"), col("cos"))
    assert(usim.count() > 0 && usim.count() === viaItems.count())
    assert(usim.except(viaItems).isEmpty && viaItems.except(usim).isEmpty,
      "user-user cosine diverged from the transposed item-item cosine")
  }

  test("Graph.itemEdges is the item co-count cut at minCo") {
    val inter = Recommend
      .interactionsCapped(spark, "/root/testdata/sf0.001").localCheckpoint(false)
    for (m <- Seq(2, 3)) {
      val edges = Graph.itemEdges(inter, m.toLong)
      val sim = Recommend.itemSimilarity(inter, m, 0.0).select("i", "j")
      assert(edges.count() > 0 && edges.count() === sim.count(), s"minCo $m")
      assert(edges.except(sim).isEmpty && sim.except(edges).isEmpty,
        s"minCo $m: edges diverged from the similarity pairs")
    }
  }

  test("content similarity: blocks on (brand, type), ranks by size proximity") {
    val part = Seq(
      (1L, "B1", "SMALL", 10), (2L, "B1", "SMALL", 12),
      (3L, "B1", "SMALL", 30),  // same block, outside the tolerance
      (4L, "B2", "SMALL", 11))  // other brand: never a candidate
      .toDF("p_partkey", "p_brand", "p_type", "p_size")
    val got = Recommend.contentSimilarity(part)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // 1 and 2 are mutual neighbors at distance 2; 3 and 4 get nothing
    assert(got.toSet === Set((1L, 1L, 2L, 2L), (2L, 1L, 1L, 2L)))
  }
}
