package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Functions._
import graft.plans.{ModelRegistry, StoreOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Collaborative-filtering pipeline (SURVEY §2.4 A8/A9/A12–A17, §7 M2)
  * — the Spark-native re-expression of the reference's numpy CF
  * (reference dags/daily_pipeline.py:361-533 and
  * recommendation/main.py:145-191).
  *
  * The reference builds a dense user×item matrix and an O(I²) cosine
  * matrix — its scaling wall (SURVEY §4 "Spill"). Here everything
  * stays long-form and sparse:
  *
  *   interactions(user,item)  — distinct purchases
  *   sim(i,j,co,cos)          — co-occurrence self-join; for binary
  *                              interactions cos(i,j) = co/√(nᵢ·nⱼ)
  *   recs(user,rank,item)     — score = Σ_{p∈P(u)} cos(p,·), purchased
  *                              items anti-joined out, top-N per user
  *
  * Scale notes (100 TB):
  *  - the self-join shuffles on user_id; power users (huge P(u))
  *    produce |P(u)|² pairs — the mitigation at scale is a per-user
  *    item cap / salting, and `RowMatrix.columnSimilarities(threshold)`
  *    (DIMSUM sampling) as the very-large-item-count fallback;
  *  - `minCo`/`minCos` thresholds keep the model sparse — the exact
  *    analog of DIMSUM's similarity threshold, and what makes the
  *    scoring join tractable (24.5k vs 950k pairs at sf0.01);
  *  - top-N is a rank window partitioned by user — no global sort,
  *    no driver-side argsort loop.
  *
  * Each CF decision has one definition: the pair co-count
  * (`pairCounts`), the recency cap (`recencyCap`), the 80/20 split
  * (`trainSet`/`evalSet`) and the scoring tail (`symmetric`,
  * `maskPurchased`, `rankTopN`); Graph and the oracles compose them.
  *
  * Determinism (SURVEY §7 risks 1-2): numpy argsort tie order is
  * replaced by (round(score,6) DESC, item_id ASC); the seeded numpy
  * split is replaced by a stable integer-arithmetic bucket of
  * (user,item) so any engine reproduces it.
  */
object Recommend {

  val MinCo = 2
  val MinCos = 0.1
  val TopN = 10

  /** lineitem⋈orders — every interaction derivation reads this join. */
  private def purchases(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))

  /** Per (user_id, item_id) pair aggregates over the purchases. */
  private def perPair(s: SparkSession, d: String)(aggs: Column*): DataFrame =
    purchases(s, d)
      .groupBy(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
      .agg(aggs.head, aggs.tail: _*)

  /** A8/A12: distinct user–item interactions from the fact tables. */
  def interactions(s: SparkSession, d: String): DataFrame =
    purchases(s, d)
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
      .distinct()

  /** The raw (user_id, item_id, last_ts) interaction base the capped,
    * split and eval derivations compose. Its group keys ARE the
    * distinct interaction pairs.
    */
  def interactionBase(s: SparkSession, d: String): DataFrame =
    perPair(s, d)(max(col("o_orderdate")).as("last_ts"))

  val CapPerUser = 20
  val CapPerItem = 20

  /** Negative-sampling knobs: slots hashed per user must exceed
    * NegPerUser enough to survive positive-item collisions and
    * duplicate draws. (Declared before `defs`, which interpolates
    * them.)
    */
  val NegSlots = 24
  val NegPerUser = 8

  /** The one recency cap: per `key` (user_id or item_id), keep the
    * `cap` rows with the latest last_ts, ties to the lower id of the
    * other role, dropping last_ts and keeping every other column (the
    * weighted form's `w`). Per user it is the power-user mitigation
    * the A13 self-join needs at scale — the pair space per user is
    * |P(u)|², so one viral user with 10⁵ items contributes 10¹⁰ pairs
    * to the shuffle — and per item it bounds a viral item's audience
    * in the user-user join the same way: every key contributes at
    * most cap² pairs, deterministically (timestamps and ids, no
    * sampling).
    */
  private def recencyCap(raw: DataFrame, key: String, cap: Int): DataFrame = {
    val tie = if (key == "user_id") "item_id" else "user_id"
    val w = Window.partitionBy(col(key)).orderBy(col("last_ts").desc, col(tie))
    raw.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .select(raw.columns.filter(_ != "last_ts").map(col): _*)
  }

  /** The per-user cap over (user_id, item_id, last_ts, ...) rows. */
  def capInteractions(raw: DataFrame, cap: Int = CapPerUser): DataFrame =
    recencyCap(raw, "user_id", cap)

  def interactionsCapped(s: SparkSession, d: String,
                         cap: Int = CapPerUser): DataFrame =
    capInteractions(interactionBase(s, d), cap)

  /** Interactions capped per ITEM — the transpose of capInteractions,
    * the scale guard of the user-user self-join.
    */
  def interactionsItemCapped(s: SparkSession, d: String,
                             cap: Int = CapPerItem): DataFrame =
    recencyCap(interactionBase(s, d), "item_id", cap)

  /** U4 analog: deterministic 80/20 split of interactions. */
  def withSplit(inter: DataFrame): DataFrame =
    inter.withColumn("bucket", bucket10(col("user_id"), col("item_id")))

  def trainSet(inter: DataFrame): DataFrame =
    withSplit(inter).filter(col("bucket") < 8).drop("bucket")

  def evalSet(inter: DataFrame): DataFrame =
    withSplit(inter).filter(col("bucket") >= 8).drop("bucket")

  /** Bounded deterministic eval-user sample — the reference's own
    * evaluation device (dags/daily_pipeline.py:495 samples ≤100 users
    * before scoring, with np.random.choice; this is the same bound
    * made reproducible): the top-`EvalUsers` train users by
    * md5("ev" || user_id), engine-exact on any partitioning, computed
    * as one TakeOrdered pass. Ranking-eval cost becomes
    * O(|sample| · model) at ANY corpus size instead of scoring every
    * user. 125 = 5³ per the house tie-free-denominator rule (the
    * eval means are floor-divisions, but a 5-power bound keeps every
    * derived ratio family structurally off 6-decimal half-ties).
    */
  val EvalUsers = 125

  def evalUserSample(train: DataFrame, n: Int = EvalUsers): DataFrame =
    train.select(col("user_id")).distinct()
      .orderBy(md5(concat(lit("ev"), col("user_id").cast("string"))),
        col("user_id"))
      .limit(n)

  /** The capped TRAIN split: the 80% train pairs with the per-user
    * recency cap applied — filter-then-cap, so the cap ranks only
    * train rows and no eval information shapes the serving model.
    * This is the similarity input the ranking-eval family scores
    * (the REGISTERED serving path is the capped model —
    * ml_recommendations_capped; evaluating the uncapped ground-truth
    * model stays ml_precision_at_10's whitelisted monitor role).
    */
  def trainSetCapped(s: SparkSession, d: String,
                     cap: Int = CapPerUser): DataFrame =
    capInteractions(trainSet(interactionBase(s, d)), cap)

  /** The one pair co-count: `node` pairs a < b that share a `key`,
    * self-joined on the key and counted, as columns (a, b, co). Items
    * sharing a user give the item-item model and Graph.itemEdges;
    * users sharing an item give the user-user model.
    */
  private[operators] def pairCounts(inter: DataFrame, key: String, node: String,
                                    a: String, b: String): DataFrame =
    inter.as("a")
      .join(inter.as("b"),
        col(s"a.$key") === col(s"b.$key") &&
          col(s"a.$node") < col(s"b.$node"))
      .groupBy(col(s"a.$node").as(a), col(s"b.$node").as(b))
      .agg(count(lit(1)).as("co"))

  /** Binary cosine over the co-count: cos = co/√(n_a·n_b), a single
    * division of exact integer counts → bitwise equal across engines,
    * no rounding needed.
    */
  private def cosine(inter: DataFrame, key: String, node: String,
                     a: String, b: String,
                     minCo: Int, minCos: Double): DataFrame = {
    val cnt = inter.groupBy(col(node)).agg(count(lit(1)).as("n"))
    pairCounts(inter, key, node, a, b)
      .join(broadcast(cnt).as("ca"), col(a) === col(s"ca.$node"))
      .join(broadcast(cnt).as("cb"), col(b) === col(s"cb.$node"))
      .select(col(a), col(b), col("co"),
        (col("co") / sqrt((col("ca.n") * col("cb.n")).cast("double"))).as("cos"))
      .filter(col("co") >= minCo && col("cos") >= minCos)
  }

  /** A13: sparse item–item cosine similarity (i < j). */
  def itemSimilarity(inter: DataFrame,
                     minCo: Int = MinCo, minCos: Double = MinCos): DataFrame =
    cosine(inter, "user_id", "item_id", "i", "j", minCo, minCos)

  /** User-user cosine over shared items (u < v) — the item-item
    * transpose (user-kNN CF, also the "customers like you"
    * segmentation input). The self-join shuffles on item_id, so the
    * per-item audience cap is its scale guard.
    */
  def userSimilarity(inter: DataFrame,
                     minCo: Int = MinCo, minCos: Double = MinCos): DataFrame =
    cosine(inter, "item_id", "user_id", "u", "v", minCo, minCos)

  /** Model store behind ml_recommendations_from_store: the first call
    * per (JVM, source dir) trains itemSimilarity and registers it in a
    * ModelRegistry (versioned parquet + production pointer) built once
    * through StoreOps.buildOnce; every later call — and every
    * downstream stage of the SAME call's plan — reads the registered
    * parquet instead of re-deriving the self-join. Serving metrics are
    * sentinels (the C4 promotion gate is exercised by MedallionSpec's
    * trainEvalRegister path).
    */
  def similarityFromStore(s: SparkSession, d: String): DataFrame = {
    val reg = StoreOps.buildOnce("sim-registry", d) { dir =>
      val sim = itemSimilarity(interactions(s, d).localCheckpoint(false))
      ModelRegistry.save(s, dir, "v1", sim, ModelRegistry.Metrics(0.0, 0.0))
      ModelRegistry.promote(dir, "v1")
    }
    val v = ModelRegistry.productionVersion(reg)
      .getOrElse(sys.error("model registry has no production pointer"))
    s.read.parquet(s"$reg/version=$v/item_similarity")
  }

  // ---- the one scoring tail: both recommenders score through a
  // symmetric similarity union, mask purchases and take the ranked
  // cut; only their scoring joins differ ----

  /** The symmetric form (a, b, cos) ∪ (b, a, cos) of a canonical
    * a < b similarity table.
    */
  private def symmetric(sim: DataFrame, a: String, b: String): DataFrame =
    sim.select(col(a), col(b), col("cos"))
      .unionByName(sim.select(col(b).as(a), col(a).as(b), col("cos")))

  /** J2 mask: drop purchased (user, item) pairs and non-positive
    * scores; the summed doubles (order-dependent ULPs) are ranked and
    * emitted at 6-decimal precision.
    */
  private def maskPurchased(scored: DataFrame, inter: DataFrame): DataFrame =
    scored
      .join(inter, Seq("user_id", "item_id"), "left_anti")
      .filter(col("score") > 0)
      .withColumn("score_r", round(col("score"), 6))

  /** The ranked cut: (user_id, rank BIGINT, item_id, score_r), top-N
    * per user by (score_r desc, item_id).
    */
  private def rankTopN(cand: DataFrame, topN: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("score_r").desc, col("item_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("user_id"), col("rank").cast("long").as("rank"),
        col("item_id"), col("score_r"))
  }

  /** A14: item-based top-N — score an item by the summed similarity
    * of the user's purchases to it.
    */
  def recommend(inter: DataFrame, sim: DataFrame, topN: Int = TopN): DataFrame = {
    val scored = inter.as("p")
      .join(symmetric(sim, "i", "j").as("s"), col("p.item_id") === col("s.i"))
      .groupBy(col("p.user_id").as("user_id"), col("s.j").as("item_id"))
      .agg(sum(col("s.cos")).as("score"))
    rankTopN(maskPurchased(scored, inter), topN)
  }

  /** User-based top-N: score an item by the summed similarity of the
    * neighbors who bought it (the user-kNN serving path consuming
    * userSimilarity). The candidates are cut per user by the native
    * heap operator first, so the rank window sorts ≤ topN rows per
    * user instead of every candidate; same total order, same rows.
    */
  def recommendUserBased(inter: DataFrame, usim: DataFrame,
                         topN: Int = TopN): DataFrame = {
    val scored = symmetric(usim, "u", "v").as("s")
      .join(inter.as("p"), col("s.v") === col("p.user_id"))
      .groupBy(col("s.u").as("user_id"), col("p.item_id").as("item_id"))
      .agg(sum(col("s.cos")).as("score"))
    rankTopN(TopK.perKey(maskPurchased(scored, inter), Seq("user_id"),
      Seq(("score_r", true), ("item_id", false)), topN), topN)
  }

  /** Serving-request parameter surface (reference
    * recommendation/main.py:284,349: the API validates top_n within
    * [1, 50] before touching the model): slice a precomputed
    * recommendations table to one request's top_n. The clamp is the
    * contract — a request outside it is a caller error, not a bigger
    * scan — and the slice is a rank filter on the stored table
    * (partition-prunable when the table is bucketed by user).
    */
  val ServingTopNMax = 50

  def serveTopN(recs: DataFrame, topN: Int): DataFrame = {
    require(topN >= 1 && topN <= ServingTopNMax,
      s"top_n must be in [1, $ServingTopNMax], got $topN")
    recs.filter(col("rank") <= topN)
  }

  /** A13 weighted variant: interaction strength = number of orders
    * containing the item (the rating proxy the reference's binary
    * matrix throws away). Weighted cosine stays engine-exact because
    * every term is integer arithmetic until the final division:
    * cos = Σ wᵢwⱼ / √(Σwᵢ² · Σwⱼ²), all sums over exact int64.
    */
  def interactionsWeighted(s: SparkSession, d: String): DataFrame =
    perPair(s, d)(countDistinct(col("o_orderkey")).as("w"))

  /** Weighted interactions under the per-user recency cap, keeping the
    * weight through the cap — the configuration that closes the last
    * uncapped pairwise self-join.
    */
  def interactionsWeightedCapped(s: SparkSession, d: String,
                                 cap: Int = CapPerUser): DataFrame =
    capInteractions(perPair(s, d)(countDistinct(col("o_orderkey")).as("w"),
      max(col("o_orderdate")).as("last_ts")), cap)

  /** The weighted cosine sums w·w alongside the co-count, so it keeps
    * its own self-join rather than branching the binary one.
    */
  def itemSimilarityWeighted(inter: DataFrame,
                             minCo: Int = MinCo,
                             minCos: Double = MinCos): DataFrame = {
    val norms = inter.groupBy(col("item_id"))
      .agg(sum(col("w") * col("w")).as("n2"))
    val co = inter.as("a")
      .join(inter.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.item_id") < col("b.item_id"))
      .groupBy(col("a.item_id").as("i"), col("b.item_id").as("j"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"), count(lit(1)).as("co"))
    co.join(broadcast(norms).as("na"), col("i") === col("na.item_id"))
      .join(broadcast(norms).as("nb"), col("j") === col("nb.item_id"))
      .select(col("i"), col("j"), col("co"),
        round(col("dot").cast("double") /
          sqrt((col("na.n2") * col("nb.n2")).cast("double")), 6).as("cos"))
      .filter(col("co") >= minCo && col("cos") >= minCos)
  }

  /** A13 scale fallback: item-item cosine via mllib RowMatrix
    * columnSimilarities (DIMSUM) — the path for item counts where even
    * the sparse co-occurrence self-join blows up (|P(u)|² pair space).
    * With threshold > 0 DIMSUM samples columns with probability
    * ∝ 1/norm, bounding shuffle size independently of the hottest
    * user; results are then approximate, so this query is rows-only
    * checked (no DuckDB oracle), while the exact self-join
    * (itemSimilarity) stays the oracle-checked default.
    */
  def itemSimilarityDimsum(inter: DataFrame, threshold: Double = 0.3): DataFrame = {
    import org.apache.spark.mllib.linalg.Vectors
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val spark = inter.sparkSession
    import spark.implicits._
    val itemIdx = Stats.denseIndex(
        inter.select(col("item_id")).distinct(), "item_id")
      .withColumn("idx", col("idx").cast("int"))
    val nItems = itemIdx.count().toInt
    val userRows = inter.join(broadcast(itemIdx), Seq("item_id"))
      .select(col("user_id"), col("idx"))
      .as[(Long, Int)].rdd
      .groupByKey()
      .map { case (_, idxs) =>
        Vectors.sparse(nItems,
          idxs.toSeq.distinct.sorted.map(i => (i, 1.0)))
      }
    val simEntries = new RowMatrix(userRows)
      .columnSimilarities(threshold)
      .entries
      .map(e => (e.i, e.j, e.value))
      .toDF("i_idx", "j_idx", "cos")
    simEntries
      .join(broadcast(itemIdx).as("a"), col("i_idx") === col("a.idx"))
      .join(broadcast(itemIdx).as("b"), col("j_idx") === col("b.idx"))
      .select(least(col("a.item_id"), col("b.item_id")).as("i"),
        greatest(col("a.item_id"), col("b.item_id")).as("j"),
        round(col("cos"), 6).as("cos"))
  }

  /** Serving path (reference recommendation/main.py:196-216
    * /similar-products): per item, its top-k most similar items from
    * the symmetric similarity table — precomputed as a Gold table so
    * the API is a key lookup, replacing the reference's on-demand
    * matrix row scan + Redis cache.
    */
  def similarProducts(sim: DataFrame, k: Int = 5): DataFrame = {
    // per-item cut through the native heap operator, then the rank
    // window over the ALREADY-CUT relation (≤ k rows per item): the
    // heap partial is O(n log k) map-side with no sort buffer, where a
    // full rank window sorts the entire 2× symmetric pair table per
    // item partition. Same (cos desc, j) total order, same oracle.
    val cut = TopK.perKey(symmetric(sim, "i", "j"), Seq("i"),
      Seq(("cos", true), ("j", false)), k)
    val w = Window.partitionBy(col("i")).orderBy(col("cos").desc, col("j"))
    cut.withColumn("rank", row_number().over(w))
      .select(col("i").as("item_id"), col("rank").cast("long").as("rank"),
        col("j").as("similar_item"), col("cos"))
  }

  /** A15: eval coverage — fraction of eval rows whose user / item was
    * seen in training; avg of 0/1 flags keeps the division exact.
    */
  def coverage(train: DataFrame, evalDf: DataFrame): DataFrame = {
    val tu = train.select(col("user_id")).distinct().withColumn("u_in", lit(1))
    val ti = train.select(col("item_id")).distinct().withColumn("p_in", lit(1))
    evalDf
      .join(broadcast(tu), Seq("user_id"), "left")
      .join(broadcast(ti), Seq("item_id"), "left")
      .agg(
        avg(coalesce(col("u_in"), lit(0))).as("user_coverage"),
        avg(coalesce(col("p_in"), lit(0))).as("product_coverage"))
      .withColumn("overall_coverage",
        (col("user_coverage") + col("product_coverage")) / 2)
  }

  /** recs `r` ⋈ eval `e` on (user, item), left: a hit is a matched
    * eval row. The ranking metrics below all score through it.
    */
  private def joinEval(recs: DataFrame, evalDf: DataFrame): DataFrame =
    recs.as("r").join(evalDf.as("e"),
      col("r.user_id") === col("e.user_id") &&
        col("r.item_id") === col("e.item_id"), "left")

  /** A16: precision@k of train-built recommendations against the eval
    * purchases; per-user precision = hits / #recs(u) (the reference
    * divides by len(top_10), daily_pipeline.py:528). No user sampling:
    * all users with recs are scored, which is deterministic where the
    * reference's np.random.choice is not.
    */
  def precisionAtK(recs: DataFrame, evalDf: DataFrame): DataFrame = {
    val hits = joinEval(recs, evalDf)
      .groupBy(col("r.user_id"))
      .agg(count(col("e.user_id")).as("hits"), count(lit(1)).as("n_recs"))
    hits.agg(
      round(avg(col("hits").cast("double") / col("n_recs")), 6)
        .as("avg_precision"),
      count(lit(1)).as("n_users"))
  }

  /** Model-based CF: implicit-feedback ALS (spark.ml) over the same
    * binary interaction matrix the neighborhood CF uses — the
    * factorization path you switch to when the item catalog outgrows
    * co-occurrence joins (factors shuffle as rank-sized blocks, cost
    * O((|U|+|I|)·rank²·iters), independent of the hottest user's
    * degree). Seeded and block-counted for run-to-run stability;
    * seen items are masked like `recommend` (so users keep ≤ k rows).
    * Float factors are not SQL-expressible, so this is registered
    * rows-only and behavior-tested in RecommendSpec.
    * Plan note: `recommendForAllUsers` plans a CartesianProduct —
    * spark.ml's BLOCKED userFactors × itemFactors scoring: under MF
    * every (u, i) pair has a score, so all-users top-k is a blocked
    * cross with per-block top-k aggregation.
    */
  def alsRecommend(inter: DataFrame, k: Int = TopN, rank: Int = 8,
                   maxIter: Int = 5, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.recommendation.ALS
    if (inter.isEmpty) {
      // ALS.fit throws on an empty matrix; stay total like every
      // other operator (isEmpty is a limit-1 scan, not a count)
      return inter.sparkSession.emptyDataFrame
        .withColumn("user_id", lit(0L)).withColumn("rank", lit(0L))
        .withColumn("item_id", lit(0L)).withColumn("score", lit(0.0d))
    }
    val als = new ALS()
      .setUserCol("user_id").setItemCol("item_id").setRatingCol("rating")
      .setImplicitPrefs(true).setRank(rank).setMaxIter(maxIter)
      .setSeed(seed).setAlpha(1.0).setRegParam(0.1)
      .setNumUserBlocks(8).setNumItemBlocks(8)
      .setColdStartStrategy("drop")
    val model = als.fit(inter.withColumn("rating", lit(1.0f)))
    model.recommendForAllUsers(k)
      .select(col("user_id").cast("long").as("user_id"),
        posexplode(col("recommendations")).as(Seq("pos", "rec")))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("rank"),
        col("rec.item_id").cast("long").as("item_id"),
        col("rec.rating").cast("double").as("score"))
      .join(inter.select(col("user_id"), col("item_id")),
        Seq("user_id", "item_id"), "left_anti") // J2 mask, dup-safe
  }

  /** Micro-quantized DCG discount table: gain(r) = round(10⁶/log₂(r+1))
    * for ranks 1..TopN, and its prefix sums for the ideal DCG. Both
    * engines consume these as interpolated integer literals, so no
    * transcendental function ever runs inside a query — the one
    * bulletproof way to keep log-based metrics hash-exact across
    * engines.
    */
  private val NdcgGains: Seq[Long] =
    (1 to TopN).map(r => Math.round(1e6 / (Math.log(r + 1.0) / Math.log(2.0))))
  private val NdcgPrefix: Seq[Long] = NdcgGains.scanLeft(0L)(_ + _).tail

  private def gainCase(rankCol: String): String =
    (1 to TopN).map(r => s"WHEN $rankCol = $r THEN ${NdcgGains(r - 1)}")
      .mkString("CASE ", " ", " ELSE 0 END")

  private def idcgCase(nevalCol: String): String =
    (1 until TopN).map(r => s"WHEN $nevalCol = $r THEN ${NdcgPrefix(r - 1)}")
      .mkString("CASE ", " ", s" ELSE ${NdcgPrefix(TopN - 1)} END")

  /** NDCG@k of the recommendations against eval purchases (binary
    * relevance): per user DCG = Σ gain(rank) over hits, IDCG = the
    * prefix sum at min(|eval(u)|, k), both exact integers from the
    * shared discount table; per-user NDCG is one integer division in
    * ppm, and the mean is the order-free FLOOR(Σq/n) micro-quantized
    * average. Users with no eval rows have IDCG 0 and are excluded —
    * the metric is defined over scorable users only.
    * Scale: one hash join recs⋈eval on (user, item), one n_eval
    * aggregate joined back on user — both shuffles keyed on user_id,
    * no window, no skew beyond the recs table's own k-per-user bound.
    */
  def ndcgAtK(recs: DataFrame, evalDf: DataFrame): DataFrame = {
    val nEval = evalDf.groupBy(col("user_id")).agg(count(lit(1)).as("n_eval"))
    val perUser = joinEval(recs, evalDf)
      .groupBy(col("r.user_id"))
      .agg(sum(expr(
        s"CASE WHEN e.user_id IS NOT NULL THEN ${gainCase("r.rank")} ELSE 0 END"))
        .as("dcg"))
    perUser.join(nEval, Seq("user_id"))
      .withColumn("q", expr(s"dcg * 1000000 div (${idcgCase("n_eval")})"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n_users"))
      .select(
        round(floor(col("sq").cast("double") / col("n_users")) / 1000000.0d, 6)
          .as("avg_ndcg"),
        col("n_users"))
  }

  /** MAP@k — the third leg of the ranking-eval triple (precision@k,
    * NDCG@k, MAP@k): per user, average precision = Σ over hit ranks
    * of (hits-so-far / rank), normalized by min(|eval|, k). Every
    * term is an integer ppm division ((cumhits·10⁶) div rank), the
    * per-user AP another, and the mean the order-free quantized
    * average — deterministic by construction, no floats until
    * emission. Users with no eval rows are excluded like ndcgAtK.
    * Scale: the recs⋈eval hash join plus one ≤k-row window per user.
    */
  def mapAtK(recs: DataFrame, evalDf: DataFrame, k: Int = TopN): DataFrame = {
    // dedupe defensively: a duplicate eval pair would fan the join out
    // into tied (user, rank) rows whose cumhits order is shuffle-
    // dependent; the registered inputs are distinct, arbitrary callers
    // may not be
    val ev = evalDf.select(col("user_id"), col("item_id")).distinct()
    val nEval = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_eval"))
    val w = Window.partitionBy(col("r.user_id")).orderBy(col("r.rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perUser = joinEval(recs.filter(col("rank") <= k), ev) // AP@k: top k
      .withColumn("hit", col("e.user_id").isNotNull.cast("long"))
      .withColumn("rnk", col("r.rank"))
      .withColumn("cumhits", sum(col("hit")).over(w))
      .withColumn("term",
        when(col("hit") === 1, expr("(cumhits * 1000000) div rnk"))
          .otherwise(lit(0L)))
      .groupBy(col("r.user_id").as("user_id"))
      .agg(sum(col("term")).as("term_sum"))
    perUser.join(nEval, Seq("user_id"))
      .withColumn("ap_q", expr(s"term_sum div LEAST(n_eval, $k)"))
      .agg(sum(col("ap_q")).as("sq"), count(lit(1)).as("n_users"))
      .select(
        round(floor(col("sq").cast("double") / col("n_users")) / 1000000.0d, 6)
          .as("avg_map"),
        col("n_users"))
  }

  // ---- driver-contract registry ----

  private val interSql =
    """SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  private def simSql(src: String) =
    s"""cnt AS (SELECT item_id, COUNT(*) n FROM $src GROUP BY 1),
       |co AS (SELECT a.item_id i, b.item_id j, COUNT(*) co FROM $src a
       |  JOIN $src b ON a.user_id = b.user_id AND a.item_id < b.item_id
       |  GROUP BY 1, 2),
       |sim AS (SELECT i, j, co, co/SQRT(CAST(ca.n*cb.n AS DOUBLE)) cos
       |  FROM co JOIN cnt ca ON i = ca.item_id JOIN cnt cb ON j = cb.item_id
       |  WHERE co >= $MinCo AND co/SQRT(CAST(ca.n*cb.n AS DOUBLE)) >= $MinCos)""".stripMargin

  /** maskPurchased's oracle: CTE `cand` over a `scored` CTE. */
  private def candSql(interSrc: String) =
    s"""cand AS (SELECT sc.user_id, sc.item_id, ROUND(sc.score, 6) score_r
       |  FROM scored sc WHERE sc.score > 0 AND NOT EXISTS (
       |    SELECT 1 FROM $interSrc pu
       |    WHERE pu.user_id = sc.user_id AND pu.item_id = sc.item_id))""".stripMargin

  /** Scoring ladder over an existing `sim` CTE — shared by the plain,
    * capped and weighted recommendation pipelines.
    */
  private def scoreSql(interSrc: String) =
    s"""sim2 AS (SELECT i, j, cos FROM sim
       |  UNION ALL SELECT j, i, cos FROM sim),
       |scored AS (SELECT p.user_id, s.j AS item_id, SUM(s.cos) score
       |  FROM $interSrc p JOIN sim2 s ON p.item_id = s.i GROUP BY 1, 2),
       |${candSql(interSrc)},
       |recs AS (SELECT user_id, CAST(rk AS BIGINT) AS rank, item_id, score_r
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
       |    ORDER BY score_r DESC, item_id) rk FROM cand)
       |  WHERE rk <= $TopN)""".stripMargin

  private def recsSql(interSrc: String) =
    s"""${simSql(interSrc)},
       |${scoreSql(interSrc)}""".stripMargin

  /** ml_recommendations' oracle, shared with the from-store path. */
  private val recsOracle =
    s"""WITH inter AS ($interSql),
       |${recsSql("inter")}
       |SELECT * FROM recs""".stripMargin

  /** The (user_id, item_id, last_ts) base CTE `name` — interactionBase. */
  private def lastTsSql(name: String) =
    s"""$name AS (SELECT o_custkey AS user_id, l_partkey AS item_id,
       |    MAX(o_orderdate) AS last_ts
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2)""".stripMargin

  /** recencyCap's oracle: CTE `name` keeps `cols` of the `cap` latest
    * rows per `key` of `src`.
    */
  private def capSql(name: String, src: String, cols: String,
                     key: String, cap: Int) = {
    val tie = if (key == "user_id") "item_id" else "user_id"
    s"""$name AS (SELECT $cols FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY $key
       |    ORDER BY last_ts DESC, $tie) rn FROM $src)
       |  WHERE rn <= $cap)""".stripMargin
  }

  /** interactionsCapped's oracle: `raw` and its per-user cap `capped`. */
  private[operators] val cappedSql =
    s"""${lastTsSql("raw")},
       |${capSql("capped", "raw", "user_id, item_id", "user_id", CapPerUser)}""".stripMargin

  /** The per-item capped `icap` and its user-user co-counts `cnt`/`co`. */
  private val userCoSql =
    s"""${lastTsSql("rawi")},
       |${capSql("icap", "rawi", "user_id, item_id", "item_id", CapPerItem)},
       |cnt AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM icap GROUP BY 1),
       |co AS (SELECT a.user_id u, b.user_id v, CAST(COUNT(*) AS BIGINT) AS co
       |  FROM icap a JOIN icap b
       |  ON a.item_id = b.item_id AND a.user_id < b.user_id
       |  GROUP BY 1, 2)""".stripMargin

  /** interactionsWeightedCapped's oracle: `raww` capped into `interw`. */
  private val weightedCappedSql =
    s"""raww AS (SELECT o_custkey AS user_id,
       |    l_partkey AS item_id, COUNT(DISTINCT o_orderkey) AS w,
       |    MAX(o_orderdate) AS last_ts
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |${capSql("interw", "raww", "user_id, item_id, w", "user_id", CapPerUser)}""".stripMargin

  /** Weighted norms and co-counts over an `interw` CTE. */
  private val weightedCoSql =
    """norms AS (SELECT item_id, SUM(w*w) AS n2 FROM interw GROUP BY 1),
      |cow AS (SELECT a.item_id i, b.item_id j,
      |    SUM(a.w*b.w) AS dot, COUNT(*) AS co
      |  FROM interw a JOIN interw b
      |  ON a.user_id = b.user_id AND a.item_id < b.item_id
      |  GROUP BY 1, 2)""".stripMargin

  /** itemSimilarityWeighted's oracle over an `interw` CTE. */
  private val weightedSimSql =
    s"""$weightedCoSql
       |SELECT i, j, CAST(co AS BIGINT) AS co,
       |ROUND(CAST(dot AS DOUBLE)/SQRT(CAST(na.n2*nb.n2 AS DOUBLE)), 6) AS cos
       |FROM cow JOIN norms na ON i = na.item_id
       |JOIN norms nb ON j = nb.item_id
       |WHERE co >= $MinCo
       |AND ROUND(CAST(dot AS DOUBLE)/SQRT(CAST(na.n2*nb.n2 AS DOUBLE)), 6) >= $MinCos""".stripMargin

  private val splitCond = "((user_id % 100003) * 31 + item_id * 97) % 10"

  /** The 80/20 split `tr`/`ev` of an `inter` CTE. */
  private val splitSql =
    s"""tr AS (SELECT user_id, item_id FROM inter WHERE $splitCond < 8),
       |ev AS (SELECT user_id, item_id FROM inter WHERE $splitCond >= 8)""".stripMargin

  /** precisionAtK's oracle over `recs` and an `ev` CTE. */
  private val precisionSql =
    """per_user AS (SELECT r.user_id,
      |    COUNT(e.user_id) AS hits, COUNT(*) AS n_recs
      |  FROM recs r LEFT JOIN ev e
      |    ON r.user_id = e.user_id AND r.item_id = e.item_id
      |  GROUP BY r.user_id)
      |SELECT ROUND(AVG(CAST(hits AS DOUBLE)/n_recs), 6) AS avg_precision,
      |COUNT(*) AS n_users FROM per_user""".stripMargin

  /** Capped-train bounded-eval prelude shared by the ndcg/map
    * oracles: `base` (user, item, last_ts) pairs, the capped 80%
    * train split `tr` (filter-then-cap, mirroring trainSetCapped),
    * the 20% eval split `ev`, the bounded md5 user sample `users`,
    * the capped similarity over `tr`, recs scored for the sampled
    * users only (`trs` feeds scoreSql), and `evs` = eval restricted
    * to the sample.
    */
  private lazy val cappedEvalSql =
    s"""${lastTsSql("base")},
       |tr AS (SELECT user_id, item_id FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
       |    ORDER BY last_ts DESC, item_id) rn
       |  FROM base WHERE $splitCond < 8) WHERE rn <= $CapPerUser),
       |ev AS (SELECT user_id, item_id FROM base WHERE $splitCond >= 8),
       |users AS MATERIALIZED (SELECT user_id FROM
       |  (SELECT DISTINCT user_id FROM tr)
       |  ORDER BY md5('ev' || CAST(user_id AS VARCHAR)), user_id
       |  LIMIT $EvalUsers),
       |${simSql("tr")},
       |trs AS (SELECT * FROM tr
       |  WHERE user_id IN (SELECT user_id FROM users)),
       |${scoreSql("trs")},
       |evs AS (SELECT * FROM ev
       |  WHERE user_id IN (SELECT user_id FROM users))""".stripMargin

  /** The bounded user sample of a capped train split and its
    * recommendations from the capped-train similarity (the registered
    * serving path), scored for the sample ONLY — the scoring join's
    * probe side is |sample| users, so eval cost is sample-bounded at
    * any corpus size.
    */
  private def sampleRecs(train: DataFrame): (DataFrame, DataFrame) = {
    val users = evalUserSample(train).localCheckpoint(false)
    (users, recommend(
      train.join(broadcast(users), Seq("user_id"), "left_semi"),
      itemSimilarity(train).localCheckpoint(false)))
  }

  /** The bounded ranking-eval family's inputs (ml_ndcg_at_10,
    * ml_map_at_10): sampleRecs and the eval purchases of the same
    * sample, both splits from ONE (user, item, last_ts) base, as in
    * cappedEvalSql. The uncapped all-users twin stays
    * ml_precision_at_10 (whitelisted ground-truth monitor in
    * tools/ratio_gate.py).
    */
  private def boundedEval(s: SparkSession, d: String)
  : (DataFrame, DataFrame) = {
    val base = interactionBase(s, d)
      .localCheckpoint(false) // train cap + eval split
    val (users, recs) =
      sampleRecs(capInteractions(trainSet(base)).localCheckpoint(false))
    val evs = evalSet(base.select(col("user_id"), col("item_id")))
      .join(broadcast(users), Seq("user_id"), "left_semi")
    (recs, evs)
  }

  val ContentSizeTol = 5L
  val ContentTopK = 5

  /** A13''''': content-based item similarity from catalog attributes
    * — the cold-start FALLBACK the co-occurrence family can't provide
    * (ml_coldstart_report measures the gap; this fills it): items
    * with zero interaction history still get neighbors from what the
    * catalog knows. Candidates block on (brand, type) equality — a
    * dimension-table key whose occupancy is bounded by catalog
    * design, the record-linkage blocking discipline — and rank by
    * size proximity with id tie-break. Exact integer scoring; the
    * self-join shuffles on the block key, never item pairs.
    */
  def contentSimilarity(part: DataFrame, tol: Long = ContentSizeTol,
                        k: Int = ContentTopK): DataFrame = {
    val p = part.select(col("p_partkey"), col("p_brand"),
      col("p_type"), col("p_size"))
    val w = Window.partitionBy(col("item_id"))
      .orderBy(col("size_diff"), col("similar_id"))
    p.as("a").join(p.as("b"),
        col("a.p_brand") === col("b.p_brand") &&
          col("a.p_type") === col("b.p_type") &&
          col("a.p_partkey") =!= col("b.p_partkey"))
      .select(col("a.p_partkey").as("item_id"),
        col("b.p_partkey").as("similar_id"),
        abs(col("a.p_size") - col("b.p_size")).cast("long").as("size_diff"))
      .filter(col("size_diff") <= tol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("item_id"), col("rank").cast("long").as("rank"),
        col("similar_id"), col("size_diff"))
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("ml_content_similarity",
      (s, d) => contentSimilarity(Tables.part(s, d)),
      Some(s"""WITH p AS (SELECT p_partkey, p_brand, p_type, p_size FROM part),
              |pairs AS (SELECT a.p_partkey item_id, b.p_partkey similar_id,
              |    CAST(ABS(a.p_size - b.p_size) AS BIGINT) size_diff
              |  FROM p a JOIN p b ON a.p_brand = b.p_brand
              |    AND a.p_type = b.p_type AND a.p_partkey <> b.p_partkey
              |  WHERE ABS(a.p_size - b.p_size) <= $ContentSizeTol)
              |SELECT item_id, CAST(rk AS BIGINT) rank, similar_id, size_diff
              |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY item_id
              |  ORDER BY size_diff, similar_id) rk FROM pairs)
              |WHERE rk <= $ContentTopK""".stripMargin)),

    QueryDef("ml_item_similarity",
      (s, d) => itemSimilarity(interactions(s, d).localCheckpoint(false)),
      Some(s"""WITH inter AS ($interSql),
              |${simSql("inter")}
              |SELECT i, j, co, cos FROM sim""".stripMargin)),

    QueryDef("ml_item_similarity_capped",
      (s, d) => itemSimilarity(interactionsCapped(s, d).localCheckpoint(false)),
      Some(s"""WITH $cappedSql,
              |${simSql("capped")}
              |SELECT i, j, co, cos FROM sim""".stripMargin)),

    QueryDef("ml_recommendations",
      (s, d) => {
        // inter feeds the similarity self-join, the scoring join and
        // the purchased-mask anti-join; sim feeds both halves of the
        // symmetric union — materialize each once
        val inter = interactions(s, d).localCheckpoint(false)
        recommend(inter, itemSimilarity(inter).localCheckpoint(false))
      },
      Some(recsOracle)),

    // The PRODUCTION read path: the reference trains the CF model
    // once per day and serves every request from the stored artifact
    // (daily_pipeline.py:419-427 persists item_similarity; the
    // serving API only reads). The model is registered once per
    // (JVM, source dir) — see similarityFromStore — and the query
    // scores from the registry parquet. Results are identical to
    // ml_recommendations (parquet round-trips the cos doubles
    // bit-exactly), so that oracle re-checks this path end to end.
    QueryDef("ml_recommendations_from_store",
      (s, d) => recommend(interactions(s, d).localCheckpoint(false),
        similarityFromStore(s, d)),
      Some(recsOracle)),

    QueryDef("ml_item_similarity_weighted",
      (s, d) => itemSimilarityWeighted(
        interactionsWeighted(s, d).localCheckpoint(false)),
      Some(s"""WITH interw AS (SELECT o_custkey AS user_id,
              |    l_partkey AS item_id, COUNT(DISTINCT o_orderkey) AS w
              |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |  GROUP BY 1, 2),
              |$weightedSimSql""".stripMargin)),

    QueryDef("ml_item_similarity_weighted_capped",
      (s, d) => itemSimilarityWeighted(
        interactionsWeightedCapped(s, d).localCheckpoint(false)),
      Some(s"""WITH $weightedCappedSql,
              |$weightedSimSql""".stripMargin)),

    // The full serving pipeline on the capped interaction set — the
    // configuration that actually runs at corpus scale (cap bounds
    // the similarity self-join AND the scoring join's per-user
    // fan-out; recommendations still range over every user).
    QueryDef("ml_recommendations_capped",
      (s, d) => {
        val inter = interactionsCapped(s, d).localCheckpoint(false)
        recommend(inter, itemSimilarity(inter).localCheckpoint(false))
      },
      Some(s"""WITH $cappedSql,
              |${recsSql("capped")}
              |SELECT * FROM recs""".stripMargin)),

    // The weighted serving pipeline at its scale configuration:
    // order-count interaction strength + per-user recency cap feeding
    // the same scoring ladder — the production CF end to end.
    QueryDef("ml_recommendations_weighted_capped",
      (s, d) => {
        val interw = interactionsWeightedCapped(s, d).localCheckpoint(false)
        recommend(interw.select(col("user_id"), col("item_id")),
          itemSimilarityWeighted(interw).localCheckpoint(false))
      },
      Some(s"""WITH $weightedCappedSql,
              |$weightedCoSql,
              |sim AS (SELECT i, j, CAST(co AS BIGINT) AS co,
              |    ROUND(CAST(dot AS DOUBLE)/SQRT(CAST(na.n2*nb.n2 AS DOUBLE)), 6) AS cos
              |  FROM cow JOIN norms na ON i = na.item_id
              |  JOIN norms nb ON j = nb.item_id
              |  WHERE co >= $MinCo
              |  AND ROUND(CAST(dot AS DOUBLE)/SQRT(CAST(na.n2*nb.n2 AS DOUBLE)), 6) >= $MinCos),
              |${scoreSql("interw")}
              |SELECT * FROM recs""".stripMargin)),

    QueryDef("ml_user_similarity_capped",
      (s, d) => userSimilarity(
        interactionsItemCapped(s, d).localCheckpoint(false)),
      Some(s"""WITH $userCoSql
              |SELECT u, v, co,
              |co/SQRT(CAST(ca.n*cb.n AS DOUBLE)) AS cos
              |FROM co JOIN cnt ca ON u = ca.user_id
              |JOIN cnt cb ON v = cb.user_id
              |WHERE co >= $MinCo
              |AND co/SQRT(CAST(ca.n*cb.n AS DOUBLE)) >= $MinCos""".stripMargin)),

    QueryDef("ml_recommendations_user_based",
      (s, d) => {
        val inter = interactionsItemCapped(s, d).localCheckpoint(false)
        recommendUserBased(inter, userSimilarity(inter).localCheckpoint(false))
      },
      Some(s"""WITH $userCoSql,
              |usim AS (SELECT u, v, co,
              |    co/SQRT(CAST(ca.n*cb.n AS DOUBLE)) AS cos
              |  FROM co JOIN cnt ca ON u = ca.user_id
              |  JOIN cnt cb ON v = cb.user_id
              |  WHERE co >= $MinCo
              |  AND co/SQRT(CAST(ca.n*cb.n AS DOUBLE)) >= $MinCos),
              |usim2 AS (SELECT u, v, cos FROM usim
              |  UNION ALL SELECT v, u, cos FROM usim),
              |scored AS (SELECT s.u AS user_id, p.item_id, SUM(s.cos) AS score
              |  FROM usim2 s JOIN icap p ON s.v = p.user_id GROUP BY 1, 2),
              |${candSql("icap")}
              |SELECT user_id, CAST(rk AS BIGINT) AS rank, item_id, score_r
              |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
              |  ORDER BY score_r DESC, item_id) rk FROM cand)
              |WHERE rk <= $TopN""".stripMargin)),

    QueryDef("ml_coverage",
      (s, d) => {
        val inter = interactions(s, d).localCheckpoint(false)
        coverage(trainSet(inter), evalSet(inter))
      },
      Some(s"""WITH inter AS ($interSql),
              |tr AS (SELECT * FROM inter WHERE $splitCond < 8),
              |ev AS (SELECT * FROM inter WHERE $splitCond >= 8),
              |tu AS (SELECT DISTINCT user_id FROM tr),
              |ti AS (SELECT DISTINCT item_id FROM tr),
              |cov AS (SELECT
              |  AVG(CASE WHEN tu.user_id IS NOT NULL THEN 1 ELSE 0 END) AS user_coverage,
              |  AVG(CASE WHEN ti.item_id IS NOT NULL THEN 1 ELSE 0 END) AS product_coverage
              |  FROM ev LEFT JOIN tu ON ev.user_id = tu.user_id
              |  LEFT JOIN ti ON ev.item_id = ti.item_id)
              |SELECT user_coverage, product_coverage,
              |(user_coverage + product_coverage)/2 AS overall_coverage FROM cov""".stripMargin)),

    QueryDef("ml_similar_products",
      (s, d) => similarProducts(
        itemSimilarity(interactions(s, d).localCheckpoint(false))
          .localCheckpoint(false)),
      Some(s"""WITH inter AS ($interSql),
              |${simSql("inter")},
              |sym AS (SELECT i, j, cos FROM sim
              |  UNION ALL SELECT j, i, cos FROM sim)
              |SELECT i AS item_id, CAST(rk AS BIGINT) AS rank,
              |j AS similar_item, cos FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY i
              |    ORDER BY cos DESC, j) rk FROM sym)
              |WHERE rk <= 5""".stripMargin)),

    // (itemSimilarityDimsum is intentionally NOT registered: at these
    // SFs the exact self-join is the cheaper path and DIMSUM's
    // sampling is engine-specific. RecommendSpec proves it reproduces
    // the exact cosines at threshold 0.)

    // A17: matrix stats — sparsity from exact counts over the FULL
    // interaction matrix; pair count and mean cosine over the CAPPED
    // similarity, i.e. the REGISTERED serving model
    // (ml_recommendations_capped's input), so the derivation stays
    // linear at any corpus size; the uncapped ground truth remains
    // visible through ml_item_similarity. mean_cos: 6-decimal
    // emission; the sum is ~10⁴ doubles, so cross-engine ULP drift
    // sits ~6 orders below the rounding boundary.
    QueryDef("ml_matrix_stats",
      (s, d) => {
        // ONE (user, item, last_ts) base feeds the matrix stats AND
        // the capped model: its group keys ARE the distinct pairs
        val base = interactionBase(s, d)
          .localCheckpoint(false) // stats aggregate + the cap window
        val sim = itemSimilarity(
          capInteractions(base).localCheckpoint(false))
        val users = base.select(countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("item_id")).as("n_items"),
          count(lit(1)).as("n_interactions"))
        users.crossJoin(sim.agg(
          count(lit(1)).as("n_sim_pairs"),
          round(avg(col("cos")), 6).as("mean_cos")))
          .withColumn("sparsity",
            round(lit(1.0d) - col("n_interactions").cast("double") /
              (col("n_users") * col("n_items")), 6))
      },
      Some(s"""WITH inter AS ($interSql),
              |$cappedSql,
              |${simSql("capped")},
              |u AS (SELECT COUNT(DISTINCT user_id) n_users,
              |  COUNT(DISTINCT item_id) n_items, COUNT(*) n_interactions
              |  FROM inter),
              |sm AS (SELECT COUNT(*) n_sim_pairs, ROUND(AVG(cos), 6) mean_cos
              |  FROM sim)
              |SELECT u.*, sm.*,
              |ROUND(1.0 - CAST(n_interactions AS DOUBLE)/(n_users*n_items), 6) AS sparsity
              |FROM u, sm""".stripMargin)),

    QueryDef("ml_precision_at_10",
      (s, d) => {
        val inter = interactions(s, d).localCheckpoint(false)
        val train = trainSet(inter).localCheckpoint(false)
        val recs = recommend(train, itemSimilarity(train).localCheckpoint(false))
        precisionAtK(recs, evalSet(inter))
      },
      Some(s"""WITH inter AS ($interSql),
              |$splitSql,
              |${recsSql("tr")},
              |$precisionSql""".stripMargin)),

    // NDCG over the bounded eval harness (see boundedEval): the
    // reference's own ≤100-sampled-users evaluation device
    // (dags/daily_pipeline.py:495) made deterministic.
    QueryDef("ml_ndcg_at_10",
      (s, d) => { val (recs, evs) = boundedEval(s, d); ndcgAtK(recs, evs) },
      Some(s"""WITH $cappedEvalSql,
              |ne AS (SELECT user_id, COUNT(*) AS n_eval FROM evs GROUP BY 1),
              |per_user AS (SELECT r.user_id,
              |    CAST(SUM(CASE WHEN e.user_id IS NOT NULL
              |      THEN ${gainCase("r.rank")} ELSE 0 END) AS BIGINT) AS dcg
              |  FROM recs r LEFT JOIN evs e
              |    ON r.user_id = e.user_id AND r.item_id = e.item_id
              |  GROUP BY r.user_id),
              |nq AS (SELECT p.user_id,
              |    dcg * 1000000 // (${idcgCase("n_eval")}) AS q
              |  FROM per_user p JOIN ne USING (user_id))
              |SELECT ROUND(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) / 1000000.0, 6) AS avg_ndcg,
              |COUNT(*) AS n_users FROM nq""".stripMargin)),

    // MAP over the same bounded eval harness as ml_ndcg_at_10.
    QueryDef("ml_map_at_10",
      (s, d) => { val (recs, evs) = boundedEval(s, d); mapAtK(recs, evs) },
      Some(s"""WITH $cappedEvalSql,
              |ne AS (SELECT user_id, COUNT(*) AS n_eval FROM evs GROUP BY 1),
              |hits AS (SELECT r.user_id, r.rank,
              |    CASE WHEN e.user_id IS NOT NULL THEN 1 ELSE 0 END AS hit
              |  FROM recs r LEFT JOIN evs e
              |    ON r.user_id = e.user_id AND r.item_id = e.item_id
              |  WHERE r.rank <= $TopN),
              |terms AS (SELECT user_id,
              |    CASE WHEN hit = 1 THEN (SUM(hit) OVER (PARTITION BY user_id
              |      ORDER BY rank ROWS UNBOUNDED PRECEDING) * 1000000) // rank
              |    ELSE 0 END AS term
              |  FROM hits),
              |per_user AS (SELECT user_id,
              |    CAST(SUM(term) AS BIGINT) AS term_sum FROM terms GROUP BY 1),
              |mq AS (SELECT p.user_id,
              |    term_sum // LEAST(n_eval, $TopN) AS ap_q
              |  FROM per_user p JOIN ne USING (user_id))
              |SELECT ROUND(FLOOR(CAST(SUM(ap_q) AS DOUBLE) / COUNT(*)) / 1000000.0, 6) AS avg_map,
              |COUNT(*) AS n_users FROM mq""".stripMargin)),

    // Model-based CF — float factors aren't SQL-expressible, so this
    // is a rows-only entry (like the HLL sketches); RecommendSpec
    // asserts its ranking behavior on a planted block structure.
    QueryDef("ml_als_recommendations",
      (s, d) => alsRecommend(interactions(s, d)),
      None),

    // Deterministic negative sampling — the other half of an
    // implicit-feedback training set (positives = interactions;
    // negatives = items the user did NOT touch). Candidates come
    // from hashing (user, slot) into the item-index space — |users|
    // × slots rows, LINEAR in users, never the users × catalog
    // cross product — then anti-filtering the user's positives and
    // keeping the first k surviving slots. Every step is md5-
    // derived (hex60), so the sample is reproducible on any engine.
    QueryDef("ml_negative_samples",
      (s, d) => negativeSamples(interactions(s, d)),
      Some(s"""WITH inter AS (SELECT DISTINCT o_custkey AS user_id,
              |    l_partkey AS item_id
              |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              |items AS (SELECT item_id,
              |    ROW_NUMBER() OVER (ORDER BY item_id) - 1 AS idx
              |  FROM (SELECT DISTINCT item_id FROM inter)),
              |ni AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM items),
              |slots AS (SELECT user_id, s.slot
              |  FROM (SELECT DISTINCT user_id FROM inter)
              |  CROSS JOIN (SELECT unnest(generate_series(0,
              |    ${NegSlots - 1})) AS slot) s),
              |cand AS (SELECT user_id, slot,
              |    CAST(concat('0x', substr(md5(concat(CAST(user_id AS VARCHAR),
              |      ':', CAST(slot AS VARCHAR))),1,15)) AS BIGINT)
              |      % n_items AS idx
              |  FROM slots, ni),
              |hit AS (SELECT c.user_id, c.slot, items.item_id
              |  FROM cand c JOIN items ON c.idx = items.idx
              |  WHERE NOT EXISTS (SELECT 1 FROM inter
              |    WHERE inter.user_id = c.user_id
              |      AND inter.item_id = items.item_id)),
              |firstslot AS (SELECT user_id, item_id,
              |    MIN(slot) AS slot FROM hit GROUP BY 1, 2),
              |ranked AS (SELECT user_id, item_id, slot,
              |    ROW_NUMBER() OVER (PARTITION BY user_id
              |      ORDER BY slot) AS rn
              |  FROM firstslot),
              |kept AS (SELECT user_id, item_id, slot
              |  FROM ranked WHERE rn <= $NegPerUser)
              |SELECT user_id, item_id, CAST(slot AS BIGINT) AS slot,
              |CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT)
              |  AS n_sampled
              |FROM kept""".stripMargin)),

    // The yardstick every CF eval needs: precision@10 of the
    // POPULARITY baseline (everyone gets the global top-10 from
    // train, minus what they already have). If the CF numbers don't
    // clear this, the similarity model adds nothing. Candidate fan-
    // out is |users| × 10 (broadcast top list) — linear, never
    // users × catalog.
    QueryDef("ml_precision_popularity",
      (s, d) => {
        val inter = interactions(s, d).localCheckpoint(false)
        val train = trainSet(inter).localCheckpoint(false)
        precisionAtK(popularityRecs(train), evalSet(inter))
      },
      Some(s"""WITH inter AS ($interSql),
              |$splitSql,
              |top10 AS (SELECT item_id, CAST(COUNT(*) AS BIGINT) AS pop
              |  FROM tr GROUP BY 1 ORDER BY pop DESC, item_id LIMIT $TopN),
              |recs AS (SELECT u.user_id, t.item_id
              |  FROM (SELECT DISTINCT user_id FROM tr) u CROSS JOIN top10 t
              |  WHERE NOT EXISTS (SELECT 1 FROM tr
              |    WHERE tr.user_id = u.user_id AND tr.item_id = t.item_id)),
              |$precisionSql""".stripMargin)),

    // Group-wise (user-level) split: every user's rows land in ONE
    // fold — the leakage-safe split for generalization-to-new-users
    // evaluation. Deterministic md5 fold assignment; fold grain out.
    QueryDef("u9_group_split",
      (s, d) => {
        val g = interactions(s, d).withColumn("fold",
          (hex60(concat(lit("gs"), col("user_id").cast("string"))) % 5)
            .cast("int"))
        g.groupBy(col("fold"))
          .agg(countDistinct(col("user_id")).as("n_users"),
            count(lit(1)).as("n_rows"))
      },
      Some(s"""WITH inter AS ($interSql),
              |g AS (SELECT user_id, item_id,
              |    CAST(CAST(concat('0x', substr(md5(concat('gs',
              |      CAST(user_id AS VARCHAR))),1,15)) AS BIGINT) % 5
              |      AS INT) AS fold
              |  FROM inter)
              |SELECT fold, CAST(COUNT(DISTINCT user_id) AS BIGINT)
              |  AS n_users,
              |CAST(COUNT(*) AS BIGINT) AS n_rows
              |FROM g GROUP BY 1""".stripMargin)),

    // Novelty@10: mean self-information −ln(pop/|users|) of the
    // recommended items — the metric that catches a recommender
    // collapsing into the popularity list (popular recs score near
    // zero). Quantized-ln device (txt_unigram_logprob): each term is
    // floor(−10⁶·ln(ratio-of-exact-ints)), summed as exact BIGINTs in
    // any order.
    QueryDef("ml_novelty_at_10",
      (s, d) => {
        // same bounded harness as ndcg/map (round-6 verdict #2):
        // capped-train similarity, recs for the md5 user sample only;
        // popularity/self-information stay corpus-wide facts of the
        // capped train split
        val train = trainSetCapped(s, d).localCheckpoint(false)
        val (_, recs) = sampleRecs(train)
        val nu = train.select(col("user_id")).distinct()
          .agg(count(lit(1)).as("nu")) // 1 row
        val pop = train.groupBy(col("item_id")).agg(count(lit(1)).as("pop"))
        recs
          .join(pop, Seq("item_id")) // recommended items exist in train
          .crossJoin(broadcast(nu))
          .withColumn("si_q", floor(lit(-1000000.0d)
            * log(col("pop").cast("double") / col("nu"))).cast("long"))
          .agg(sum(col("si_q")).as("sq"), count(lit(1)).as("n_recs"))
          .select(
            round(floor(col("sq").cast("double") / col("n_recs"))
              / 1000000.0d, 6).as("avg_novelty"),
            col("n_recs"))
      },
      Some(s"""WITH $cappedEvalSql,
              |nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu
              |  FROM tr),
              |pop AS (SELECT item_id, CAST(COUNT(*) AS BIGINT) AS pop
              |  FROM tr GROUP BY 1),
              |si AS (SELECT CAST(FLOOR(-1000000.0 *
              |    ln(CAST(pop AS DOUBLE) / nu)) AS BIGINT) AS si_q
              |  FROM recs JOIN pop USING (item_id), nu)
              |SELECT ROUND(FLOOR(CAST(SUM(si_q) AS DOUBLE) / COUNT(*))
              |  / 1000000.0, 6) AS avg_novelty,
              |CAST(COUNT(*) AS BIGINT) AS n_recs
              |FROM si""".stripMargin)),

    // Cold-start gap report: the share of eval pairs whose item never
    // appears in train — the ceiling on any co-occurrence CF's recall
    // (it cannot score an unseen item). THE number to read next to
    // ml_precision_at_10.
    QueryDef("ml_coldstart_report",
      (s, d) => {
        val inter = interactions(s, d).localCheckpoint(false)
        val seen = trainSet(inter).select(col("item_id")).distinct()
          .withColumn("seen", lit(1))
        evalSet(inter).join(broadcast(seen), Seq("item_id"), "left")
          .agg(count(lit(1)).as("n_eval"),
            sum(when(col("seen").isNull, 1L).otherwise(0L))
              .as("n_cold_pairs"),
            countDistinct(when(col("seen").isNull, col("item_id")))
              .as("n_cold_items"))
          .withColumn("cold_ppm",
            expr("(n_cold_pairs * 1000000) div n_eval"))
      },
      Some(s"""WITH inter AS ($interSql),
              |$splitSql,
              |seen AS (SELECT DISTINCT item_id FROM tr)
              |SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
              |CAST(SUM(CASE WHEN seen.item_id IS NULL THEN 1 ELSE 0 END)
              |  AS BIGINT) AS n_cold_pairs,
              |CAST(COUNT(DISTINCT CASE WHEN seen.item_id IS NULL
              |  THEN ev.item_id END) AS BIGINT) AS n_cold_items,
              |CAST((SUM(CASE WHEN seen.item_id IS NULL THEN 1 ELSE 0 END)
              |  * 1000000) // COUNT(*) AS BIGINT) AS cold_ppm
              |FROM ev LEFT JOIN seen ON ev.item_id = seen.item_id""".stripMargin))
  )

  /** Popularity-baseline recommender: the train-set top-k items for
    * everyone, seen items masked (see ml_precision_popularity).
    */
  def popularityRecs(train: DataFrame, k: Int = TopN): DataFrame = {
    val top = train.groupBy(col("item_id"))
      .agg(count(lit(1)).as("pop"))
      .orderBy(col("pop").desc, col("item_id"))
      .limit(k) // TakeOrderedAndProject
    train.select(col("user_id")).distinct()
      .crossJoin(broadcast(top))
      .join(train, Seq("user_id", "item_id"), "left_anti")
      .select(col("user_id"), col("item_id"))
  }

  /** See the ml_negative_samples QueryDef. Items index and count are
    * dim-sized (broadcast); the slot expansion is |users| × NegSlots.
    * A user can receive FEWER than k negatives (fixed `slots` hash
    * draws lose some to duplicate indices and positive-item
    * collisions — e.g. a user owning most of a small catalog), so the
    * output carries `n_sampled`, the user's delivered count:
    * training-set consumers filter or re-draw short users instead of
    * discovering the shortfall at batch-assembly time. The item index
    * is Stats.denseIndex, so the DATA-sized catalog is never sorted on
    * one task.
    */
  def negativeSamples(inter: DataFrame, k: Int = NegPerUser,
                      slots: Int = NegSlots): DataFrame = {
    val items = Stats.denseIndex(
      inter.select(col("item_id")).distinct(), "item_id")
    val nItems = items.agg(count(lit(1)).as("n_items")) // 1 row
    val cand = inter.select(col("user_id")).distinct()
      .select(col("user_id"),
        explode(sequence(lit(0), lit(slots - 1))).as("slot"))
      .crossJoin(broadcast(nItems))
      .withColumn("idx", hex60(concat(col("user_id").cast("string"),
        lit(":"), col("slot").cast("string"))) % col("n_items"))
      .join(broadcast(items), Seq("idx"))
    val negatives = cand
      .join(inter, Seq("user_id", "item_id"), "left_anti")
      .groupBy(col("user_id"), col("item_id"))
      .agg(min(col("slot")).as("slot"))
    val wu = Window.partitionBy(col("user_id")).orderBy(col("slot"))
    negatives.withColumn("rn", row_number().over(wu))
      .filter(col("rn") <= k)
      // delivered-count window AFTER the keep-k filter (same user_id
      // partitioning — no extra exchange)
      .withColumn("n_sampled",
        count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .select(col("user_id"), col("item_id"), col("slot").cast("long")
        .as("slot"), col("n_sampled"))
  }
}
