package graft.operators

import graft.SparkSpec
import graft.streaming.{Alerts, Dashboard}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** C5 generalized: every core transform must be TOTAL on empty input
  * (SURVEY §7 risk 5) — a backfill over a day with no data, a corpus
  * shard with no documents, an alert stream with no rows must all
  * produce empty results, not exceptions. Iterative and window
  * operators are where this usually breaks.
  */
class EmptyInputSpec extends SparkSpec {

  private def empty(fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  private val docs0 = empty("doc_id" -> LongType, "text" -> StringType,
    "lang" -> StringType, "source" -> StringType)
  private val inter0 = empty("user_id" -> LongType, "item_id" -> LongType)
  private val emb0 = empty("vec_id" -> LongType,
    "embedding" -> ArrayType(FloatType))
  private val orders0 = empty("order_id" -> StringType, "total" -> DoubleType,
    "quantity" -> IntegerType, "price" -> DoubleType,
    "customer_id" -> StringType, "product_name" -> StringType)

  test("text/dedup family is total on an empty corpus") {
    assert(TextAnalysis.tokenStats(docs0).count() === 0)
    assert(TextAnalysis.qualityScore(docs0).count() === 0)
    assert(TextAnalysis.langId(docs0).count() === 0)
    assert(TextAnalysis.nbQualityClassifier(docs0).count() === 0)
    assert(TextAnalysis.dsirSelect(docs0).count() === 0)
    assert(TextAnalysis.fingerprint(docs0).count() === 0)
    assert(TextAnalysis.unigramHardEm(docs0).count() === 0)
    assert(TextAnalysis.budgetSelectWeighted(docs0).count() === 0)
    assert(TextAnalysis.phraseSearch(docs0).count() === 0)
    assert(TextAnalysis.spanMerge(docs0).count() === 0)
    assert(TextAnalysis.spanMass(docs0).count() === 1) // 1-row report,
    // zero counts — the curator reads "nothing to cut", not a crash
    assert(TextAnalysis.spanCut(docs0).count() === 0)
    assert(TextAnalysis.spanMergeIncremental(docs0).count() === 0)
    assert(TextAnalysis.spanCutIncremental(docs0).count() === 0)
    assert(TextAnalysis.spanWSweep(docs0).count() === 3) // one zero-mass
    // report row per swept w — the curator reads a flat curve
    assert(TextAnalysis.spanWSweep(docs0)
      .filter(org.apache.spark.sql.functions.col("n_spans") =!= 0L)
      .count() === 0)
    assert(Dedup.clusterAgreement(docs0).count() === 1) // 1-row report
    // with zero pair masses and NULL ppm ratios
    assert(Dedup.exact(docs0).count() === 0)
    assert(Dedup.trainContamination(docs0).count() === 0)
    assert(Dedup.ngramJaccard(docs0).count() === 0)
    assert(Dedup.ppjoinPrefix(docs0).count() === 0)
    assert(Dedup.minhashLsh(docs0).count() === 0)
    assert(Dedup.incrementalDedup(docs0).count() === 0)
    assert(Dedup.minhashEstimate(docs0).count() === 0)
    assert(Dedup.clusterWeights(docs0).count() === 0)
    assert(Dedup.simhash(docs0).count() === 0)
    assert(Dedup.simhashPairs(docs0).count() === 0)
    assert(Dedup.dedupClusters(docs0).count() === 0)
    assert(Dedup.dedupClustersLsh(docs0).count() === 0)
    assert(Dedup.clustersIncremental(docs0).count() === 0)
    assert(Dedup.ngramJaccardFrom(
      Dedup.docShingleHashesCapped(docs0, Dedup.MaxShingleDf)).count() === 0)
  }

  test("CF family is total on empty interactions") {
    val sim0 = Recommend.itemSimilarity(inter0)
    assert(sim0.count() === 0)
    assert(Recommend.recommend(inter0, sim0).count() === 0)
    assert(Recommend.similarProducts(sim0).count() === 0)
    val cov = Recommend.coverage(inter0, inter0).collect()
    assert(cov.length === 1) // global agg over empty → one null row, no crash
    assert(Recommend.precisionAtK(
      Recommend.recommend(inter0, sim0), inter0).collect().length === 1)
    assert(Recommend.ndcgAtK(
      Recommend.recommend(inter0, sim0), inter0).collect().length === 1)
    assert(Recommend.alsRecommend(inter0).count() === 0)
    assert(Recommend.mapAtK(
      Recommend.recommend(inter0, sim0), inter0).collect().length === 1)
  }

  test("round-4 additions are total on empty input") {
    val edges0 = empty("i" -> LongType, "j" -> LongType)
    assert(Graph.itemEdges(inter0).count() === 0)
    assert(Graph.triangleStats(edges0).count() === 0)
    assert(TextAnalysis.invertedIndex(docs0).count() === 0)
    assert(Similarity.hardNegatives(emb0).count() === 0)
    // recall over zero queries: one row, zero count, null average
    val tr = Similarity.truncationRecallAtK(emb0).collect()
    assert(tr.length === 1 && tr.head.getLong(0) === 0L)
    val media0 = empty("media_id" -> LongType, "kind" -> StringType,
      "payload" -> BinaryType)
    assert(Multimodal.ahash(media0).count() === 0)
  }

  test("round-5 additions are total on empty input") {
    import org.apache.spark.sql.functions.col
    // two-phase dense index: empty distinct-key relation → empty map
    assert(Stats.denseIndex(
      inter0.select(col("item_id")), "item_id").count() === 0)
    assert(Recommend.negativeSamples(inter0).count() === 0)
    // serving slice of an empty recommendations table
    val recs0 = empty("user_id" -> LongType, "rank" -> LongType,
      "item_id" -> LongType, "score_r" -> DoubleType)
    assert(Recommend.serveTopN(recs0, 10).count() === 0)
    // session-5 continuation: EWMA / RP recall / bloom prefilter
    val series0 = empty("event_type" -> StringType, "ts_us" -> LongType)
    assert(Temporal.ewmaSmooth(series0).count() === 0)
    assert(Similarity.rpProject(emb0).count() === 0)
    assert(Similarity.rpRecallAtK(emb0).count() === 1) // null-recall summary
    val ord0 = empty("o_orderkey" -> LongType, "o_orderpriority" -> StringType)
    val li0 = empty("l_orderkey" -> LongType, "l_returnflag" -> StringType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType)
    assert(Relational.bloomPrefilterJoin(ord0, li0).count() === 0)
    assert(TextAnalysis.unigramViterbi(docs0).count() === 0)
    assert(Similarity.kmeansLloyd(emb0).count() === 0)
    val fkOrd0 = empty("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderdate" -> TimestampType, "o_totalprice" -> DoubleType)
    val fkLi0 = empty("l_orderkey" -> LongType)
    val fkCust0 = empty("c_custkey" -> LongType)
    // the audit keeps its three check rows (all-zero) on an empty lake
    assert(Quality.refIntegrity(fkOrd0, fkLi0, fkCust0).count() === 3)
    assert(Commerce.dowSeasonality(fkOrd0).count() === 0)
    val lat0 = empty("event_id" -> LongType, "user_id" -> LongType,
      "ts_us" -> LongType, "event_type" -> StringType)
    assert(Events.conversionLatency(lat0).count() === 1) // all-zero row
    // session-5 continuation: CUSUM / covisitation / nprobe sweep
    assert(Temporal.cusumShift(series0).count() === 0)
    val cov0 = empty("event_id" -> LongType, "user_id" -> LongType,
      "ts_us" -> LongType, "props" -> StringType)
    assert(Events.covisitation(cov0).count() === 0)
    // recall summary over zero queries: one row per sweep point with
    // zero queries would be vacuous — empty base gives empty output
    assert(Similarity.nprobeSweep(emb0).count() === 0)
    val k0 = empty("k" -> LongType)
    assert(Quality.joinExplosion(k0, k0).count() === 1) // all-zero row
    val e0 = empty("i" -> LongType, "j" -> LongType)
    assert(Graph.labelPropagation(e0).count() === 0)
    assert(Similarity.corpusDiversity(emb0).count() === 1) // zero row
  }

  test("quality/ops family is total on empty input") {
    val tpch0 = empty("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType)
    // the expectation suite keeps its 6 constraint rows (n=0 ->
    // every ppm ratio is null-safe? no: n_ok*1e6 div 0 is NULL) —
    // totality means no exception; observed over an empty table is
    // a single all-null metric set per check
    assert(Quality.dqExpectations(tpch0).count() === 6)
    assert(Quality.ksDrift(tpch0).count() === 0)
    assert(Quality.ivmDailySummary(tpch0).count() === 0)
    val ev0 = empty("event_type" -> StringType, "value" -> DoubleType)
    assert(Quality.madOutliers(ev0).count() === 0)
    assert(Quality.detShuffle(docs0).count() === 0)
    assert(TextAnalysis.mixEpochPlan(docs0).count() === 0)
    assert(TextAnalysis.pplBuckets(docs0).count() === 0)
    val cust0 = empty("c_custkey" -> LongType, "c_mktsegment" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType)
    assert(Quality.kAnonymity(cust0).count() === 1) // null-stat summary row
  }

  test("similarity family is total on empty embeddings") {
    assert(Dedup.embeddingNearDup(emb0).count() === 0)
    assert(Dedup.semanticDedup(emb0).count() === 0)
    assert(Dedup.prototypePrune(emb0).count() === 0)
    assert(Similarity.knnBrute(emb0).count() === 0)
    assert(Similarity.knnLsh(emb0).count() === 0)
    assert(Similarity.knnIvf(emb0).count() === 0)
    assert(Similarity.rangeSearchIvf(emb0).count() === 0)
    assert(Similarity.hybridRrf(docs0, emb0).count() === 0)
    assert(Similarity.mmrRerank(emb0).count() === 0)
    assert(Similarity.bucketStats(emb0).count() === 0)
    assert(Similarity.pcaProject(emb0).count() === 0)
  }

  test("streaming transforms and dashboard are total on empty batches") {
    assert(Alerts.detectAlerts(orders0).count() === 0)
    assert(Alerts.formatAlertMessage(Alerts.detectAlerts(orders0)).count() === 0)
    Dashboard.allMetrics(orders0.withColumn("category",
      org.apache.spark.sql.functions.lit("x"))
      .withColumn("region", org.apache.spark.sql.functions.lit("x"))
      .withColumn("order_date",
        org.apache.spark.sql.functions.current_timestamp())
      .withColumn("status", org.apache.spark.sql.functions.lit("completed")))
      .foreach { case (name, df) =>
        val n = df.count()
        if (name == "overall_metrics") assert(n === 1) // global agg row
        else assert(n === 0, name)
      }
    // stream-static near-dup gate: empty batch and empty index both
    val bands0 = graft.streaming.CorpusIngest.corpusBands(docs0)
    val sh0 = graft.streaming.CorpusIngest.corpusShingles(docs0)
    assert(graft.streaming.CorpusIngest
      .nearDupFilterBatch(docs0, bands0, sh0).count() === 0)
  }

  test("round-7 additions are total on empty input") {
    // shared-baseline recall comparison: zero queries → one summary
    // row (global aggregates), null recalls, no crash
    assert(Similarity.ivfPqResVsPlainRecall(emb0).count() === 1)
    // the gated split passes vacuously (no ground-truth pairs) and
    // yields zero folds on an empty corpus
    assert(Dedup.clusterSplitGated(docs0).count() === 0)
    assert(Similarity.knnIvfPqResProbe(emb0).count() === 0)
    assert(Similarity.knnIvfFiltered(emb0, docs0).count() === 0)
    // the plain IVF-PQ nprobe and filtered variants
    assert(Similarity.knnIvfPqProbe(emb0).count() === 0)
    assert(Similarity.knnIvfPqFiltered(emb0, docs0).count() === 0)
  }

  test("round-2 operators are total on empty input") {
    assert(TextAnalysis.bm25(docs0).count() === 0)
    assert(Dedup.containment(docs0).count() === 0)
    assert(Recommend.capInteractions(
      empty("user_id" -> LongType, "item_id" -> LongType,
        "last_ts" -> TimestampType)).count() === 0)
    assert(Similarity.knnLshMultiprobe(emb0).count() === 0)
    val ev0 = empty("event_id" -> LongType, "user_id" -> LongType,
      "ts_us" -> LongType, "event_type" -> StringType)
    assert(Events.funnel(ev0).count() === 0)
    assert(Events.jsonProps(ev0
      .withColumn("props", org.apache.spark.sql.functions.lit("{}")))
      .count() === 0)
    assert(Dedup.evalContamination(docs0).count() === 0)
    assert(TextAnalysis.unigramLogprob(docs0).count() === 0)
    assert(Similarity.centroids(emb0
      .withColumn("label", org.apache.spark.sql.functions.lit(0)))
      .count() === 0)
    assert(Recommend.itemSimilarityWeighted(
      empty("user_id" -> LongType, "item_id" -> LongType,
        "w" -> LongType)).count() === 0)
  }

  test("round-3 operators are total on empty input") {
    assert(TextAnalysis.bigramLogprob(docs0).count() === 0)
    assert(TextAnalysis.repetition(docs0).count() === 0)
    assert(TextAnalysis.tokenBudget(docs0).count() === 0)
    assert(TextAnalysis.mixDomains(docs0).count() === 0)
    assert(TextAnalysis.mixTemperature(docs0).count() === 0)
    assert(TextAnalysis.mixTemperatureSample(docs0).count() === 0)
    assert(TextAnalysis.packSequences(docs0).count() === 0)
    assert(Dedup.embeddingClusters(emb0).count() === 0)
    assert(Dedup.evalContaminationBloom(docs0).count() === 0)
    assert(Similarity.quantizeInt8(emb0).count() === 0)
    val w0 = empty("user_id" -> LongType, "item_id" -> LongType,
      "w" -> LongType)
    assert(Recommend.itemSimilarityWeighted(w0).count() === 0)
  }

  test("late round-3 operators are total on empty input") {
    assert(Graph.pagerankFrom(inter0).count() === 0)
    assert(TextAnalysis.tokenEntropy(docs0).count() === 0)
    assert(TextAnalysis.budgetSelect(docs0).count() === 0)
    assert(TextAnalysis.qualityBySource(docs0).count() === 0)
    assert(Similarity.knnIvfProbe(emb0).count() === 0)
    assert(TextAnalysis.spanDedup(docs0).count() === 0)
    assert(TextAnalysis.interpLogprob(docs0).count() === 0)
    assert(TextAnalysis.trigramLogprob(docs0).count() === 0)
    assert(TextAnalysis.collocations(docs0).count() === 0)
    assert(TextAnalysis.bpeTrain(docs0).count() === 0)
    assert(TextAnalysis.bpeEncode(docs0).count() === 0)
    assert(TextAnalysis.backoffHeldout(docs0).count() === 0)
    assert(TextAnalysis.keywords(docs0).count() === 0)
    assert(Recommend.userSimilarity(inter0).count() === 0)
    assert(Recommend.recommendUserBased(inter0,
      Recommend.userSimilarity(inter0)).count() === 0)
    assert(TextAnalysis.piiRedact(
      empty("user_id" -> LongType, "text" -> StringType)).count() === 0)
    val ev0 = empty("event_id" -> LongType, "user_id" -> LongType,
      "ts_us" -> LongType, "event_type" -> StringType)
    // transitions/retention inline in their QueryDefs; cover the
    // shared shapes: lag window + groupBy over an empty sequence
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    assert(ev0.withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type")).count().count() === 0)
    assert(Temporal.scd2Build(ev0).count() === 0)
  }

  test("multimodal plumbing is total on an empty media table") {
    val m = Multimodal.mediaTable(docs0)
    assert(Multimodal.decode(m).count() === 0)
    assert(Multimodal.resizePlan(Multimodal.decode(m)).count() === 0)
    assert(Multimodal.frameSample(Multimodal.decode(m)).count() === 0)
    assert(Multimodal.features(m).count() === 0)
    assert(Multimodal.phashPairs(m).count() === 1) // all-zero summary
    assert(Multimodal.phashDupPairs(m).count() === 0)
  }

  test("commerce/eval family is total on empty inputs") {
    val orders0 = empty("o_custkey" -> LongType,
      "o_orderdate" -> TimestampType, "o_totalprice" -> DoubleType)
    val lines0 = empty("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_shipdate" -> TimestampType, "l_extendedprice" -> DoubleType)
    val part0 = empty("p_partkey" -> LongType, "p_brand" -> StringType)
    assert(Commerce.rfmSegments(orders0).count() === 0)
    assert(Commerce.basketLift(lines0).count() === 0)
    assert(Commerce.trendSlope(lines0, part0).count() === 0)
    assert(Commerce.decayTopk(lines0).count() === 0)
    assert(Commerce.cohortLtv(orders0).count() === 0)
    assert(Commerce.blockedMatch(docs0
      .withColumn("n_chars", org.apache.spark.sql.functions.lit(0L)))
      .count() === 0)
    val evv0 = empty("event_id" -> LongType, "user_id" -> LongType,
      "ts_us" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType)
    assert(Commerce.outliers(
      empty("event_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType)).count() === 0)
    assert(Events.fillForward(evv0).count() === 0)
    assert(Events.attribution(evv0).count() === 0)
    // negative sampling: with no interactions the candidate side is
    // empty too, so the `% n_items` expression is never evaluated —
    // under Spark 4's default ANSI mode, integer modulo by zero
    // would throw DIVIDE_BY_ZERO if a row ever reached it
    assert(Recommend.negativeSamples(inter0).count() === 0)
    assert(Similarity.normalizeCenter(emb0).count() === 0)
    assert(Similarity.pqCodes(emb0).count() === 0)
    assert(Similarity.knnPqAdc(emb0).count() === 0)
    assert(Similarity.knnIvfPq(emb0).count() === 0)
    assert(Similarity.pqCodesTrained(emb0).count() === 0)
    assert(Similarity.pqDistortion(emb0).count() === 1) // null totals row
    assert(Similarity.knnIvfPqRes(emb0).count() === 0)
    assert(Similarity.ivfPqResDistortion(emb0).count() === 1)
    assert(Dedup.containmentCapped(docs0).count() === 0)
    assert(TextAnalysis.knHeldout(docs0).count() === 0)
    assert(Commerce.driftPsi(orders0).count() === 0)
    assert(Events.keySkew(evv0).count() === 0)
    assert(TextAnalysis.qualityCalibration(docs0).count() === 0)
    assert(Graph.linkPredict(
      empty("i" -> LongType, "j" -> LongType)).count() === 0)
    assert(Graph.personalizedPagerank(
      empty("i" -> LongType, "j" -> LongType)).count() === 0)
    assert(Graph.hits(inter0).count() === 0)
    assert(Similarity.ivfSplitCells(emb0).count() === 0)
    assert(Graph.adamicAdar(
      empty("i" -> LongType, "j" -> LongType)).count() === 0)
    assert(Dedup.embeddingDecontam(emb0).count() === 0)
    assert(TextAnalysis.curriculumOrder(docs0).count() === 0)
    assert(Graph.modularityOf(
      empty("i" -> LongType, "j" -> LongType),
      empty("item_id" -> LongType, "community" -> LongType))
      .count() === 0)
    assert(Similarity.codebookDrift(emb0).count() === 0)
    // round 9: margin + retrain-gain are global aggs — one null row
    assert(Similarity.ivfAssignMargin(emb0).count() === 1)
    assert(Similarity.retrainGain(emb0).count() === 1)
    assert(Similarity.knnIvfPqRefine(emb0).count() === 0)
    assert(Multimodal.phashClusters(empty("media_id" -> LongType,
      "kind" -> StringType, "payload" -> BinaryType)).count() === 0)
    assert(Temporal.rollingAnomaly(
      empty("event_type" -> StringType, "ts_us" -> LongType))
      .count() === 0)
    assert(Commerce.goldenRecords(docs0
      .withColumn("n_chars", org.apache.spark.sql.functions.lit(0L)))
      .count() === 0)
    assert(Events.freshness(evv0).count() === 0)
    assert(Events.topSessionPaths(evv0).count() === 0)
    assert(Relational.weightedSample(
      empty("k" -> LongType, "w" -> DoubleType), "k", "w").count() === 0)
    assert(Temporal.scd2Merge(Temporal.scd2Build(evv0), evv0).count() === 0)
    assert(Recommend.contentSimilarity(
      empty("p_partkey" -> LongType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType)).count() === 0)
    assert(TextAnalysis.windowCooc(docs0).count() === 0)
    assert(TextAnalysis.oovRate(docs0).count() === 0)
    assert(TextAnalysis.qualityPr(docs0).count() === 0)
    assert(TextAnalysis.qualityBands(docs0).count() === 0)
  }
}
