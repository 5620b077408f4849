package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution

/** Physical-plan property assertions on the sf0.001 testdata — the
  * automated form of the ".explain and iterate" loop: pushdown
  * reaching the scan, column pruning, broadcast dims, codegen'd
  * custom expressions. Regressions here are 100-TB regressions even
  * when sf0.01 results stay correct.
  */
class PlanSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, d)
    val qe: QueryExecution = df.queryExecution
    qe.executedPlan.toString()
  }

  test("S1: filters and projection reach the parquet scan") {
    val p = planOf("s1_filtered_scan")
    assert(p.contains("PushedFilters"), p.take(400))
    assert(p.contains("In(o_orderstatus"), "status IN not pushed")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "date bound not pushed")
    // pruned read: the referenced columns only (plan metadata strings
    // truncate at 100 chars, so assert the prefix)
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint," +
      "o_orderstatus:string"))
    assert(!p.contains("o_comment"), "unpruned full-table read")
  }

  test("J3: every dimension joins as broadcast, fact never broadcast") {
    val p = planOf("j3_star_join")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts")
    assert(!p.contains("BroadcastNestedLoopJoin"), "cartesian fallback!")
  }

  test("ivf coarse assignment: two-phase heap argmin over the " +
    "codegen'd integer dot, no corpus-grain rank window, no sort") {
    // round 9: the home-cell pick is a map-side-combinable argmin
    // (n·K candidate rows collapse to ≤n per partition BEFORE the
    // vec-grain shuffle); the retired form sorted all n·K rows
    // through a rank window — a 100 TB regression even at equal
    // sf0.01 results. Round 14: the argmin runs through the native
    // heap top-k at k = 1 (TopKPerKeyPartial/Final) because the
    // min_by struct buffer is not UnsafeRow-mutable and fell back to
    // SortAggregate — both phases SORTING all n·K candidate rows,
    // the very cost the aggregate form existed to avoid.
    val p = planOf("sim_cell_stats")
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"),
      "home-cell argmin must run the two-phase heap cut")
    assert(!p.contains("SortAggregate"),
      "argmin fell back to a sorting aggregate")
    assert(!p.contains("Window"),
      "assignment must not rank through a window")
    assert(p.contains("graft_doti"),
      "integer surrogate must run the codegen'd dot")
  }

  test("code-only IVF-PQ store serving: the query-cell map and the ADC " +
    "LUT broadcast onto the code scan; the store side never " +
    "sort-merge-joins or goes cartesian; the ADC sum combines map-side") {
    val p = planOf("sim_knn_ivfpq_store")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"qcell and LUT must broadcast onto the code scan:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin"),
      "the at-rest code store shuffled into a join")
    assert(!p.contains("CartesianProduct"))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "ADC per-(query,candidate) sum must map-side combine")
  }

  test("bloom prefilters probe through the native codegen'd " +
    "expression — no ScalaUDF node in either plan (round 11)") {
    // j11: the registered bloom-prefiltered join
    val p = planOf("j11_bloom_prefilter")
    assert(p.contains("might_contain"),
      s"native bloom probe missing:\n${p.take(600)}")
    assert(!p.contains("UDF"), "bloom probe fell back to a Scala UDF")
    // the dedup decontamination's bloom form (spec-proven operator)
    val p2 = operators.Dedup.evalContaminationBloom(
      Tables.documents(spark, d)).queryExecution.executedPlan.toString()
    assert(p2.contains("might_contain"),
      s"native bloom probe missing:\n${p2.take(600)}")
    assert(!p2.contains("UDF"), "bloom probe fell back to a Scala UDF")
  }

  test("A2: aggregation is partial+final (map-side combine)") {
    val p = planOf("a2_category_agg")
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert(p.contains("BroadcastHashJoin"))
  }

  test("embedding queries run the codegen'd cosine, not the lambda fold") {
    val p = planOf("dedup_embedding")
    assert(p.contains("graft_cosine"), "custom expression missing from plan")
    assert(!p.contains("aggregate(zip_with"), "interpreted fold in hot path")
    // (WholeStageCodegen ids only materialize in the AQE final plan;
    // codegen correctness is covered by the bit-exact oracle match)
  }

  test("dedup_embedding candidates are bucket-keyed — never a cartesian") {
    val p = planOf("dedup_embedding")
    assert(!p.contains("CartesianProduct"), "all-pairs cartesian!")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop pair scan:\n${p.take(600)}")
    // the candidate join must carry the probe=bucket equi-condition
    assert(p.contains("probe"), "probe column missing — not the LSH path")
  }

  test("A4 top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = planOf("a4_top_products")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Sort ["), s"unexpected global sort:\n${p.take(600)}")
  }

  test("minhash signature aggregates map-side (partial min per doc)") {
    val p = planOf("dedup_minhash_lsh")
    assert(p.contains("partial_min") || "HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("BM25: the one-row stats table broadcasts; corpus never shuffles") {
    val p = planOf("txt_bm25")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "stats row should broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus-side shuffle join!")
  }

  test("u5/e1: sampling and JSON extraction stay shuffle-free scans") {
    assert(!planOf("u5_stratified_sample").contains("Exchange"),
      "stratified sample introduced a shuffle")
    assert(!planOf("e1_json_extract").contains("Exchange"),
      "JSON extraction introduced a shuffle")
  }

  test("ngram top-k plans as TakeOrderedAndProject over the aggregate") {
    val p = planOf("txt_ngram_freq")
    assert(p.contains("TakeOrderedAndProject"),
      "full-table sort instead of distributed top-k")
  }

  test("LSH candidate join is keyed on the bucket, never a pair scan") {
    val p = planOf("sim_knn_lsh")
    // equi-join on the bucket id — as a broadcast at toy scale or a
    // bucket-partitioned exchange at corpus scale; never a nested-loop
    assert("(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \\[bucket".r
      .findFirstIn(p).isDefined || p.contains("hashpartitioning(bucket"),
      s"candidate join not keyed on the LSH bucket:\n${p.take(600)}")
    assert(!p.contains("BroadcastNestedLoopJoin"), "pair-scan fallback!")
  }

  test("as-of join: union + window costs exactly one exchange") {
    val p = planOf("j5_asof_join")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1,
      s"as-of should shuffle once on the key, got $exchanges\n${p.take(600)}")
  }

  test("pivot with explicit values is one aggregate; unpivot is one Expand") {
    val pivot = planOf("a23_pivot")
    // explicit value list → no second distinct-collection aggregate
    // pass and no Expand; just partial+final HashAggregate
    assert(!pivot.contains("Expand"), "pivot should not Expand")
    assert("HashAggregate".r.findAllIn(pivot).length >= 2)
    val unpivot = planOf("a24_unpivot")
    assert(unpivot.contains("Expand"), "unpivot should be a per-row Expand")
    assert(!unpivot.contains("Exchange"), "unpivot must not shuffle")
  }

  test("curation ops stay scan-shaped (no gratuitous shuffles)") {
    // domain mixing is a pure filter; quantization a pure generator —
    // zero exchanges at any corpus size
    assert(!planOf("mix_domains").contains("Exchange"),
      "mix_domains introduced a shuffle")
    assert(!planOf("sim_quantize_int8").contains("Exchange"),
      "quantization introduced a shuffle")
    // packing windows per source shard: exactly one exchange
    val pack = planOf("txt_pack_sequences")
    assert("Exchange hashpartitioning".r.findAllIn(pack).length === 1,
      s"packing should shuffle once on source:\n${pack.take(600)}")
  }

  test("funnel: single sort order serves both window passes (one shuffle)") {
    val p = planOf("e2_funnel")
    // both chained window passes share the (user_id, ts, event_id)
    // ordering: exactly one exchange for the window stack (plus the
    // final partial/final agg pair), never one per pass
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"window passes re-shuffled: $exchanges exchanges\n${p.take(800)}")
  }

  test("a26: one user_id shuffle serves the whole window suite") {
    val p = planOf("a26_window_funcs")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"window specs split across shuffles: $exchanges\n${p.take(800)}")
    assert(!p.contains("Exchange rangepartitioning"), "global sort crept in")
  }

  test("pagerank: edge joins are hash equi-joins, only the 1-row " +
    "node-count is nested-loop") {
    val p = planOf("graph_pagerank")
    assert(!p.contains("CartesianProduct"), "cartesian in the rank loop!")
    // the deliberate 1-row crossJoin(nNodes) broadcasts; every
    // edge/rank join must be an equi-join on the node key
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 1, s"nested-loop beyond the 1-row count join: $bnl")
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(p).nonEmpty, "no equi-join found for the edge step")
  }

  test("j7: salted join really shuffles on (key, salt) — not broadcast") {
    val p = planOf("j7_salted_join")
    assert(p.contains("ShuffledHashJoin"), s"salt demo degenerated:\n${p.take(600)}")
    assert(p.contains("salt"), "salt key missing from the join")
    assert(!p.contains("CartesianProduct"))
  }

  test("e3/e4: sequence + retention stay at two shuffles or fewer") {
    for (name <- Seq("e3_transitions", "e4_retention")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name: cartesian")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges <= 3, s"$name: $exchanges exchanges\n${p.take(600)}")
    }
  }

  test("collocations: top-k cut is TakeOrdered, never a global sort") {
    val p = planOf("txt_collocations")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    assert(!p.contains("Exchange rangepartitioning"), "global sort crept in")
  }

  test("temperature mix: plan side broadcasts, corpus side scan-filters") {
    val p = planOf("mix_temperature_sample")
    assert(p.contains("BroadcastHashJoin"), "rate plan not broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus shuffled for a 20-row plan")
  }

  test("histogram / winsorize: value-grain aggregates, no row-grain sort") {
    val ph = planOf("a29_histogram")
    assert(!ph.contains("Exchange rangepartitioning"), ph.take(400))
    val pw = planOf("p20_winsorize")
    // percentile window runs over the value-grain relation: the window
    // sort's input must come from a HashAggregate, not the raw scan
    assert(pw.contains("HashAggregate"), pw.take(400))
    assert(pw.contains("BroadcastHashJoin"), "cuts not broadcast")
  }

  test("scd2: both windows and the agg share one user_id exchange") {
    val p = planOf("scd2_history")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"scd2: $exchanges exchanges\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("span dedup / user CF: fp- and key-equi-joins, no pair scans") {
    for (name <- Seq("dedup_span", "dedup_span_merge",
      "dedup_span_cut_incremental", "ml_user_similarity_capped",
      "ml_recommendations_user_based")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name: cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name: pair scan")
    }
  }

  test("basket lift: pairs generate from the basket array, never a self-join") {
    val p = planOf("bi_basket_lift")
    // the only joins are the broadcast item-count/total joins onto the
    // pair aggregate; pair enumeration itself is a Generate (explode)
    assert(p.contains("Generate"), "no array pair generation")
    assert(!p.contains("SortMergeJoin"), "order-key self-join crept back")
    assert(!p.contains("CartesianProduct"))
  }

  test("rfm / negative samples: dims broadcast, no cross products beyond 1-row") {
    // rfm's only joins ARE the 1-row broadcasts (max date + three
    // cutpoint rows riding BroadcastNestedLoopJoin); everything else
    // is aggregate-shaped
    val pr = planOf("bi_rfm_segments")
    assert(!pr.contains("CartesianProduct"), "rfm: cartesian")
    assert(!pr.contains("SortMergeJoin"), "rfm: a 1-row side got shuffled")
    // negative sampling: item index broadcasts onto the linear
    // (user, slot) expansion; only the positives anti-join shuffles
    val pn = planOf("ml_negative_samples")
    assert(!pn.contains("CartesianProduct"), "negatives: cartesian")
    assert(pn.contains("BroadcastHashJoin"), "item index not broadcast")
  }

  test("er blocked match: candidates come from a block-key equi-join") {
    val p = planOf("er_blocked_match")
    assert(!p.contains("CartesianProduct"), "pair scan!")
    assert(!p.contains("BroadcastNestedLoopJoin"), "non-equi join only")
  }

  test("fill-forward / attribution: one user_id exchange, no joins") {
    for (name <- Seq("p23_fill_forward", "e7_attribution")) {
      val p = planOf(name)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges <= 2, s"$name: $exchanges exchanges")
      assert(!p.contains("SortMergeJoin"), s"$name: unexpected join")
    }
  }

  test("oov rate: vocabulary joins as broadcast onto the token stream") {
    val p = planOf("txt_oov_rate")
    assert(p.contains("BroadcastHashJoin"), "vocab not broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("scd2 point-in-time: interval lookup is a key equi-join") {
    val p = planOf("scd2_pointintime")
    assert(!p.contains("CartesianProduct"), "interval join fell to cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "interval predicate lost its equi-key")
  }

  test("PQ-ADC: codebook and LUT broadcast; scoring is map-side combined") {
    val p = planOf("sim_knn_pq_adc")
    assert(p.contains("BroadcastHashJoin"), "LUT/codebook not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "code stream shuffled into a merge join")
    assert(!p.contains("CartesianProduct"))
    // the (query, candidate) score sum must combine map-side
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "ADC sum not partial+final")
  }

  test("key skew / weighted sample: top-k cuts, never a global sort") {
    for (name <- Seq("e10_key_skew", "u10_weighted_sample")) {
      val p = planOf(name)
      assert(p.contains("TakeOrderedAndProject"),
        s"$name: full sort instead of a top-k cut")
    }
  }

  test("drift PSI: bin aggregate plus 1-row broadcasts, no wide join") {
    val p = planOf("ops_drift_psi")
    assert(!p.contains("SortMergeJoin"), "totals joined via shuffle")
    assert(!p.contains("CartesianProduct"))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "bin counts not map-side combined")
  }

  test("link prediction: capped wedge join stays an equi-join") {
    val p = planOf("graph_link_predict")
    assert(!p.contains("CartesianProduct"), "wedge join fell to cartesian")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k cut missing — global sort instead")
  }

  // Queries allowed a single-partition window (empty or all-literal
  // partitionSpec), each with the documented bounded-grain contract
  // that makes it safe: the window input is value-grain / day-grain /
  // k-grain — bounded by a domain, never by catalog or row count.
  // A NEW name failing this sweep means a data-grain relation is
  // being funneled through one task: partition it (or band it like
  // bi_abc_analysis) before adding it here.
  private val singlePartitionWindowOk: Set[String] = Set(
    // value-grain (whole units / rounded scores / bounded buckets)
    "bi_abc_analysis",      // whole-unit revenue buckets
    "bi_rfm_segments",      // valueCuts over r/f/m bucket grains
    "p20_winsorize",        // valueCuts over whole-unit price grain
    "a29_histogram",        // bin grain
    "u10_weighted_sample",  // valueCuts over weight grain
    "ops_drift_psi",        // bin grain
    "ops_ks_drift",         // whole-dollar value grain (price domain)
    "e13_conversion_latency", // latency-minute value grain (time span)
    "txt_quality_calibration", // rounded-score grain
    "txt_quality_pr",       // rounded-score grain (PR curve)
    "txt_quality_filter",   // rounded-score grain (banded percent_rank)
    "mix_quality_bands",    // valueCuts over rounded-score grain
    "txt_ppl_buckets",      // valueCuts over milli-nat score grain
    "txt_truncation_stats", // length-bucket grain
    "sim_recall_truncation", // k-grain
    // day/hour-grain series (bounded by the calendar)
    "ts_seasonality", "ts_trend_slope", "ts_changepoint",
    "bi_pareto_days", "a20_moving_avg", "u8_time_split",
    // k-grain / head-grain (bounded by an explicit constant)
    "e6_heavy_hitters_cms", "txt_zipf_fit", "dedup_threshold_sweep",
    "sim_recall_sweep", "txt_ngram_freq", // rank over limit(20)
    // pid-grain (Stats.denseIndex prefix offsets — bounded by the
    // partition count, a cluster config constant)
    "ml_negative_samples",
    "u13_shard_pack",       // pid-grain prefix offsets (shardPack)
    "mix_curriculum"        // valueCuts band grain + pid-grain offsets
  )

  test("LM family: no cartesian product, and the per-doc scoring " +
    "aggregate combines map-side (partial + final)") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    Seq("txt_unigram_logprob", "txt_ppl_buckets", "txt_bigram_logprob",
      "txt_trigram_logprob", "txt_interp_logprob", "txt_backoff_heldout",
      "txt_kn_heldout").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, d).queryExecution
        .executedPlan match {
          case a: AdaptiveSparkPlanExec => a.inputPlan
          case p => p
        }
      assert(!plan.toString.contains("CartesianProduct"),
        s"$name plans a cartesian product")
      // the doc_id-keyed aggregate that sums the quantized q_nll
      val modes = plan.collect {
        case h: HashAggregateExec
          if h.groupingExpressions.map(_.name) == Seq("doc_id") &&
            h.aggregateExpressions.exists(
              _.aggregateFunction.references.exists(_.name == "q_nll")) =>
          h.aggregateExpressions.map(_.mode).toSet
      }
      assert(modes.contains(Set(Partial)) && modes.contains(Set(Final)),
        s"$name: per-doc scoring aggregate modes $modes")
    }
  }

  test("single-partition windows run only over bounded-grain inputs " +
    "(whitelisted, audited)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val wins = fn(spark, d).queryExecution.optimizedPlan.collect {
          case w: LWindow
            if w.partitionSpec.isEmpty ||
              w.partitionSpec.forall(_.foldable) => w
        }
        if (wins.nonEmpty) Some(name) else None
    }
    val unexpected = offenders.toSet -- singlePartitionWindowOk
    assert(unexpected.isEmpty,
      s"unaudited single-partition window in: ${unexpected.toSeq.sorted}")
    // the banded ABC rewrite: the part-grain window must be
    // partitioned (by the revenue bucket) — only bucket-grain
    // relations may pass through a single-partition window
    val abc = SparkEntry.queries("bi_abc_analysis")(spark, d)
      .queryExecution.optimizedPlan.collect {
        case w: LWindow
          if (w.partitionSpec.isEmpty ||
            w.partitionSpec.forall(_.foldable)) &&
            w.child.output.exists(_.name == "part_id") => w
      }
    assert(abc.isEmpty, "part-grain relation under an unpartitioned window")
  }
}
