package graft.operators

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the interaction graph (beyond-ref:
  * the standard companion to the CF family — the reference scores
  * items by co-occurrence (dags/daily_pipeline.py:361-533); PageRank
  * is the global-importance variant of the same bipartite graph).
  *
  * Cross-engine determinism: float PageRank never hash-matches across
  * engines (summation order), so the whole iteration runs in exact
  * integer arithmetic — ranks are 10^12-scaled BIGINTs, per-edge
  * contributions use integer division (`div` / `//`), and the damping
  * update is `base + (85 * mass) div 100`. Both engines execute the
  * identical recurrence on identical integers, so every iteration is
  * bit-equal (verified by the DuckDB oracle's unrolled CTE ladder).
  * Rounding mass lost to integer division is bounded by deg(v) units
  * (10^-12 each) per node per round — immaterial for ranking.
  *
  * Scale shape (100 TB): each iteration is one equi-join of the rank
  * vector (|V| rows) with the edge list (|E| rows) on the source key
  * followed by a map-side-combined sum on the destination key — the
  * textbook distributed PageRank step. Edges and degrees are
  * lazily checkpointed once and reused by all iterations; the rank
  * lineage stays 2·iters joins deep (bounded, no driver loop state).
  * Skew: a viral node's in-edges all land in one reduce group, which
  * Spark handles via AQE skew-split because the per-edge contribution
  * rows are already materialized before the final sum.
  */
object Graph {

  /** 1e12 integer rank units — total graph mass. */
  val Scale = 1000000000000L
  val DampPct = 85L
  val Iters = 5

  /** Bipartite node encoding: users even, items odd. */
  private def bipartiteEdges(inter: DataFrame): DataFrame = {
    val fwd = inter.select((col("user_id") * 2).as("src"),
      (col("item_id") * 2 + 1).as("dst"))
    fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Integer-arithmetic PageRank over a (user_id, item_id) interaction
    * edge set. Returns (node_type, id, rank) with rank in 1e-12 units.
    */
  def pagerankFrom(inter: DataFrame, iters: Int = Iters): DataFrame = {
    val edges = bipartiteEdges(inter).localCheckpoint(false)
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")).localCheckpoint(false)
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    // Decorate each edge with its DESTINATION's degree once, so the
    // rank vector can carry (pr, deg) and each iteration costs exactly
    // one equi-join + one aggregate — no per-round join against deg.
    val edgesD = edges
      .join(deg.select(col("node").as("dst"), col("deg").as("dst_deg")), "dst")
      .localCheckpoint(false)
    var r = deg.crossJoin(nNodes) // 1-row build side: broadcast-nl, not a real cross
      .select(col("node"), expr(s"$Scale div n_nodes").as("pr"),
        col("deg"), col("n_nodes"))
    for (_ <- 1 to iters) {
      val contrib = r.select(col("node"),
        expr("pr div deg").as("c"), col("n_nodes"))
      // Deliberately NOT broadcast-hinted: the rank vector is |V| rows
      // and AQE converts the join to broadcast at runtime when that
      // measured size fits, while a hard hint would force a driver
      // collect of the full rank vector every round — a regression the
      // moment |V| outgrows driver memory. (A/B on this box: the hint
      // is a wash inside run-to-run noise.)
      r = edgesD.join(contrib, edgesD("src") === contrib("node"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("in_mass"), max(col("dst_deg")).as("deg"),
          max(col("n_nodes")).as("n_nodes"))
        .select(col("dst").as("node"),
          expr(s"(15 * $Scale) div (100 * n_nodes) + ($DampPct * in_mass) div 100")
            .as("pr"),
          col("deg"), col("n_nodes"))
    }
    r.select(
      when(col("node") % 2 === 0, lit("user")).otherwise(lit("item"))
        .as("node_type"),
      expr("node div 2").as("id"),
      col("pr").as("rank"))
  }

  def pagerank(s: SparkSession, d: String): DataFrame =
    // checkpoint: bipartiteEdges references its input once per union
    // branch — uncached, the lineitem⋈orders interactions derivation
    // would execute twice under the edges materialization
    pagerankFrom(Recommend.interactions(s, d).localCheckpoint(false))

  val TriMinCo = 3L
  val AssortMinCo = 2L

  /** Item co-occurrence graph: canonical i<j edges between items at
    * least `minCo` users share, from per-user-CAPPED interactions —
    * the cap bounds each user's pair contribution at cap² exactly as
    * in the CF self-join, so edge generation survives power users.
    */
  def itemEdges(inter: DataFrame, minCo: Long = TriMinCo): DataFrame =
    Recommend.pairCounts(inter, "user_id", "item_id", "i", "j")
      .filter(col("co") >= minCo)
      .select(col("i"), col("j"))

  /** itemEdges over the per-user capped interactions of source `d`. */
  private def cappedEdges(s: SparkSession, d: String,
                          minCo: Long = TriMinCo): DataFrame =
    itemEdges(Recommend.interactionsCapped(s, d).localCheckpoint(false), minCo)

  /** The oracle of cappedEdges: Recommend.cappedSql and its edge list
    * `e` (canonical i<j pairs shared by ≥ minCo users).
    */
  private def edgesSql(minCo: Long): String =
    s"""${Recommend.cappedSql},
       |e AS MATERIALIZED (SELECT i, j FROM (
       |  SELECT a.item_id i, b.item_id j, COUNT(*) co
       |  FROM capped a JOIN capped b ON a.user_id = b.user_id
       |    AND a.item_id < b.item_id
       |  GROUP BY 1, 2) WHERE co >= $minCo)""".stripMargin

  /** Per-vertex triangle count + local clustering coefficient over an
    * undirected i<j edge list — the community-structure monitor next
    * to PageRank's global importance (a co-purchase neighborhood with
    * high clustering is a real category; low clustering around a hub
    * is drive-by popularity).
    *
    * Scale shape: the wedge join uses DEGREE-ORDERED orientation —
    * each edge points from its lower-(deg, id) endpoint to the
    * higher — so every vertex's out-degree is O(√|E|) for ANY degree
    * distribution (the classic compact-forward guarantee): wedge
    * volume is Σ outdeg² ≤ |E|^1.5, never the hub's deg² blowup a
    * naive neighbor join pays. The closing-edge probe is an equi-join
    * back on the oriented list. Each triangle materializes exactly
    * once (at its orientation-minimum vertex).
    *
    * Determinism: counts and the ppm coefficient are exact integer
    * arithmetic — 2T·10⁶ div d(d−1) — so both engines emit identical
    * rows on any partitioning.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = edges.localCheckpoint(false) // degrees + orientation + probe
    val deg = e.select(col("i").as("v"))
      .unionByName(e.select(col("j").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false) // reused: orientation decoration + output
    val eo = e
      .join(deg.select(col("v").as("i"), col("deg").as("di")), Seq("i"))
      .join(deg.select(col("v").as("j"), col("deg").as("dj")), Seq("j"))
      .select(
        when(col("di") < col("dj") ||
          (col("di") === col("dj") && col("i") < col("j")),
          struct(col("i").as("s"), col("j").as("t"), col("dj").as("td")))
          .otherwise(
            struct(col("j").as("s"), col("i").as("t"), col("di").as("td")))
          .as("o"))
      .select(col("o.s").as("src"), col("o.t").as("dst"),
        col("o.td").as("ddeg"))
      .localCheckpoint(false) // both wedge sides + the closing probe
    // out-neighbor pairs (b, c), b before c in the SAME orientation
    // order — so the closing edge {b, c}, if present, is oriented
    // b→c and one equi-join decides the triangle
    val wedge = eo.as("e1").join(eo.as("e2"),
      col("e1.src") === col("e2.src") &&
        (col("e1.ddeg") < col("e2.ddeg") ||
          (col("e1.ddeg") === col("e2.ddeg") &&
            col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    val tri = wedge.join(
      eo.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
      .localCheckpoint(false) // three per-corner references below:
      // without this the wedge + closing joins (the dominant stages)
      // execute once per union branch
    val ntri = tri.select(col("a").as("v"))
      .unionByName(tri.select(col("b").as("v")))
      .unionByName(tri.select(col("c").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("n_triangles"))
    deg.join(ntri, Seq("v"), "left")
      .select(col("v").as("item_id"), col("deg").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering_ppm",
        when(col("degree") >= 2,
          expr("(2 * n_triangles * 1000000) div (degree * (degree - 1))"))
          .otherwise(lit(0L)))
  }

  val LpaIters = 4

  /** G4 (beyond-ref): community detection by synchronous label
    * propagation (Raghavan 2007) over the co-purchase graph — the
    * category-discovery companion to triangleStats' local clustering
    * monitor: each round every node adopts the most frequent label
    * among its neighbors AND itself (count desc, label asc ties).
    * Self-inclusion is load-bearing twice over: it breaks the classic
    * two-cycle oscillation of synchronous LPA on bipartite-ish
    * structures (a lone edge converges to the min endpoint instead of
    * swapping forever), and it lets a weakly-attached node keep its
    * own label against a single intruding neighbor. Fixed rounds +
    * deterministic ties → both engines walk the IDENTICAL label
    * sequence, so the result is oracle-hashable (the float-free
    * analog of the PageRank device; on tie-dominated sparse regions
    * the rule degenerates toward min-label components, on dense
    * overlapping structure the counts decide — that is LPA).
    *
    * Scale shape: each round is one equi-join of the label vector
    * (|V| rows) with the adjacency (2|E|+|V| rows with self-loops) on
    * the neighbor key, a map-side-combinable (node, label) count, and
    * a node-grain argmax through the native heap top-k at k = 1 —
    * (count desc, label asc) with no sort and no window, partial
    * heaps map-side (the rank-window form would sort every node's
    * label candidates per round, and so did the former max(struct)
    * aggregate via its SortAggregate fallback). Labels are node ids
    * (8 bytes), never strings.
    */
  def labelPropagation(edges: DataFrame, iters: Int = LpaIters): DataFrame = {
    val nbrs = edges.select(col("i").as("v"), col("j").as("n"))
      .unionByName(edges.select(col("j").as("v"), col("i").as("n")))
    val nodes = nbrs.select(col("v")).distinct()
    val adj = nbrs.unionByName(nodes.select(col("v"), col("v").as("n")))
      .localCheckpoint(false) // reused every round
    var lab = nodes.select(col("v").as("node"), col("v").as("label"))
    for (_ <- 1 to iters) {
      // argmax by (count desc, label asc) through the native heap
      // top-k at k = 1 (round 14): the max(struct) form fell back to
      // SortAggregate — a struct aggregation buffer is not
      // UnsafeRow-mutable — so both phases re-SORTED every node's
      // label candidates each round (plan-verified: 16 SortAggregate
      // nodes across the 4 unrolled rounds). The heap partial keeps
      // the same node-grain exchange with no sort; same winning row
      // under the same total order.
      lab = TopK.perKey(
        adj.join(lab, adj("n") === lab("node"))
          .groupBy(col("v"), col("label")).agg(count(lit(1)).as("c")),
        Seq("v"), Seq(("c", true), ("label", false)), 1)
        .select(col("v").as("node"), col("label"))
    }
    lab.select(col("node").as("item_id"), col("label").as("community"))
  }

  // k=2 (the cycle core): on the co≥3-filtered co-purchase graph the
  // edge set THINS as SF grows (the TPC-H key space outruns
  // co-occurrence), and the 3-core is already empty past sf0.001;
  // the 2-core keeps real structure at the correctness-gate scale
  // (81 items at sf0.01) and honestly reports the sf0.1 co-graph as
  // forest-like (empty core) — both engines agree either way.
  val KCoreK = 2L
  val KCoreRounds = 5

  /** G5 (beyond-ref): k-core peeling over the co-purchase graph —
    * the degeneracy prune that separates a dense engaged core from
    * drive-by periphery (candidate quality for CF, community
    * seeding, fraud-ring shells): repeatedly drop every node whose
    * degree in the SURVIVING subgraph is < k. Fixed `rounds` of
    * synchronous peeling (each round one degree aggregate + two
    * semi-joins on the surviving edge list), deterministic by
    * construction, so the oracle's unrolled ladder walks the
    * identical subgraph sequence; at 100 TB each round's cost is an
    * edge-grain aggregate and the edge list only shrinks. A graph's
    * true k-core is the fixpoint; `rounds` bounds the driver loop
    * exactly as in PageRank/Lloyd — the registered query documents
    * rounds=5, and the spec proves fixpoints reached inside the
    * bound survive extra rounds unchanged.
    */
  def kCore(edges: DataFrame, k: Long = KCoreK,
            rounds: Int = KCoreRounds): DataFrame = {
    var e = edges.select(col("i"), col("j")).localCheckpoint(false)
    for (_ <- 1 to rounds) {
      val deg = e.select(col("i").as("v"))
        .unionByName(e.select(col("j").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("v"))
        .localCheckpoint(false) // both semi-joins below
      e = e.join(keep.select(col("v").as("i")), Seq("i"), "left_semi")
        .join(keep.select(col("v").as("j")), Seq("j"), "left_semi")
        .select(col("i"), col("j"))
        .localCheckpoint(false) // next round's degree + the joins
    }
    e.select(col("i").as("v")).unionByName(e.select(col("j").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("core_deg"))
      .filter(col("core_deg") >= k) // final peel: emit settled members
      .select(col("v").as("item_id"), col("core_deg"))
  }

  val LpMaxNbr = 64L
  val LpTopK = 100

  /** G3: common-neighbor link prediction over the co-purchase graph —
    * the "you may also like" candidate generator that complements CF:
    * for every NON-adjacent item pair sharing ≥1 neighbor, Jaccard =
    * |Γi ∩ Γj| / |Γi ∪ Γj| in exact ppm, top-k. Unlike triangle
    * counting, open-wedge enumeration has no orientation trick (a
    * pair needs ALL its common neighbors, not one canonical witness),
    * so the scale device is the adjacency CAP: each node keeps its
    * `maxNbr` lowest-id neighbors (the blockedMatch MaxBlock purge /
    * CF CapPerUser device) — wedge volume is bounded by |V|·cap²
    * regardless of hub degree, and at 100 TB a hub's full adjacency
    * is drive-by popularity, not signal, exactly as in the CF cap.
    * Degrees in the denominator are post-cap for consistency.
    */
  /** The capped undirected adjacency both link-prediction scorers
    * share: each node keeps its `maxNbr` lowest-id neighbors. */
  private def cappedAdjacency(e: DataFrame, maxNbr: Long): DataFrame = {
    val adj0 = e.select(col("i").as("v"), col("j").as("n"))
      .unionByName(e.select(col("j").as("v"), col("i").as("n")))
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy(col("v")).orderBy(col("n"))
    adj0.withColumn("rn", row_number().over(wCap))
      .filter(col("rn") <= maxNbr).select(col("v"), col("n"))
  }

  def linkPredict(edges: DataFrame, maxNbr: Long = LpMaxNbr,
                  k: Int = LpTopK): DataFrame = {
    val e = edges.localCheckpoint(false) // adjacency + the anti-join
    val adj = cappedAdjacency(e, maxNbr)
      .localCheckpoint(false) // wedge sides + degrees
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val cn = adj.as("x").join(adj.as("y"),
        col("x.v") === col("y.v") && col("x.n") < col("y.n"))
      .groupBy(col("x.n").as("i"), col("y.n").as("j"))
      .agg(count(lit(1)).as("n_common"))
    cn.join(e, Seq("i", "j"), "left_anti") // predicted = not yet linked
      .join(deg.select(col("v").as("i"), col("deg").as("di")), Seq("i"))
      .join(deg.select(col("v").as("j"), col("deg").as("dj")), Seq("j"))
      // The cap breaks symmetry: n_common counts wedge CENTERS whose
      // capped list holds both i and j, which is not bounded by the
      // capped degrees di/dj — a hub pair kept by hundreds of centers
      // can exceed di+dj, making the raw union denominator zero or
      // negative (NULL/engine-divergent division). Clamp the
      // intersection to its post-cap bound least(di, dj) so the
      // denominator is ≥ max(di, dj) ≥ 1 by construction; the oracle
      // applies the identical clamp.
      .withColumn("nc_eff", least(col("n_common"), col("di"), col("dj")))
      .withColumn("jaccard_ppm",
        expr("(nc_eff * 1000000) div (di + dj - nc_eff)"))
      .orderBy(col("jaccard_ppm").desc, col("i"), col("j"))
      .limit(k)
      .select(col("i"), col("j"), col("n_common"), col("jaccard_ppm"))
  }

  val PprSeeds = 5
  val PprIters = 4

  /** G8 (beyond-ref): personalized PageRank over the co-purchase item
    * graph — random-walk-with-restart mass from the top-degree hub
    * seeds (the graph-expansion candidate generator: "items reachable
    * from what everyone buys", the localized complement to
    * pagerankFrom's global importance and bfsHops' hop counts, which
    * share the same seed device). Teleport goes to the SEED SET, not
    * uniformly: r₀ = Scale div |S| on each seed, and each round every
    * seed receives (15·Scale) div (100·|S|) restart mass while every
    * reached node receives 85% of its neighbors' degree-normalized
    * mass — all in exact integer units exactly as in pagerankFrom, so
    * both engines walk the identical recurrence.
    *
    * Scale shape: the rank vector is SPARSE — only nodes already
    * reached carry rows, so early rounds cost frontier-edge-grain like
    * BFS, converging to component-grain, never |V| when the seeds sit
    * in a small component. Each round is one equi-join of the rank
    * vector with the degree-decorated adjacency plus one
    * map-side-combinable aggregate, and the teleport union adds |S|
    * rows. At 100 TB this is the per-query shape of a walk-based
    * recommender (seeds = a user's recent items) — the registered
    * query pins seeds to the deterministic hub top-k so the result is
    * oracle-hashable.
    */
  def personalizedPagerank(edges: DataFrame, nSeeds: Int = PprSeeds,
                           iters: Int = PprIters): DataFrame = {
    val e = edges.localCheckpoint(false)
    val adj = e.select(col("i").as("v"), col("j").as("n"))
      .unionByName(e.select(col("j").as("v"), col("i").as("n")))
      .localCheckpoint(false) // degree aggregate + decoration
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false) // seeds + adjacency decoration
    val seeds = deg.orderBy(col("deg").desc, col("v")).limit(nSeeds)
      .select(col("v").as("node"), col("deg"))
      .localCheckpoint(false) // init + every round's teleport union
    val ns = seeds.agg(count(lit(1)).as("n_seeds"))
    // destination degree rides the adjacency once, so each round is
    // one equi-join + one aggregate (the pagerankFrom device)
    val adjD = adj
      .join(deg.select(col("v").as("n"), col("deg").as("n_deg")), "n")
      .localCheckpoint(false) // reused every round
    var r = seeds.crossJoin(ns) // 1-row build side
      .select(col("node"), expr(s"$Scale div n_seeds").as("pr"), col("deg"))
    for (_ <- 1 to iters) {
      val damped = adjD.join(r, adjD("v") === r("node"))
        .groupBy(adjD("n"))
        .agg(expr(s"($DampPct * sum(pr div deg)) div 100").as("p"),
          max(col("n_deg")).as("deg"))
        .select(col("n").as("node"), col("p"), col("deg"))
      val tele = seeds.crossJoin(ns)
        .select(col("node"),
          expr(s"(15 * $Scale) div (100 * n_seeds)").as("p"), col("deg"))
      r = damped.unionByName(tele).groupBy(col("node"))
        .agg(sum(col("p")).as("pr"), max(col("deg")).as("deg"))
    }
    r.select(col("node").as("item_id"), col("pr").as("ppr_rank"))
  }

  /** G11 (beyond-ref): Newman modularity of a community labeling
    * over the undirected i<j edge list — the quality number for
    * labelPropagation's output (detection without a score is a
    * guess): Q = Σ_c (e_c/m − (d_c/2m)²), the within-community edge
    * excess over the degree-preserving random graph. Exact integer
    * arithmetic as one fraction, Q_ppm = (4m·Σe_c − Σd_c²)·10⁶ div
    * (4m²), with the offset-then-divide device so a NEGATIVE Q
    * (worse-than-random labeling) floors identically on both
    * engines (Spark div truncates, DuckDB // floors). The fraction
    * runs in DECIMAL(38)/HUGEINT end-to-end (round 9, the
    * assortativity device): the worst-case numerator reaches 8m²·10⁶,
    * which overflows int64 past ~1.07·10⁶ edges — and Spark wraps
    * silently where DuckDB raises, so the int64 form would DIVERGE
    * rather than fail loudly at 100× graph scale. Decimal keeps it
    * exact to m ≈ 10¹⁵ edges; one bigint division result at emission.
    *
    * Scale shape: two broadcast-friendly label joins onto the edge
    * list, one degree aggregate, community-grain sums, a 1-row
    * reduce — scan bandwidth at any graph size.
    */
  def modularityOf(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.localCheckpoint(false) // m + degrees + both joins
    val l = labels.select(col("item_id").as("v"), col("community"))
      .localCheckpoint(false) // joined three times
    val m = e.agg(count(lit(1)).as("m"))
    val deg = e.select(col("i").as("v"))
      .unionByName(e.select(col("j").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val ein = e
      .join(l.select(col("v").as("i"), col("community").as("ci")), "i")
      .join(l.select(col("v").as("j"), col("community").as("cj")), "j")
      .filter(col("ci") === col("cj"))
      .groupBy(col("ci")).agg(count(lit(1)).as("e_c"))
    val dc = deg.join(l, "v").groupBy(col("community"))
      .agg(sum(col("deg")).as("d_c"))
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    dc.join(ein, dc("community") === ein("ci"), "left")
      .select(coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"))
      .agg(sum(col("e_c")).as("se"),
        sum(col("d_c").cast(dec38) * col("d_c")).as("sd2"),
        count(lit(1)).as("n_communities"))
      .crossJoin(m) // 1-row build side
      .filter(col("m") >= 1)
      .select(col("m").as("n_edges"), col("n_communities"),
        ((col("m").cast(dec38) * col("se") * 4 - col("sd2")) * 1000000L
          + col("m").cast(dec38) * col("m") * 4000000L).as("num_off"),
        (col("m").cast(dec38) * col("m") * 4).as("den"))
      .select(col("n_edges"), col("n_communities"),
        (expr("num_off div den") - lit(1000000L)).as("q_ppm"))
  }

  /** One unrolled PPR oracle round: damped in-mass per reached node
    * plus the seed-set teleport, re-aggregated at node grain.
    */
  private def pprCte(name: String, prev: String): String =
    s"""$name AS MATERIALIZED (SELECT node, SUM(p) AS pr FROM (
       |  SELECT a.n AS node,
       |    ($DampPct * SUM(r.pr // d.deg)) // 100 AS p
       |  FROM adj a JOIN $prev r ON a.v = r.node JOIN dg d ON a.v = d.v
       |  GROUP BY a.n
       |  UNION ALL SELECT node, (15 * $Scale) // (100 * n_seeds)
       |  FROM seeds, ns) GROUP BY node)""".stripMargin

  /** HITS runs at 1e9 scale so every normalization product
    * score·Scale stays within int64: per-node raw scores are bounded
    * by the opposite side's total mass (= Scale after normalization),
    * so raw·Scale ≤ 10¹⁸ < 2⁶³. */
  val HitsScale = 1000000000L
  val HitsIters = 3

  /** G9 (beyond-ref): HITS hubs-and-authorities (Kleinberg 1999) over
    * the directed user→item interaction graph — the asymmetric read
    * PageRank can't give: an AUTHORITY item is one bought by
    * high-coverage users, a HUB user is one who buys authoritative
    * items (curator detection / item canonicalization, the bipartite
    * analog of the CF neighborhood). Each round: authority = in-sum
    * of hub scores, hub = out-sum of authority scores, each
    * renormalized to total mass `HitsScale` by exact integer
    * (raw·Scale) div total — the float L2 normalization of the paper
    * replaced with L1 integer normalization so both engines walk the
    * identical integer sequence (same ranking: positive scalar
    * normalizations preserve order).
    *
    * Scale shape: each round is two equi-joins of a score vector with
    * the edge list plus two map-side-combinable sums and two 1-row
    * scalar totals (broadcast, not collected). Score vectors are
    * |U| / |I| rows; nothing is ever quadratic. Fixed rounds bound
    * the lineage exactly as in pagerankFrom.
    */
  def hits(inter: DataFrame, iters: Int = HitsIters): DataFrame = {
    val e = inter.select(col("user_id").as("u"), col("item_id").as("it"))
      .distinct().localCheckpoint(false) // both joins, every round
    val users = e.select(col("u")).distinct()
    val nu = users.agg(count(lit(1)).as("n_users"))
    var hub = users.crossJoin(nu)
      .select(col("u"), expr(s"$HitsScale div n_users").as("h"))
      .localCheckpoint(false)
    var auth: DataFrame = hub.limit(0)
      .select(col("u").as("it"), col("h").as("a")) // iters ≥ 1 overwrites
    for (_ <- 1 to iters) {
      val araw = e.join(hub, "u").groupBy(col("it"))
        .agg(sum(col("h")).as("ar")).localCheckpoint(false) // total + norm
      val atot = araw.agg(sum(col("ar")).as("at"))
      auth = araw.crossJoin(atot) // 1-row build side
        .select(col("it"), expr(s"(ar * $HitsScale) div at").as("a"))
        .localCheckpoint(false) // hub join + final output
      val hraw = e.join(auth, "it").groupBy(col("u"))
        .agg(sum(col("a")).as("hr")).localCheckpoint(false)
      val htot = hraw.agg(sum(col("hr")).as("ht"))
      hub = hraw.crossJoin(htot)
        .select(col("u"), expr(s"(hr * $HitsScale) div ht").as("h"))
        .localCheckpoint(false)
    }
    auth.select(lit("item").as("node_type"), col("it").as("id"),
        col("a").as("score"))
      .unionByName(hub.select(lit("user").as("node_type"),
        col("u").as("id"), col("h").as("score")))
  }

  /** One unrolled HITS oracle round: raw in/out sums, 1-row totals,
    * integer L1 renormalization — four CTEs per round.
    */
  private def hitsCte(r: Int): String = {
    val prevH = if (r == 1) "h0" else s"h${r - 1}"
    s"""ar$r AS MATERIALIZED (SELECT e.it, SUM(h.h) AS ar
       |  FROM e JOIN $prevH h ON e.u = h.u GROUP BY e.it),
       |at$r AS (SELECT SUM(ar) AS at FROM ar$r),
       |a$r AS MATERIALIZED (SELECT it, (ar * $HitsScale) // at AS a
       |  FROM ar$r, at$r),
       |hr$r AS MATERIALIZED (SELECT e.u, SUM(a.a) AS hr
       |  FROM e JOIN a$r a ON e.it = a.it GROUP BY e.u),
       |ht$r AS (SELECT SUM(hr) AS ht FROM hr$r),
       |h$r AS MATERIALIZED (SELECT u, (hr * $HitsScale) // ht AS h
       |  FROM hr$r, ht$r)""".stripMargin
  }

  /** G10 (beyond-ref): Adamic-Adar link prediction — the
    * degree-discounted companion to linkPredict's Jaccard: a common
    * neighbor counts 1/ln(deg(z)), so a niche shared neighbor (two
    * items co-bought only by a focused pair of carts) is worth more
    * than a hub everyone touches (Adamic & Adar 2003, the standard
    * second scorer in every LP benchmark). Same capped adjacency and
    * wedge shape as linkPredict — the cap bounds wedge volume at
    * |V|·cap² — with the center's weight precomputed per adjacency
    * row, so the wedge join aggregates a plain integer sum.
    * Determinism: weights are 10¹² div round(ln(deg)·10⁶) —
    * micro-nat quantized BEFORE the integer division (the
    * bi_price_elasticity log device), deg ≥ 2 for any wedge center
    * keeps the divisor positive; the top-k cut orders (aa_q desc,
    * i, j), a total order.
    */
  def adamicAdar(edges: DataFrame, maxNbr: Long = LpMaxNbr,
                 k: Int = LpTopK): DataFrame = {
    val e = edges.localCheckpoint(false) // adjacency + the anti-join
    val adj = cappedAdjacency(e, maxNbr)
      .localCheckpoint(false) // degree + both wedge sides
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val adjW = adj.join(deg, Seq("v"))
      .filter(col("deg") >= 2) // only possible wedge centers
      .withColumn("w", expr("1000000000000L div " +
        "cast(round(ln(cast(deg as double)) * 1000000.0d) as bigint)"))
    val aa = adjW.as("x").join(adj.as("y"),
        col("x.v") === col("y.v") && col("x.n") < col("y.n"))
      .groupBy(col("x.n").as("i"), col("y.n").as("j"))
      .agg(sum(col("x.w")).as("aa_q"), count(lit(1)).as("n_common"))
    aa.join(e, Seq("i", "j"), "left_anti") // predicted = not yet linked
      .orderBy(col("aa_q").desc, col("i"), col("j"))
      .limit(k)
      .select(col("i"), col("j"), col("n_common"), col("aa_q"))
  }

  /** One unrolled k-core peel round; edges `e<prev>` → `e<r>`. */
  private def kcoreCte(r: Int): String = {
    val prev = if (r == 1) "e" else s"e${r - 1}"
    s"""d$r AS MATERIALIZED (SELECT v, CAST(COUNT(*) AS BIGINT) deg
       |  FROM (SELECT i AS v FROM $prev UNION ALL SELECT j FROM $prev)
       |  GROUP BY 1),
       |k$r AS MATERIALIZED (SELECT v FROM d$r WHERE deg >= $KCoreK),
       |e$r AS MATERIALIZED (SELECT i, j FROM $prev
       |  WHERE i IN (SELECT v FROM k$r) AND j IN (SELECT v FROM k$r))""".stripMargin
  }

  /** One unrolled LPA oracle round over the self-loop adjacency. */
  private def lpaCte(name: String, prev: String): String =
    s"""$name AS MATERIALIZED (SELECT node, label FROM (
       |  SELECT a.v AS node, l.label, COUNT(*) AS c,
       |    ROW_NUMBER() OVER (PARTITION BY a.v
       |      ORDER BY COUNT(*) DESC, l.label) AS rn
       |  FROM adj a JOIN $prev l ON a.n = l.node
       |  GROUP BY a.v, l.label) WHERE rn = 1)""".stripMargin

  /** G7 (beyond-ref): degree assortativity of the co-purchase graph —
    * Pearson correlation between endpoint degrees over the directed
    * edge incidence (each undirected edge counted in both directions,
    * the standard Newman formulation, which also makes the two
    * marginals identical). Positive = hubs buy with hubs (a
    * wholesale-like graph), negative = hub-and-spoke retail — the
    * one-number structure read next to clustering and k-core.
    * Exactness: degrees are exact longs, the five sufficient sums run
    * in DECIMAL(38)/HUGEINT (hub degrees square past 2³¹ easily), ONE
    * double division + sqrt at the end. Shape: a degree aggregate +
    * two broadcast-friendly joins onto the edge list + a scalar
    * reduce — scan bandwidth at any graph size.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = edges.localCheckpoint(false)
    val inc = e.select(col("i").as("u"), col("j").as("w"))
      .unionByName(e.select(col("j").as("u"), col("i").as("w")))
      .localCheckpoint(false) // degree aggregate + the two joins
    val deg = inc.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val pairs = inc
      .join(deg.select(col("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("u").as("w"), col("d").as("dw")), Seq("w"))
      .select(col("du").as("x"), col("dw").as("y"))
    pairs.agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"),
        sum(col("y").cast(dec) * col("y")).as("syy"),
        sum(col("x").cast(dec) * col("y")).as("sxy"))
      .withColumn("vx",
        col("sxx") * col("m") - col("sx").cast(dec) * col("sx"))
      .withColumn("vy",
        col("syy") * col("m") - col("sy").cast(dec) * col("sy"))
      .filter(col("m") >= 2 && col("vx") > 0 && col("vy") > 0)
      .select(col("m").as("n_incidences"),
        round((col("sxy") * col("m") - col("sx").cast(dec) * col("sy"))
          .cast("double") /
          sqrt(col("vx").cast("double") * col("vy").cast("double")), 6)
          .as("assortativity"))
  }

  val BfsSeeds = 5
  val BfsDepth = 3

  /** G6 (beyond-ref): bounded multi-source BFS — hop-distance
    * neighborhoods of the top-degree hub items over the co-purchase
    * graph (the "how far does influence reach" read: ego-network
    * sizing for the hubs PageRank ranks, and the candidate-pool
    * radius a graph-expansion recommender would use). Per (seed,
    * depth ≤ 3), the count of nodes first reached at that depth.
    *
    * Scale shape: textbook frontier BFS — each round is ONE equi-join
    * of the frontier against the adjacency list, a distinct at
    * (seed, node) grain, and an anti-join against the visited set;
    * per-round cost is frontier-edge-grain, never |V|². The seed set
    * is a TakeOrdered top-k (constant), so the whole state is
    * |seeds|·|reached| rows. Depth is bounded by the constant — at
    * hub degrees, depth 3 already covers the component's bulk, and
    * each extra hop is one more join, exactly as in PageRank's
    * bounded lineage. Determinism: seeds tie-break on (deg desc, id),
    * reachability and counts are set facts — no float anywhere.
    */
  def bfsHops(edges: DataFrame, nSeeds: Int = BfsSeeds,
              depth: Int = BfsDepth): DataFrame = {
    val e = edges.localCheckpoint(false)
    val adj = e.select(col("i").as("v"), col("j").as("n"))
      .unionByName(e.select(col("j").as("v"), col("i").as("n")))
      .localCheckpoint(false) // reused every round
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val seeds = deg.orderBy(col("deg").desc, col("v")).limit(nSeeds)
      .select(col("v").as("seed"))
    var visited = seeds
      .select(col("seed"), col("seed").as("node"), lit(0L).as("depth"))
      .localCheckpoint(false)
    var frontier = visited.select(col("seed"), col("node"))
    for (r <- 1 to depth) {
      val nxt = frontier.join(adj, frontier("node") === adj("v"))
        .select(col("seed"), col("n").as("node")).distinct()
        .join(visited.select(col("seed"), col("node")),
          Seq("seed", "node"), "left_anti")
        .withColumn("depth", lit(r.toLong))
        .localCheckpoint(false) // visited union + next frontier
      visited = visited.unionByName(nxt).localCheckpoint(false)
      frontier = nxt.select(col("seed"), col("node"))
    }
    visited.groupBy(col("seed"), col("depth"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  /** One unrolled BFS oracle round: the new frontier f<r> is the
    * distinct neighbor set minus everything already visited; v<r>
    * accumulates.
    */
  private def bfsCte(r: Int): String =
    s"""f$r AS MATERIALIZED (SELECT x.seed, x.node, $r AS depth FROM (
       |    SELECT DISTINCT f.seed, a.n AS node
       |    FROM f${r - 1} f JOIN adj a ON f.node = a.v) x
       |  WHERE NOT EXISTS (SELECT 1 FROM v${r - 1} vv
       |    WHERE vv.seed = x.seed AND vv.node = x.node)),
       |v$r AS MATERIALIZED (SELECT seed, node, depth FROM v${r - 1}
       |  UNION ALL SELECT seed, node, depth FROM f$r)""".stripMargin

  /** One unrolled oracle iteration; `prev` names the previous level's
    * CTE. MATERIALIZED is load-bearing: DuckDB inlines CTEs, so an
    * un-materialized ladder re-scans the base 3^iters times.
    */
  private def iterCte(name: String, prev: String): String =
    s"""$name AS MATERIALIZED (SELECT e.dst AS node,
       |  (15 * $Scale) // (100 * nn.n_nodes)
       |    + ($DampPct * SUM($prev.rank // dg.deg)) // 100 AS rank
       |  FROM e JOIN $prev ON e.src = $prev.node
       |  JOIN dg ON e.src = dg.node, nn
       |  GROUP BY e.dst, nn.n_nodes)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("graph_pagerank",
      (s, d) => pagerank(s, d),
      Some {
        val ladder = (1 to Iters)
          .map(i => iterCte(s"r$i", if (i == 1) "r0" else s"r${i - 1}"))
          .mkString(",\n")
        s"""WITH i AS MATERIALIZED (SELECT DISTINCT o_custkey AS u, l_partkey AS it
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |e AS MATERIALIZED (SELECT u*2 AS src, it*2+1 AS dst FROM i
           |  UNION ALL SELECT it*2+1 AS src, u*2 AS dst FROM i),
           |dg AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
           |  FROM e GROUP BY 1),
           |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM dg),
           |r0 AS MATERIALIZED (SELECT node, $Scale // n_nodes AS rank FROM dg, nn),
           |$ladder
           |SELECT CASE WHEN node % 2 = 0 THEN 'user' ELSE 'item' END AS node_type,
           |node // 2 AS id, CAST(rank AS BIGINT) AS rank FROM r$Iters""".stripMargin
      }),

    // G2 (beyond-ref): triangles + clustering coefficient over the
    // co-purchase graph. Oracle enumerates each a<b<c triangle once
    // via the canonical-edge 3-join — same triangles the oriented
    // wedge join finds, minus the orientation machinery DuckDB
    // doesn't need at oracle scale.
    QueryDef("graph_triangles",
      (s, d) => triangleStats(cappedEdges(s, d)),
      Some(s"""WITH ${edgesSql(TriMinCo)},
              |dg AS MATERIALIZED (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
              |  FROM (SELECT i AS v FROM e UNION ALL SELECT j FROM e)
              |  GROUP BY 1),
              |tri AS MATERIALIZED (SELECT e1.i AS a, e1.j AS b, e2.j AS c
              |  FROM e e1 JOIN e e2 ON e1.j = e2.i
              |  JOIN e e3 ON e3.i = e1.i AND e3.j = e2.j),
              |nt AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles
              |  FROM (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
              |    UNION ALL SELECT c FROM tri) GROUP BY 1)
              |SELECT dg.v AS item_id, deg AS degree,
              |COALESCE(n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
              |CASE WHEN deg >= 2 THEN (2 * COALESCE(n_triangles,
              |    CAST(0 AS BIGINT)) * 1000000) // (deg * (deg - 1))
              |  ELSE CAST(0 AS BIGINT) END AS clustering_ppm
              |FROM dg LEFT JOIN nt ON dg.v = nt.v""".stripMargin)),

    // G5 (beyond-ref): k-core peeling — see kCore for the bounded
    // synchronous-rounds device.
    QueryDef("graph_kcore",
      (s, d) => kCore(cappedEdges(s, d)),
      Some {
        val ladder = (1 to KCoreRounds).map(kcoreCte).mkString(",\n")
        s"""WITH ${edgesSql(TriMinCo)},
           |$ladder
           |SELECT v AS item_id, deg AS core_deg FROM (
           |  SELECT v, CAST(COUNT(*) AS BIGINT) deg FROM (
           |    SELECT i AS v FROM e$KCoreRounds
           |    UNION ALL SELECT j FROM e$KCoreRounds) GROUP BY 1)
           |WHERE deg >= $KCoreK""".stripMargin
      }),

    // G4 (beyond-ref): LPA communities — see labelPropagation for
    // the self-inclusion and determinism devices.
    QueryDef("graph_communities",
      // checkpoint the EDGE LIST: labelPropagation references its edge
      // input four times, and uncached the pair self-join re-runs for
      // each (as in graph_modularity)
      (s, d) => labelPropagation(cappedEdges(s, d).localCheckpoint(false)),
      Some {
        val ladder = (1 to LpaIters)
          .map(i => lpaCte(s"l$i", if (i == 1) "l0" else s"l${i - 1}"))
          .mkString(",\n")
        s"""WITH ${edgesSql(TriMinCo)},
           |nodes AS MATERIALIZED (SELECT i AS v FROM e
           |  UNION SELECT j FROM e),
           |adj AS MATERIALIZED (SELECT i AS v, j AS n FROM e
           |  UNION ALL SELECT j, i FROM e
           |  UNION ALL SELECT v, v FROM nodes),
           |l0 AS MATERIALIZED (SELECT v AS node, v AS label FROM nodes),
           |$ladder
           |SELECT node AS item_id, label AS community
           |FROM l$LpaIters""".stripMargin
      }),

    // G3 (beyond-ref): common-neighbor link prediction — see
    // linkPredict for the adjacency-cap scale argument.
    QueryDef("graph_link_predict",
      (s, d) => linkPredict(cappedEdges(s, d)),
      Some(s"""WITH ${edgesSql(TriMinCo)},
              |adj0 AS (SELECT i AS v, j AS n FROM e
              |  UNION ALL SELECT j, i FROM e),
              |adj AS MATERIALIZED (SELECT v, n FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY v ORDER BY n) rn
              |  FROM adj0) WHERE rn <= $LpMaxNbr),
              |dg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
              |  FROM adj GROUP BY 1),
              |cn AS (SELECT x.n AS i, y.n AS j,
              |    CAST(COUNT(*) AS BIGINT) AS n_common
              |  FROM adj x JOIN adj y ON x.v = y.v AND x.n < y.n
              |  GROUP BY 1, 2),
              |cand AS (SELECT cn.i, cn.j, cn.n_common FROM cn
              |  LEFT JOIN e ON cn.i = e.i AND cn.j = e.j
              |  WHERE e.i IS NULL)
              |SELECT c.i, c.j, c.n_common,
              |(LEAST(c.n_common, di.deg, dj.deg) * 1000000)
              |  // (di.deg + dj.deg - LEAST(c.n_common, di.deg, dj.deg))
              |  AS jaccard_ppm
              |FROM cand c JOIN dg di ON c.i = di.v JOIN dg dj ON c.j = dj.v
              |ORDER BY jaccard_ppm DESC, c.i, c.j LIMIT $LpTopK""".stripMargin)),

    // G6 (beyond-ref): bounded multi-source BFS from the hub items —
    // see bfsHops for the frontier/anti-join shape.
    QueryDef("graph_bfs_hops",
      (s, d) => bfsHops(cappedEdges(s, d)),
      Some {
        val ladder = (1 to BfsDepth).map(bfsCte).mkString(",\n")
        s"""WITH ${edgesSql(TriMinCo)},
           |adj AS MATERIALIZED (SELECT i AS v, j AS n FROM e
           |  UNION ALL SELECT j, i FROM e),
           |dg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
           |  FROM adj GROUP BY 1),
           |seeds AS MATERIALIZED (SELECT v AS seed FROM dg
           |  ORDER BY deg DESC, v LIMIT $BfsSeeds),
           |v0 AS MATERIALIZED (SELECT seed, seed AS node, 0 AS depth
           |  FROM seeds),
           |f0 AS MATERIALIZED (SELECT seed, node, depth FROM v0),
           |$ladder
           |SELECT seed, CAST(depth AS BIGINT) AS depth,
           |CAST(COUNT(*) AS BIGINT) AS n_nodes
           |FROM v$BfsDepth GROUP BY 1, 2""".stripMargin
      }),

    // G11 (beyond-ref): modularity of the LPA labeling — the
    // detection-quality monitor; see modularityOf.
    QueryDef("graph_modularity",
      (s, d) => {
        val e = cappedEdges(s, d).localCheckpoint(false)
        modularityOf(e, labelPropagation(e))
      },
      Some {
        val ladder = (1 to LpaIters)
          .map(i => lpaCte(s"l$i", if (i == 1) "l0" else s"l${i - 1}"))
          .mkString(",\n")
        s"""WITH ${edgesSql(TriMinCo)},
           |nodes AS MATERIALIZED (SELECT i AS v FROM e
           |  UNION SELECT j FROM e),
           |adj AS MATERIALIZED (SELECT i AS v, j AS n FROM e
           |  UNION ALL SELECT j, i FROM e
           |  UNION ALL SELECT v, v FROM nodes),
           |l0 AS MATERIALIZED (SELECT v AS node, v AS label FROM nodes),
           |$ladder,
           |lab AS MATERIALIZED (SELECT node AS v, label AS community
           |  FROM l$LpaIters),
           |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
           |dg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
           |  SELECT i AS v FROM e UNION ALL SELECT j FROM e) GROUP BY 1),
           |ein AS (SELECT li.community AS ci,
           |    CAST(COUNT(*) AS BIGINT) AS e_c
           |  FROM e JOIN lab li ON e.i = li.v JOIN lab lj ON e.j = lj.v
           |  WHERE li.community = lj.community GROUP BY 1),
           |dcs AS (SELECT l.community, CAST(SUM(d.deg) AS BIGINT) AS d_c
           |  FROM dg d JOIN lab l ON d.v = l.v GROUP BY 1),
           |tot AS (SELECT CAST(SUM(COALESCE(ein.e_c, 0)) AS BIGINT) AS se,
           |    CAST(SUM(CAST(dcs.d_c AS HUGEINT) * dcs.d_c) AS HUGEINT)
           |      AS sd2,
           |    CAST(COUNT(*) AS BIGINT) AS n_communities
           |  FROM dcs LEFT JOIN ein ON dcs.community = ein.ci)
           |SELECT m AS n_edges, n_communities,
           |CAST(((4 * CAST(m AS HUGEINT) * se - sd2) * 1000000
           |    + 4 * CAST(m AS HUGEINT) * m * 1000000)
           |  // (4 * CAST(m AS HUGEINT) * m) - 1000000 AS BIGINT) AS q_ppm
           |FROM tot, mm WHERE m >= 1""".stripMargin
      }),

    // G10 (beyond-ref): Adamic-Adar link prediction — see adamicAdar
    // for the degree-discount weight device.
    QueryDef("graph_adamic_adar",
      (s, d) => adamicAdar(cappedEdges(s, d)),
      Some(s"""WITH ${edgesSql(TriMinCo)},
              |adj0 AS (SELECT i AS v, j AS n FROM e
              |  UNION ALL SELECT j, i FROM e),
              |adj AS MATERIALIZED (SELECT v, n FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY v ORDER BY n) rn
              |  FROM adj0) WHERE rn <= $LpMaxNbr),
              |dg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
              |  FROM adj GROUP BY 1),
              |aw AS MATERIALIZED (SELECT a.v, a.n,
              |    1000000000000 // CAST(ROUND(ln(CAST(d.deg AS DOUBLE))
              |      * 1000000.0) AS BIGINT) AS w
              |  FROM adj a JOIN dg d ON a.v = d.v WHERE d.deg >= 2),
              |cn AS (SELECT x.n AS i, y.n AS j, SUM(x.w) AS aa_q,
              |    CAST(COUNT(*) AS BIGINT) AS n_common
              |  FROM aw x JOIN adj y ON x.v = y.v AND x.n < y.n
              |  GROUP BY 1, 2),
              |cand AS (SELECT cn.i, cn.j, cn.n_common, cn.aa_q FROM cn
              |  LEFT JOIN e ON cn.i = e.i AND cn.j = e.j
              |  WHERE e.i IS NULL)
              |SELECT i, j, n_common, CAST(aa_q AS BIGINT) AS aa_q
              |FROM cand ORDER BY aa_q DESC, i, j LIMIT $LpTopK""".stripMargin)),

    // G8 (beyond-ref): personalized PageRank from the hub seed set —
    // see personalizedPagerank for the sparse-vector teleport device.
    QueryDef("graph_ppr",
      (s, d) => personalizedPagerank(cappedEdges(s, d)),
      Some {
        val ladder = (1 to PprIters)
          .map(i => pprCte(s"r$i", if (i == 1) "r0" else s"r${i - 1}"))
          .mkString(",\n")
        s"""WITH ${edgesSql(TriMinCo)},
           |adj AS MATERIALIZED (SELECT i AS v, j AS n FROM e
           |  UNION ALL SELECT j, i FROM e),
           |dg AS MATERIALIZED (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
           |  FROM adj GROUP BY 1),
           |seeds AS MATERIALIZED (SELECT v AS node, deg FROM dg
           |  ORDER BY deg DESC, v LIMIT $PprSeeds),
           |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_seeds FROM seeds),
           |r0 AS MATERIALIZED (SELECT node, $Scale // n_seeds AS pr
           |  FROM seeds, ns),
           |$ladder
           |SELECT node AS item_id, CAST(pr AS BIGINT) AS ppr_rank
           |FROM r$PprIters""".stripMargin
      }),

    // G9 (beyond-ref): HITS hubs/authorities — see hits for the
    // integer L1-renormalization overflow bound.
    QueryDef("graph_hits",
      (s, d) => hits(Recommend.interactions(s, d)),
      Some {
        val ladder = (1 to HitsIters).map(hitsCte).mkString(",\n")
        s"""WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS u,
           |    l_partkey AS it
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |nu AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users
           |  FROM e),
           |h0 AS MATERIALIZED (SELECT DISTINCT u,
           |  $HitsScale // n_users AS h FROM e, nu),
           |$ladder
           |SELECT 'item' AS node_type, it AS id, CAST(a AS BIGINT) AS score
           |FROM a$HitsIters
           |UNION ALL
           |SELECT 'user', u, CAST(h AS BIGINT) FROM h$HitsIters""".stripMargin
      }),

    // G7 (beyond-ref): degree assortativity — see assortativity for
    // the Newman-formulation exact-statistics chain. Runs at a lower
    // co-purchase threshold than the triangle family (2 vs 3): the
    // tri-grade graph thins to disjoint degree-1 edges at sf0.1
    // (variance 0 → correlation undefined, guard emits nothing); the
    // denser grade keeps the hub structure the statistic measures.
    QueryDef("graph_assortativity",
      (s, d) => assortativity(cappedEdges(s, d, AssortMinCo)),
      Some(s"""WITH ${edgesSql(AssortMinCo)},
              |inc AS MATERIALIZED (SELECT i AS u, j AS w FROM e
              |  UNION ALL SELECT j, i FROM e),
              |dg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d
              |  FROM inc GROUP BY 1),
              |p AS (SELECT du.d AS x, dw.d AS y FROM inc
              |  JOIN dg du ON inc.u = du.u
              |  JOIN dg dw ON inc.w = dw.u),
              |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
              |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
              |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
              |    SUM(CAST(y AS HUGEINT) * y) AS syy,
              |    SUM(CAST(x AS HUGEINT) * y) AS sxy
              |  FROM p),
              |v AS (SELECT *, sxx * m - CAST(sx AS HUGEINT) * sx AS vx,
              |    syy * m - CAST(sy AS HUGEINT) * sy AS vy
              |  FROM st)
              |SELECT m AS n_incidences,
              |ROUND(CAST(sxy * m - CAST(sx AS HUGEINT) * sy AS DOUBLE)
              |  / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)), 6)
              |  AS assortativity
              |FROM v WHERE m >= 2 AND vx > 0 AND vy > 0""".stripMargin))
  )
}
