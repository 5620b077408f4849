package graft.operators

import graft.{QueryDef, Tables}
import graft.plans.StoreOps
import graft.functions.Functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (builder brief, "similarity search"): brute-force cosine top-k as
  * the exact baseline, and a random-hyperplane LSH-bucketed variant as
  * the scale path.
  *
  * Scale design (100 TB):
  *  - brute force is quadratic — kept as the correctness baseline and
  *    bounded to a query subset (every 50th vector), the shape of a
  *    "score this batch of queries against the corpus" job: broadcast
  *    the small query side, stream the corpus, per-partition top-k
  *    via the rank window;
  *  - the LSH path buckets every vector by the sign pattern of 8
  *    fixed hyperplanes (2^8 buckets) and searches only within a
  *    bucket: candidate volume drops ~256×, and the shuffle key is
  *    the bucket id, never a vector pair. More planes / multiprobe
  *    are parameter changes, not new plumbing.
  *
  * Determinism: hyperplane weights are integers in [-1000, 1000]
  * derived from md5("hp<p>_<d>") — identical in any engine (no RNG,
  * no float trig); cosine is the bit-exact double fold established in
  * Functions.dot (left-to-right, matching DuckDB list_dot_product).
  */
object Similarity {

  val K = 5
  val Planes = 8
  val Dim = 64

  /** Coarse-codebook size (IVF cells, PQ codebook entries) — a FIXED
    * config knob, independent of corpus size. Round 5's stride device
    * coupled the codebook to n (entries = n/50), which made centroid
    * assignment O(n²/50); real IVF fixes K (or ≈√n) and retrains the
    * quantizer offline. 64 ≈ √n at the bench scale; at 100 TB this is
    * the cell-size lever (K up → smaller cells, costlier assignment).
    */
  val CentCount = 64

  /** Small-corpus floor for the trained codebook: K shrinks to n/5
    * when the corpus can't fill CentCount cells (k-means with more
    * centroids than points-per-cell degenerates to singleton cells —
    * FAISS warns below ~39 train points per centroid; the floor is
    * the same contract). At n ≥ 5·CentCount, K is the fixed knob.
    */
  val MinCellFill = 5

  /** Bounded query-batch size — the "score this batch of queries
    * against the corpus" shape every serving fleet runs. A FIXED
    * deterministic sample (top-`QueryCount` vec_ids by md5), not a
    * stride: a stride's query set grows with n and turns every
    * brute/ADC baseline O(n²). Recall monitors run on this same
    * bounded batch (their brute ground truth stays O(QueryCount·n)).
    *
    * 125 = 5³, NOT a round 128: recall averages are sums of n_hit/k
    * ratios over the batch, and with k = 5 a power-of-two batch size
    * makes denominators like 640 whose values can land EXACTLY on a
    * 6-decimal half-tie (observed: 301/640 = 0.4703125 — Spark
    * HALF_UP and DuckDB disagree). With 5³ the possible averages
    * have denominators dividing 5⁴·LCM(1..5) = 7500; a 6-decimal tie
    * needs an odd numerator over 2·10⁶, and 2·10⁶·m = 7500·odd has
    * no integer solution — so every recall average rounds
    * identically on both engines, structurally.
    */
  val QueryCount = 125

  /** Lloyd iterations for the default IVF coarse quantizer (fewer
    * than sim_kmeans_lloyd's monitor setting — the in-query trainer
    * is a cost/quality knob; production trains offline and serves
    * from the store, which knnIvfFromStore demonstrates).
    */
  val IvfTrainRounds = 2

  /** Deterministic fixed-size corpus sample: top-`n` rows by
    * md5(salt || vec_id) — engine-exact (md5 of the decimal string),
    * pseudo-random (hash order ≈ uniform), and O(scan + top-n heap)
    * distributed (TakeOrdered, no full sort). Salt separates the
    * query batch ("q") from codebook seeds ("c").
    */
  def hashSample(df: DataFrame, salt: String, n: Int): DataFrame =
    df.orderBy(md5(concat(lit(salt), col("vec_id").cast("string"))),
      col("vec_id")).limit(n)

  /** SQL twin of hashSample over a CTE named `src`. */
  private def sampleSql(src: String, salt: String, n: Int): String =
    s"SELECT vec_id FROM $src ORDER BY " +
      s"md5('$salt' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $n"

  /** Bounded query-id set — shared by every oracle that restricts a
    * query/anchor side (samples the base table directly so it
    * composes under any CTE context).
    */
  private[operators] val qsetSql =
    s"qset AS MATERIALIZED (${sampleSql("embeddings", "q", QueryCount)})"

  /** MMR rerank: candidate pool per query and greedy picks (mmrRerank). */
  val MmrCand = 10
  val MmrK = 3

  private def vecs(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Bucket-occupancy target for the hyperplane LSH partition: the
    * plane count SCALES with the corpus — p(n) = smallest p ≥ Planes
    * with TargetOcc·2^p ≥ n — so expected occupancy stays ≈ TargetOcc
    * and in-bucket candidate volume stays ≈ TargetOcc·n (linear). A
    * fixed plane count is the n²/2^p cliff the round-4 simhash rework
    * already fixed once (256 buckets → 17-24× on 10× data at sf1);
    * sim_bucket_stats monitors the realized occupancy. Pure integer
    * arithmetic (no log2 floats), so both engines agree at every n.
    */
  val TargetOcc = 8
  val MaxPlanes = 30

  def planesFor(n: Long): Int = {
    var p = Planes
    while (p < MaxPlanes && (TargetOcc.toLong << p) < n) p += 1
    p
  }

  /** XOR masks for Hamming-1 multiprobe at `p` planes. */
  def probeMasks1(p: Int): Seq[Long] = (0 until p).map(b => 1L << b)

  /** XOR masks for Hamming-≤2 multiprobe: all single-plane and
    * two-plane sign flips (p + p·(p−1)/2 probes beyond the home
    * bucket). Dedup's embedding near-dup probes this wider set — at
    * its low cosine threshold the angle is wide, so Hamming-1 alone
    * recalls poorly; masks are distinct, so a pair still meets in at
    * most one probe bucket.
    */
  def probeMasks2(p: Int): Seq[Long] =
    probeMasks1(p) ++
      (for { a <- 0 until p; b <- a + 1 until p }
        yield (1L << a) | (1L << b))

  private val pwCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Seq[Seq[Double]]]()

  /** First `p` hyperplanes (prefix-stable: plane i's weights depend
    * only on i, so growing the corpus EXTENDS the bucket id bits —
    * the first Planes bits never change).
    */
  def planeWeightsFor(p: Int): Seq[Seq[Double]] =
    pwCache.computeIfAbsent(p, _ =>
      (0 until p).map { i =>
        (0 until Dim).map { d =>
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(s"hp${i}_$d".getBytes("UTF-8"))
          val hex = md.map("%02x".format(_)).mkString.substring(0, 15)
          ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L).toDouble
        }
      })

  /** LSH bucket id over `p` planes: bit i set iff v·w_i > 0. Pure
    * per-row expression — bucketing is a scan-speed pass, the only
    * shuffle is the bucket-keyed candidate join.
    */
  def bucketCol(v: Column, p: Int = Planes): Column =
    planeWeightsFor(p).zipWithIndex.map { case (w, i) =>
      when(dotFast(v, typedLit(w)) > 0d, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _).cast("long")

  /** Exact top-k cosine neighbors for the bounded query batch —
    * O(QueryCount·n) pairs: the broadcast query side is fixed-size,
    * the corpus streams once.
    */
  def knnBrute(emb: DataFrame, k: Int = K): DataFrame = {
    val e = vecs(emb)
    val q = hashSample(e, "q", QueryCount)
    val scored = broadcast(q.as("q"))
      .join(e.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("nbr_id"),
        round(cosineFast(col("q.v"), col("c.v")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("cos"))
  }

  /** V12 (beyond-ref): metadata-filtered kNN — the vector-DB feature
    * every RAG deployment needs (search only the English corpus, only
    * one tenant, only fresh docs): the predicate lives on the
    * `documents` table and restricts the CANDIDATE side via a
    * left-semi join BEFORE any scoring — the pre-filter shape, which
    * keeps k results guaranteed-filtered (a post-filter top-k can
    * return fewer than k and silently loses recall; that trap is why
    * filtered search is a distinct operator, not a WHERE clause on
    * the output). Queries are the bounded batch, broadcast; the
    * filtered candidate scan is one scan-bandwidth semi-join. With
    * the IVF index the same composition becomes cell ∧ filter — the
    * semi-join commutes with the cell restriction.
    */
  def knnFiltered(emb: DataFrame, docs: DataFrame, lang: String = "en",
                  k: Int = K): DataFrame = {
    val e = vecs(emb)
    val allowed = docs.filter(col("lang") === lang)
      .select(col("doc_id").as("vec_id"))
    val cand = e.join(allowed, Seq("vec_id"), "left_semi")
    val q = hashSample(e, "q", QueryCount)
    val scored = broadcast(q.as("q"))
      .join(cand.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("nbr_id"),
        round(cosineFast(col("q.v"), col("c.v")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("cos"))
  }

  /** LSH-bucketed ANN: all vectors, neighbors searched only within
    * the same hyperplane bucket (occupancy-targeted plane count —
    * in-bucket pair volume ≈ TargetOcc·n at any corpus size).
    */
  def knnLsh(emb: DataFrame, k: Int = K): DataFrame = {
    val p = planesFor(emb.count())
    val e = vecs(emb).withColumn("bucket", bucketCol(col("v"), p))
    val scored = e.as("a")
      .join(e.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("nbr_id"),
        round(cosineFast(col("a.v"), col("b.v")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("cos"))
  }

  /** Multiprobe LSH ANN: each query probes its own bucket plus every
    * Hamming-1 neighbor bucket (one hyperplane sign flipped) — the
    * standard recall lever that costs `Planes` extra probe rows per
    * query instead of more hash tables. The candidate side keeps its
    * single bucket, so each (query, candidate) pair meets in at most
    * one probe bucket — no dedup pass needed; the shuffle key is
    * still the bucket id, never a vector pair.
    */
  def knnLshMultiprobe(emb: DataFrame, k: Int = K): DataFrame = {
    val p = planesFor(emb.count())
    val e = vecs(emb).withColumn("bucket", bucketCol(col("v"), p))
    val probes = e.withColumn("probe", explode(array(
      col("bucket") +:
        probeMasks1(p).map(m => col("bucket").bitwiseXOR(lit(m))): _*)))
    val scored = probes.as("a")
      .join(e.as("b"),
        col("a.probe") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("nbr_id"),
        round(cosineFast(col("a.v"), col("b.v")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("cos"))
  }

  val HardNegLo = 0.2
  val HardNegHi = 0.8
  val HardNegK = 3

  /** Hard-negative mining for contrastive training: per anchor, the
    * top-k most-similar candidates inside the [lo, hi) cosine band —
    * close enough to be informative, below the near-dup line so they
    * are genuinely negative (the band is the standard dedup-aware
    * guard against false negatives). Candidates come from the SAME
    * multiprobe LSH buckets as the ANN index — a hard negative is by
    * definition nearby, which is exactly what the index surfaces, so
    * the shuffle stays bucket-keyed and the corpus is never
    * self-joined. The band filter compares the ROUNDED cosine
    * (cross-engine rule); ranking ties break on (cos desc, nbr_id).
    */
  def hardNegatives(emb: DataFrame, lo: Double = HardNegLo,
                    hi: Double = HardNegHi, k: Int = HardNegK): DataFrame = {
    val p = planesFor(emb.count())
    val e = vecs(emb).withColumn("bucket", bucketCol(col("v"), p))
      .localCheckpoint(false) // probe side + candidate side
    val probes = e.withColumn("probe", explode(array(
      col("bucket") +:
        probeMasks1(p).map(m => col("bucket").bitwiseXOR(lit(m))): _*)))
    val scored = probes.as("a")
      .join(e.as("b"),
        col("a.probe") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("anchor_id"), col("b.vec_id").as("neg_id"),
        round(cosineFast(col("a.v"), col("b.v")), 6).as("cos"))
      .filter(col("cos") >= lo && col("cos") < hi)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col("neg_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank").cast("long").as("rank"),
        col("neg_id"), col("cos"))
  }

  /** Bucket histogram — the operational check that LSH buckets stay
    * balanced (skew here is what would break the candidate join at
    * scale).
    */
  def bucketStats(emb: DataFrame): DataFrame =
    vecs(emb)
      .withColumn("bucket", bucketCol(col("v"), planesFor(emb.count())))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_vecs"))

  // ---- product quantization (PQ) ----

  val PqM = 4                 // subspaces
  val PqSubDim = Dim / PqM    // 16 dims each

  /** Per-vector subspace slices, long form (vec_id, m, x) — ONE scan,
    * the slices come out of a single transform-over-sequence explode
    * (no per-subspace re-read of the corpus).
    */
  private def subSlices(e: DataFrame, id: String, vcol: String,
                        xcol: String): DataFrame =
    e.select(col(id), posexplode(slicesOf(vcol)).as(Seq("m", xcol)))

  /** The PqM subspace slices of array column `vcol`, as one array. */
  private def slicesOf(vcol: String): Column =
    expr(s"transform(sequence(0, ${PqM - 1}), " +
      s"m -> slice($vcol, m * $PqSubDim + 1, $PqSubDim))")

  /** The sampled fine codebook (code, m, c): the "c" seed sample's
    * sub-vectors. It is the plain ADC LUT's table and, as
    * (m, code, c), pqCodes' encode target and the code store's `.pq`
    * sidecar.
    */
  private def sampledCodebook(e: DataFrame): DataFrame =
    subSlices(hashSample(e, "c", CentCount)
        .select(col("vec_id").as("code"), col("v").as("cv")),
      "code", "cv", "c")

  /** Per-query plain ADC lookup table (query_id, m, code, qp): each
    * query sub-vector of `queries(vec_id, v)` dotted with every entry
    * of `cs(m, code, c)` in its subspace, micro-unit-quantized so the
    * candidate sums are exact integers.
    */
  private def adcLut(queries: DataFrame, cs: DataFrame): DataFrame =
    subSlices(queries.withColumnRenamed("vec_id", "query_id"),
      "query_id", "v", "qx")
      .join(cs, Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        round(dotFast(col("qx"), col("c")) * lit(1000000.0d))
          .cast("long").as("qp"))

  /** PQ code assignment: for each vector and subspace, the nearest
    * codebook entry by squared L2 distance. The codebook is the
    * FIXED-size "c" seed sample (CentCount entries — per-subspace
    * Lloyd, the production trainer, is lloydCodebookQ on slices; the
    * sampled codebook keeps the oracle one CTE and the assignment
    * cost n·CentCount·PqM — linear): codebook entry c's sub-vector
    * for subspace m is slice(c, m). d² is computed by the fixed-shape
    * identity
    * x·x − 2·x·c + c·c so both engines see identical double bits;
    * round-6 + cent_id tie-break make the argmin total.
    *
    * Scale shape: the codebook is tiny → broadcast; assignment is a
    * scan-speed pass over the (vec, subspace) stream; the only wide
    * operation is the per-(vec, m) argmin window, keyed on vec_id —
    * i.e. the same partitioning the scan already has. Output is the
    * compressed index: Dim floats → PqM small ints per vector (16×
    * fewer bytes than the raw vectors at these parameters).
    */
  def pqCodes(emb: DataFrame): DataFrame = {
    val e = vecs(emb)
    pqEncodeAgainst(subSlices(e, "vec_id", "v", "x"),
      sampledCodebook(e).select("m", "code", "c"))
  }

  /** The ONE float-space PQ encode: per (vector, subspace), the
    * argmin codebook entry by the round-6 d² identity
    * x·x − 2·x·c + c·c with (d2, code) ties — shared by pqCodes (the
    * build-time encode against the fresh sampled codebook) and
    * ivfPqAppend (the ingest encode against the persisted `.pq`
    * sidecar), so "build-encode ≡ append-encode" is one function, not
    * two hand-kept copies. `xs(vec_id, m, x)`, `cs(m, code, c)` →
    * (vec_id, m, code).
    */
  private def pqEncodeAgainst(xs: DataFrame, cs: DataFrame): DataFrame = {
    val wAsn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("m"))
      .orderBy(col("d2"), col("code"))
    xs.join(broadcast(cs), Seq("m"))
      .select(col("vec_id"), col("m"), col("code"),
        round(dotFast(col("x"), col("x"))
          - lit(2.0d) * dotFast(col("x"), col("c"))
          + dotFast(col("c"), col("c")), 6).as("d2"))
      .withColumn("rk", row_number().over(wAsn))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("m"), col("code"))
  }

  /** Micro-quantized subspace slices (vec_id, m, q) — the integer
    * training/assignment space for the PQ trainer (slice-then-
    * quantize equals quantize-then-slice elementwise, so the oracle
    * can mirror either order).
    */
  private def subSlicesQ(emb: DataFrame): DataFrame =
    subSlices(vecs(emb), "vec_id", "v", "x")
      .select(col("vec_id"), col("m"),
        expr("transform(x, v -> cast(round(v * 1000000.0D) as bigint))")
          .as("q"))

  /** One PQ assignment pass: per (vector, subspace), the argmin cell
    * of codebook `c(m, cell, cq)` under the integer L2 surrogate —
    * the map-side-combinable min_by shape shared with lloydAssign,
    * keyed by (vec_id, m).
    */
  private def pqScored(xqm: DataFrame, c: DataFrame): DataFrame =
    xqm.join(broadcast(c.withColumn("cc", dotiFast(col("cq"), col("cq")))),
        Seq("m"))
      .withColumn("s", col("cc") - lit(2L) * dotiFast(col("q"), col("cq")))

  /** The (vec_id, m)-grain argmin over (s, cell) through the native
    * heap top-k at k = 1 instead of a struct-ordered min_by
    * aggregate. Round-14 optimization pass (guide §1.2 step 2): a
    * struct-typed aggregation buffer is not UnsafeRow-mutable, so
    * the min_by/min(struct) form fell back to SortAggregate — BOTH
    * phases sorted every n·K candidate row by (vec_id, m) on every
    * pass (plan-verified; the same codegen cliff the round-13
    * min_by-array experiment documented). The heap partial is
    * O(n log 1) with no sort buffer, the exchange is the same
    * (vec_id, m)-keyed one, and the kept row is the argmin row
    * itself under the identical (s, cell) total order — engine-exact,
    * same rows out.
    */
  private def pqArgmin(scored: DataFrame): DataFrame =
    TopK.perKey(scored, Seq("vec_id", "m"),
      Seq(("s", false), ("cell", false)), 1)

  private def pqAssign(xqm: DataFrame, c: DataFrame): DataFrame =
    pqArgmin(pqScored(xqm, c).select("vec_id", "m", "cell", "s"))

  /** pqAssign keeping the winning row's own slice `q`: consumers
    * that read it (the trainer's mean pass, the distortion monitors)
    * get q from the kept row instead of a read-back join on xqm —
    * one join + exchange less per Lloyd round.
    */
  private def pqAssignQ(xqm: DataFrame, c: DataFrame): DataFrame =
    pqArgmin(pqScored(xqm, c).select("vec_id", "m", "q", "cell", "s"))

  /** The TRAINED per-subspace PQ codebook — what FAISS's
    * ProductQuantizer.train actually does: an independent k-means in
    * every subspace (here `rounds` Lloyd iterations over the integer
    * micro-unit slices, seeds = the "c" hashSample's sub-vectors, so
    * round 0 IS the sampled codebook pqCodes uses). Same engine-exact
    * round structure as lloydCodebookQ with the subspace id `m` added
    * to every key; all PqM subspaces train in the SAME passes (the m
    * key rides the shuffle — no per-subspace jobs). Returns
    * (m, cell, cq).
    */
  def pqCodebookTrainedQ(emb: DataFrame,
                         rounds: Int = IvfTrainRounds): DataFrame =
    // thin composition kept as the documented public entry point
    // (both registered consumers now train off their own shared
    // slice checkpoint — see pqCodesTrained/pqDistortion); no
    // private fork here so it cannot drift from the real path
    trainSubspaces(subSlicesQ(emb).localCheckpoint(false),
      pqSeedIds(emb), rounds)

  private def pqSeedIds(emb: DataFrame): DataFrame = {
    val kCells = math.max(1L,
      math.min(CentCount.toLong, emb.count() / MinCellFill)).toInt
    hashSample(vecs(emb), "c", kCells).select("vec_id")
  }

  /** The generic per-subspace Lloyd loop over any slice stream
    * `xqm(vec_id, m, q)` — plain slices give the PQ trainer, residual
    * slices give the IVFPQ fine trainer. `xqm` must be materialized.
    */
  private def trainSubspaces(xqm: DataFrame, seedIds: DataFrame,
                             rounds: Int): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    var cent = xqm.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("m"), col("vec_id").as("cell"), col("q").as("cq"))
      .localCheckpoint(false)
    for (_ <- 1 to rounds) {
      // pqAssignQ carries the winning slice through the heap cut, so
      // the former read-back join on xqm is gone (round 14)
      cent = pqAssignQ(xqm, cent)
        .select(col("m"), col("cell"),
          posexplode(col("q")).as(Seq("idx", "xi")))
        .groupBy(col("m"), col("cell"), col("idx"))
        .agg(sum(col("xi").cast(dec38)).as("sx"), count(lit(1)).as("n"))
        .withColumn("cqi",
          floor(col("sx").cast("double") / col("n")).cast("long"))
        .groupBy(col("m"), col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(idx, cqi)))," +
          " p -> p.cqi)").as("cq"))
        .localCheckpoint(false)
    }
    cent
  }

  /** The integer residual r = x − cv of columns `v` and `cv`, as an
    * int64 micro-unit array. x and the centroid quantize SEPARATELY
    * (x via the established raw-value rounding; the centroid recovers
    * the codebook's exact integer micro-units, since cv = cq/10⁶ with
    * |cq| ≪ 2⁵² makes round(cv·10⁶) = cq in any IEEE engine) and
    * subtract in int64. Subtracting in DOUBLE first would manufacture
    * values the raw corpus never exhibits, including 6-decimal
    * half-ties on which Spark (BigDecimal on the shortest decimal
    * repr) and DuckDB (multiplicative) can disagree.
    */
  private def residualQ: Column =
    expr("zip_with(v, cv, (a, b) -> " +
      "cast(round(a * 1000000.0D) as bigint) - " +
      "cast(round(b * 1000000.0D) as bigint))")

  /** Residual micro-quantized slices (vec_id, cell, m, q): r = x − cv
    * of the home cell under the SHARED coarse codebook, sliced per
    * subspace — FAISS IVFPQ's actual encoding input (PQ on residuals
    * removes the coarse variance the cell id already carries, so the
    * fine codebook spends its bits on what the coarse one missed).
    */
  private def residualSlicesQ(emb: DataFrame, cents: DataFrame,
                              asnOpt: Option[DataFrame] = None): DataFrame =
    asnOpt.getOrElse(ivfAssign(emb, Some(cents)))
      .join(broadcast(cents), col("cell") === col("cent_id"))
      .select(col("vec_id"), col("cell"), residualQ.as("rq"))
      .select(col("vec_id"), col("cell"),
        posexplode(slicesOf("rq")).as(Seq("m", "q")))

  /** The residual IVF-PQ chain, built once for every residual
    * consumer: coarse codebook → residual slices `xqmFull(vec_id,
    * cell, m, q)` → fine codebook `cb(m, cell, cq)` trained on the
    * residuals → every vector's residual code `codes(vec_id, m,
    * code)`. `coarse` yields the coarse codebook and optionally its
    * corpus assignment; it is evaluated inside the overlapped thunk.
    */
  private def residualChain(emb: DataFrame,
                            coarse: => (DataFrame, Option[DataFrame]))
  : (DataFrame, DataFrame, DataFrame) = {
    // The fine training DEPENDS on the coarse codebook (it trains on
    // residuals), so the two ladders cannot overlap. The seed sample
    // (a corpus count + a TakeOrdered pass) is independent of the
    // coarse chain: run it beside the coarse ladder + residual-slice
    // materialization (guide §2.6).
    val (xqmFull, seeds) = Par.run2(
      () => {
        val (cents, asnOpt) = coarse
        residualSlicesQ(emb, cents, asnOpt).localCheckpoint(true)
      },
      () => pqSeedIds(emb).localCheckpoint(true))
    val xqm = xqmFull.select("vec_id", "m", "q")
    val cb = trainSubspaces(xqm, seeds, IvfTrainRounds)
      .localCheckpoint(false) // codes + LUT
    val codes = pqAssign(xqm, cb)
      .select(col("vec_id"), col("m"), col("cell").as("code"))
    (xqmFull, cb, codes)
  }

  /** The residual ADC top-k tail: the LUT partials `part` of the
    * query side `qres(query_id, qcell, m, rq)` against the chain's
    * fine codebook (`part` reads rq, cq and cc = |cq|²), summed per
    * (query, candidate) over the candidates whose home cell is the
    * probed cell, ranked by (adc_q, nbr_id). A candidate has one home
    * cell, so a (query, candidate) pair meets in at most one probed
    * cell — no dedup pass.
    */
  private def resAdcTopK(chain: (DataFrame, DataFrame, DataFrame),
                         qres: DataFrame, part: Column,
                         k: Int): DataFrame = {
    val (xqmFull, cb, codes) = chain
    val lut = qres
      .join(broadcast(cb.withColumn("cc", dotiFast(col("cq"), col("cq")))),
        Seq("m"))
      .select(col("query_id"), col("qcell"), col("m"),
        col("cell").as("code"), part.as("part"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_q"), col("nbr_id"))
    // the home cell is constant per vector, so the m=0 slice IS the
    // distinct (vec_id, cell) relation without the distinct's exchange
    codes.join(xqmFull.filter(col("m") === 0)
        .select(col("vec_id"), col("cell")), Seq("vec_id"))
      .join(broadcast(lut), Seq("m", "code"))
      .filter(col("cell") === col("qcell") &&
        col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("nbr_id"))
      .agg(sum(col("part")).as("adc_q"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("adc_q"))
  }

  /** V14: residual-encoded IVF-PQ retrieval — the FAISS default
    * billion-scale composite: coarse cell from the trained IVF
    * codebook, fine codes from a per-subspace codebook TRAINED ON
    * RESIDUALS, and per-query ADC over s = |c|² − 2·r_q·c (the
    * per-query |r_q|² constant drops out of the ranking, so the whole
    * score is exact 64-bit integer arithmetic). Candidates are
    * restricted to the query's home cell and scored from integer
    * codes only — float vectors never shuffle. Smaller s = closer;
    * ties break on nbr_id.
    */
  def knnIvfPqRes(emb: DataFrame, k: Int = K,
                  coarseOpt: Option[(DataFrame, DataFrame)] = None)
  : DataFrame = {
    val chain = residualChain(emb, coarseOpt
      .map { case (cents, asn) => (cents, Some(asn)) }
      .getOrElse((ivfCodebook(emb).localCheckpoint(false), None)))
    val qres = chain._1
      .join(broadcast(hashSample(vecs(emb), "q", QueryCount)
        .select("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("query_id"), col("cell").as("qcell"),
        col("m"), col("q").as("rq"))
    resAdcTopK(chain, qres,
      col("cc") - lit(2L) * dotiFast(col("rq"), col("cq")), k)
  }

  /** V16: residual IVF-PQ with nprobe — the recall lever of the FAISS
    * default composite, with the semantics FAISS actually implements:
    * each query probes its `probes` nearest cells and its residual is
    * recomputed AGAINST EACH PROBED CENTROID (r_q = x_q − c_p; a
    * residual is only meaningful relative to the cell it probes).
    * Because the dropped |r_q|² constant now DIFFERS per probed cell,
    * the score keeps it: s = |r_q|² + |c|² − 2·r_q·c — the full
    * squared ADC distance, still exact 64-bit integer arithmetic,
    * comparable across cells. The fine codebook is the SAME
    * home-cell-residual-trained one knnIvfPqRes uses (FAISS trains one
    * PQ for the index, not per probe). Probe cells rank under the same
    * integer surrogate as the home-cell assignment.
    */
  def knnIvfPqResProbe(emb: DataFrame, k: Int = K,
                       probes: Int = 2): DataFrame = {
    // cents materializes inside the chain's overlapped thunk and is
    // reused below already persisted
    val cents = ivfCodebook(emb).localCheckpoint(false)
    val chain = residualChain(emb, (cents, None))
    val e = vecs(emb)
    val qres = ivfRankCells(
      e.join(broadcast(hashSample(e, "q", QueryCount).select("vec_id")),
        Seq("vec_id"), "left_semi"), cents)
      .filter(col("rn") <= probes)
      .select(col("vec_id").as("query_id"), col("cent_id").as("qcell"),
        residualQ.as("rq"))
      .select(col("query_id"), col("qcell"),
        posexplode(slicesOf("rq")).as(Seq("m", "rq")))
    resAdcTopK(chain, qres, dotiFast(col("rq"), col("rq")) + col("cc")
      - lit(2L) * dotiFast(col("rq"), col("cq")), k)
  }

  /** V14's monitor: total reconstruction distortion of plain trained
    * PQ vs residual IVFPQ (distance of each sub-vector to its chosen
    * code, |r|² + s, exact integer micro-units) — the number that
    * justifies residual encoding: the coarse centroid absorbs
    * cluster-level variance, so the fine codebook's error drops.
    */
  def ivfPqResDistortion(emb: DataFrame): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // the PLAIN side (pqDistortion) and the RESIDUAL side (coarse
    // ladder → residual slices → fine ladder) never meet before the
    // final crossJoin — two independent training chains, overlapped
    // per guide §2.6
    val (plain, res) = Par.run2(
      () => pqDistortion(emb)
        .select(col("n_subvecs"), col("trained_e12").as("pq_trained_e12"))
        .localCheckpoint(true),
      () => {
        val (xqmFull, cb, _) = residualChain(emb,
          (ivfCodebook(emb).localCheckpoint(false), None))
        pqAssignQ(xqmFull.select("vec_id", "m", "q"), cb)
          .select((dotiFast(col("q"), col("q")) + col("s")).as("d2"))
          .agg(round(sum(col("d2").cast(dec38)).cast("double") / 1.0e12, 6)
            .as("ivfpq_res_e12"))
          .localCheckpoint(true)
      })
    plain.crossJoin(res)
  }

  /** The per-query recall fold over the bounded query batch: mean of
    * |approx ∩ exact| / |exact| over the queries of
    * `base(query_id, n_exact)`, round-6, as column `name` beside
    * n_queries. Counts of deterministic top-k sets — engine-exact.
    */
  private def recallFold(base: DataFrame, exact: DataFrame,
                         approx: DataFrame, name: String): DataFrame = {
    val hits = exact.join(approx.select("query_id", "nbr_id"),
        Seq("query_id", "nbr_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    base.join(hits, Seq("query_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .agg(count(lit(1)).as("n_queries"),
        round(avg(col("n_hit").cast("double") / col("n_exact")), 6)
          .as(name))
  }

  /** V14's closing honesty number: recall@k of the residual IVF-PQ
    * vs the PLAIN IVF-PQ at the SAME coarse quantizer and the same
    * nprobe (= 1, home cell only), both against the exact cosine
    * baseline — the comparison that says whether residual encoding's
    * distortion win (sim_ivfpq_res_distortion) actually buys
    * retrieval quality, or only reconstruction fidelity. The exact
    * brute baseline is computed ONCE and shared by both sides; each
    * index side is the already-audited composite. Everything
    * downstream is counts of deterministic top-k sets over the 5³
    * query batch — engine-exact recalls.
    */
  def ivfPqResVsPlainRecall(emb: DataFrame, k: Int = K): DataFrame = {
    // the exact brute baseline and the shared coarse training chain
    // (codebook + corpus assignment) are independent — overlap them
    // (guide §2.6): the Lloyd ladder runs at parallelism ≈ 1 and the
    // CPU-heavy brute pass back-fills its idle cores
    val (ex, coarse) = Par.run2(
      () => knnBrute(emb, k).select("query_id", "nbr_id")
        .localCheckpoint(true),
      () => {
        val cents = ivfCodebook(emb).localCheckpoint(true)
        val asn = ivfAssign(emb, Some(cents)).localCheckpoint(true)
        (cents, asn)
      })
    // eager: both overlapped recall sides below read `base`, so it
    // must be materialized before the fork (Par contract)
    val base = ex.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .localCheckpoint()
    // ONE coarse quantizer AND one corpus assignment, threaded into
    // both composites: "the SAME coarse quantizer" holds by
    // construction. Given it, the plain and residual composites are
    // independent until the final crossJoin — overlap them too,
    // CONSTRUCTING each composite inside its thunk (knnIvfPqRes runs
    // eager work while building); each side is a 1-row recall
    // aggregate.
    val Seq(plainR, resR) = Par.run[DataFrame](Seq(
      () => recallFold(base, ex, knnIvfPq(emb, k, Some(coarse)),
        "plain_recall").localCheckpoint(true),
      () => recallFold(base, ex, knnIvfPqRes(emb, k, Some(coarse)),
        "res_recall").drop("n_queries").localCheckpoint(true)))
    plainR.crossJoin(resR)
  }

  /** PQ codes against the TRAINED codebook — the production encode
    * pass (pqCodes' sampled codebook is the round-0 shortcut; this is
    * the trained default a real index build would persist beside the
    * IVF `.codebook` sidecar). Output shape matches pqCodes.
    */
  def pqCodesTrained(emb: DataFrame): DataFrame = {
    // ONE materialized slice stream feeds the trainer and the final
    // encode (the call previously checkpointed subSlicesQ twice —
    // identical relation); seed sample beside it per guide §2.6
    val (xqm, seeds) = Par.run2(
      () => subSlicesQ(emb).localCheckpoint(true),
      () => pqSeedIds(emb).localCheckpoint(true))
    pqAssign(xqm, trainSubspaces(xqm, seeds, IvfTrainRounds))
      .select(col("vec_id"), col("m"), col("cell").as("code"))
  }

  /** Quantization-distortion monitor: total squared L2 error of the
    * PQ encoding under the SAMPLED codebook (round 0) vs the TRAINED
    * one — the measure-don't-guess loop for the train-or-not knob.
    * Lloyd monotonicity makes trained ≤ sampled up to the ±1
    * micro-unit floor on centroid means, and the spec asserts it on
    * a clustered fixture. d² = x·x + s in exact integer micro-units;
    * totals ride DECIMAL(38) and leave integer space only at the e12
    * emission (the kmeansLloyd inertia device).
    */
  def pqDistortion(emb: DataFrame): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // eager: both overlapped sides below read it, so it must be
    // materialized before the fork (Par contract)
    val xqm = subSlicesQ(emb).localCheckpoint()
    val seedIds = pqSeedIds(emb)
    val sampled = xqm.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("m"), col("vec_id").as("cell"), col("q").as("cq"))
    def total(c: DataFrame, name: String): DataFrame =
      pqAssignQ(xqm, c)
        .select((dotiFast(col("q"), col("q")) + col("s")).as("d2"))
        .agg(count(lit(1)).as("n_subvecs"),
          round(sum(col("d2").cast(dec38)).cast("double") / 1.0e12, 6)
            .as(name))
    // the sampled-codebook side and the TRAINED side (a full Lloyd
    // ladder) are independent until the final crossJoin — overlap
    // their serial chains (guide §2.6); xqm is materialized above so
    // the threads share only a persisted RDD
    val Seq(sTot, tTot) = Par.materialize(
      total(sampled, "sampled_e12"),
      total(trainSubspaces(xqm, seedIds, IvfTrainRounds), "trained_e12")
        .drop("n_subvecs"))
    sTot.crossJoin(tTot)
  }

  /** PQ-ADC top-k retrieval — the classic asymmetric-distance shape:
    * per query, a lookup table of partial dot products against every
    * codebook entry per subspace (|q|·PqM·|codebook| rows — tiny,
    * broadcast), then every candidate is scored by summing its PqM
    * table entries. The candidate stream carries ONLY the integer
    * codes — at scale the scoring stage reads the 16×-compressed code
    * column and never touches the float vectors; that bandwidth win
    * is the operator. Partials are micro-unit-quantized before the
    * sum (order-free integer arithmetic → engine-identical), and the
    * per-(query, candidate) sum is map-side combinable.
    */
  def knnPqAdc(emb: DataFrame, k: Int = K): DataFrame = {
    val e = vecs(emb)
    val codes = pqCodes(emb)
    val lut = adcLut(hashSample(e, "q", QueryCount), sampledCodebook(e))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nbr_id"))
    codes.join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("nbr_id"))
      .agg(sum(col("qp")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"),
        round(col("score").cast("double") / 1000000.0d, 6).as("adc"))
  }

  /** The ONE cell-restricted ADC scoring kernel — shared verbatim by
    * every IVF-PQ consumer (knnIvfPq, knnIvfPqProbe, the code-store
    * serving paths), so the scoring contract (integer qp sums,
    * self-filter, (score desc, nbr_id) ties, round-6 /1e6 emission)
    * lives in exactly one place and "row-identical by construction /
    * shares sim_knn_ivfpq's oracle" cannot drift copy-by-copy.
    * `coded(vec_id, m, code, cell)` is the candidate stream,
    * `qcells(query_id, cell)` the (small, broadcast) query→probed-
    * cell relation — one row per probe, so nprobe is just a wider
    * qcells — and `lut(query_id, m, code, qp)` the broadcast ADC
    * table.
    */
  private def adcTopK(coded: DataFrame, qcells: DataFrame,
                      lut: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nbr_id"))
    coded
      .join(broadcast(qcells), Seq("cell"))
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("nbr_id"))
      .agg(sum(col("qp")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"),
        round(col("score").cast("double") / 1000000.0d, 6).as("adc"))
  }

  /** IVF-PQ retrieval — the production composite (the default
    * billion-scale ANN shape): the IVF coarse quantizer restricts
    * each query's candidates to its home cell, and inside the cell
    * candidates are scored from their PQ codes alone via the
    * broadcast ADC LUT. The scoring stage touches cell ids + integer
    * codes only — float vectors are never shuffled; compounded
    * recall loss (cell restriction × quantization) is what
    * sim_ivfpq_recall measures against the exact baseline.
    */
  def knnIvfPq(emb: DataFrame, k: Int = K,
               coarseOpt: Option[(DataFrame, DataFrame)] = None)
  : DataFrame = {
    val (coded, qcell, lut) = pqAdcParts(emb, coarseOpt)
    adcTopK(coded, qcell, lut, k)
  }

  /** The plain composite's three ADC relations — the coded candidate
    * stream (codes ⋈ home cells), the bounded query-cell map, and the
    * broadcast LUT — in ONE derivation shared by knnIvfPq, its
    * filtered variant and its nprobe variant.
    */
  private def pqAdcParts(emb: DataFrame,
                         coarseOpt: Option[(DataFrame, DataFrame)] = None)
  : (DataFrame, DataFrame, DataFrame) = {
    val e = vecs(emb)
    // coarse quantizer: the trained IVF codebook; fine quantizer: the
    // sampled PQ codebook (pqCodes) — independent, as in FAISS IVFPQ.
    // `coarseOpt` = (codebook, its corpus assignment) lets a caller
    // that already trained the coarse quantizer and assigned the
    // corpus share both. Bundled as ONE option so an assignment can
    // never be passed without the codebook it was derived from.
    val assigned = coarseOpt.map(_._2.select(col("vec_id"), col("cell")))
      .getOrElse(ivfAssign(emb)
        .select(col("vec_id"), col("cell"))
        .localCheckpoint(false)) // candidate cells + query cells
    val codes = pqCodes(emb)
    val lut = adcLut(hashSample(e, "q", QueryCount), sampledCodebook(e))
    val qcell = assigned
      .join(hashSample(e, "q", QueryCount).select("vec_id"),
        Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("query_id"), col("cell"))
    (codes.join(assigned, Seq("vec_id")), qcell, lut)
  }

  /** V12 × V18: metadata-filtered retrieval ON THE
    * COMPRESSED TIER — knnIvfFiltered's composition applied to the
    * IVF-PQ composite: the predicate restricts the CANDIDATE code
    * stream via a left-semi join BEFORE scoring (pre-filter, so the
    * top-k is guaranteed-filtered and k results survive whenever the
    * allowed set can supply them), the cell restriction and the
    * broadcast-LUT integer ADC apply on top. The semi-join commutes
    * with the cell key, so at scale the filter pushes into the
    * cell-partitioned code read and nothing new shuffles — filtered
    * vector search at index scale WITHOUT touching float vectors.
    * Queries come from the full corpus (a query need not satisfy the
    * filter — it asks for filtered neighbors).
    */
  def knnIvfPqFiltered(emb: DataFrame, docs: DataFrame,
                       lang: String = "en", k: Int = K): DataFrame = {
    val (coded, qcell, lut) = pqAdcParts(emb)
    val allowed = docs.filter(col("lang") === lang)
      .select(col("doc_id").as("vec_id"))
    adcTopK(coded.join(allowed, Seq("vec_id"), "left_semi"),
      qcell, lut, k)
  }

  /** The plain-composite nprobe default — ONE constant interpolated
    * into both knnIvfPqProbe's signature and the pqIvfProbeSql oracle
    * CTE, so a registration with probes != 2 cannot silently diverge
    * from the shared oracle text.
    */
  val IvfPqProbes = 2

  /** V18: plain IVF-PQ at nprobe=2 — the recall lever on
    * the non-residual composite tier. Unlike the residual
    * variant, a plain-PQ candidate's ADC score is independent of
    * which cell the query probed (codes are absolute, not relative to
    * a centroid), so probing only GROWS the candidate set: each query
    * scores the union of its `probes` nearest cells' members, every
    * candidate met at most once (one home cell). Query probe cells
    * rank under the tier's shared integer surrogate
    * (ivfRankCells, QueryCount-grain); scoring is knnIvfPq's
    * broadcast-LUT integer ADC verbatim. Cost: probes× candidate
    * rows for the bounded batch — the knob the nprobe sweep prices,
    * now available on the code-only tier.
    *
    * HONESTY: on a QUANTIZED scorer, widening guarantees a larger
    * candidate set, not higher recall — a far-cell candidate's
    * inflated quantized dot can displace a true hit from the top-k
    * (spec-measured: recall dipped 0.598→0.558 on a fixture whose
    * true neighbors all share the home cell, where probing adds only
    * noise). Probing pays when cell restriction is the binding loss
    * (the near-random bench corpus); the refine rung
    * (knnIvfPqRefine) is the standard repair for the displacement.
    * sim_ivfpq_probe_recall prices the net effect vs the exact
    * baseline next to sim_ivfpq_recall (nprobe=1).
    */
  def knnIvfPqProbe(emb: DataFrame, k: Int = K,
                    probes: Int = IvfPqProbes): DataFrame = {
    val e = vecs(emb)
    val cents = ivfCodebook(emb).localCheckpoint(false)
    val assigned = ivfAssign(emb, Some(cents))
      .select(col("vec_id"), col("cell"))
      .localCheckpoint(false)
    val (coded, _, lut) = pqAdcParts(emb, Some((cents, assigned)))
    val qprobe = ivfRankCells(
      e.join(broadcast(hashSample(e, "q", QueryCount).select("vec_id")),
        Seq("vec_id"), "left_semi"), cents)
      .filter(col("rn") <= probes)
      .select(col("vec_id").as("query_id"), col("cent_id").as("cell"))
    adcTopK(coded, qprobe, lut, k)
  }

  /** V18 (round 10): the PERSISTED code-only IVF-PQ store — what a
    * billion-scale deployment actually keeps on disk. ivfBuild's
    * store holds float vectors (exact in-cell serving); this one
    * completes the compression ladder at the other end: the store is
    * cell-partitioned integer PQ CODES (PqM small ints per vector —
    * 16× fewer bytes than the floats at these parameters; no float
    * column at rest, spec-asserted on the schema), with the two
    * quantizers as tiny sidecars — `.codebook` (the trained coarse
    * quantizer under the metric-stamped ivfBuild sidecar contract)
    * and `.pq` (the sampled fine codebook knnIvfPq serves with, ≤
    * CentCount·PqM sub-vector rows). At 100 TB this is the difference
    * between storing/scanning 100 TB of vectors and ~6 TB of codes;
    * serving reads codes + two broadcast sidecars only.
    */
  def ivfPqBuild(s: SparkSession, dir: String, emb: DataFrame): Unit = {
    StoreOps.requireAbsent(s, dir, "store",
      "delete the store first, or ingest with ivfPqAppend")
    stagePqStore(s, dir, emb)
    StoreOps.swap(s, storeGroup(dir))
  }

  /** A store's dirs in swap order: the `.codebook` sidecar first (its
    * delete commits a swap), the cells, and the code tier's `.pq`.
    */
  private def storeGroup(dir: String): Seq[String] =
    Seq(s"$dir.codebook", dir, s"$dir.pq")

  /** Stage a whole code-only store for `dir`: the coarse Lloyd ladder
    * and the sampled-PQ encode pass are independent until the final
    * cell-partitioned write — overlap them, then stage the two
    * (independent) sidecars concurrently (guide §2.6, round 14).
    */
  private def stagePqStore(s: SparkSession, dir: String,
                           emb: DataFrame): Unit = {
    val e = vecs(emb)
    val (cents, codes) = Par.run2(
      () => ivfCodebook(emb).localCheckpoint(true),
      () => pqCodes(emb).localCheckpoint(true))
    Par.run[Unit](Seq(
      () => stageCodebook(s, dir, cents),
      () => StoreOps.stage(s, s"$dir.pq", Some(PqStamp))(
        sampledCodebook(e).select("m", "code", "c").write.parquet(_))))
    StoreOps.stage(s, dir)(codes
      .join(ivfAssign(emb, Some(cents)).select("vec_id", "cell"),
        Seq("vec_id"))
      .write.partitionBy("cell").parquet(_))
  }

  /** Serving over the code-only store: the bounded query batch
    * assigns against the `.codebook` sidecar (the CHECKED read — the
    * metric-stamp guard protects exactly this path), builds its ADC
    * LUT against the `.pq` sidecar, and scores the store's codes —
    * row-identical to the inline knnIvfPq by construction (same
    * quantizers, same codes, same integer ADC), so the registered
    * query shares sim_knn_ivfpq's oracle, the knnIvfFromStore device.
    * Scale shape: both sidecars and the LUT broadcast; the query-cell
    * join keys the code scan on the PARTITION column, so a bounded
    * batch reads only its probed cell directories.
    */
  def knnIvfPqFromStore(s: SparkSession, dir: String, emb: DataFrame,
                        k: Int = K): DataFrame =
    searchPqStore(s, dir,
      hashSample(vecs(emb), "q", QueryCount)
        .select(col("vec_id"), col("v").as("embedding")), k)

  /** Resolve the code store's static side ONCE — checked coarse
    * sidecar, fine codebook, and the tombstone-filtered code stream —
    * shared by the one-shot batch search and (resolved at stream
    * start) the streaming serve, so both paths see the same snapshot
    * semantics: deletes/appends/retrains while a stream runs take
    * effect on restart, exactly the serveStoreStream contract.
    */
  private def resolvePqStore(s: SparkSession, dir: String)
  : (DataFrame, DataFrame, DataFrame) = {
    val cents = storeCodebook(s, dir).localCheckpoint(false)
    val cs = storePqCodebook(s, dir)
    val codesRaw = s.read.parquet(dir)
    val coded = tombstones(s, dir)
      .map(t => codesRaw.join(t, Seq("vec_id"), "left_anti"))
      .getOrElse(codesRaw)
    (cents, cs, coded)
  }

  /** Score one EXPLICIT query batch (vec_id, embedding) against a
    * resolved store: assign home cells against the coarse sidecar,
    * build the per-query ADC LUT against the fine codebook, and run
    * the shared adcTopK kernel. The query side and both sidecars
    * broadcast; the code scan is the only big input.
    */
  private def pqServeBatch(queries: DataFrame, cents: DataFrame,
                           cs: DataFrame, coded: DataFrame,
                           k: Int): DataFrame = {
    val q = vecs(queries).localCheckpoint(false)
    val lut = adcLut(q, broadcast(cs))
    val qcell = ivfAssign(
      q.select(col("vec_id"), col("v").as("embedding")), Some(cents))
      .select(col("vec_id").as("query_id"), col("cell"))
    adcTopK(coded, qcell, lut, k)
  }

  /** One-shot code-store search for an explicit query batch.
    * Tombstone-aware like searchStoreLive — ivfDelete works on the
    * code store too (a tombstone is id-only, tier-agnostic), and
    * deleted ids stop answering at read time.
    */
  def searchPqStore(s: SparkSession, dir: String, queries: DataFrame,
                    k: Int = K): DataFrame = {
    val (cents, cs, coded) = resolvePqStore(s, dir)
    pqServeBatch(queries, cents, cs, coded, k)
  }

  /** Metadata-filtered serve over the code store (round 11 —
    * knnIvfPqFiltered's persisted twin): the allowed-id set semi-joins
    * the code scan before the shared pqServeBatch kernel, so the
    * filter composes with the tombstone anti-join and the partition-
    * keyed cell read; row-identical to the inline filtered composite
    * under the store contract (same quantizers, same codes, same
    * filter, same integer ADC), so the registered query shares its
    * oracle — spec-proven.
    */
  def searchPqStoreFiltered(s: SparkSession, dir: String,
                            queries: DataFrame, allowed: DataFrame,
                            k: Int = K): DataFrame = {
    val (cents, cs, coded) = resolvePqStore(s, dir)
    pqServeBatch(queries, cents, cs,
      coded.join(allowed, Seq("vec_id"), "left_semi"), k)
  }

  /** The registered from-store filtered read: the standard bounded
    * query batch against the store, candidates restricted to `lang`
    * documents (fixture contract doc_id = vec_id).
    */
  def knnIvfPqFilteredFromStore(s: SparkSession, dir: String,
                                emb: DataFrame, docs: DataFrame,
                                lang: String = "en", k: Int = K)
  : DataFrame =
    searchPqStoreFiltered(s, dir,
      hashSample(vecs(emb), "q", QueryCount)
        .select(col("vec_id"), col("v").as("embedding")),
      docs.filter(col("lang") === lang)
        .select(col("doc_id").as("vec_id")), k)

  /** The ONLINE read half on the compressed tier — serveStoreStream's
    * twin over the code-only store: the static side (sidecars +
    * tombstone-filtered codes) resolves ONCE at stream start, and
    * each micro-batch of query vectors is answered through the same
    * pqServeBatch kernel the batch path runs (one codepath).
    * Appends/deletes/retrains while the stream runs take effect on
    * restart — the standard static-side refresh semantics every
    * store serve here documents (an offline swap under a live stream
    * additionally requires serving stopped, the ivfCompact
    * contract). Per-batch cost: batch-sized broadcasts over the code
    * scan; no float vectors read, ever.
    */
  def servePqStoreStream(s: SparkSession, dir: String,
                         queries: DataFrame, k: Int = K)
                        (sink: (DataFrame, Long) => Unit)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    val (cents, cs, coded) = resolvePqStore(s, dir)
    queries.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(pqServeBatch(batch, cents, cs, coded, k), id)
      }
      .start()
  }

  /** Incremental ingest into the code-only store — ivfAppend's twin
    * on the compressed tier: the new batch assigns its cells against
    * the stored coarse sidecar and ENCODES against the stored `.pq`
    * fine codebook (both FIXED across appends — the FAISS contract:
    * quantizers retrain offline, never per ingest), then appends to
    * the cell-partitioned code store. The encode IS pqCodes' — the
    * one shared pqEncodeAgainst kernel, sourced from the sidecar
    * instead of a fresh corpus sample — so build-encode and
    * append-encode agree row-for-row by construction, and an
    * appended store serves
    * exactly as one whose whole corpus was encoded under the same
    * sidecars, independent of batching (spec-proven). Per-ingest
    * cost is batch-sized; no float vectors land at rest.
    */
  def ivfPqAppend(s: SparkSession, dir: String, newEmb: DataFrame): Unit = {
    val cents = storeCodebook(s, dir).localCheckpoint(false)
    pqEncodeAgainst(subSlices(vecs(newEmb), "vec_id", "v", "x"),
      storePqCodebook(s, dir))
      .join(ivfAssign(newEmb, Some(cents)).select("vec_id", "cell"),
        Seq("vec_id"))
      .write.mode("append").partitionBy("cell").parquet(dir)
  }

  /** Retrain/rebuild on the CODE-ONLY store (round-11, VERDICT #4):
    * the code tier keeps NO float rows — that is its point — so
    * `ivfRetrain`'s read-the-store's-rows loop cannot exist here;
    * retraining the quantizers REQUIRES the float source. This verb
    * is that story made executable: a fresh `ivfPqBuild` from the
    * source (fresh coarse codebook, fresh `.pq` fine codebook, fresh
    * codes — the FAISS offline-retrain semantics), staged and
    * swapped in whole (StoreOps), so serving afterwards is
    * byte-identical to a first build over the same rows
    * (spec-proven). It is also the remedy every checked-read refusal
    * (contradicting `_assign_metric` or `_encode_contract` stamp)
    * points at on this tier, so it reads NEITHER sidecar.
    *
    * Pending tombstones FOLD (the tier's compaction): deleted ids
    * anti-join out of the source before encoding and the tombstone
    * file retires with the old store — a rebuild that resurrected
    * tombstoned ids would undo every ivfDelete since the last build.
    *
    * Scale shape: one full build from the source (train + encode +
    * cell-partitioned write) — index-build cost, run offline and
    * rarely, the sim_codebook_drift/sim_pqstore_drift gauges saying
    * when. Returns the rebuilt store's vector count.
    */
  def ivfPqRebuild(s: SparkSession, dir: String, emb: DataFrame): Long = {
    require(StoreOps.exists(s, s"$dir.pq") &&
      StoreOps.exists(s, s"$dir.codebook"),
      s"no code-only store at $dir — use ivfPqBuild for a first build")
    val src = tombstones(s, dir)
      .map(t => emb.join(t.select("vec_id"), Seq("vec_id"), "left_anti"))
      .getOrElse(emb)
      .localCheckpoint(false) // one snapshot feeds train + encode
    stagePqStore(s, dir, src)
    StoreOps.swap(s, storeGroup(dir), retire = Seq(s"$dir.tombstones"))
    s.read.parquet(dir).select("vec_id").distinct().count()
  }

  /** The code tier's WHEN-TO-REBUILD gauge (sim_codebook_drift's
    * device over the PERSISTED codes): per bucket10 half of the
    * corpus, the reconstruction distortion of the store's codes
    * against the float source, in exact integer micro-units² —
    * d = |q − cq|² per (vector, subspace), summed in DECIMAL(38).
    * A stationary corpus shows equal halves; drifted ingest shows
    * the newer half fitting the FIXED `.pq` codebook worse — the
    * number an operator reads before scheduling ivfPqRebuild.
    * Everything the gauge touches is what serving already reads
    * (codes + the broadcast `.pq` sidecar) — INCLUDING the tombstone
    * anti-join (round-11 review fix): a gauge that counted deleted
    * vectors' distortion would schedule rebuilds on rows that never
    * answer queries — plus one scan of the float source; nothing
    * else moves.
    */
  def pqStoreDrift(s: SparkSession, dir: String, emb: DataFrame)
  : DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val codesRaw = s.read.parquet(dir).select("vec_id", "m", "code")
    val codes = tombstones(s, dir)
      .map(t => codesRaw.join(t, Seq("vec_id"), "left_anti"))
      .getOrElse(codesRaw)
    val cs = storePqCodebook(s, dir)
      .select(col("m"), col("code"),
        expr("transform(c, v -> cast(round(v * 1000000.0D) as bigint))")
          .as("cq"))
    codes.join(subSlicesQ(emb), Seq("vec_id", "m"))
      .join(broadcast(cs), Seq("m", "code"))
      .select(col("vec_id"), dotiFast(
        expr("zip_with(q, cq, (a, b) -> a - b)"),
        expr("zip_with(q, cq, (a, b) -> a - b)")).as("d"))
      .groupBy((graft.functions.Functions
        .bucket10(col("vec_id"), lit(DriftSalt)) < 5).cast("int")
        .as("is_old"))
      .agg(count(lit(1)).as("n_subvecs"),
        sum(col("d").cast(dec38)).as("dq"))
      .select(col("is_old"), col("n_subvecs"),
        round(col("dq").cast("double") / 1.0e12, 6).as("dist_e12"),
        round(col("dq").cast("double") / col("n_subvecs") / 1.0e6, 6)
          .as("mean_dist_e6"))
  }

  /** The sfDir-cached code-only store the from-store twins read. */
  private def cachedPqStore(s: SparkSession, d: String): String =
    StoreOps.buildOnce("ivfpq-index", d)(
      ivfPqBuild(s, _, Tables.embeddings(s, d)))

  /** V17 (round 9): IVF-PQ with an exact refine stage — the FAISS
    * IndexRefineFlat composite, the third rung of the production
    * serving ladder (coarse cell → code-only ADC → exact rerank of
    * the survivors): the ADC stage keeps the top `cand` candidates
    * per query from integer code arithmetic alone, and ONLY those
    * |Q|·cand rows fetch float vectors for the exact round-6 cosine
    * rerank. The refine corrects the quantization error in the
    * RANKING (sim_ivfpq_refine_recall prices the recovery vs the
    * unrefined sim_ivfpq_recall); what remains is pure
    * cell-restriction loss.
    *
    * Scale shape: the candidate set broadcasts (bounded |Q|·cand
    * rows), so both vector fetches are broadcast hash joins onto the
    * embedding scan — the corpus never shuffles and the float column
    * is read once, for survivors only, exactly the bandwidth story
    * a real refine tier exists for. Determinism: integer ADC cut
    * with nbr_id ties, then the established round-6 cosine with
    * nbr_id ties.
    */
  def knnIvfPqRefine(emb: DataFrame, k: Int = K,
                     cand: Int = RerankCand): DataFrame =
    exactRerank(knnIvfPq(emb, cand).select("query_id", "nbr_id"),
      vecs(emb), k)

  /** The ONE exact-rerank kernel behind every refine rung (shared by
    * the inline composite and the persisted-store serve, so their
    * row-identical/shared-oracle claim cannot drift copy-by-copy —
    * the adcTopK/pqEncodeAgainst discipline): the bounded candidate
    * set broadcasts, both float fetches are broadcast hash joins
    * onto the vector scan (the corpus never shuffles; the float
    * column is read for survivors only), then the established
    * round-6 cosine with nbr_id ties.
    */
  private def exactRerank(adc: DataFrame, e: DataFrame,
                          k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    broadcast(broadcast(adc)
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv")),
        Seq("query_id")))
      .join(e.select(col("vec_id").as("nbr_id"), col("v").as("cv")),
        Seq("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        round(cosineFast(col("qv"), col("cv")), 6).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("cos"))
  }

  /** The refine rung served FROM THE PERSISTED CODE STORE — the
    * production composition of the two tiers this library ships:
    * stage 1 reads ONLY the at-rest codes + broadcast sidecars
    * (knnIvfPqFromStore, row-identical to the inline composite by
    * the store contract), stage 2 fetches float vectors from the
    * SOURCE for the |Q|·cand survivors alone. At 100 TB this is the
    * full serving story: the 16×-compressed store answers the
    * candidate generation, the float corpus is touched only by two
    * broadcast joins of a bounded set. Row-identical to
    * knnIvfPqRefine by construction (same candidates, same kernel),
    * so the registered query shares its oracle — spec-proven.
    */
  def knnIvfPqRefineFromStore(s: SparkSession, dir: String,
                              emb: DataFrame, k: Int = K,
                              cand: Int = RerankCand): DataFrame =
    exactRerank(
      knnIvfPqFromStore(s, dir, emb, cand).select("query_id", "nbr_id"),
      vecs(emb), k)

  /** The default IVF coarse quantizer: the Lloyd-TRAINED codebook
    * (CentCount cells, IvfTrainRounds iterations from the "c" seed
    * sample) — real IVF trains its quantizer; round 5's raw strided
    * seeds both skipped training and scaled the codebook with n.
    * Training AND serving assignment both run under the pure-integer
    * L2 surrogate (round 9 — FAISS's coarse-assignment semantics;
    * the former round-6-cosine serve pick was the tier's last float
    * decision), so the whole index is oracle-checkable in exact
    * 64-bit arithmetic.
    * Cost: IvfTrainRounds+0 broadcast scans of n×CentCount integer
    * dots — linear in n; production trains offline and serves from
    * the persisted codebook (ivfBuild/knnIvfFromStore).
    */
  def ivfCodebook(emb: DataFrame): DataFrame = {
    val xq = microQuant(emb).localCheckpoint(false)
    lloydCodebookQ(xq, IvfTrainRounds)
      .select(col("cell").as("cent_id"),
        expr("transform(cq, v -> v / 1000000.0D)").as("cv"))
  }

  /** Occupancy > (Num × mean) div Den ⇒ the cell splits — 4/3 (33%
    * over mean) keeps the verb exercised on the near-uniform
    * synthetic corpus at every SF (2× mean never fires past sf0.01
    * there); production skew only makes the threshold easier to
    * trip. Integer ratio so the boundary is engine-exact.
    */
  val SplitOccNum = 4L
  val SplitOccDen = 3L

  /** The trained-codebook assignment keeping the QUANTIZED vector
    * (vec_id, cell, q) — same metric as ivfAssign (round 9: the whole
    * tier shares the integer argmin), shared by ivfSplitCells and its
    * spec so the split invariants are checkable against the
    * operator's own assignment.
    */
  private[operators] def ivfAssignQ(emb: DataFrame): DataFrame = {
    val xq = microQuant(emb).localCheckpoint(false)
    lloydAssign(xq, lloydCodebookQ(xq, IvfTrainRounds))
      .select(col("vec_id"), col("cell"), col("q"))
  }

  /** V15: IVF cell SPLITTING — the index-maintenance verb cellStats
    * monitors for: when ingest skews a cell past (SplitOccNum ×
    * mean) div SplitOccDen occupancy (probing it dominates every
    * query that lands there), retrain it into 2 sub-cells rather
    * than retraining the
    * whole coarse quantizer (the FAISS operational playbook: the
    * codebook retrains offline and rarely; a hot cell splits now).
    * Seeds are the cell's min- and max-id members (deterministic, no
    * sampling pass), one integer Lloyd assignment round against the
    * 2 seeds partitions the membership, and the sub-centroid is the
    * established floor-of-exact-double micro-unit mean. Output is
    * the long-form refined sub-codebook (cell, sub, idx, cqi,
    * n_vecs) — exactly what an index rewrite of the touched cells
    * (the ivfCompact machinery) would consume.
    *
    * Scale shape: occupancy is a cell-grain aggregate over the
    * assignment the index build already produces; the split work is
    * bounded by the OVERSIZED cells' membership (seed lookup is two
    * joins on vec_id, sub-assignment is a broadcast of ≤ 2·CentCount
    * seed rows against those members only); nothing touches the
    * well-sized cells. Determinism: occupancy threshold, seed
    * choice, assignment argmin (s, sub) and the floor-mean are all
    * exact integer arithmetic — both engines split the same cells
    * the same way.
    */
  def ivfSplitCells(emb: DataFrame): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val assigned = ivfAssignQ(emb)
      .localCheckpoint(false) // occupancy + members + seed lookups
    val occ = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val mo = occ.agg(expr("sum(n) div count(1)").as("mean_occ"))
    val over = occ.crossJoin(mo) // 1-row build side
      .filter(col("n") >
        expr(s"($SplitOccNum * mean_occ) div $SplitOccDen"))
      .select(col("cell"))
    val mem = assigned.join(over, Seq("cell"), "left_semi")
      .localCheckpoint(false) // seed ids + both seed joins + assign
    val sid = mem.groupBy(col("cell"))
      .agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
    val sl = sid
      .join(mem.select(col("vec_id").as("lo"), col("q").as("sq0")), "lo")
      .join(mem.select(col("vec_id").as("hi"), col("q").as("sq1")), "hi")
    val seeds = sl.select(col("cell"), lit(0L).as("sub"), col("sq0").as("sq"))
      .unionByName(
        sl.select(col("cell"), lit(1L).as("sub"), col("sq1").as("sq")))
    // argmin via the native heap top-k at k = 1 (round 14, the
    // pqArgmin device — the min_by struct buffer fell to
    // SortAggregate); the kept row carries q, so the former q
    // re-join on mem is gone
    val sub = TopK.perKey(
      mem.join(broadcast(seeds), Seq("cell"))
        .select(col("vec_id"), col("cell"), col("q"), col("sub"),
          (dotiFast(col("sq"), col("sq"))
            - lit(2L) * dotiFast(col("q"), col("sq"))).as("s")),
      Seq("vec_id", "cell"), Seq(("s", false), ("sub", false)), 1)
    sub.select(col("cell"), col("sub"),
        posexplode(col("q")).as(Seq("idx", "xi")))
      .groupBy(col("cell"), col("sub"), col("idx"))
      .agg(sum(col("xi").cast(dec38)).as("sx"), count(lit(1)).as("nv"))
      .select(col("cell"), col("sub"), col("idx").cast("long").as("idx"),
        floor(col("sx").cast("double") / col("nv")).cast("long").as("cqi"),
        col("nv").as("n_vecs"))
  }

  /** Unrolled DuckDB mirror of ivfSplitCells: the Lloyd ladder + the
    * final assignment block, then occupancy threshold, min/max seeds,
    * one 2-seed assignment round, floor-mean sub-centroids.
    */
  private def ivfSplitCellsSql: String =
    s"""WITH ${lloydLadderSql(IvfTrainRounds)},
       |${lloydDistBlock("F", s"c$IvfTrainRounds")},
       |occ AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM aF GROUP BY 1),
       |mo AS (SELECT SUM(n) // COUNT(*) AS mean_occ FROM occ),
       |over_c AS MATERIALIZED (SELECT cell FROM occ, mo
       |  WHERE n > ($SplitOccNum * mean_occ) // $SplitOccDen),
       |mem AS MATERIALIZED (SELECT a.vec_id, a.cell, a.q FROM aF a
       |  WHERE a.cell IN (SELECT cell FROM over_c)),
       |sid AS (SELECT cell, MIN(vec_id) AS lo, MAX(vec_id) AS hi
       |  FROM mem GROUP BY 1),
       |sl AS MATERIALIZED (
       |  SELECT s.cell, CAST(0 AS BIGINT) AS sub, m.q AS sq
       |  FROM sid s JOIN mem m ON m.vec_id = s.lo AND m.cell = s.cell
       |  UNION ALL
       |  SELECT s.cell, CAST(1 AS BIGINT), m.q
       |  FROM sid s JOIN mem m ON m.vec_id = s.hi AND m.cell = s.cell),
       |sa0 AS MATERIALIZED (SELECT m.vec_id, m.cell, m.q, l.sub,
       |    CAST(list_sum(list_transform(l.sq, v -> v * v))
       |      - 2 * list_sum(list_transform(generate_series(1, $Dim),
       |          i -> m.q[i] * l.sq[i])) AS BIGINT) AS s
       |  FROM mem m JOIN sl l ON m.cell = l.cell),
       |sa AS MATERIALIZED (SELECT vec_id, cell, q, sub FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY s, sub) AS rn FROM sa0) WHERE rn = 1)
       |SELECT cell, sub, CAST(i.i - 1 AS BIGINT) AS idx,
       |CAST(FLOOR(CAST(SUM(q[i.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cqi,
       |CAST(COUNT(*) AS BIGINT) AS n_vecs
       |FROM sa, (SELECT unnest(generate_series(1, $Dim)) AS i) i
       |GROUP BY 1, 2, 3""".stripMargin

  /** IVF-Flat ANN: coarse quantization to the nearest trained
    * centroid, then exact search inside the cell. The codebook is
    * tiny (CentCount rows) → broadcast; assignment is a scan-speed
    * pass; the only shuffle keys on cell id. Recall improves with
    * multiprobe (assign to top-P cells) — a parameter, not new
    * plumbing.
    */
  /** Micro-unit quantization of a raw vector / the codebook sidecar.
    * cv = cq/10⁶ with |cq| ≪ 2⁵², so round(cv·10⁶) recovers the
    * trained codebook's exact integer micro-units in any IEEE engine
    * (the residualSlicesQ device) — assignment against a store's
    * double sidecar equals assignment against the trainer's integer
    * codebook.
    */
  private val qOfV =
    "transform(v, x -> cast(round(x * 1000000.0D) as bigint))"
  private val qOfCv =
    "transform(cv, x -> cast(round(x * 1000000.0D) as bigint))"

  /** The IVF index table: every vector with its home cell. Centroids
    * default to the Lloyd-trained codebook of `emb`; pass `centOpt`
    * to assign against a FIXED codebook (the incremental-append
    * contract).
    *
    * Round 9: the home cell is picked by the PURE-INTEGER squared-L2
    * surrogate s = |c|² − 2·x·c over micro-quantized int64, ties on
    * cent_id — FAISS's own coarse-assignment semantics and the same
    * argmin the trainer runs (lloydAssign/pqAssign), so train and
    * serve now share one metric. The previous round-6-cosine pick was
    * the ONE float decision left in the IVF family and the prime
    * suspect in a deterministic cross-engine divergence of the
    * residual tier (driver gate r7/r8: identical tree, identical two
    * red rows); 64-bit integer arithmetic has no rounding rules to
    * diverge on. The argmin is a map-side-combinable min_by aggregate
    * (n·K candidate rows collapse to n per partition before the
    * vec-grain shuffle), not the former corpus-grain rank window.
    */
  def ivfAssign(emb: DataFrame,
                centOpt: Option[DataFrame] = None): DataFrame = {
    val e = vecs(emb)
    val cent = centOpt.getOrElse(ivfCodebook(emb))
    // argmin via the native heap top-k at k = 1 (round 14, the
    // pqArgmin device): the TWO struct-ordered min_by aggregates —
    // one of them carrying the ARRAY column v through an aggregation
    // buffer — fell back to SortAggregate (exactly the round-13
    // min_by-array codegen cliff); the heap keeps whole rows, so v
    // rides the kept row with no buffer and no sort, over the same
    // vec-grain exchange. Same argmin row under the same
    // (s, cent_id) total order.
    TopK.perKey(
      e.withColumn("q", expr(qOfV))
        .join(broadcast(cent
          .select(col("cent_id"), expr(qOfCv).as("cq"))
          .withColumn("cc", dotiFast(col("cq"), col("cq")))))
        .select(col("vec_id"), col("v"), col("cent_id"),
          (col("cc") - lit(2L) * dotiFast(col("q"), col("cq"))).as("s")),
      Seq("vec_id"), Seq(("s", false), ("cent_id", false)), 1)
      .select(col("vec_id"), col("v"), col("cent_id").as("cell"))
  }

  /** Every row of `e(vec_id, v)` ranked against the trained codebook
    * under the SAME integer surrogate as ivfAssign — (vec_id, v,
    * cent_id, cv, rn), rn = 1 is the home cell. The multiprobe
    * sibling: probe paths rank ONLY the bounded query batch, so the
    * rank window is QueryCount-grain, never corpus-grain.
    */
  private def ivfRankCells(e: DataFrame, cent: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("s"), col("cent_id"))
    e.withColumn("q", expr(qOfV))
      .join(broadcast(cent
        .withColumn("cq", expr(qOfCv))
        .withColumn("cc", dotiFast(col("cq"), col("cq")))))
      .withColumn("s", col("cc") - lit(2L) * dotiFast(col("q"), col("cq")))
      .withColumn("rn", row_number().over(w))
      .select(col("vec_id"), col("v"), col("cent_id"), col("cv"),
        col("rn"))
  }

  /** Build the persisted IVF index: the trained codebook is written
    * BESIDE the cell-partitioned index (`<dir>.codebook`) — the FAISS
    * contract (the quantizer serializes with the index; with trained
    * centroids it is no longer recoverable from corpus rows). Every
    * later append/serve reads the sidecar.
    */
  def ivfBuild(s: SparkSession, dir: String, emb: DataFrame): Unit = {
    StoreOps.requireAbsent(s, dir, "store",
      "delete it first (rebuild), or use ivfAppend/ivfRetrain")
    val cent = ivfCodebook(emb).localCheckpoint(false)
    stageCodebook(s, dir, cent)
    StoreOps.stage(s, dir)(
      ivfAssign(emb, Some(cent)).write.partitionBy("cell").parquet(_))
    StoreOps.swap(s, Seq(s"$dir.codebook", dir))
  }

  /** The coarse-assignment metric this build of the library routes
    * cells by, stamped into every `.codebook` sidecar (round-10
    * ADVICE): the round-9 cosine→integer-L2 change ALTERED cell
    * routing, so a store persisted under one metric and served under
    * another silently degrades in-cell recall — memberships sit in
    * cells the new assignment would not probe. The stamp makes the
    * mismatch loud: serving/append/split verbs refuse a sidecar
    * stamped with a different metric and direct the operator to
    * ivfRetrain (which re-assigns everything and re-stamps).
    */
  val AssignMetric = "l2-integer-v1"

  /** The stamp lives INSIDE the sidecar directory under a leading
    * underscore, so Spark's parquet discovery ignores it and it
    * travels/dies with the sidecar it describes.
    */
  private val MetricStamp = StoreOps.Stamp("_assign_metric",
    "assign_metric", AssignMetric,
    "stored memberships and fresh assignments would disagree on cell " +
      "routing (silent in-cell recall loss). Run ivfRetrain to " +
      "re-assign the store under the current metric.")

  private def stageCodebook(s: SparkSession, dir: String,
                            cb: DataFrame): Unit =
    StoreOps.stage(s, s"$dir.codebook", Some(MetricStamp))(cb.write.parquet(_))

  /** Replace the `.codebook` sidecar of a live store. */
  private def swapCodebook(s: SparkSession, dir: String,
                           cb: DataFrame): Unit = {
    stageCodebook(s, dir, cb)
    StoreOps.swap(s, Seq(s"$dir.codebook"))
  }

  /** The fine-encode identity this build produces `.pq`-sidecar codes
    * under (round-11 ADVICE — the `.pq` twin of AssignMetric): the
    * float-space d² = x·x − 2·x·c + c·c argmin with round-6 and
    * (d2, code) ties, the pqEncodeAgainst kernel. A store encoded
    * under one rule and appended/served under another would silently
    * mix code meanings, exactly like a coarse-metric mismatch — the
    * round-9 cosine→integer-L2 change proved encode contracts DO
    * drift. Checked reads refuse a contradicting stamp toward
    * ivfPqRebuild; absence warns (legacy store).
    */
  val PqEncodeContract = "d2-float-round6-v1"

  private val PqStamp = StoreOps.Stamp("_encode_contract",
    "encode_contract", PqEncodeContract,
    "stored codes and fresh encodes/LUTs would disagree on code " +
      "meaning. Run ivfPqRebuild to re-encode the store from its " +
      "float source.")

  /** Checked `.pq` fine-codebook read — every code-tier serve/append
    * path (the `.codebook` coarse sidecar is separately checked by
    * storeCodebook).
    */
  private def storePqCodebook(s: SparkSession, dir: String): DataFrame = {
    StoreOps.checkStamp(s, s"$dir.pq", PqStamp)
    s.read.parquet(s"$dir.pq")
  }

  /** Unchecked sidecar read for the verbs that must still work on a
    * metric-mismatched store — ivfRetrain (the REMEDY the checked
    * read directs operators to) and crash recovery (orphan listing
    * only consumes cell ids, which are metric-free).
    */
  private def codebookUnchecked(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir.codebook")

  /** Checked sidecar read — every serve/append/split path. Refuses a
    * sidecar stamped with a DIFFERENT assignment metric (stored
    * memberships were routed under it; assigning queries or new rows
    * under this build's metric silently degrades in-cell recall);
    * warns once per read on an unstamped legacy sidecar.
    */
  def storeCodebook(s: SparkSession, dir: String): DataFrame = {
    StoreOps.checkStamp(s, s"$dir.codebook", MetricStamp)
    codebookUnchecked(s, dir)
  }

  /** V8: incremental index maintenance — the daily-ingest shape on
    * the vector tier (dedup_incremental's ANN sibling): a new batch
    * assigns against the STORE's persisted codebook sidecar and
    * appends to the cell-partitioned store — no rebuild, no reshuffle
    * of the existing index; per-ingest cost is batch-sized. Centroids
    * stay fixed across appends (the production contract: FAISS/IVF
    * indexes retrain the coarse quantizer offline, not per ingest),
    * so an appended store answers queries exactly as a batch build
    * over the union with the same codebook would — spec-proven.
    */
  def ivfAppend(s: SparkSession, dir: String, newEmb: DataFrame): Unit = {
    val cents = storeCodebook(s, dir).localCheckpoint(false)
    ivfAssign(newEmb, Some(cents))
      .write.mode("append").partitionBy("cell").parquet(dir)
  }

  /** V10: deletion on the persisted index — the other half of the
    * index lifecycle (build → serve → append → DELETE → compact).
    * FAISS semantics: a delete tombstones the vector id (an O(batch)
    * parquet append beside the index — no index rewrite, no
    * reshuffle); serving anti-joins the tombstone table so deleted
    * vectors vanish from BOTH roles (query and candidate) at read
    * time. The trained codebook lives in the `.codebook` sidecar —
    * centroids are not corpus rows, so any payload id may be
    * tombstoned; removing a CENTROID is a retrain (replace the
    * sidecar and rebuild), as in FAISS.
    */
  def ivfDelete(s: SparkSession, dir: String, ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "refusing to delete with an empty id list")
    import s.implicits._
    ids.toDF("vec_id").write.mode("append").parquet(s"$dir.tombstones")
  }

  private def tombstones(s: SparkSession, dir: String): Option[DataFrame] =
    if (StoreOps.exists(s, s"$dir.tombstones"))
      Some(s.read.parquet(s"$dir.tombstones"))
    else None

  /** The full index relation: the cell-partitioned base store plus
    * the streaming-ingest tail (`<dir>.ingest/batch=<id>` subdirs —
    * see ingestStoreStream). The LSM shape: the base is
    * cell-partitioned (a one-cell probe reads one directory), the
    * tail is small and recent and scanned whole; ivfCompact folds the
    * tail into the base. Falls back to the base alone when no tail
    * exists, so batch-built stores read exactly as before.
    */
  def storeIndex(s: SparkSession, dir: String): DataFrame = {
    val baseDf = s.read.parquet(dir)
      .select(col("vec_id"), col("v"), col("cell"))
    if (hasTail(s, dir))
      baseDf.unionByName(s.read.parquet(s"$dir.ingest")
        .select(col("vec_id"), col("v"), col("cell")))
    else baseDf
  }

  /** Whether the store has a streaming-ingest tail (batch subdirs). */
  private def hasTail(s: SparkSession, dir: String): Boolean =
    StoreOps.list(s, s"$dir.ingest").exists(_.isDirectory)

  /** The store's LIVE view — base + ingest tail minus tombstones; the
    * one derivation every serving verb (top-k or range, batch or
    * stream) must read so deletes answer nowhere.
    */
  private def liveIndex(s: SparkSession, dir: String): DataFrame = {
    val idx = storeIndex(s, dir)
    tombstones(s, dir)
      .map(t => idx.join(t, Seq("vec_id"), "left_anti")).getOrElse(idx)
  }

  /** Serving read over the tombstoned store: live rows only. */
  def searchStoreLive(s: SparkSession, dir: String, k: Int = K): DataFrame =
    searchAssigned(liveIndex(s, dir), k)

  /** Range search over the persisted store's live view — the radius
    * twin of searchStoreLive, on the same rangeCells kernel as the
    * inline rangeSearchIvf (store-vs-inline equality is a
    * construction fact, like the knn tiers).
    */
  def searchStoreRange(s: SparkSession, dir: String,
                       tau: Double = RangeTau): DataFrame = {
    val live = liveIndex(s, dir).localCheckpoint(false) // queries + index
    rangeCells(hashSample(live, "q", QueryCount), live, tau)
  }

  /** Compaction: make the serving read tombstone-free and tail-free,
    * with results unchanged by construction; returns rows removed.
    *  - With a streaming-ingest tail, the live view (base + tail minus
    *    tombstones) is staged as a whole new store and swapped in
    *    (StoreOps), and the `.ingest` and `.tombstones` dirs retire
    *    with the old generation in the same swap, so ivfRecover
    *    repairs a crash at any step.
    *  - Without one, tombstoned rows drop cell by cell, rewriting ONLY
    *    the cells that hold them (the Erasure copy-on-write device on
    *    the cell axis — untouched cell directories are never read or
    *    written), then the tombstone table clears. Idempotent.
    *
    * CONCURRENCY CONTRACT (single-writer, offline): compaction
    * physically replaces files that live serve/ingest streams hold in
    * their resolved static plans — a serve query spanning the swap
    * would read deleted files. Stop serving and ingest, compact,
    * restart: the same static-side refresh semantics the delete path
    * already documents, and what SimilaritySpec's
    * stop-compact-restart case asserts.
    */
  def ivfCompact(s: SparkSession, dir: String): Long = {
    import s.implicits._
    val tombs = tombstones(s, dir)
      .map(_.select("vec_id").distinct().localCheckpoint(false))
    if (hasTail(s, dir)) {
      val nRemoved = tombs.map(t => storeIndex(s, dir)
        .join(t, Seq("vec_id"), "left_semi").count()).getOrElse(0L)
      StoreOps.stage(s, dir)(
        liveIndex(s, dir).write.partitionBy("cell").parquet(_))
      StoreOps.swap(s, Seq(dir),
        retire = Seq(s"$dir.tombstones", s"$dir.ingest"))
      return nRemoved
    }
    val tomb = tombs.getOrElse(return 0L)
    val idx = s.read.parquet(dir)
    val nRemoved = idx.join(tomb, Seq("vec_id"), "left_semi").count()
    val touched = idx.join(tomb, Seq("vec_id"), "left_semi")
      .select("cell").distinct().as[Long].collect().sorted.toSeq
    if (touched.nonEmpty) {
      val remaining = idx.filter(col("cell").isin(touched: _*))
        .join(tomb, Seq("vec_id"), "left_anti")
        .localCheckpoint() // materialize off the files being replaced
      val keptCells = remaining.select("cell").distinct()
        .as[Long].collect().toSet
      remaining.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell").parquet(dir)
      touched.filterNot(keptCells)
        .foreach(c => StoreOps.delete(s, s"$dir/cell=$c"))
    }
    StoreOps.delete(s, s"$dir.tombstones")
    nRemoved
  }

  /** V15's APPLY half: physically split the persisted store's
    * oversized cells (the sim_ivf_split_cells decision re-derived
    * from the store's own occupancy) into 2-seed sub-cells — new
    * sub-centroids replace the split parents in the `.codebook`
    * sidecar, and ONLY the touched cell directories are rewritten
    * (ivfCompact's copy-on-write device on the cell axis). Seeds are
    * the cell's min/max-id members; assignment uses the STORE's own
    * metric (the integer L2 surrogate, the ivfAssign contract) so the
    * refined index is what ivfBuild would have produced with those
    * sub-centroids; sub-centroid vectors are micro-unit floor-means.
    * Same OFFLINE single-writer contract as ivfCompact (the sidecar
    * and cell swap invalidate live static plans — stop, split,
    * restart). Returns the number of cells split.
    *
    * Scale shape: occupancy is a cell-grain aggregate; all split
    * work (seed lookup, 2-way assignment, mean, rewrite) is bounded
    * by the OVERSIZED cells' membership; untouched cell directories
    * are never read or written. Serving afterwards probes sub-cell
    * occupancy instead of the hot cell's — the point of the verb.
    */
  def ivfApplySplit(s: SparkSession, dir: String): Long = {
    import s.implicits._
    // A streaming-ingest tail holds rows keyed by the PARENT cell ids
    // this split retires — applying over a live tail would orphan
    // those rows against the new sidecar. Fold the tail first
    // (ivfCompact), exactly like the offline contract already
    // requires for serving.
    require(!StoreOps.exists(s, s"$dir.ingest"),
      s"refusing to split with a live ingest tail at $dir.ingest — " +
        "run ivfCompact first (stop-compact-split-restart)")
    requireRecovered(s, dir, "split") // pre-commit crash debris check
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val idx = s.read.parquet(dir)
      .select(col("vec_id"), col("v"), col("cell"))
    val occ = idx.groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val mo = occ.agg(expr("sum(n) div count(1)").as("mean_occ"))
    val overCells = occ.crossJoin(mo) // 1-row build side
      .filter(col("n") >
        expr(s"($SplitOccNum * mean_occ) div $SplitOccDen"))
      .select(col("cell")).as[Long].collect().sorted.toSeq
    if (overCells.isEmpty) return 0L
    val cb = storeCodebook(s, dir)
    val maxId = cb.agg(max(col("cent_id"))).as[Long].head()
    val mem = idx.filter(col("cell").isin(overCells: _*))
      .localCheckpoint() // seeds + assignment, off the swapped files
    val sid = mem.groupBy(col("cell"))
      .agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
    val sl = sid
      .join(mem.select(col("vec_id").as("lo"), col("v").as("sv0")), "lo")
      .join(mem.select(col("vec_id").as("hi"), col("v").as("sv1")), "hi")
    val seeds = sl
      .select(col("cell"), lit(0L).as("sub"), col("sv0").as("sv"))
      .unionByName(
        sl.select(col("cell"), lit(1L).as("sub"), col("sv1").as("sv")))
    // deterministic fresh cent ids: dense split-cell rank, 2 per cell
    val ids = overCells.zipWithIndex.flatMap { case (c, r) =>
      Seq((c, 0L, maxId + 1 + 2L * r), (c, 1L, maxId + 2 + 2L * r))
    }.toDF("cell", "sub", "new_cell")
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("s"), col("sub"))
    val assigned = mem.withColumn("q", expr(qOfV))
      .join(broadcast(seeds.withColumn("sq",
        expr("transform(sv, x -> cast(round(x * 1000000.0D) as bigint))"))),
        Seq("cell"))
      .withColumn("s", dotiFast(col("sq"), col("sq"))
        - lit(2L) * dotiFast(col("q"), col("sq")))
      .withColumn("rn", row_number().over(wA)).filter(col("rn") === 1)
      .join(broadcast(ids), Seq("cell", "sub"))
      .select(col("vec_id"), col("v"), col("new_cell").as("cell"))
      .localCheckpoint() // rewrite source, off the swapped files
    val newCents = assigned
      .select(col("cell"), posexplode(
        expr("transform(v, x -> cast(round(x * 1000000.0D) as bigint))"))
        .as(Seq("idx", "xi")))
      .groupBy(col("cell"), col("idx"))
      .agg(sum(col("xi").cast(dec38)).as("sx"), count(lit(1)).as("nv"))
      .withColumn("ci",
        floor(col("sx").cast("double") / col("nv")).cast("long"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(idx, ci)))," +
        " p -> p.ci / 1000000.0D)").as("cv"))
      .select(col("cell").as("cent_id"), col("cv"))
    val cb2 = cb
      .join(overCells.toDF("cent_id"), Seq("cent_id"), "left_anti")
      .unionByName(newCents)
      .localCheckpoint() // materialize before the sidecar overwrite
    // Copy-on-write cell swap: the sub-cell dirs land first (fresh ids
    // the old sidecar does not reference, so serving is untouched),
    // the sidecar swap routes queries to them, then the parents drop.
    // Crash debris is unreferenced cells either way — ivfRecover.
    assigned.write.mode("append").partitionBy("cell").parquet(dir)
    swapCodebook(s, dir, cb2)
    overCells.foreach(c => StoreOps.delete(s, s"$dir/cell=$c"))
    overCells.size.toLong
  }

  /** V17 (round 9): crash recovery for every swap verb on the store,
    * as an executable verb. First StoreOps.recover brings the
    * sidecars (and a rebuild's or a tail fold's cells) to a committed
    * generation; then
    * every `cell=` directory the `.codebook` sidecar does not
    * reference is deleted. Those are the swap verbs' debris: new cells
    * of an uncommitted split/retrain, or the retired cells of a
    * committed one — DUPLICATES of live vectors under dead cell ids,
    * which storeIndex's base read would scan. Run it before serving
    * resumes after a crash; then re-run an uncommitted verb. Returns
    * the number of cell directories removed.
    */
  def ivfRecover(s: SparkSession, dir: String): Long = {
    // a staged cell dir marks a whole-store rewrite (a rebuild or a
    // tail fold), whose staged rows already fold the tombstones and the
    // tail — finishing it retires both. A tail fold swaps the cell dir
    // alone: past its commit the live sidecar stands beside a missing
    // dir, which no sidecar swap leaves (it renames the sidecar last).
    val fold = StoreOps.exists(s, s"$dir.codebook") && !StoreOps.exists(s, dir)
    StoreOps.recover(s, if (fold) Seq(dir) else storeGroup(dir),
      if (StoreOps.exists(s, StoreOps.stagePath(dir)))
        Seq(s"$dir.tombstones", s"$dir.ingest") else Nil)
    val orphans = orphanCells(s, dir)
    orphans.foreach(c => StoreOps.delete(s, s"$dir/cell=$c"))
    orphans.size.toLong
  }

  /** The crash-debris listing ivfRecover deletes: `cell=` directories
    * whose id the `.codebook` sidecar does not reference. Shared with
    * the swap verbs' entry guard (requireRecovered).
    */
  private def orphanCells(s: SparkSession, dir: String): Seq[Long] = {
    import s.implicits._
    // unchecked read: recovery (and the swap-verb guard built on it)
    // must work on a metric-mismatched store — it consumes only ids
    val live = codebookUnchecked(s, dir).select("cent_id").as[Long]
      .collect().toSet
    StoreOps.list(s, dir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(st => st.getPath.getName.stripPrefix("cell=").toLong)
      .filterNot(live)
      .sorted
  }

  /** ENFORCED recovery precondition for the swap verbs (round-10
    * ADVICE; was docstring-only): both ivfApplySplit and ivfRetrain
    * derive their fresh cell ids from the UNCHANGED sidecar max, so a
    * re-run after a pre-commit crash recomputes the SAME ids and
    * mode("append")s into the leftover debris dirs — silently
    * duplicating every vector in the new cells. With ivfRecover an
    * executable verb, a skipped recovery now fails loudly at entry
    * instead of corrupting the store.
    */
  private def requireRecovered(s: SparkSession, dir: String,
                               verb: String): Unit = {
    val orphans = orphanCells(s, dir)
    require(orphans.isEmpty,
      s"refusing to $verb $dir: cell dirs not referenced by the " +
        s".codebook sidecar exist (cell=${orphans.take(5).mkString(", cell=")}" +
        s"${if (orphans.size > 5) ", ..." else ""}) — crash debris from " +
        "an interrupted swap; a re-run would re-derive the same fresh " +
        "ids from the unchanged sidecar max and append duplicates into " +
        "them. Run ivfRecover first.")
  }

  /** V17 (round 9): OFFLINE coarse-quantizer retrain on the persisted
    * store — the verb sim_codebook_drift gauges the need for (the
    * FAISS operational loop: the gauge says WHEN, this is the
    * retrain): re-train the codebook from the store's CURRENT rows
    * with the same deterministic Lloyd trainer ivfBuild uses, re-
    * assign every vector under the integer surrogate, and swap the
    * sidecar + cell layout the ivfApplySplit way. Retrained cell ids are FRESH (dense rank past the
    * old sidecar's max — the applySplit id device), so new dirs can
    * never collide with, or append into, live ones; the remap is
    * order-preserving, so argmin tie-breaks match what a fresh
    * ivfBuild over the same rows would pick and serving is
    * byte-identical to that fresh build (spec-proven).
    *
    * OFFLINE single-writer contract (ivfCompact's): refuses a live
    * ingest tail (its rows are keyed by cells the retrain retires)
    * and refuses pending tombstones (a retrain would re-index rows a
    * compaction is about to drop) — stop, compact, retrain, restart.
    * Returns the retrained cell count.
    *
    * Scale shape: one training pass (IvfTrainRounds broadcast scans)
    * + one assignment scan + a full cell-partitioned rewrite — the
    * cost of an index build, run offline and rarely, exactly like
    * FAISS's train_residual/retrain cycle.
    */
  def ivfRetrain(s: SparkSession, dir: String): Long = {
    import s.implicits._
    require(!StoreOps.exists(s, s"$dir.ingest"),
      s"refusing to retrain with a live ingest tail at $dir.ingest — " +
        "run ivfCompact first (stop-compact-retrain-restart)")
    require(!StoreOps.exists(s, s"$dir.tombstones"),
      s"refusing to retrain with pending tombstones at " +
        s"$dir.tombstones — run ivfCompact first (a retrain must not " +
        "re-index rows a compaction is about to drop)")
    requireRecovered(s, dir, "retrain") // pre-commit crash debris check
    val idx = s.read.parquet(dir).select(col("vec_id"), col("v"))
      .localCheckpoint() // train + assign read off the replaced files
    val emb = idx.select(col("vec_id"), col("v").as("embedding"))
    // unchecked read: retrain IS the remedy storeCodebook's metric
    // check directs operators to, and it needs only the old max id
    val maxId = codebookUnchecked(s, dir).agg(max(col("cent_id")))
      .as[Long].head()
    val cent = ivfCodebook(emb).localCheckpoint(false)
    // fresh, order-preserving ids: sorted dense rank past the old
    // sidecar's max (bounded CentCount-row driver hop, the applySplit
    // id device — no single-partition window)
    val remap = cent.select(col("cent_id")).as[Long].collect().sorted
      .zipWithIndex.map { case (c, r) => (c, maxId + 1 + r) }
      .toSeq.toDF("cent_id", "nid")
    val cent2 = cent.join(broadcast(remap), Seq("cent_id"))
      .select(col("nid").as("cent_id"), col("cv"))
      .localCheckpoint(false)
    val assigned = ivfAssign(emb, Some(cent2))
      .localCheckpoint() // materialize before any file mutation
    val oldCells = s.read.parquet(dir).select("cell").distinct()
      .as[Long].collect().sorted.toSeq
    // the ivfApplySplit order: new cells, sidecar swap, old cells
    assigned.write.mode("append").partitionBy("cell").parquet(dir)
    swapCodebook(s, dir, cent2)
    oldCells.foreach(c => StoreOps.delete(s, s"$dir/cell=$c"))
    remap.count()
  }

  /** Streaming index ingest — the ONLINE write half of the lifecycle
    * (serveStoreStream is the read half): each micro-batch assigns
    * against the store's FIXED codebook sidecar (the ivfAppend
    * contract — the coarse quantizer retrains offline, never per
    * ingest) and lands in its OWN batchId-keyed tail subdir
    * (`<dir>.ingest/batch=<id>`), which replay OVERWRITES — the
    * idempotent exactly-once-per-batch shape a raw append cannot
    * give. Batch cost is batch-sized; the existing index is never
    * reshuffled; after any prefix of batches storeIndex answers
    * exactly as a batch build over the union with the same codebook
    * (spec-proven) — so ingest and serving can run concurrently, the
    * standard streaming-upsert index deployment. ivfCompact folds the
    * tail into the cell-partitioned base offline (see its
    * concurrency contract).
    */
  /** The per-micro-batch ingest writer: assign against the FIXED
    * codebook, OVERWRITE the batch's own batchId-keyed subdir. The
    * overwrite is what makes replay idempotent — after a failure,
    * Structured Streaming re-runs the last uncommitted batch with the
    * SAME batchId, which rewrites the same subdir instead of
    * appending duplicates (the round-6 ADVICE contract fix). Exposed
    * separately so the spec can drive a replay directly.
    */
  def ingestBatchWrite(cents: DataFrame, batch: DataFrame,
                       dir: String, batchId: Long): Unit =
    ivfAssign(batch, Some(cents))
      .write.mode("overwrite").parquet(s"$dir.ingest/batch=$batchId")

  def ingestStoreStream(s: SparkSession, dir: String,
                        vectors: DataFrame,
                        checkpoint: Option[String] = None)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    // ENFORCED contract (round 9; was docstring-only): the checkpoint
    // keeps batchIds monotone across restarts, so a replayed batch
    // overwrites its own subdir and a resumed stream never reuses a
    // committed id. A checkpoint-less stream restarts batchIds at 0,
    // and because batch writes are mode("overwrite") on batchId-keyed
    // subdirs it would silently OVERWRITE previously committed tail
    // batches — data loss, not a duplicate. Refuse to start without a
    // checkpoint when the store already has an ingest tail; a
    // checkpoint-less stream over a tail-free store (one-shot
    // backfills, tests) can only create batch dirs, never clobber.
    val tailHasBatches = hasTail(s, dir)
    // a FRESH checkpoint restarts batchIds at 0 exactly like no
    // checkpoint — resuming over a tail requires the stream's OWN
    // checkpoint. Ownership is gated on the checkpoint's offsets/
    // dir, NOT commits/ (round-10 ADVICE): Structured Streaming
    // writes offsets/<id> BEFORE a batch runs and commits/<id> after,
    // so a crash during the FIRST batch (tail dir written, commit
    // not) leaves commits/ empty while offsets/0 exists — that
    // checkpoint STARTED batch 0 and owns the tail's batchIds, and
    // its replay is the documented idempotent overwrite
    // (ingestBatchWrite), which must be allowed, not refused. A
    // fresh checkpoint has neither dir, so the hazard gate is
    // unchanged.
    val ckResumes =
      checkpoint.exists(c => StoreOps.list(s, s"$c/offsets").nonEmpty)
    require(!tailHasBatches || ckResumes,
      s"refusing to ingest into $dir: $dir.ingest already holds " +
        "committed batches, and a stream without its own checkpoint " +
        "restarts batchIds at 0 and OVERWRITES them — resume with " +
        "the original checkpointLocation (the production contract) " +
        "or fold the tail first (ivfCompact)")
    val cents = storeCodebook(s, dir).localCheckpoint(false)
    val w = vectors.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatchWrite(cents, batch, dir, batchId)
      }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** Exact search within cells of a prebuilt index table, for the
    * bounded query batch (the "q" hashSample of the indexed ids —
    * consistent with the whole family). Cost: QueryCount × cell
    * occupancy ≈ QueryCount·n/CentCount pairs — linear in n; the
    * round-5 all-ids-as-queries form was n²/cells by construction.
    * The index table is materialized once (it feeds the query sample,
    * the query side and the candidate side).
    */
  def searchAssigned(assigned0: DataFrame, k: Int = K): DataFrame = {
    val assigned = assigned0.localCheckpoint(false)
    searchCells(hashSample(assigned, "q", QueryCount), assigned, k)
  }

  /** The in-cell search kernel: explicit query rows (vec_id, v, cell)
    * against an index table of the same shape — shared by the batch
    * path (searchAssigned's bounded sample) and the streaming serving
    * path (each micro-batch's queries). The query side broadcasts;
    * the only shuffle keys on cell id.
    */
  def searchCells(q: DataFrame, assigned: DataFrame,
                  k: Int = K): DataFrame = {
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    broadcast(q.as("a"))
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("nbr_id"),
        round(cosineFast(col("a.v"), col("b.v")), 6).as("cos"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("cos"))
  }

  /** Streaming kNN serving over the persisted IVF store — the ONLINE
    * half of the index lifecycle (build/append/compact are the
    * offline half): a stream of query vectors is answered per
    * micro-batch through foreachBatch, the standard
    * stream-joins-static-index serving job. Each batch assigns its
    * queries to home cells with the store's broadcast codebook
    * sidecar, cell-joins against the cell-partitioned index (a
    * single-cell probe reads one directory), and hands per-query
    * top-k to `sink`. State-free by construction — a query's answer
    * completes within its batch — so there is no watermark, no state
    * store, and restart semantics are exactly-once per the sink's
    * idempotence, like every serving job. Results are row-identical
    * to the batch searchCells over the same queries (spec-proven).
    */
  def serveStoreStream(s: SparkSession, dir: String,
                       queries: DataFrame, k: Int = K)
                      (sink: (DataFrame, Long) => Unit)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    // serve the LIVE view: tombstoned ids must not answer (the
    // searchStoreLive contract), and the streaming-ingest tail
    // serves too (storeIndex). The static side is resolved at
    // stream start — deletes, new ingest batches and compactions
    // while the stream runs take effect on restart, the standard
    // static-side refresh semantics (compaction additionally
    // REQUIRES serving stopped — see ivfCompact's contract).
    val idx = liveIndex(s, dir)
    val cents = storeCodebook(s, dir).localCheckpoint(false)
    queries.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val q = ivfAssign(batch, Some(cents))
        sink(searchCells(q, idx, k), id)
      }
      .start()
  }

  /** Streaming range serve — serveStoreStream's radius twin: the same
    * live static side and per-batch coarse assignment, answered
    * through the rangeCells kernel (one codepath with the batch verb;
    * spec proves stream ≡ batch over the same queries).
    */
  def serveRangeStream(s: SparkSession, dir: String, queries: DataFrame,
                       tau: Double = RangeTau)
                      (sink: (DataFrame, Long) => Unit)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    val idx = liveIndex(s, dir)
    val cents = storeCodebook(s, dir).localCheckpoint(false)
    queries.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val q = ivfAssign(batch, Some(cents))
        sink(rangeCells(q, idx, tau), id)
      }
      .start()
  }

  def knnIvf(emb: DataFrame, k: Int = K): DataFrame =
    searchAssigned(ivfAssign(emb), k)

  /** Radius cut for the range-search twin — on this corpus's cosine
    * distribution (p99 ≈ 0.30) the radius keeps the result a small
    * multiple of the query batch, the regime range search exists for.
    */
  val RangeTau = 0.30

  /** The in-cell RANGE kernel — searchCells' radius twin: same
    * broadcast query side, same cell-keyed join, but the cut is a
    * pure predicate instead of a rank window.
    */
  def rangeCells(q: DataFrame, assigned: DataFrame,
                 tau: Double = RangeTau): DataFrame =
    broadcast(q.as("a"))
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("nbr_id"),
        round(cosineFast(col("a.v"), col("b.v")), 6).as("cos"))
      .filter(col("cos") >= tau)

  /** FAISS range_search — the radius twin of the top-k family: ALL
    * in-cell candidates with cosine ≥ tau, not the best k. Same
    * coarse assignment and broadcast query batch as knnIvf (nprobe=1);
    * only the cut differs, and that difference is the scale win: no
    * per-query rank window means no top-k sort state at all — the
    * scored stream passes one codegen'd predicate, so range search is
    * strictly CHEAPER than knn over the same candidates while
    * returning everything a radius-based near-dup or recall pass
    * needs (SimilaritySpec pins it to the unbounded top-k filtered at
    * the radius).
    */
  def rangeSearchIvf(emb: DataFrame, tau: Double = RangeTau): DataFrame = {
    val assigned = ivfAssign(emb).localCheckpoint(false) // queries + index
    rangeCells(hashSample(assigned, "q", QueryCount), assigned, tau)
      .orderBy(col("query_id"), col("cos").desc, col("nbr_id"))
  }

  /** V15 (round 7): metadata-filtered IVF search — cell ∧ filter,
    * the composition knnFiltered's docstring promised: the predicate
    * restricts the CANDIDATE side via a left-semi join on the
    * ASSIGNED index table (pre-filter, so k results stay guaranteed-
    * filtered), and the cell restriction applies on top — each query
    * scans only the allowed rows of its home cell. The semi-join
    * commutes with the cell restriction, so at scale the filter
    * pushes into the cell-partitioned store read and the shuffle
    * still keys on cell id. Queries are the bounded batch drawn from
    * the FULL index (a query need not satisfy the filter — it asks
    * for filtered neighbors).
    */
  def knnIvfFiltered(emb: DataFrame, docs: DataFrame,
                     lang: String = "en", k: Int = K): DataFrame = {
    val assigned = ivfAssign(emb).localCheckpoint(false)
    val allowed = docs.filter(col("lang") === lang)
      .select(col("doc_id").as("vec_id"))
    val cand = assigned.join(allowed, Seq("vec_id"), "left_semi")
    searchCells(hashSample(assigned, "q", QueryCount), cand, k)
  }

  /** V7: the persisted-index serving path — build the IVF assignment
    * table ONCE per (JVM, source), write it cell-partitioned to a
    * store directory, and serve every later query from the store
    * read (the ml_recommendations_from_store pattern on the vector
    * tier: a production ANN index is built by an indexing job and
    * read by the query fleet, not re-derived per query; the
    * cell-partitioned layout means a single-cell probe reads one
    * directory). Results are row-identical to the inline knnIvf by
    * construction — same index relation, same search — so the
    * registered query shares sim_knn_ivf's oracle.
    */
  /** Integer coarse assignment (round 9, FAISS L2 semantics) as the
    * CTE `ivfrk(vec_id, cell, rn)`: every vector ranked against the
    * trained integer codebook `c<rounds>` by s = |c|² − 2·x·c with
    * (s, cell) ties — operand-for-operand the Spark
    * ivfAssign/ivfRankCells argmin. Composes after lloydLadderSql
    * (needs `xq` and `c<rounds>`).
    */
  private def ivfRankSql(rounds: Int = IvfTrainRounds): String =
    s"""ivfrk AS MATERIALIZED (SELECT vec_id, cell, ROW_NUMBER() OVER (
       |  PARTITION BY vec_id ORDER BY s, cell) AS rn FROM (
       |  SELECT x.vec_id, c.cell,
       |    CAST(list_sum(list_transform(c.cq, v -> v * v))
       |      - 2 * list_sum(list_transform(generate_series(1, $Dim),
       |          i -> x.q[i] * c.cq[i])) AS BIGINT) AS s
       |  FROM xq x, c$rounds c))""".stripMargin

  /** Lloyd codebook + integer cell assignment as CTEs ending in
    * `assigned(vec_id, v, cell)` — the coarse-quantization prelude
    * shared by every IVF-family oracle.
    */
  private lazy val ivfAssignedSql =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |${lloydLadderSql(IvfTrainRounds)},
       |${ivfRankSql()},
       |assigned AS MATERIALIZED (SELECT r.vec_id, e.v, r.cell
       |  FROM ivfrk r JOIN e ON e.vec_id = r.vec_id
       |  WHERE r.rn = 1)""".stripMargin

  /** The in-cell scored stream (query batch × home-cell candidates) —
    * the shared prefix of the top-k oracle and its range twin, so the
    * two cuts provably read the SAME relation.
    */
  private lazy val ivfScoredSql =
    s"""$ivfAssignedSql,
       |$qsetSql,
       |scored AS (SELECT a.vec_id query_id, b.vec_id nbr_id,
       |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
       |  FROM assigned a JOIN qset qs ON a.vec_id = qs.vec_id
       |  JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id)""".stripMargin

  /** Shared oracle for sim_knn_ivf and its from-store twin. */
  private lazy val ivfSql =
    s"""WITH $ivfScoredSql
       |SELECT query_id, CAST(rk AS BIGINT) rank, nbr_id, cos FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, nbr_id) rk FROM scored)
       |WHERE rk <= $K""".stripMargin

  /** Oracle for sim_range_search — same scored stream, radius cut. */
  private lazy val rangeSql =
    s"""WITH $ivfScoredSql
       |SELECT query_id, nbr_id, cos FROM scored
       |WHERE cos >= $RangeTau
       |ORDER BY query_id, cos DESC, nbr_id""".stripMargin

  def knnIvfFromStore(s: SparkSession, d: String, k: Int = K): DataFrame = {
    searchAssigned(cachedStoreIndex(s, d), k)
  }

  /** The sfDir-cached persisted index the from-store twins read (one
    * build per sfDir per JVM — the from_store device).
    */
  private def cachedStoreIndex(s: SparkSession, d: String): DataFrame = {
    val dir = StoreOps.buildOnce("ivf-index", d)(
      ivfBuild(s, _, Tables.embeddings(s, d)))
    s.read.parquet(dir).select(col("vec_id"), col("v"), col("cell"))
  }

  /** Range search served from the persisted store — row-identical to
    * the inline rangeSearchIvf (same deterministic build, same
    * rangeCells kernel), so it shares rangeSql, like the knn twin.
    */
  def rangeSearchIvfFromStore(s: SparkSession, d: String,
                              tau: Double = RangeTau): DataFrame = {
    val assigned = cachedStoreIndex(s, d).localCheckpoint(false)
    rangeCells(hashSample(assigned, "q", QueryCount), assigned, tau)
      .orderBy(col("query_id"), col("cos").desc, col("nbr_id"))
  }

  /** IVF with multi-cell probing: every vector still LIVES in its one
    * home cell, but each QUERY searches its `probes` nearest cells —
    * the IVF nprobe knob, the recall lever that costs probes× probe
    * rows (not more index). A (query, candidate) pair meets at most
    * once (the candidate has one home cell), so no dedup pass; the
    * shuffle key stays the cell id.
    */
  def knnIvfProbe(emb: DataFrame, k: Int = K, probes: Int = 2): DataFrame = {
    val e = vecs(emb)
    val cent = ivfCodebook(emb).localCheckpoint(false) // home + probes
    // home cells via the map-side-combinable integer argmin; probe
    // cells ranked only for the bounded query batch (round 9: the
    // former shared corpus-grain rank window cost a n·K-row sort for
    // a QueryCount-sized probe side)
    val home = ivfAssign(emb, Some(cent))
    val probeSide = ivfRankCells(
      e.join(broadcast(hashSample(e, "q", QueryCount).select("vec_id")),
        Seq("vec_id"), "left_semi"), cent)
      .filter(col("rn") <= probes)
      .select(col("vec_id"), col("v"), col("cent_id").as("cell"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    broadcast(probeSide.as("a"))
      .join(home.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("nbr_id"),
        round(cosineFast(col("a.v"), col("b.v")), 6).as("cos"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("cos"))
  }

  val CollapseT = 0.9

  /** V11: corpus diversity / embedding-collapse monitor — the
    * training-health metric the curation tier reads next to the dedup
    * rate: when an encoder collapses (or a corpus narrows), pairwise
    * cosines drift toward 1 and retrieval/contrastive training decay
    * long before any single dup detector fires. Over the strided
    * sample (the established query set): mean pairwise cosine,
    * min/max, and the share of pairs above `CollapseT` — the
    * near-collapse mass. Exact cross-engine: each round-6 cosine
    * re-quantizes to integer ppm units and every aggregate is an
    * integer sum/extreme (mean is one floor division at emission).
    *
    * Scale: sample × sample with the sample broadcast — a FIXED
    * QueryCount² pair count regardless of corpus size; the sample
    * size is the precision knob and the metric is sample-stable by
    * design (it estimates a corpus-level mean).
    */
  def corpusDiversity(emb: DataFrame): DataFrame = {
    val e = hashSample(vecs(emb), "q", QueryCount)
    broadcast(e.as("a"))
      .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(round(cosineFast(col("a.v"), col("b.v")), 6).as("cos"))
      .select(round(col("cos") * 1000000.0d).cast("long").as("q"),
        col("cos"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("q")), lit(0L)).as("sq"),
        min(col("cos")).as("min_cos"), max(col("cos")).as("max_cos"),
        coalesce(sum(when(col("cos") > CollapseT, 1L).otherwise(0L)),
          lit(0L)).as("n_hi"))
      .select(col("n_pairs"),
        // offset-then-divide: sq can be negative (cosines in [-1,1])
        // and Spark `div` truncates while DuckDB `//` floors; adding
        // 2e6 per pair (> |q| bound 1e6) makes the dividend positive
        // so both engines agree, then the offset subtracts back out
        expr("case when n_pairs = 0 then 0L else " +
          "(sq + 2000000 * n_pairs) div n_pairs - 2000000 end")
          .as("mean_cos_ppm"),
        col("min_cos"), col("max_cos"),
        expr("case when n_pairs = 0 then 0L else " +
          "(n_hi * 1000000) div n_pairs end").as("collapse_share_ppm"))
  }

  val NprobeSweep: Seq[Int] = Seq(1, 2, 4)

  /** V9: nprobe sensitivity sweep — recall@k at every nprobe in
    * `NprobeSweep` against the brute baseline, from ONE assignment +
    * ONE scoring pass (the dedup_threshold_sweep device on the index
    * axis: the candidate set at the largest probe count contains
    * every smaller one, so each candidate row carries its query's
    * cell_rank and the per-p top-k is a rank window over the
    * cell_rank ≤ p restriction — no re-probe, no re-score). This is
    * how the nprobe knob actually gets picked: the monitors price one
    * operating point each; the sweep draws the recall-vs-cost curve
    * in a single job.
    *
    * Scale: candidate generation is the knnIvfProbe shape at max(p)
    * (cell-keyed shuffle, queries replicated ≤ max(p)×); the sweep
    * adds only |sweep|-way replication of CANDIDATE rows (bounded by
    * probes × cell occupancy), and every aggregate is query-grain.
    */
  def nprobeSweep(emb: DataFrame, k: Int = K): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val e = vecs(emb)
    val cent = ivfCodebook(emb).localCheckpoint(false) // home + probes
    val home = ivfAssign(emb, Some(cent))
    val probeSide = ivfRankCells(
      e.join(broadcast(hashSample(e, "q", QueryCount).select("vec_id")),
        Seq("vec_id"), "left_semi"), cent)
      .filter(col("rn") <= NprobeSweep.max)
      .select(col("vec_id"), col("v"), col("cent_id").as("cell"),
        col("rn").as("cell_rank"))
    val cand = probeSide.as("a")
      .join(home.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("a.cell_rank"),
        col("b.vec_id").as("nbr_id"),
        round(cosineFast(col("a.v"), col("b.v")), 6).as("cos"))
    val ps = NprobeSweep.map(_.toLong).toDF("nprobe")
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("nprobe"), col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    // the probe-side candidate scoring (behind the trained codebook's
    // serial ladder) and the exact brute baseline are independent
    // until the hit join — overlap them (guide §2.6); both
    // checkpoints existed before, only the schedule moves
    val Seq(candM, exact) = Par.materialize(
      cand, // one scoring pass serves every p
      knnBrute(emb, k).select(col("query_id"), col("nbr_id")))
    val ap = candM.join(broadcast(ps), col("cell_rank") <= col("nprobe"))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= k)
      .select(col("nprobe"), col("query_id"), col("nbr_id"))
    val hits = ap.join(exact,
        Seq("query_id", "nbr_id"), "left_semi")
      .groupBy(col("nprobe"), col("query_id"))
      .agg(count(lit(1)).as("n_hit"))
    val base = exact.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"))
    base.crossJoin(broadcast(ps))
      .join(hits, Seq("nprobe", "query_id"), "left")
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg(coalesce(col("n_hit"), lit(0L)).cast("double")
          / col("n_exact")), 6).as("avg_recall"))
  }

  /** IVF cell histogram — sim_bucket_stats' counterpart for the
    * coarse-quantizer index: cell-size skew is what turns the
    * in-cell search quadratic, so production monitors it per build.
    */
  def cellStats(emb: DataFrame): DataFrame =
    ivfAssign(emb)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))

  /** Per-label centroids, long form (label, idx, centroid) — the
    * k-means/IVF training pass shape: explode to (label, idx, value),
    * one groupBy on (label, idx) with map-side partial sums.
    *
    * Determinism device: distributed double-summation order is
    * engine-internal, so components are quantized to micro-units
    * (round(v·10⁶) as int64) BEFORE the sum — exact integer
    * arithmetic in any order on any engine — and the mean leaves
    * integer space only at emission. At float32 input precision the
    * quantization error (≤5e-7 per element) is below the precision
    * the embeddings carry anyway.
    */
  def centroids(emb: DataFrame): DataFrame =
    emb.select(col("label"),
      posexplode(col("embedding").cast("array<double>")).as(Seq("idx", "value")))
      .groupBy(col("label"), col("idx"))
      .agg(sum(round(col("value") * 1000000.0d).cast("long")).as("q_sum"),
        count(lit(1)).as("n_vecs"))
      .select(col("label").cast("long").as("label"), col("idx"),
        col("n_vecs"),
        // floor of the exact-double micro-unit mean: the rational
        // q_sum/n can land EXACTLY on a round-6 half-tie, which Spark
        // (BigDecimal HALF_UP on the double) and DuckDB (multiplicative)
        // resolve differently; floor has no ties and both engines floor
        // the identical double
        round(floor(col("q_sum").cast("double") / col("n_vecs"))
          / 1000000.0d, 6).as("centroid"))

  /** Recall@k of the multiprobe LSH index against the exact brute
    * baseline, over the bounded query batch — the evaluation loop a
    * production ANN deployment runs on every index build ("measure,
    * don't guess"): per-query |approx ∩ exact| / |exact|, averaged.
    * The brute ground truth is the monitor's definition, so its cost
    * floor is QueryCount·n — bounded-batch, never n². Everything is
    * counts of deterministic top-k sets, so the metric is
    * oracle-exact.
    */
  def annRecallAtK(emb: DataFrame, k: Int = K,
                   index: (DataFrame, Int) => DataFrame =
                     knnLshMultiprobe(_, _)): DataFrame = {
    // the EXACT brute baseline and the index side are independent
    // until the hit join — overlap their chains (guide §2.6: the
    // index side's training ladder runs at parallelism ≈ 1 and the
    // CPU-heavy brute pass back-fills its idle cores). The index is
    // CONSTRUCTED inside its thunk too: several index functions run
    // eager work while building their plan (seed counts, eager
    // residual checkpoints), which would otherwise serialize before
    // the fork on exactly the most expensive families. `exact` feeds
    // both the hit join and the n_exact aggregate, so it is
    // materialized once. Both top-k sets are QueryCount·k rows — the
    // checkpoints are free.
    val (exact, approx) = Par.run2(
      () => knnBrute(emb, k).localCheckpoint(true),
      () => index(emb, k)
        .join(hashSample(vecs(emb), "q", QueryCount)
          .select(col("vec_id").as("query_id")), Seq("query_id"),
          "left_semi")
        .localCheckpoint(true))
    recallFold(
      exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact")),
      exact, approx, "avg_recall")
  }

  val TruncDim = Dim / 2

  /** Matryoshka-truncation recall: recall@k of brute-force top-k
    * computed on only the FIRST `dims` dimensions vs the full-dim
    * baseline, over the strided query set. The other scale lever
    * beside SQ8: MRL-trained embeddings order information by prefix,
    * so truncating halves every downstream cost (storage, shuffle
    * bytes, dot-product flops) and THIS metric is how the kept-dim
    * knob gets picked — same measure-don't-guess loop as
    * sim_recall_at_k and sim_sq8_recall, one query family per index
    * compression axis. Pure composition of the audited brute kernel
    * on a sliced column; counts of deterministic top-k sets.
    */
  def truncationRecallAtK(emb: DataFrame, dims: Int = TruncDim,
                          k: Int = K): DataFrame =
    annRecallAtK(emb, k, (e, kk) => knnBrute(
      e.select(col("vec_id"),
        expr(s"slice(embedding, 1, $dims)").as("embedding")), kk))

  val RpDim = 16

  /** Deterministic ±1 sign matrix for the sparse Johnson–Lindenstrauss
    * projection (Achlioptas 2001: Rademacher entries preserve pairwise
    * distances like Gaussian ones). The sign is the parity of a
    * multiplicative hash mod the Fermat prime 65537 — the mod breaks
    * the odd·odd parity structure a raw linear form would have, and
    * the closed form is one CASE expression in any engine (no RNG, no
    * stored matrix).
    */
  lazy val rpSigns: Seq[Seq[Long]] = (0 until RpDim).map { j =>
    (0 until Dim).map { i =>
      if (((i * 48271L + j * 16807L) % 65537L) % 2L == 0L) 1L else -1L }
  }

  /** V5: random projection Dim → RpDim — the data-independent
    * compression axis beside truncation (needs MRL training) and
    * PQ/SQ8 (need a codebook/scale pass): p_j = Σ_i sign(i,j)·xq_i
    * over micro-quantized components, computed per row by RpDim calls
    * to the codegen'd integer dot against literal sign vectors — pure
    * scan bandwidth, no training job, no shuffle. Projected values
    * are exact integers (|p| ≤ Dim·10⁶·max|x| ≪ 2⁵³), so the cast to
    * double is lossless and the downstream cosine is the established
    * engine-exact kernel.
    */
  def rpProject(emb: DataFrame, dims: Int = RpDim): DataFrame =
    emb.select(col("vec_id"),
        expr("transform(cast(embedding as array<double>), " +
          "x -> cast(round(x * 1000000.0D) as bigint))").as("xq"))
      .select(col("vec_id"),
        array((0 until dims).map(j =>
          dotiFast(col("xq"), typedLit(rpSigns(j))).cast("double")): _*)
          .as("embedding"))

  /** Measured recall of brute top-k in the RpDim-projected space vs
    * the full-dim baseline — the monitor that prices the 4× shuffle/
    * storage saving (the JL tradeoff is dimension-count vs distortion,
    * and on near-random synthetic vectors distortion at 16 dims is
    * large — the monitor reporting that honestly is the point).
    */
  def rpRecallAtK(emb: DataFrame, k: Int = K): DataFrame =
    // checkpoint the projected table: without it Catalyst collapses
    // the 16-dot projection into the brute join and recomputes it per
    // PAIR (measured 18× at sf1) instead of once per vector
    annRecallAtK(emb, k,
      (e, kk) => knnBrute(rpProject(e).localCheckpoint(false), kk))

  val LloydRounds = 3

  /** V6: k-means by `rounds` full Lloyd iterations — the actual IVF
    * coarse-quantizer trainer (sim_centroids is the label-supervised
    * mean pass; knnIvf and the whole IVF family consume this loop's
    * output through ivfCodebook, their default trained coarse
    * quantizer; this monitor runs it at the deeper LloydRounds
    * setting and reports inertia). Every iteration is
    * engine-exact integer arithmetic end to end: components micro-
    * quantize once, assignment minimizes the squared-L2 surrogate
    * s = |c|² − 2·x·c (|x|² is constant per vector) via the codegen'd
    * integer dot, ties break (s, cell), and the new centroid is the
    * established floor-of-exact-double micro-unit mean — so both
    * engines walk IDENTICAL centroid sequences and the final
    * assignment is hash-exact. A cell that loses all members simply
    * drops from the next codebook (both engines, by construction).
    *
    * Scale: the codebook broadcasts every round (cells = |V|/stride);
    * assignment is a scan × broadcast pass (|V|·cells integer dots,
    * the knnBrute shape); the recompute shuffles (cell, dim)-grain
    * partial sums with map-side combine. Rounds are the driver-loop
    * bound, as in any distributed k-means.
    */
  private def microQuant(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      expr("transform(cast(embedding as array<double>), " +
        "x -> cast(round(x * 1000000.0D) as bigint))").as("q"))

  /** One Lloyd assignment pass: argmin over the integer squared-L2
    * surrogate s = |c|² − 2·x·c, as a map-side heap cut, not a rank
    * window: the window form sorts |V|·cells candidate rows per
    * round (measured 2× the whole operator at sf1); the heap
    * partial reduces them to per-partition minima before the
    * vec-grain shuffle and keeps the winning row's q. Returns
    * (vec_id, q, cell, s). `xq` must already be materialized by the
    * caller.
    */
  private def lloydAssign(xq: DataFrame, c: DataFrame): DataFrame =
    // argmin via the native heap top-k at k = 1 (round 14, the
    // pqArgmin device): the struct-ordered min_by fell back to
    // SortAggregate (struct buffers are not UnsafeRow-mutable) and
    // sorted every |V|·cells candidate row twice per round; the heap
    // partial keeps the same vec-grain exchange with no sort, and the
    // kept row carries `q`, so the former q re-join on xq is gone —
    // one join + its exchange less per Lloyd round. Same argmin row
    // under the same (s, cell) total order.
    TopK.perKey(
      xq.join(broadcast(c.withColumn("cc", dotiFast(col("cq"), col("cq")))))
        .select(col("vec_id"), col("q"), col("cell"),
          (col("cc") - lit(2L) * dotiFast(col("q"), col("cq"))).as("s")),
      Seq("vec_id"), Seq(("s", false), ("cell", false)), 1)

  /** `rounds` Lloyd iterations from the deterministic CentCount seed
    * sample → the trained codebook (cell, cq), integer micro-units.
    * Every step is engine-exact (see kmeansLloyd). A cell that loses
    * all members drops from the codebook (both engines).
    */
  def lloydCodebookQ(xq: DataFrame, rounds: Int): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val kCells = math.max(1L,
      math.min(CentCount.toLong, xq.count() / MinCellFill)).toInt
    var cent = hashSample(xq, "c", kCells)
      .select(col("vec_id").as("cell"), col("q").as("cq"))
    for (_ <- 1 to rounds) {
      cent = lloydAssign(xq, cent)
        .select(col("cell"), posexplode(col("q")).as(Seq("idx", "xi")))
        .groupBy(col("cell"), col("idx"))
        .agg(sum(col("xi").cast(dec38)).as("sx"), count(lit(1)).as("n"))
        .withColumn("cqi",
          floor(col("sx").cast("double") / col("n")).cast("long"))
        .groupBy(col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(idx, cqi)))," +
          " p -> p.cqi)").as("cq"))
        .localCheckpoint(false)
    }
    cent
  }

  def kmeansLloyd(emb: DataFrame, rounds: Int = LloydRounds): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val xq = microQuant(emb).localCheckpoint(false)
    val cent = lloydCodebookQ(xq, rounds)
    lloydAssign(xq, cent)
      .withColumn("d", dotiFast(col("q"), col("q")) + col("s"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("d").cast(dec38)).as("iq"))
      .select(col("cell"), col("n_vecs"),
        round(col("iq").cast("double") / 1.0e12, 6).as("inertia_e12"))
  }

  /** `pfx` namespaces every CTE (a second ladder can coexist in one
    * oracle — the retrain-gain query trains stale + fresh codebooks);
    * `xsrc` overrides the x-side CTE so an assignment block can score
    * one corpus against another ladder's codebook.
    */
  private def lloydDistBlock(tag: String, cin: String, pfx: String = "",
                             xsrc: String = ""): String = {
    val x = if (xsrc.nonEmpty) xsrc else s"${pfx}xq"
    s"""${pfx}s$tag AS MATERIALIZED (SELECT x.vec_id, c.cell, x.q,
       |    CAST(list_sum(list_transform(c.cq, v -> v * v))
       |      - 2 * list_sum(list_transform(generate_series(1, $Dim),
       |          i -> x.q[i] * c.cq[i])) AS BIGINT) AS s
       |  FROM $x x, $cin c),
       |${pfx}a$tag AS MATERIALIZED (SELECT vec_id, cell, q, s FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY s, cell) AS rn FROM ${pfx}s$tag) WHERE rn = 1)""".stripMargin
  }

  /** CTE ladder `xq, c0, (s,a,m,c)×rounds` mirroring lloydCodebookQ —
    * one MATERIALIZED (distance, argmin, mean, codebook) block per
    * round; seeds are the "c" hashSample. `where` restricts the
    * training corpus (the stale-codebook ladder of sim_retrain_gain).
    */
  private def lloydLadderSql(rounds: Int, pfx: String = "",
                             where: String = ""): String = {
    val sb = new StringBuilder
    sb.append(
      s"""${pfx}xq AS MATERIALIZED (SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> CAST(ROUND(x * 1000000.0) AS BIGINT)) AS q
         |  FROM embeddings $where),
         |${pfx}c0 AS MATERIALIZED (SELECT vec_id AS cell, q AS cq
         |  FROM ${pfx}xq
         |  ORDER BY md5('c' || CAST(vec_id AS VARCHAR)), vec_id
         |  LIMIT GREATEST(1, LEAST($CentCount,
         |    (SELECT COUNT(*) FROM ${pfx}xq) // $MinCellFill)))""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(",\n")
      sb.append(lloydDistBlock(r.toString, s"${pfx}c${r - 1}", pfx))
      sb.append(s""",
        |${pfx}m$r AS (SELECT cell, i.i,
        |    CAST(FLOOR(CAST(SUM(q[i.i]) AS DOUBLE) / COUNT(*)) AS BIGINT)
        |      AS cqi
        |  FROM ${pfx}a$r, (SELECT unnest(generate_series(1, $Dim)) AS i) i
        |  GROUP BY 1, 2),
        |${pfx}c$r AS MATERIALIZED (SELECT cell, list(cqi ORDER BY i) AS cq
        |  FROM ${pfx}m$r GROUP BY cell)""".stripMargin)
    }
    sb.toString
  }

  /** The Lloyd-trained coarse codebook as `cent(cent_id, cv)` — the
    * CTE chain every IVF-family oracle composes over (mirrors
    * ivfCodebook: integer centroids → exact double division).
    */
  private[operators] def lloydCentSql(rounds: Int = IvfTrainRounds,
                                      name: String = "cent"): String =
    lloydLadderSql(rounds) + s""",
      |$name AS MATERIALIZED (SELECT cell AS cent_id,
      |  list_transform(cq, v -> v / 1000000.0) AS cv FROM c$rounds)""".stripMargin

  /** Unrolled DuckDB mirror of kmeansLloyd: the ladder plus a final
    * assignment + inertia aggregate.
    */
  private def kmeansLloydSql(rounds: Int): String =
    s"""WITH ${lloydLadderSql(rounds)},
      |${lloydDistBlock("F", s"c$rounds")}
      |SELECT cell, COUNT(*) AS n_vecs,
      |ROUND(CAST(SUM(CAST(list_sum(list_transform(q, v -> v * v)) + s
      |  AS HUGEINT)) AS DOUBLE) / 1e12, 6) AS inertia_e12
      |FROM aF GROUP BY cell""".stripMargin

  val DriftSalt = 11L

  /** V16: codebook drift monitor — the WHEN-TO-RETRAIN trigger that
    * completes the index-maintenance loop (cellStats watches skew,
    * split repairs it; this watches FIT): per bucket10 half of the
    * corpus (salt 11 — "yesterday" vs "today" made reproducible),
    * the mean quantization distortion under the ONE trained
    * codebook. A stationary corpus shows equal means; ingest drift
    * shows the newer half fitting worse — the number an operator
    * reads before scheduling the offline coarse-quantizer retrain
    * (the FAISS operational loop's missing gauge here). Exact
    * integer distances (the kmeansLloyd device: d = |x|² + s),
    * DECIMAL(38) totals, division only at emission.
    *
    * Scale shape: the assignment scan the index build already pays
    * plus one 2-group aggregate — nothing new moves.
    */
  def codebookDrift(emb: DataFrame): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val xq = microQuant(emb).localCheckpoint(false)
    val cent = lloydCodebookQ(xq, IvfTrainRounds)
    lloydAssign(xq, cent)
      .withColumn("d", dotiFast(col("q"), col("q")) + col("s"))
      .groupBy((graft.functions.Functions
        .bucket10(col("vec_id"), lit(DriftSalt)) < 5).cast("int")
        .as("is_old"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("d").cast(dec38)).as("iq"))
      .select(col("is_old"), col("n_vecs"),
        round(col("iq").cast("double") / 1.0e12, 6).as("dist_e12"),
        round(col("iq").cast("double") / col("n_vecs") / 1.0e6, 6)
          .as("mean_dist_e6"))
  }

  private def codebookDriftSql: String =
    s"""WITH ${lloydLadderSql(IvfTrainRounds)},
       |${lloydDistBlock("F", s"c$IvfTrainRounds")}
       |SELECT CAST(((vec_id % 100003) * 31 + $DriftSalt * 97) % 10 < 5
       |  AS INT) AS is_old,
       |CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |ROUND(CAST(SUM(CAST(list_sum(list_transform(q, v -> v * v)) + s
       |  AS HUGEINT)) AS DOUBLE) / 1e12, 6) AS dist_e12,
       |ROUND(CAST(SUM(CAST(list_sum(list_transform(q, v -> v * v)) + s
       |  AS HUGEINT)) AS DOUBLE) / COUNT(*) / 1e6, 6) AS mean_dist_e6
       |FROM aF GROUP BY 1""".stripMargin

  /** V17 (round 9): the retrain loop's measured payoff —
    * sim_codebook_drift says WHEN to retrain, ivfRetrain is the verb,
    * this prices WHAT IT BUYS: total quantization distortion of the
    * full corpus under the STALE codebook (trained on yesterday's
    * half only — the bucket10/DriftSalt split codebookDrift uses) vs
    * under the RETRAINED one (trained on everything), plus the
    * relative gain in ppm. Lloyd monotonicity doesn't guarantee the
    * sign (different seed sets), so the ppm division keeps both
    * operands non-negative on both branches of a sign CASE — integer
    * truncation then agrees across engines without an offset bound.
    * Exact end-to-end: integer distances, DECIMAL(38)/HUGEINT totals,
    * division only at emission.
    *
    * Scale shape: two trainings + two assignment scans over the same
    * materialized micro-quantized corpus — 2× the codebook-drift
    * cost, still linear, run as an offline planning query.
    */
  def retrainGain(emb: DataFrame): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // eager: both overlapped training chains below read xq, so it
    // must be materialized before the fork (Par contract)
    val xq = microQuant(emb).localCheckpoint()
    val old = xq.filter(graft.functions.Functions
        .bucket10(col("vec_id"), lit(DriftSalt)) < 5)
      .localCheckpoint(false)
    def totalUnder(cb: DataFrame): DataFrame =
      lloydAssign(xq, cb)
        .select((dotiFast(col("q"), col("q")) + col("s")).as("d"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("d").cast(dec38)).as("iq"))
    // the STALE ladder (trained on the old half) and the FRESH ladder
    // (trained on everything) are two independent Lloyd chains that
    // never meet before the final crossJoin — overlap them
    // (guide §2.6), CONSTRUCTING each inside its thunk
    // (lloydCodebookQ runs its seed-count action while building);
    // each side is a 1-row total
    val Seq(stale, fresh) = Par.run[DataFrame](Seq(
      () => totalUnder(lloydCodebookQ(old, IvfTrainRounds))
        .withColumnRenamed("iq", "siq").localCheckpoint(true),
      () => totalUnder(lloydCodebookQ(xq, IvfTrainRounds))
        .select(col("iq").as("fiq")).localCheckpoint(true)))
    stale.crossJoin(fresh) // 1-row × 1-row
      .select(col("n_vecs"),
        round(col("siq").cast("double") / 1.0e12, 6).as("stale_e12"),
        round(col("fiq").cast("double") / 1.0e12, 6).as("retrained_e12"),
        when(col("siq") > 0,
          when(col("siq") >= col("fiq"),
            expr("((siq - fiq) * 1000000) div siq"))
            .otherwise(-expr("((fiq - siq) * 1000000) div siq")))
          .as("gain_ppm"))
  }

  private def retrainGainSql: String =
    s"""WITH ${lloydLadderSql(IvfTrainRounds)},
       |${lloydLadderSql(IvfTrainRounds, "st",
          s"WHERE ((vec_id % 100003) * 31 + $DriftSalt * 97) % 10 < 5")},
       |${lloydDistBlock("F", s"c$IvfTrainRounds")},
       |${lloydDistBlock("G", s"stc$IvfTrainRounds", "g", "xq")},
       |tg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |    SUM(CAST(list_sum(list_transform(q, v -> v * v)) + s
       |      AS HUGEINT)) AS siq FROM gaG),
       |tf AS (SELECT SUM(CAST(list_sum(list_transform(q, v -> v * v)) + s
       |    AS HUGEINT)) AS fiq FROM aF)
       |SELECT tg.n_vecs,
       |ROUND(CAST(siq AS DOUBLE) / 1e12, 6) AS stale_e12,
       |ROUND(CAST(fiq AS DOUBLE) / 1e12, 6) AS retrained_e12,
       |CASE WHEN siq > 0 THEN CAST(
       |    CASE WHEN siq >= fiq THEN ((siq - fiq) * 1000000) // siq
       |    ELSE -(((fiq - siq) * 1000000) // siq) END AS BIGINT)
       |  ELSE NULL END AS gain_ppm
       |FROM tg, tf""".stripMargin

  /** V17 (round 9): data-free rounding canary — fixed literal probes
    * of every cross-engine float hazard this library's determinism
    * devices rest on, identical constants in the Spark plan and the
    * oracle SQL. Reads NO tables, so a red row in the driver gate
    * while this session's local gate is green attributes the
    * divergence to the driver's engine build (DuckDB rounding/libm/
    * SIMD-dot differences), not to any operator — the
    * self-attribution probe VERDICT r8 asked for after
    * sim_knn_ivfpq_res failed the driver gate three rounds running
    * while passing the same recipe locally.
    *
    * Probes per row i ∈ [0, 250):
    *  - q_pos/q_neg: micro-unit quantization CAST(ROUND(x·10⁶)) of a
    *    positive and a negative double derived from integers;
    *  - r6_pos/r6_neg: the round-6 device on the same values;
    *  - div_probe: the offset-then-divide negative-division device;
    *  - dec_probe: decimal(18,9)→double round-trip of an exactly-
    *    representable quarter-integer (binary-exact, tie-free);
    *  - cos_int/cos_frac: the left-to-right double cosine fold
    *    (graft_cosine vs list_cosine_similarity) over integer-valued
    *    and fractional-valued fixed vectors — red here means the
    *    driver's list_cosine_similarity reassociates (SIMD/FMA).
    */
  def roundingCanary(s: SparkSession): DataFrame =
    s.range(0, 250).toDF("i")
      .withColumn("x",
        expr("((i * 1103515245 + 12345) % 100003) / 100003.0D"))
      .withColumn("y", expr("((i % 1000) - 500) / 4.0D"))
      .withColumn("q_pos", expr("cast(round(x * 1000000.0D) as bigint)"))
      .withColumn("q_neg",
        expr("cast(round((x - 0.5D) * 1000000.0D) as bigint)"))
      .withColumn("va", expr("transform(sequence(0, 7), " +
        "d -> cast((i * 31 + d * 17) % 13 - 6 as double))"))
      .withColumn("vb", expr("transform(sequence(0, 7), " +
        "d -> cast((i * 29 + d * 19) % 11 - 5 as double))"))
      .select(col("i"), col("q_pos"), col("q_neg"),
        round(col("x"), 6).as("r6_pos"),
        round(col("x") - lit(0.5d), 6).as("r6_neg"),
        expr("(q_neg + 2000000L) div 7L - 285714L").as("div_probe"),
        col("y").cast("decimal(18,9)").cast("double").as("dec_probe"),
        round(cosineFast(col("va"), col("vb")), 6).as("cos_int"),
        round(cosineFast(col("va"),
          expr("transform(vb, v -> v * 0.001D)")), 6).as("cos_frac"))

  private val roundingCanarySql =
    """WITH g AS (SELECT unnest(generate_series(0, 249)) AS i),
      |b AS (SELECT i,
      |    ((i * 1103515245 + 12345) % 100003) / 100003.0 AS x,
      |    ((i % 1000) - 500) / 4.0 AS y,
      |    list_transform(generate_series(0, 7),
      |      d -> CAST((i * 31 + d * 17) % 13 - 6 AS DOUBLE)) AS va,
      |    list_transform(generate_series(0, 7),
      |      d -> CAST((i * 29 + d * 19) % 11 - 5 AS DOUBLE)) AS vb
      |  FROM g),
      |v AS (SELECT *,
      |    CAST(ROUND((x - 0.5) * 1000000.0) AS BIGINT) AS q_neg
      |  FROM b)
      |SELECT CAST(i AS BIGINT) AS i,
      |CAST(ROUND(x * 1000000.0) AS BIGINT) AS q_pos, q_neg,
      |ROUND(x, 6) AS r6_pos, ROUND(x - 0.5, 6) AS r6_neg,
      |(q_neg + 2000000) // 7 - 285714 AS div_probe,
      |CAST(CAST(y AS DECIMAL(18, 9)) AS DOUBLE) AS dec_probe,
      |ROUND(list_cosine_similarity(va, vb), 6) AS cos_int,
      |ROUND(list_cosine_similarity(va,
      |  list_transform(vb, v -> v * 0.001)), 6) AS cos_frac
      |FROM v""".stripMargin

  /** V17 (round 9): coarse-assignment margin diagnostic — how close
    * the corpus sits to a home-cell flip. Per vector: margin =
    * second-best minus best integer s over the trained codebook
    * (margin 0 = an exact tie, broken deterministically on cent_id —
    * the only case where engines could EVER have disagreed under the
    * integer surrogate, and they don't because the tie-break is
    * integer too). Under the retired round-6-cosine pick a margin
    * inside one rounding quantum was a real cross-engine flip
    * hazard; this query measures how much of the corpus lives there.
    * Aggregate output: exact-tie count, counts within 10³ and 10⁶
    * s-units (≈ one micro-unit² per coordinate), and the minimum
    * margin.
    */
  def ivfAssignMargin(emb: DataFrame): DataFrame = {
    val xq = microQuant(emb).localCheckpoint(false)
    val cent = lloydCodebookQ(xq, IvfTrainRounds)
    xq.join(broadcast(cent.withColumn("cc",
        dotiFast(col("cq"), col("cq")))))
      .withColumn("s", col("cc") - lit(2L) * dotiFast(col("q"), col("cq")))
      .groupBy(col("vec_id"))
      .agg(expr("array_sort(collect_list(s))").as("ss"))
      .select(when(size(col("ss")) >= 2,
        col("ss").getItem(1) - col("ss").getItem(0)).as("margin"))
      .agg(count(lit(1)).as("n_vecs"),
        coalesce(sum(when(col("margin") === 0L, 1L).otherwise(0L)),
          lit(0L)).as("n_tie"),
        coalesce(sum(when(col("margin") <= 1000L, 1L).otherwise(0L)),
          lit(0L)).as("n_le_1e3"),
        coalesce(sum(when(col("margin") <= 1000000L, 1L).otherwise(0L)),
          lit(0L)).as("n_le_1e6"),
        min(col("margin")).as("min_margin"))
  }

  private def ivfAssignMarginSql: String =
    s"""WITH ${lloydLadderSql(IvfTrainRounds)},
       |sM AS (SELECT x.vec_id,
       |    CAST(list_sum(list_transform(c.cq, v -> v * v))
       |      - 2 * list_sum(list_transform(generate_series(1, $Dim),
       |          i -> x.q[i] * c.cq[i])) AS BIGINT) AS s
       |  FROM xq x, c$IvfTrainRounds c),
       |mg AS (SELECT vec_id, CASE WHEN COUNT(*) >= 2
       |    THEN list_sort(list(s))[2] - list_sort(list(s))[1]
       |    ELSE NULL END AS margin
       |  FROM sM GROUP BY vec_id)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |CAST(COALESCE(SUM(CASE WHEN margin = 0 THEN 1 ELSE 0 END), 0)
       |  AS BIGINT) AS n_tie,
       |CAST(COALESCE(SUM(CASE WHEN margin <= 1000 THEN 1 ELSE 0 END), 0)
       |  AS BIGINT) AS n_le_1e3,
       |CAST(COALESCE(SUM(CASE WHEN margin <= 1000000 THEN 1 ELSE 0 END), 0)
       |  AS BIGINT) AS n_le_1e6,
       |MIN(margin) AS min_margin
       |FROM mg""".stripMargin

  /** Int8 quantization of the embedding column — the storage/serving
    * compression pass every vector store applies before ANN at scale:
    * per-vector min/max range, code = round((v−mn)·255/(mx−mn)),
    * long form (vec_id, idx, code) + the rounded range for
    * dequantization. Pure per-row expressions at scan bandwidth; the
    * fixed-shape double arithmetic is mirrored operand-for-operand by
    * the oracle, so codes are bit-identical.
    */
  val RerankCand = 20

  /** Two-stage SQ8 retrieval — the production vector-store shape:
    * score EVERY candidate with the cheap exact-integer dot product
    * over 8-bit quantization codes (graft_doti: a 64-long codegen'd
    * loop, ~4 bytes of math per dimension vs the double cosine), keep
    * the top `cand` per query, then rerank only those with the exact
    * float cosine. At scale the coarse stage reads the (4×-smaller)
    * code column and the float vectors are fetched for `cand` rows
    * per query — the bandwidth win IS the operator.
    *
    * Determinism: the coarse score is 64-bit integer arithmetic
    * (engine-identical by construction, no rounding rules), ties
    * break on nbr_id, and the rerank is the established round-6
    * cosine — so the whole two-stage result is oracle-exact.
    */
  def knnSq8Rerank(emb: DataFrame, k: Int = K,
                   cand: Int = RerankCand): DataFrame = {
    // GLOBAL symmetric int8 quantization (code = round(x·127/gmax),
    // gmax = corpus max |x|): with one shared scale the integer dot is
    // proportional to the true dot product up to quantization error,
    // so coarse ranking tracks cosine well enough for a 20-candidate
    // rerank. (Per-vector min/max codes — sim_quantize_int8's storage
    // scheme — are NOT comparable across vectors and rank near-
    // randomly; measured by sim_sq8_recall.) The 1-row gmax aggregate
    // broadcasts.
    val raw = vecs(emb)
    val gm = raw.agg(max(greatest(array_max(col("v")),
      -array_min(col("v")))).as("gmax"))
    val e = raw.crossJoin(broadcast(gm))
      .withColumn("codes", expr(
        """transform(v, x -> CASE WHEN gmax = 0.0D THEN CAST(0 AS BIGINT)
          |ELSE CAST(round(x * 127.0D / gmax) AS BIGINT)
          |END)""".stripMargin))
      .select(col("vec_id"), col("v"), col("codes"))
      .localCheckpoint(false)
    val q = hashSample(e, "q", QueryCount)
    val coarse = broadcast(q.as("q"))
      .join(e.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("nbr_id"),
        dotiFast(col("q.codes"), col("c.codes")).as("iscore"),
        col("q.v").as("qv"), col("c.v").as("cv"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("iscore").desc, col("nbr_id"))
    val reranked = coarse.withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= cand)
      .select(col("query_id"), col("nbr_id"),
        round(cosineFast(col("qv"), col("cv")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    reranked.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("cos"))
  }

  def quantizeInt8(emb: DataFrame): DataFrame =
    vecs(emb)
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .select(col("vec_id"), posexplode(col("v")).as(Seq("idx", "value")),
        col("mn"), col("mx"))
      .select(col("vec_id"), col("idx"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(round((col("value") - col("mn")) * 255.0d /
            (col("mx") - col("mn"))).cast("long")).as("code"),
        round(col("mn"), 6).as("mn"), round(col("mx"), 6).as("mx"))

  // ---- driver-contract registry ----

  /** Shared with Dedup's embedding near-dup oracle, which reuses the
    * same hyperplane buckets for candidate generation.
    */
  /** Hyperplane LSH prelude, occupancy-scaled (mirrors planesFor):
    * `npl(np)` = plane count for this corpus, `srs(p)` = plane index
    * series, `planes(p, w)`, `buckets(vec_id, v, bucket)`. Pure
    * integer plane-count arithmetic — both engines derive the same
    * np from the same COUNT(*).
    */
  private[operators] val planesSql =
    s"""npl AS MATERIALIZED (SELECT $Planes + COUNT(*) np
      |  FROM (SELECT unnest(generate_series(${Planes + 1}, $MaxPlanes)) k) g
      |  WHERE $TargetOcc * (CAST(1 AS BIGINT) << (g.k - 1))
      |    < (SELECT COUNT(*) FROM embeddings)),
      |srs AS (SELECT unnest(generate_series(0, ${MaxPlanes - 1})) p),
      |planes AS MATERIALIZED (SELECT s.p, list_transform(generate_series(0, ${Dim - 1}),
      |    d -> CAST(concat('0x', substr(md5('hp' || s.p || '_' || d),1,15)) AS BIGINT)
      |         % 2001 - 1000) AS w
      |  FROM srs s WHERE s.p < (SELECT np FROM npl)),
      |buckets AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) v,
      |    CAST(SUM(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
      |      CAST(w AS DOUBLE[])) > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END)
      |      AS BIGINT) AS bucket
      |  FROM embeddings, planes GROUP BY vec_id, CAST(embedding AS DOUBLE[]))""".stripMargin

  /** Hamming-1 probe fan-out over `buckets` — `probes(vec_id, v,
    * probe)`, plane count from `npl`.
    */
  private[operators] val probes1Sql =
    """probes AS (SELECT vec_id, v, bucket AS probe FROM buckets
      |  UNION ALL
      |  SELECT b.vec_id, b.v, xor(b.bucket, CAST(1 AS BIGINT) << s.p)
      |  FROM buckets b, srs s WHERE s.p < (SELECT np FROM npl))""".stripMargin

  /** PCA dimensionality reduction (spark.ml) ahead of ANN indexing —
    * the standard bandwidth lever when the embedding dim outgrows the
    * index (project once at ingest, bucket/score in the reduced
    * space). Covariance assembles distributively (treeAggregate over
    * rows); the k×d eigenbasis rides to executors inside the model —
    * nothing about the shape changes at 100 TB. Float eigenvectors
    * aren't SQL-expressible (sign choice is solver-dependent), so
    * this is spec-proven and unregistered, like the DIMSUM fallback.
    */
  def pcaProject(emb: DataFrame, kDim: Int = 8): DataFrame = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    if (emb.isEmpty) {
      return emb.sparkSession.emptyDataFrame
        .withColumn("vec_id", lit(0L))
        .withColumn("pv", expr("CAST(array() AS array<double>)"))
    }
    val src = vecs(emb)
      .select(col("vec_id"), array_to_vector(col("v")).as("features"))
    val model = new PCA().setInputCol("features").setOutputCol("pca")
      .setK(kDim).fit(src)
    model.transform(src)
      .select(col("vec_id"), vector_to_array(col("pca")).as("pv"))
  }

  /** PQ prelude shared by the three sim_pq_* oracles: subspace
    * slices, fixed-shape d² identity, argmin codes — operand-for-
    * operand the Spark plan in pqCodes.
    */
  private val pqSql =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |$qsetSql,
       |sub AS (SELECT CAST(g.m AS INT) m FROM
       |  (SELECT unnest(generate_series(0, ${PqM - 1})) m) g),
       |cent AS MATERIALIZED (SELECT vec_id cent_id, v cv FROM e
       |  ORDER BY md5('c' || CAST(vec_id AS VARCHAR)), vec_id
       |  LIMIT $CentCount),
       |xs AS (SELECT e.vec_id, s.m,
       |    list_slice(e.v, s.m * $PqSubDim + 1, s.m * $PqSubDim + $PqSubDim) x
       |  FROM e, sub s),
       |cs AS (SELECT cent_id, s.m,
       |    list_slice(cv, s.m * $PqSubDim + 1, s.m * $PqSubDim + $PqSubDim) c
       |  FROM cent, sub s),
       |asn AS (SELECT vec_id, xs.m, cent_id,
       |    ROUND(list_dot_product(x, x) - 2.0 * list_dot_product(x, c)
       |      + list_dot_product(c, c), 6) d2
       |  FROM xs JOIN cs ON xs.m = cs.m),
       |codes AS (SELECT vec_id, m, cent_id AS code FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |    ORDER BY d2, cent_id) rk FROM asn) WHERE rk = 1)""".stripMargin

  /** One trained-PQ assignment block: distances + per-(vec, m) argmin
    * against codebook CTE `cin` — mirrors pqAssign.
    */
  private def pqTrainedDistSql(tag: String, cin: String,
                               pfx: String = ""): String =
    s"""${pfx}ps$tag AS MATERIALIZED (SELECT x.vec_id, x.m, c.cell, x.q,
       |    CAST(list_sum(list_transform(c.cq, v -> v * v))
       |      - 2 * list_sum(list_transform(generate_series(1, $PqSubDim),
       |          i -> x.q[i] * c.cq[i])) AS BIGINT) AS s
       |  FROM ${pfx}xqm x JOIN $cin c ON x.m = c.m),
       |${pfx}pa$tag AS MATERIALIZED (SELECT vec_id, m, cell, q, s FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |    ORDER BY s, cell) AS rn FROM ${pfx}ps$tag) WHERE rn = 1)""".stripMargin

  /** Oracle ladder for the per-subspace PQ trainer
    * (pqCodebookTrainedQ): xqm slices, sampled seeds pc0, then one
    * (distance, argmin, mean, codebook) block per round, every CTE
    * keyed by the subspace id m.
    */
  /** Subspace-index series + raw (non-residual) micro-quantized
    * slices as CTE `xqm` — the plain-PQ training input.
    */
  private val pqXqmSql =
    s"""psub AS (SELECT CAST(g.m AS INT) m FROM
       |  (SELECT unnest(generate_series(0, ${PqM - 1})) m) g),
       |xqm AS MATERIALIZED (SELECT vec_id, s.m,
       |    list_transform(list_slice(CAST(embedding AS DOUBLE[]),
       |      s.m * $PqSubDim + 1, s.m * $PqSubDim + $PqSubDim),
       |      x -> CAST(ROUND(x * 1000000.0) AS BIGINT)) AS q
       |  FROM embeddings, psub s)""".stripMargin

  /** The per-subspace training ladder over whatever CTE is named
    * `xqm(vec_id, m, q)` — seeds, then one block per round.
    */
  private def pqLadderFromXqmSql(rounds: Int, pfx: String = ""): String = {
    val sb = new StringBuilder
    sb.append(
      s"""${pfx}pcset AS MATERIALIZED (SELECT vec_id FROM embeddings
         |  ORDER BY md5('c' || CAST(vec_id AS VARCHAR)), vec_id
         |  LIMIT GREATEST(1, LEAST($CentCount,
         |    (SELECT COUNT(*) FROM embeddings) // $MinCellFill))),
         |${pfx}pc0 AS MATERIALIZED (SELECT m, vec_id AS cell, q AS cq
         |  FROM ${pfx}xqm
         |  WHERE vec_id IN (SELECT vec_id FROM ${pfx}pcset))""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(",\n")
        .append(pqTrainedDistSql(r.toString, s"${pfx}pc${r - 1}", pfx))
      sb.append(s""",
        |${pfx}pm$r AS (SELECT m, cell, i.i,
        |    CAST(FLOOR(CAST(SUM(q[i.i]) AS DOUBLE) / COUNT(*)) AS BIGINT)
        |      AS cqi
        |  FROM ${pfx}pa$r, (SELECT unnest(generate_series(1, $PqSubDim)) AS i) i
        |  GROUP BY 1, 2, 3),
        |${pfx}pc$r AS MATERIALIZED (SELECT m, cell, list(cqi ORDER BY i) AS cq
        |  FROM ${pfx}pm$r GROUP BY 1, 2)""".stripMargin)
    }
    sb.toString
  }

  /** Per-query ADC lookup table of micro-quantized partial dots. */
  private val pqLutSql =
    s"""lut AS (SELECT q.vec_id query_id, cs.m, cent_id AS code,
       |    CAST(ROUND(list_dot_product(
       |      list_slice(q.v, cs.m * $PqSubDim + 1, cs.m * $PqSubDim + $PqSubDim),
       |      c) * 1000000.0) AS BIGINT) qp
       |  FROM e q, cs
       |  WHERE q.vec_id IN (SELECT vec_id FROM qset))""".stripMargin

  /** ADC continuation: candidate score = integer sum of PqM table
    * entries over the whole corpus (flat PQ).
    */
  private val pqAdcSql =
    s"""$pqLutSql,
       |sc AS (SELECT lut.query_id, k.vec_id nbr_id, SUM(qp) score
       |  FROM codes k JOIN lut ON k.m = lut.m AND k.code = lut.code
       |  WHERE k.vec_id <> lut.query_id GROUP BY 1, 2)""".stripMargin

  /** IVF-PQ continuation: integer Lloyd coarse-cell assignment
    * (`ivfrk` — `cent` is the PQ codebook here, so the coarse ladder
    * composes without it) + cell-restricted ADC.
    */
  /** The plain-composite score chain, parameterized on an optional
    * candidate-filter join (round 11 — the filtered variant's oracle
    * mirrors the SAME text with one extra semi-join, exactly like the
    * Spark side composes pqAdcParts): empty `candJoin` reproduces the
    * historical pqIvfSql byte-for-byte.
    */
  private def pqIvfScSql(candJoin: String = ""): String =
    s"""${lloydLadderSql(IvfTrainRounds)},
       |${ivfRankSql()},
       |asncell AS MATERIALIZED (SELECT vec_id, cell FROM ivfrk
       |  WHERE rn = 1),
       |$pqLutSql,
       |sc AS (SELECT lut.query_id, k2.vec_id nbr_id, SUM(qp) score
       |  FROM codes k2$candJoin
       |  JOIN asncell ca ON k2.vec_id = ca.vec_id
       |  JOIN asncell qa ON qa.cell = ca.cell
       |    AND qa.vec_id IN (SELECT vec_id FROM qset)
       |  JOIN lut ON lut.query_id = qa.vec_id
       |    AND lut.m = k2.m AND lut.code = k2.code
       |  WHERE k2.vec_id <> lut.query_id GROUP BY 1, 2)""".stripMargin

  private lazy val pqIvfSql = pqIvfScSql()

  /** The filtered composite's full oracle text — shared verbatim by
    * the inline query and its from-store twin (the store contract
    * makes them row-identical).
    */
  private lazy val pqIvfFilteredOracle =
    s"""WITH $pqSql,
       |allowed AS (SELECT doc_id AS vec_id FROM documents
       |  WHERE lang = 'en'),
       |${pqIvfScSql("\n  JOIN allowed al ON k2.vec_id = al.vec_id")}
       |SELECT query_id, CAST(rk AS BIGINT) rank, nbr_id,
       |ROUND(CAST(score AS DOUBLE) / 1000000.0, 6) adc FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, nbr_id) rk FROM sc)
       |WHERE rk <= $K""".stripMargin

  /** IVF-PQ nprobe continuation (knnIvfPqProbe's mirror): candidates
    * keep their one home cell (`asncell`), bounded-batch queries
    * probe their `rn <= 2` nearest cells (`qprobe`) — plain-PQ ADC
    * scores are cell-independent, so the probe only widens the
    * candidate join; a pair still meets at most once.
    */
  private lazy val pqIvfProbeSql =
    s"""${lloydLadderSql(IvfTrainRounds)},
       |${ivfRankSql()},
       |asncell AS MATERIALIZED (SELECT vec_id, cell FROM ivfrk
       |  WHERE rn = 1),
       |qprobe AS MATERIALIZED (SELECT vec_id, cell FROM ivfrk
       |  WHERE rn <= $IvfPqProbes
       |    AND vec_id IN (SELECT vec_id FROM qset)),
       |$pqLutSql,
       |sc AS (SELECT lut.query_id, k2.vec_id nbr_id, SUM(qp) score
       |  FROM codes k2
       |  JOIN asncell ca ON k2.vec_id = ca.vec_id
       |  JOIN qprobe qa ON qa.cell = ca.cell
       |  JOIN lut ON lut.query_id = qa.vec_id
       |    AND lut.m = k2.m AND lut.code = k2.code
       |  WHERE k2.vec_id <> lut.query_id GROUP BY 1, 2)""".stripMargin

  /** Residual-IVFPQ TRAINING prefix (expects `e` and lloydCentSql's
    * `xq`/`c<rounds>`/`cent`): integer coarse assignment with
    * centroids joined back for the residual (`rasn`), residual slices
    * (`rxqm`), the residual training ladder (final codebook
    * `rpc<rounds>`, long form `rpm<rounds>`), and the final code
    * assignment (`rpaF`) — the oracle twin of residualChain.
    */
  private lazy val resTrainSql =
    s"""${ivfRankSql()},
       |rasn AS MATERIALIZED (SELECT r.vec_id, e.v, r.cell, c.cv
       |  FROM ivfrk r JOIN e ON e.vec_id = r.vec_id
       |  JOIN cent c ON c.cent_id = r.cell
       |  WHERE r.rn = 1),
       |psub AS (SELECT CAST(g.m AS INT) m FROM
       |  (SELECT unnest(generate_series(0, ${PqM - 1})) m) g),
       |rxqm AS MATERIALIZED (SELECT r.vec_id, r.cell, s.m,
       |    list_transform(generate_series(s.m * $PqSubDim + 1,
       |      s.m * $PqSubDim + $PqSubDim),
       |      i -> CAST(ROUND(r.v[i] * 1000000.0) AS BIGINT)
       |        - CAST(ROUND(r.cv[i] * 1000000.0) AS BIGINT))
       |      AS q
       |  FROM rasn r, psub s),
       |${pqLadderFromXqmSql(IvfTrainRounds, "r")},
       |${pqTrainedDistSql("F", s"rpc$IvfTrainRounds", "r")}""".stripMargin

  /** Residual-IVFPQ chain (expects `qset`, `e`, and lloydCentSql's
    * `xq`/`c<rounds>`/`cent`): the training prefix plus the per-query
    * LUT and ADC scores — terminal CTE `scr(query_id, nbr_id, adc_q)`.
    * Shared by the retrieval oracle and its recall monitor.
    */
  private lazy val resAdcSql =
    s"""$resTrainSql,
       |lutr AS (SELECT x.vec_id AS query_id, x.cell AS qcell, x.m,
       |    c.cell AS code,
       |    CAST(list_sum(list_transform(c.cq, v -> v * v))
       |      - 2 * list_sum(list_transform(generate_series(1, $PqSubDim),
       |          i -> x.q[i] * c.cq[i])) AS BIGINT) AS part
       |  FROM rxqm x JOIN rpc$IvfTrainRounds c ON x.m = c.m
       |  WHERE x.vec_id IN (SELECT vec_id FROM qset)),
       |scr AS (SELECT l.query_id, k.vec_id AS nbr_id,
       |    SUM(l.part) AS adc_q
       |  FROM rpaF k
       |  JOIN (SELECT DISTINCT vec_id, cell FROM rxqm) co
       |    ON k.vec_id = co.vec_id
       |  JOIN lutr l ON l.m = k.m AND l.code = k.cell
       |    AND l.qcell = co.cell
       |  WHERE k.vec_id <> l.query_id
       |  GROUP BY 1, 2)""".stripMargin

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al.,
    * SIGIR 2009) — the lexical+vector composition every production
    * search stack ships: an ANN branch (the IVF index) and an exact
    * lexical branch (3-gram shingle overlap through the SAME
    * fingerprint pass the dedup family runs, so candidates come from
    * a shingle-keyed join — query-keyed, never all-pairs), fused per
    * query as Σ 1e6 div (60 + rank) over the branches that returned
    * the item. Integer ppm arithmetic end-to-end: ranks are exact on
    * both engines, so the fusion is too. Queries are the strided id
    * set shared with the whole ANN family; documents and embeddings
    * are row-aligned by id (the fixture contract, doc_id = vec_id).
    *
    * Scale shape: the lexical branch shuffles on the shingle hash
    * with the query side pre-filtered to the stride (|Q| ≪ n); the
    * ANN branch is the audited IVF plan; the fusion join and rank
    * window are per-query-bounded (≤ 2k rows per query). RRF's k=60
    * constant is the paper's.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, k: Int = K): DataFrame = {
    // one query-id set for both branches: the embedding table's "q"
    // sample (fixture contract doc_id = vec_id, so each query has
    // both a vector and text)
    val qids = hashSample(vecs(emb), "q", QueryCount).select("vec_id")
      .localCheckpoint(false)
    val ann = knnIvf(emb, k) // knnIvf's query batch IS the same sample
      .select(col("query_id"), col("nbr_id").as("id"),
        col("rank").as("r_ann"))
    val sh = Dedup.docShingleHashes(docs).localCheckpoint(false) // query + corpus sides
    val wLex = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("common").desc, col("id"))
    val lex = sh.join(qids.withColumnRenamed("vec_id", "doc_id"),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("query_id"), col("sh"))
      .join(sh.select(col("doc_id").as("id"), col("sh")), Seq("sh"))
      .filter(col("id") =!= col("query_id"))
      .groupBy(col("query_id"), col("id"))
      .agg(count(lit(1)).as("common"))
      .withColumn("r_lex", row_number().over(wLex))
      .filter(col("r_lex") <= k)
      .select(col("query_id"), col("id"), col("r_lex"))
    val wFuse = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf_ppm").desc, col("id"))
    // the ANN branch (IVF training ladder + in-cell scoring) and the
    // lexical branch (shingle-keyed join) are independent until the
    // fusion join — overlap them (guide §2.6); each side is ≤ |Q|·k
    // rows, so the checkpoints are free
    val Seq(annM, lexM) = Par.materialize(ann, lex)
    annM.join(lexM, Seq("query_id", "id"), "full_outer")
      .select(col("query_id"), col("id"),
        (coalesce(expr("1000000 div (60 + r_ann)"), lit(0L))
          + coalesce(expr("1000000 div (60 + r_lex)"), lit(0L)))
          .as("rrf_ppm"))
      .withColumn("rank", row_number().over(wFuse).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), col("rrf_ppm"))
  }

  /** MMR diversity re-rank (maximal marginal relevance, Carbonell &
    * Goldstein 1998) — the greedy rerank every retrieval stack puts
    * between ANN and the consumer: step r picks the candidate
    * maximizing λ·rel − (1−λ)·max_{s∈chosen} sim(d, s). λ=0.7 is
    * expressed as the integer split 7·rel_q − 3·maxpen_q over
    * micro-unit-quantized cosines, so every step's argmax is exact
    * integer arithmetic (ties to the lower id) and both engines walk
    * the same greedy path — the same device as the BPE merge ladder,
    * and like it mirrored in the oracle as an unrolled CTE ladder.
    *
    * Scale shape: candidates come from the audited IVF plan (top
    * `cand` per strided query); the pairwise penalty matrix is
    * per-query-bounded (≤ cand² rows per query, query-keyed join);
    * each greedy step is one bounded rank window; `k` steps total.
    * Everything data-sized stays in the candidate generation the ANN
    * index already paid for.
    */
  def mmrRerank(emb: DataFrame, cand: Int = MmrCand, k: Int = MmrK)
  : DataFrame = {
    val e = vecs(emb)
    val c = knnIvf(emb, cand) // query side already the bounded batch
      .join(e.select(col("vec_id").as("nbr_id"), col("v").as("vn")),
        Seq("nbr_id"))
      .select(col("query_id"), col("nbr_id").as("id"), col("vn"),
        round(col("cos") * lit(1000000.0d)).cast("long").as("rel_q"))
      .localCheckpoint(false) // pairwise penalties + every greedy step
    val pen = c.as("a")
      .join(c.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.query_id").as("query_id"), col("a.id").as("id"),
        col("b.id").as("oid"),
        round(cosineFast(col("a.vn"), col("b.vn")) * lit(1000000.0d))
          .cast("long").as("pen_q"))
      .localCheckpoint(false) // re-read by every step
    val wPick = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_q").desc, col("id"))
    var chosen = c
      .select(col("query_id"), col("id"),
        (lit(7L) * col("rel_q")).as("score_q"))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("id"), lit(1L).as("rank"),
        col("score_q"))
    for (r <- 2 to k) {
      val mp = pen
        .join(chosen.select(col("query_id"), col("id").as("oid")),
          Seq("query_id", "oid"))
        .groupBy(col("query_id"), col("id"))
        .agg(max(col("pen_q")).as("maxpen"))
      val next = c
        .join(chosen.select(col("query_id"), col("id")),
          Seq("query_id", "id"), "left_anti")
        .join(mp, Seq("query_id", "id"))
        .select(col("query_id"), col("id"),
          (lit(7L) * col("rel_q") - lit(3L) * col("maxpen"))
            .as("score_q"))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("id"), lit(r.toLong).as("rank"),
          col("score_q"))
      chosen = chosen.unionByName(next).localCheckpoint(false)
    }
    chosen.select(col("query_id"), col("rank"), col("id"),
      col("score_q"))
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("sim_knn_brute",
      (s, d) => knnBrute(Tables.embeddings(s, d)),
      Some(s"""WITH $qsetSql,
              |scored AS (SELECT q.vec_id query_id, c.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              |      CAST(c.embedding AS DOUBLE[])), 6) AS cos
              |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset))
              |SELECT query_id, CAST(rk AS BIGINT) rank, nbr_id, cos FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM scored)
              |WHERE rk <= $K""".stripMargin)),

    QueryDef("sim_knn_lsh",
      (s, d) => knnLsh(Tables.embeddings(s, d)),
      Some(s"""WITH $planesSql,
              |scored AS (SELECT a.vec_id query_id, b.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
              |  FROM buckets a JOIN buckets b
              |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
              |SELECT query_id, CAST(rk AS BIGINT) rank, nbr_id, cos FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM scored)
              |WHERE rk <= $K""".stripMargin)),

    QueryDef("sim_knn_multiprobe",
      (s, d) => knnLshMultiprobe(Tables.embeddings(s, d)),
      Some(s"""WITH $planesSql,
              |$probes1Sql,
              |scored AS (SELECT a.vec_id query_id, b.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
              |  FROM probes a JOIN buckets b
              |    ON a.probe = b.bucket AND a.vec_id <> b.vec_id)
              |SELECT query_id, CAST(rk AS BIGINT) rank, nbr_id, cos FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM scored)
              |WHERE rk <= $K""".stripMargin)),

    QueryDef("sim_bucket_stats",
      (s, d) => bucketStats(Tables.embeddings(s, d)),
      Some(s"""WITH $planesSql
              |SELECT bucket, COUNT(*) AS n_vecs FROM buckets GROUP BY bucket""".stripMargin)),

    QueryDef("sim_centroids",
      (s, d) => centroids(Tables.embeddings(s, d)),
      Some(s"""SELECT CAST(label AS BIGINT) AS label, CAST(g.i AS INT) AS idx,
              |COUNT(*) AS n_vecs,
              |ROUND(FLOOR(CAST(SUM(CAST(ROUND(CAST(embedding AS DOUBLE[])[g.i + 1] * 1000000.0) AS BIGINT)) AS DOUBLE)
              |  / COUNT(*)) / 1000000.0, 6) AS centroid
              |FROM embeddings, (SELECT unnest(generate_series(0, ${Dim - 1})) i) g
              |GROUP BY 1, 2""".stripMargin)),

    QueryDef("sim_recall_at_k",
      (s, d) => annRecallAtK(Tables.embeddings(s, d)),
      Some(s"""WITH $planesSql,
              |$probes1Sql,
              |$qsetSql,
              |exsc AS (SELECT q.vec_id query_id, c.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              |      CAST(c.embedding AS DOUBLE[])), 6) AS cos
              |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset)),
              |ex AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM exsc) WHERE rk <= $K),
              |apsc AS (SELECT a.vec_id query_id, b.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
              |  FROM probes a JOIN buckets b
              |    ON a.probe = b.bucket AND a.vec_id <> b.vec_id),
              |ap AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM apsc)
              |  WHERE rk <= $K AND query_id IN (SELECT vec_id FROM qset)),
              |hits AS (SELECT e.query_id, COUNT(*) n_hit FROM ex e
              |  JOIN ap ON e.query_id = ap.query_id AND e.nbr_id = ap.nbr_id
              |  GROUP BY 1),
              |base AS (SELECT query_id, COUNT(*) n_exact FROM ex GROUP BY 1)
              |SELECT COUNT(*) AS n_queries,
              |ROUND(AVG(CAST(COALESCE(n_hit, 0) AS DOUBLE)/n_exact), 6) AS avg_recall
              |FROM base LEFT JOIN hits USING (query_id)""".stripMargin)),

    // V3 (beyond-ref): dedup-aware hard-negative mining off the same
    // multiprobe buckets as the ANN index — the contrastive-training
    // data op (anchors paired with near-but-not-duplicate negatives).
    QueryDef("sim_hard_negatives",
      (s, d) => hardNegatives(Tables.embeddings(s, d)),
      Some(s"""WITH $planesSql,
              |$probes1Sql,
              |scored AS (SELECT a.vec_id anchor_id, b.vec_id neg_id,
              |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
              |  FROM probes a JOIN buckets b
              |    ON a.probe = b.bucket AND a.vec_id <> b.vec_id),
              |banded AS (SELECT * FROM scored
              |  WHERE cos >= $HardNegLo AND cos < $HardNegHi)
              |SELECT anchor_id, CAST(rk AS BIGINT) rank, neg_id, cos FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
              |    ORDER BY cos DESC, neg_id) rk FROM banded)
              |WHERE rk <= $HardNegK""".stripMargin)),

    // V2 (beyond-ref): the dimension-compression axis of the recall
    // family (sim_recall_at_k = index axis, sim_sq8_recall = bit
    // axis) — brute top-k on the first TruncDim dims vs full-dim.
    QueryDef("sim_truncation_recall",
      (s, d) => truncationRecallAtK(Tables.embeddings(s, d)),
      Some(s"""WITH $qsetSql,
              |exsc AS (SELECT q.vec_id query_id, c.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              |      CAST(c.embedding AS DOUBLE[])), 6) AS cos
              |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset)),
              |ex AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM exsc) WHERE rk <= $K),
              |apsc AS (SELECT q.vec_id query_id, c.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(
              |      CAST(q.embedding AS DOUBLE[])[1:$TruncDim],
              |      CAST(c.embedding AS DOUBLE[])[1:$TruncDim]), 6) AS cos
              |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset)),
              |ap AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM apsc) WHERE rk <= $K),
              |hits AS (SELECT e.query_id, COUNT(*) n_hit FROM ex e
              |  JOIN ap ON e.query_id = ap.query_id AND e.nbr_id = ap.nbr_id
              |  GROUP BY 1),
              |base AS (SELECT query_id, COUNT(*) n_exact FROM ex GROUP BY 1)
              |SELECT COUNT(*) AS n_queries,
              |ROUND(AVG(CAST(COALESCE(n_hit, 0) AS DOUBLE)/n_exact), 6) AS avg_recall
              |FROM base LEFT JOIN hits USING (query_id)""".stripMargin)),

    // V5 (beyond-ref): Johnson–Lindenstrauss ±1 random projection to
    // RpDim dims + measured recall vs the full-dim baseline — the
    // data-independent member of the compression family.
    QueryDef("sim_rp_recall",
      (s, d) => rpRecallAtK(Tables.embeddings(s, d)),
      Some(s"""WITH $qsetSql,
              |xq AS (SELECT vec_id, embedding,
              |    list_transform(CAST(embedding AS DOUBLE[]),
              |      x -> CAST(ROUND(x * 1000000.0) AS BIGINT)) q
              |  FROM embeddings),
              |proj AS (SELECT vec_id,
              |    list_transform(generate_series(0, ${RpDim - 1}), j ->
              |      CAST(list_sum(list_transform(generate_series(0, ${Dim - 1}), i ->
              |        q[i + 1] * (CASE WHEN ((i * 48271 + j * 16807) % 65537) % 2 = 0
              |          THEN 1 ELSE -1 END))) AS DOUBLE)) p
              |  FROM xq),
              |exsc AS (SELECT q.vec_id query_id, c.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              |      CAST(c.embedding AS DOUBLE[])), 6) AS cos
              |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset)),
              |ex AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM exsc) WHERE rk <= $K),
              |apsc AS (SELECT a.vec_id query_id, b.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(a.p, b.p), 6) AS cos
              |  FROM proj a JOIN proj b ON a.vec_id <> b.vec_id
              |  WHERE a.vec_id IN (SELECT vec_id FROM qset)),
              |ap AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM apsc) WHERE rk <= $K),
              |hits AS (SELECT e.query_id, COUNT(*) n_hit FROM ex e
              |  JOIN ap ON e.query_id = ap.query_id AND e.nbr_id = ap.nbr_id
              |  GROUP BY 1),
              |base AS (SELECT query_id, COUNT(*) n_exact FROM ex GROUP BY 1)
              |SELECT COUNT(*) AS n_queries,
              |ROUND(AVG(CAST(COALESCE(n_hit, 0) AS DOUBLE)/n_exact), 6) AS avg_recall
              |FROM base LEFT JOIN hits USING (query_id)""".stripMargin)),

    // V6 (beyond-ref): Lloyd-iteration k-means — the IVF codebook
    // trainer; see kmeansLloyd for the integer-exact round structure.
    QueryDef("sim_kmeans_lloyd",
      (s, d) => kmeansLloyd(Tables.embeddings(s, d)),
      Some(kmeansLloydSql(LloydRounds))),

    // V15: cell splitting — the skew-repair maintenance verb; see
    // ivfSplitCells for the seed/threshold devices.
    QueryDef("sim_ivf_split_cells",
      (s, d) => ivfSplitCells(Tables.embeddings(s, d)),
      Some(ivfSplitCellsSql)),

    // V16: codebook drift — the when-to-retrain gauge; see
    // codebookDrift.
    QueryDef("sim_codebook_drift",
      (s, d) => codebookDrift(Tables.embeddings(s, d)),
      Some(codebookDriftSql)),

    QueryDef("sim_quantize_int8",
      (s, d) => quantizeInt8(Tables.embeddings(s, d)),
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
              |b AS (SELECT vec_id, v, list_min(v) mn, list_max(v) mx FROM e),
              |x AS (SELECT vec_id, g.i AS idx, v[g.i + 1] AS value, mn, mx
              |  FROM b, (SELECT unnest(generate_series(0, ${Dim - 1})) i) g)
              |SELECT vec_id, CAST(idx AS INT) AS idx,
              |CAST(CASE WHEN mx = mn THEN 0
              |  ELSE ROUND((value - mn) * 255.0 / (mx - mn)) END AS BIGINT) AS code,
              |ROUND(mn, 6) AS mn, ROUND(mx, 6) AS mx
              |FROM x""".stripMargin)),

    QueryDef("sim_knn_sq8_rerank",
      (s, d) => knnSq8Rerank(Tables.embeddings(s, d)),
      Some(s"""WITH $qsetSql,
              |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
              |g AS (SELECT MAX(GREATEST(list_max(v), -list_min(v))) AS gmax FROM e),
              |c AS (SELECT vec_id, v, list_transform(v,
              |    x -> CASE WHEN gmax = 0 THEN 0
              |      ELSE CAST(ROUND(x * 127.0 / gmax) AS BIGINT)
              |    END) AS codes FROM e, g),
              |p AS (SELECT q.vec_id query_id, t.vec_id nbr_id,
              |    CAST(list_dot_product(CAST(q.codes AS DOUBLE[]),
              |      CAST(t.codes AS DOUBLE[])) AS BIGINT) AS iscore,
              |    q.v qv, t.v cv
              |  FROM c q JOIN c t ON q.vec_id <> t.vec_id
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset)),
              |cand AS (SELECT query_id, nbr_id, qv, cv FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY iscore DESC, nbr_id) crk FROM p)
              |  WHERE crk <= $RerankCand),
              |r AS (SELECT query_id, nbr_id,
              |    ROUND(list_cosine_similarity(qv, cv), 6) cos FROM cand)
              |SELECT query_id, CAST(rk AS BIGINT) rank, nbr_id, cos FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM r)
              |WHERE rk <= $K""".stripMargin)),

    // SQ8 recall against the exact baseline — the quantization-loss
    // monitor: how much top-k does 8-bit coarse scoring + top-20
    // rerank give up vs full-precision brute force.
    QueryDef("sim_sq8_recall",
      (s, d) => annRecallAtK(Tables.embeddings(s, d),
        index = knnSq8Rerank(_, _)),
      Some(s"""WITH $qsetSql,
              |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
              |g AS (SELECT MAX(GREATEST(list_max(v), -list_min(v))) AS gmax FROM e),
              |c AS (SELECT vec_id, v, list_transform(v,
              |    x -> CASE WHEN gmax = 0 THEN 0
              |      ELSE CAST(ROUND(x * 127.0 / gmax) AS BIGINT)
              |    END) AS codes FROM e, g),
              |p AS (SELECT q.vec_id query_id, t.vec_id nbr_id,
              |    CAST(list_dot_product(CAST(q.codes AS DOUBLE[]),
              |      CAST(t.codes AS DOUBLE[])) AS BIGINT) AS iscore,
              |    q.v qv, t.v cv
              |  FROM c q JOIN c t ON q.vec_id <> t.vec_id
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset)),
              |cand AS (SELECT query_id, nbr_id, qv, cv FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY iscore DESC, nbr_id) crk FROM p)
              |  WHERE crk <= $RerankCand),
              |rr AS (SELECT query_id, nbr_id,
              |    ROUND(list_cosine_similarity(qv, cv), 6) cos FROM cand),
              |ap AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM rr) WHERE rk <= $K),
              |exsc AS (SELECT q.vec_id query_id, t.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(q.v, t.v), 6) AS cos
              |  FROM e q JOIN e t ON q.vec_id <> t.vec_id
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset)),
              |ex AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM exsc) WHERE rk <= $K),
              |hits AS (SELECT e2.query_id, COUNT(*) n_hit FROM ex e2
              |  JOIN ap ON e2.query_id = ap.query_id AND e2.nbr_id = ap.nbr_id
              |  GROUP BY 1),
              |base AS (SELECT query_id, COUNT(*) n_exact FROM ex GROUP BY 1)
              |SELECT COUNT(*) AS n_queries,
              |ROUND(AVG(CAST(COALESCE(n_hit, 0) AS DOUBLE)/n_exact), 6) AS avg_recall
              |FROM base LEFT JOIN hits USING (query_id)""".stripMargin)),

    QueryDef("sim_knn_ivf",
      (s, d) => knnIvf(Tables.embeddings(s, d)),
      Some(ivfSql)),

    // V7 (beyond-ref): same index relation served from the persisted
    // cell-partitioned store — row-identical to sim_knn_ivf, so it
    // shares the oracle (the driver independently re-verifies that).
    QueryDef("sim_knn_ivf_from_store",
      (s, d) => knnIvfFromStore(s, d),
      Some(ivfSql)),

    // V21 (beyond-ref): FAISS range_search — the radius cut over the
    // SAME in-cell scored stream as sim_knn_ivf (shared CTE prefix);
    // see rangeSearchIvf for why the windowless cut is the scale win.
    QueryDef("sim_range_search",
      (s, d) => rangeSearchIvf(Tables.embeddings(s, d)),
      Some(rangeSql)),

    // V21's from-store twin — the persisted-index read half, sharing
    // rangeSql exactly as sim_knn_ivf_from_store shares ivfSql.
    QueryDef("sim_range_from_store",
      (s, d) => rangeSearchIvfFromStore(s, d),
      Some(rangeSql)),

    QueryDef("sim_mmr_rerank",
      (s, d) => mmrRerank(Tables.embeddings(s, d)),
      Some {
        val steps = (2 to MmrK).map { r =>
          s"""mst$r AS MATERIALIZED (SELECT query_id, id, CAST($r AS BIGINT) rank, score_q FROM (
             |  SELECT m.query_id, m.id, 7*m.rel_q - 3*m.maxpen AS score_q,
             |    ROW_NUMBER() OVER (PARTITION BY m.query_id
             |      ORDER BY 7*m.rel_q - 3*m.maxpen DESC, m.id) rn
             |  FROM (SELECT c.query_id, c.id, c.rel_q, MAX(p.pen_q) maxpen
             |    FROM cand c
             |    JOIN pen p ON p.query_id = c.query_id AND p.id = c.id
             |    JOIN ch${r - 1} s ON s.query_id = p.query_id AND s.id = p.oid
             |    WHERE NOT EXISTS (SELECT 1 FROM ch${r - 1} x
             |      WHERE x.query_id = c.query_id AND x.id = c.id)
             |    GROUP BY 1, 2, 3) m) WHERE rn = 1),
             |ch$r AS MATERIALIZED (SELECT * FROM ch${r - 1}
             |  UNION ALL SELECT * FROM mst$r)""".stripMargin
        }.mkString(",\n")
        s"""WITH $qsetSql,
           |$ivfAssignedSql,
           |scored AS (SELECT a.vec_id query_id, b.vec_id id,
           |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
           |  FROM assigned a JOIN assigned b
           |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
           |cand AS MATERIALIZED (SELECT query_id, id,
           |    CAST(ROUND(cos * 1000000.0) AS BIGINT) rel_q FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |    ORDER BY cos DESC, id) rk FROM scored)
           |  WHERE rk <= $MmrCand AND query_id IN (SELECT vec_id FROM qset)),
           |pen AS MATERIALIZED (SELECT c1.query_id, c1.id, c2.id oid,
           |    CAST(ROUND(list_cosine_similarity(va.v, vb.v) * 1000000.0)
           |      AS BIGINT) pen_q
           |  FROM cand c1 JOIN cand c2
           |    ON c1.query_id = c2.query_id AND c1.id <> c2.id
           |  JOIN e va ON va.vec_id = c1.id
           |  JOIN e vb ON vb.vec_id = c2.id),
           |ch1 AS MATERIALIZED (SELECT query_id, id, CAST(1 AS BIGINT) rank,
           |    7*rel_q AS score_q FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |    ORDER BY 7*rel_q DESC, id) rn FROM cand) WHERE rn = 1),
           |$steps
           |SELECT query_id, rank, id, score_q FROM ch$MmrK""".stripMargin
      }),

    QueryDef("sim_hybrid_rrf",
      (s, d) => hybridRrf(Tables.documents(s, d), Tables.embeddings(s, d)),
      Some(s"""WITH $qsetSql,
              |$ivfAssignedSql,
              |scored AS (SELECT a.vec_id query_id, b.vec_id id,
              |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
              |  FROM assigned a JOIN assigned b
              |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
              |ann AS (SELECT query_id, id, rk AS r_ann FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, id) rk FROM scored)
              |  WHERE rk <= $K AND query_id IN (SELECT vec_id FROM qset)),
              |${Dedup.shSql},
              |q AS (SELECT doc_id AS query_id, sh FROM sh
              |  WHERE doc_id IN (SELECT vec_id FROM qset)),
              |lexc AS (SELECT q.query_id, s.doc_id AS id, COUNT(*) common
              |  FROM q JOIN sh s ON q.sh = s.sh AND s.doc_id <> q.query_id
              |  GROUP BY 1, 2),
              |lex AS (SELECT query_id, id, rk AS r_lex FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY common DESC, id) rk FROM lexc) WHERE rk <= $K),
              |u AS (SELECT COALESCE(a.query_id, l.query_id) query_id,
              |    COALESCE(a.id, l.id) id,
              |    COALESCE(1000000 // (60 + a.r_ann), 0)
              |      + COALESCE(1000000 // (60 + l.r_lex), 0) AS rrf_ppm
              |  FROM ann a FULL OUTER JOIN lex l
              |    ON a.query_id = l.query_id AND a.id = l.id)
              |SELECT query_id, CAST(rk AS BIGINT) rank, id, rrf_ppm FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY rrf_ppm DESC, id) rk FROM u)
              |WHERE rk <= $K""".stripMargin)),

    QueryDef("sim_cell_stats",
      (s, d) => cellStats(Tables.embeddings(s, d)),
      Some(s"""WITH $ivfAssignedSql
              |SELECT cell, COUNT(*) AS n_vecs FROM assigned GROUP BY 1""".stripMargin)),

    QueryDef("sim_knn_ivf_probe2",
      (s, d) => knnIvfProbe(Tables.embeddings(s, d)),
      Some(s"""WITH $qsetSql,
              |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
              |${lloydLadderSql(IvfTrainRounds)},
              |${ivfRankSql()},
              |ranked AS (SELECT r.vec_id, e.v, r.cell, r.rn
              |  FROM ivfrk r JOIN e ON e.vec_id = r.vec_id),
              |home AS (SELECT vec_id, v, cell FROM ranked WHERE rn = 1),
              |probe AS (SELECT vec_id, v, cell FROM ranked WHERE rn <= 2
              |  AND vec_id IN (SELECT vec_id FROM qset)),
              |scored AS (SELECT a.vec_id query_id, b.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
              |  FROM probe a JOIN home b
              |    ON a.cell = b.cell AND a.vec_id <> b.vec_id)
              |SELECT query_id, CAST(rk AS BIGINT) rank, nbr_id, cos FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM scored)
              |WHERE rk <= $K""".stripMargin)),

    // V11 (beyond-ref): embedding-collapse monitor — see
    // corpusDiversity for the integer-ppm device.
    QueryDef("sim_corpus_diversity",
      (s, d) => corpusDiversity(Tables.embeddings(s, d)),
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
              |  FROM embeddings ORDER BY md5('q' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $QueryCount),
              |p AS (SELECT ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
              |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
              |q AS (SELECT cos, CAST(ROUND(cos * 1000000) AS BIGINT) AS q
              |  FROM p),
              |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
              |    CAST(COALESCE(SUM(q), 0) AS BIGINT) AS sq,
              |    MIN(cos) AS min_cos, MAX(cos) AS max_cos,
              |    CAST(COALESCE(SUM(CASE WHEN cos > $CollapseT
              |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hi
              |  FROM q)
              |SELECT n_pairs,
              |CASE WHEN n_pairs = 0 THEN CAST(0 AS BIGINT)
              |  ELSE (sq + 2000000 * n_pairs) // n_pairs - 2000000
              |  END AS mean_cos_ppm,
              |min_cos, max_cos,
              |CASE WHEN n_pairs = 0 THEN CAST(0 AS BIGINT)
              |  ELSE (n_hi * 1000000) // n_pairs END
              |  AS collapse_share_ppm
              |FROM agg""".stripMargin)),

    // V9 (beyond-ref): recall-vs-nprobe curve from one pass — see
    // nprobeSweep for the shared-candidate-set device.
    QueryDef("sim_nprobe_sweep",
      (s, d) => nprobeSweep(Tables.embeddings(s, d)),
      Some(s"""WITH $qsetSql,
              |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
              |${lloydLadderSql(IvfTrainRounds)},
              |${ivfRankSql()},
              |ranked AS (SELECT r.vec_id, e.v, r.cell, r.rn
              |  FROM ivfrk r JOIN e ON e.vec_id = r.vec_id),
              |home AS (SELECT vec_id, v, cell FROM ranked WHERE rn = 1),
              |probe AS (SELECT vec_id, v, cell, rn AS cell_rank FROM ranked
              |  WHERE rn <= ${NprobeSweep.max} AND vec_id IN (SELECT vec_id FROM qset)),
              |cand AS (SELECT a.vec_id query_id, a.cell_rank, b.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
              |  FROM probe a JOIN home b
              |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
              |ps AS (SELECT CAST(unnest([${NprobeSweep.mkString(", ")}]) AS BIGINT)
              |  AS nprobe),
              |ap AS (SELECT nprobe, query_id, nbr_id FROM (
              |  SELECT ps.nprobe, c.query_id, c.nbr_id,
              |    ROW_NUMBER() OVER (PARTITION BY ps.nprobe, c.query_id
              |      ORDER BY c.cos DESC, c.nbr_id) rk
              |  FROM cand c JOIN ps ON c.cell_rank <= ps.nprobe)
              |  WHERE rk <= $K),
              |exsc AS (SELECT q.vec_id query_id, c.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(q.v, c.v), 6) AS cos
              |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset)),
              |ex AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM exsc) WHERE rk <= $K),
              |hits AS (SELECT ap.nprobe, ap.query_id, COUNT(*) n_hit
              |  FROM ap JOIN ex ON ap.query_id = ex.query_id
              |    AND ap.nbr_id = ex.nbr_id
              |  GROUP BY 1, 2),
              |base AS (SELECT query_id, COUNT(*) n_exact FROM ex GROUP BY 1),
              |grid AS (SELECT nprobe, query_id, n_exact FROM base, ps)
              |SELECT nprobe, COUNT(*) AS n_queries,
              |ROUND(AVG(CAST(COALESCE(n_hit, 0) AS DOUBLE)/n_exact), 6)
              |  AS avg_recall
              |FROM grid LEFT JOIN hits USING (nprobe, query_id)
              |GROUP BY 1""".stripMargin)),

    // V4 (beyond-ref): product quantization — the third compression
    // family beside SQ8 (per-dim bits) and truncation (fewer dims):
    // PqM codebook ids per vector. sim_pq_codes is the index build,
    // sim_knn_pq_adc the asymmetric-distance retrieval that reads
    // ONLY the codes, sim_pq_recall the family's measured-recall
    // monitor (every index family here ships with one).
    QueryDef("sim_pq_codes",
      (s, d) => pqCodes(Tables.embeddings(s, d)),
      Some(s"""WITH $pqSql
              |SELECT vec_id, m, code FROM codes""".stripMargin)),

    // V13 (beyond-ref): the TRAINED per-subspace PQ codebook — what
    // FAISS ProductQuantizer.train does; see pqCodebookTrainedQ.
    QueryDef("sim_pq_codes_trained",
      (s, d) => pqCodesTrained(Tables.embeddings(s, d)),
      Some(s"""WITH $pqXqmSql,
              |${pqLadderFromXqmSql(IvfTrainRounds)},
              |${pqTrainedDistSql("F", s"pc$IvfTrainRounds")}
              |SELECT vec_id, m, cell AS code FROM paF""".stripMargin)),

    // V13's measure-don't-guess loop: total quantization distortion,
    // sampled (round-0) codebook vs the trained one, exact integer
    // micro-units through DECIMAL(38)/HUGEINT. pa1 IS the
    // sampled-codebook assignment (round 1 assigns against pc0), so
    // the monitor prices both codebooks from the ladder's own passes.
    QueryDef("sim_pq_distortion",
      (s, d) => pqDistortion(Tables.embeddings(s, d)),
      Some(s"""WITH $pqXqmSql,
              |${pqLadderFromXqmSql(IvfTrainRounds)},
              |${pqTrainedDistSql("F", s"pc$IvfTrainRounds")}
              |SELECT
              |(SELECT CAST(COUNT(*) AS BIGINT) FROM pa1) AS n_subvecs,
              |(SELECT ROUND(CAST(SUM(CAST(list_sum(list_transform(q,
              |    v -> v * v)) + s AS HUGEINT)) AS DOUBLE) / 1e12, 6)
              |  FROM pa1) AS sampled_e12,
              |(SELECT ROUND(CAST(SUM(CAST(list_sum(list_transform(q,
              |    v -> v * v)) + s AS HUGEINT)) AS DOUBLE) / 1e12, 6)
              |  FROM paF) AS trained_e12""".stripMargin)),

    // V14 (beyond-ref): residual-encoded IVF-PQ — the FAISS default
    // composite; see knnIvfPqRes. Score is exact integer ADC over
    // residual codes; smaller = closer.
    //
    // The oracle emits the score as CAST(SUM(...) AS BIGINT): a bare
    // integer SUM is typed HUGEINT by DuckDB, and some DuckDB builds
    // render that type differently (values ≲ 1e14, far inside int64;
    // the Spark side emits LongType). This row is the standing witness
    // of the README's never-emit-a-bare-SUM rule.
    QueryDef("sim_knn_ivfpq_res",
      (s, d) => knnIvfPqRes(Tables.embeddings(s, d)),
      Some(s"""WITH $qsetSql,
              |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
              |${lloydCentSql()},
              |$resAdcSql
              |SELECT query_id, CAST(rk AS BIGINT) AS rank, nbr_id,
              |CAST(adc_q AS BIGINT) AS adc_q
              |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY adc_q, nbr_id) rk FROM scr)
              |WHERE rk <= $K""".stripMargin)),

    // V14's recall monitor vs the exact cosine baseline — honest
    // pricing of the compounded loss (cell restriction x residual
    // quantization x the L2-on-residuals ranking proxy).
    QueryDef("sim_ivfpq_res_recall",
      (s, d) => annRecallAtK(Tables.embeddings(s, d),
        index = knnIvfPqRes(_, _)),
      Some(s"""WITH $qsetSql,
              |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
              |${lloydCentSql()},
              |$resAdcSql,
              |ap AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY adc_q, nbr_id) rk FROM scr) WHERE rk <= $K),
              |exsc AS (SELECT q.vec_id query_id, c.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(q.v, c.v), 6) AS cos
              |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset)),
              |ex AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM exsc) WHERE rk <= $K),
              |hits AS (SELECT e2.query_id, COUNT(*) n_hit FROM ex e2
              |  JOIN ap ON e2.query_id = ap.query_id
              |    AND e2.nbr_id = ap.nbr_id
              |  GROUP BY 1),
              |base AS (SELECT query_id, COUNT(*) n_exact FROM ex GROUP BY 1)
              |SELECT COUNT(*) AS n_queries,
              |ROUND(AVG(CAST(COALESCE(n_hit, 0) AS DOUBLE)/n_exact), 6)
              |  AS avg_recall
              |FROM base LEFT JOIN hits USING (query_id)""".stripMargin)),

    // V14's measure-don't-guess loop: plain trained PQ vs residual
    // IVFPQ reconstruction distortion, exact integer micro-units.
    QueryDef("sim_ivfpq_res_distortion",
      (s, d) => ivfPqResDistortion(Tables.embeddings(s, d)),
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
              |$pqXqmSql,
              |${pqLadderFromXqmSql(IvfTrainRounds)},
              |${pqTrainedDistSql("F", s"pc$IvfTrainRounds")},
              |${lloydCentSql()},
              |${ivfRankSql()},
              |rasn AS MATERIALIZED (SELECT r.vec_id, e.v, r.cell, c.cv
              |  FROM ivfrk r JOIN e ON e.vec_id = r.vec_id
              |  JOIN cent c ON c.cent_id = r.cell
              |  WHERE r.rn = 1),
              |rxqm AS MATERIALIZED (SELECT r.vec_id, r.cell, s.m,
              |    list_transform(generate_series(s.m * $PqSubDim + 1,
              |      s.m * $PqSubDim + $PqSubDim),
              |      i -> CAST(ROUND(r.v[i] * 1000000.0) AS BIGINT)
              |        - CAST(ROUND(r.cv[i] * 1000000.0) AS BIGINT))
              |      AS q
              |  FROM rasn r, psub s),
              |${pqLadderFromXqmSql(IvfTrainRounds, "r")},
              |${pqTrainedDistSql("F", s"rpc$IvfTrainRounds", "r")}
              |SELECT
              |(SELECT CAST(COUNT(*) AS BIGINT) FROM paF) AS n_subvecs,
              |(SELECT ROUND(CAST(SUM(CAST(list_sum(list_transform(q,
              |    v -> v * v)) + s AS HUGEINT)) AS DOUBLE) / 1e12, 6)
              |  FROM paF) AS pq_trained_e12,
              |(SELECT ROUND(CAST(SUM(CAST(list_sum(list_transform(q,
              |    v -> v * v)) + s AS HUGEINT)) AS DOUBLE) / 1e12, 6)
              |  FROM rpaF) AS ivfpq_res_e12""".stripMargin)),

    // V14's retrieval-quality comparison: residual vs PLAIN IVF-PQ
    // recall at the same coarse quantizer and nprobe(=1), both vs the
    // exact baseline — is the distortion win buying recall? The plain
    // side mirrors knnIvfPq (sampled PQ codebook, pp* CTEs) and reuses
    // the residual chain's coarse assignment `rasn` as its cell map
    // (identical derivation to pqIvfSql's asncell, shared here).
    QueryDef("sim_ivfpq_res_vs_plain",
      (s, d) => ivfPqResVsPlainRecall(Tables.embeddings(s, d)),
      Some(s"""WITH $qsetSql,
              |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
              |${lloydCentSql()},
              |$resAdcSql,
              |ppcent AS MATERIALIZED (SELECT vec_id cent_id, v cv FROM e
              |  ORDER BY md5('c' || CAST(vec_id AS VARCHAR)), vec_id
              |  LIMIT $CentCount),
              |ppxs AS (SELECT e.vec_id, s.m,
              |    list_slice(e.v, s.m * $PqSubDim + 1,
              |      s.m * $PqSubDim + $PqSubDim) x
              |  FROM e, psub s),
              |ppcs AS (SELECT cent_id, s.m,
              |    list_slice(cv, s.m * $PqSubDim + 1,
              |      s.m * $PqSubDim + $PqSubDim) c
              |  FROM ppcent, psub s),
              |ppasn AS (SELECT vec_id, ppxs.m, cent_id,
              |    ROUND(list_dot_product(x, x) - 2.0 * list_dot_product(x, c)
              |      + list_dot_product(c, c), 6) d2
              |  FROM ppxs JOIN ppcs ON ppxs.m = ppcs.m),
              |ppcodes AS (SELECT vec_id, m, cent_id AS code FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
              |    ORDER BY d2, cent_id) rk FROM ppasn) WHERE rk = 1),
              |pplut AS (SELECT q.vec_id query_id, cs.m, cent_id AS code,
              |    CAST(ROUND(list_dot_product(list_slice(q.v,
              |      cs.m * $PqSubDim + 1, cs.m * $PqSubDim + $PqSubDim),
              |      c) * 1000000.0) AS BIGINT) qp
              |  FROM e q, ppcs cs
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset)),
              |ppsc AS (SELECT l.query_id, k.vec_id nbr_id, SUM(qp) score
              |  FROM ppcodes k
              |  JOIN (SELECT vec_id, cell FROM rasn) ca ON k.vec_id = ca.vec_id
              |  JOIN (SELECT vec_id, cell FROM rasn) qa ON qa.cell = ca.cell
              |    AND qa.vec_id IN (SELECT vec_id FROM qset)
              |  JOIN pplut l ON l.query_id = qa.vec_id
              |    AND l.m = k.m AND l.code = k.code
              |  WHERE k.vec_id <> l.query_id GROUP BY 1, 2),
              |app AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY score DESC, nbr_id) rk FROM ppsc) WHERE rk <= $K),
              |apr AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY adc_q, nbr_id) rk FROM scr) WHERE rk <= $K),
              |exsc AS (SELECT q.vec_id query_id, c.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(q.v, c.v), 6) AS cos
              |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset)),
              |ex AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM exsc) WHERE rk <= $K),
              |base AS (SELECT query_id, COUNT(*) n_exact FROM ex GROUP BY 1),
              |hp AS (SELECT e2.query_id, COUNT(*) n_hit FROM ex e2
              |  JOIN app ON e2.query_id = app.query_id
              |    AND e2.nbr_id = app.nbr_id GROUP BY 1),
              |hr AS (SELECT e2.query_id, COUNT(*) n_hit FROM ex e2
              |  JOIN apr ON e2.query_id = apr.query_id
              |    AND e2.nbr_id = apr.nbr_id GROUP BY 1)
              |SELECT
              |(SELECT COUNT(*) FROM base) AS n_queries,
              |(SELECT ROUND(AVG(CAST(COALESCE(n_hit, 0) AS DOUBLE)/n_exact), 6)
              |  FROM base LEFT JOIN hp USING (query_id)) AS plain_recall,
              |(SELECT ROUND(AVG(CAST(COALESCE(n_hit, 0) AS DOUBLE)/n_exact), 6)
              |  FROM base LEFT JOIN hr USING (query_id)) AS res_recall""".stripMargin)),

    QueryDef("sim_knn_pq_adc",
      (s, d) => knnPqAdc(Tables.embeddings(s, d)),
      Some(s"""WITH $pqSql,
              |$pqAdcSql
              |SELECT query_id, CAST(rk AS BIGINT) rank, nbr_id,
              |ROUND(CAST(score AS DOUBLE) / 1000000.0, 6) adc FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY score DESC, nbr_id) rk FROM sc)
              |WHERE rk <= $K""".stripMargin)),

    QueryDef("sim_pq_recall",
      (s, d) => annRecallAtK(Tables.embeddings(s, d),
        index = knnPqAdc(_, _)),
      Some(s"""WITH $pqSql,
              |$pqAdcSql,
              |ap AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY score DESC, nbr_id) rk FROM sc) WHERE rk <= $K),
              |exsc AS (SELECT q.vec_id query_id, t.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(q.v, t.v), 6) AS cos
              |  FROM e q JOIN e t ON q.vec_id <> t.vec_id
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset)),
              |ex AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM exsc) WHERE rk <= $K),
              |hits AS (SELECT e2.query_id, COUNT(*) n_hit FROM ex e2
              |  JOIN ap ON e2.query_id = ap.query_id AND e2.nbr_id = ap.nbr_id
              |  GROUP BY 1),
              |base AS (SELECT query_id, COUNT(*) n_exact FROM ex GROUP BY 1)
              |SELECT COUNT(*) AS n_queries,
              |ROUND(AVG(CAST(COALESCE(n_hit, 0) AS DOUBLE)/n_exact), 6) AS avg_recall
              |FROM base LEFT JOIN hits USING (query_id)""".stripMargin)),

    // V4 composite: IVF cell restriction × PQ-ADC scoring — the
    // production billion-scale shape; its recall monitor reads the
    // COMPOUNDED loss next to the per-axis monitors.
    QueryDef("sim_knn_ivfpq",
      (s, d) => knnIvfPq(Tables.embeddings(s, d)),
      Some(s"""WITH $pqSql,
              |$pqIvfSql
              |SELECT query_id, CAST(rk AS BIGINT) rank, nbr_id,
              |ROUND(CAST(score AS DOUBLE) / 1000000.0, 6) adc FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY score DESC, nbr_id) rk FROM sc)
              |WHERE rk <= $K""".stripMargin)),

    // V18 (round 10): the persisted CODE-ONLY IVF-PQ store — built
    // once per sfDir under a temp dir (the knnIvfFromStore device),
    // then the standard query batch served from codes + the two
    // broadcast sidecars alone; row-identical to the inline composite
    // by construction (same quantizers, same codes, same integer
    // ADC), so it shares sim_knn_ivfpq's oracle.
    QueryDef("sim_knn_ivfpq_store",
      (s, d) => knnIvfPqFromStore(s, cachedPqStore(s, d),
        Tables.embeddings(s, d)),
      Some(s"""WITH $pqSql,
              |$pqIvfSql
              |SELECT query_id, CAST(rk AS BIGINT) rank, nbr_id,
              |ROUND(CAST(score AS DOUBLE) / 1000000.0, 6) adc FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY score DESC, nbr_id) rk FROM sc)
              |WHERE rk <= $K""".stripMargin)),

    // Round 11 (V12 × V18): metadata-filtered retrieval on the
    // compressed tier, inline + from-store — see knnIvfPqFiltered.
    // The candidate semi-join applies BEFORE scoring (pre-filter);
    // the from-store twin is row-identical under the store contract,
    // so both rows share one oracle text.
    QueryDef("sim_knn_ivfpq_filtered",
      (s, d) => knnIvfPqFiltered(Tables.embeddings(s, d),
        Tables.documents(s, d)),
      Some(pqIvfFilteredOracle)),

    QueryDef("sim_knn_ivfpq_store_filtered",
      (s, d) => knnIvfPqFilteredFromStore(s, cachedPqStore(s, d),
        Tables.embeddings(s, d), Tables.documents(s, d)),
      Some(pqIvfFilteredOracle)),

    // Round 11 (VERDICT #4 pairing): the code tier's when-to-rebuild
    // gauge — reconstruction distortion of the PERSISTED codes per
    // bucket10 half, read from the same cached store. The oracle
    // re-derives the codes from pqSql's shared CTE (the store's codes
    // ARE pqCodes', the build contract) and quantizes both sides into
    // the exact integer d = |q − cq|².
    QueryDef("sim_pqstore_drift",
      (s, d) => pqStoreDrift(s, cachedPqStore(s, d),
        Tables.embeddings(s, d)),
      Some(s"""WITH $pqSql,
              |dq AS (SELECT k.vec_id,
              |    CAST(list_sum(list_transform(
              |      generate_series(1, $PqSubDim),
              |      i -> (CAST(ROUND(x.x[i] * 1000000.0) AS BIGINT)
              |            - CAST(ROUND(c.c[i] * 1000000.0) AS BIGINT))
              |         * (CAST(ROUND(x.x[i] * 1000000.0) AS BIGINT)
              |            - CAST(ROUND(c.c[i] * 1000000.0) AS BIGINT))))
              |      AS HUGEINT) AS d
              |  FROM codes k
              |  JOIN xs x ON k.vec_id = x.vec_id AND k.m = x.m
              |  JOIN cs c ON c.cent_id = k.code AND c.m = k.m)
              |SELECT CAST(((vec_id % 100003) * 31 + $DriftSalt * 97)
              |  % 10 < 5 AS INT) AS is_old,
              |CAST(COUNT(*) AS BIGINT) AS n_subvecs,
              |ROUND(CAST(SUM(d) AS DOUBLE) / 1e12, 6) AS dist_e12,
              |ROUND(CAST(SUM(d) AS DOUBLE) / COUNT(*) / 1e6, 6)
              |  AS mean_dist_e6
              |FROM dq GROUP BY 1""".stripMargin)),

    // V18 (round 10): plain IVF-PQ at nprobe=2 — the recall lever on
    // the green composite tier; see knnIvfPqProbe. Scores are
    // cell-independent, so probing only widens the candidate set.
    QueryDef("sim_knn_ivfpq_probe",
      (s, d) => knnIvfPqProbe(Tables.embeddings(s, d)),
      Some(s"""WITH $pqSql,
              |$pqIvfProbeSql
              |SELECT query_id, CAST(rk AS BIGINT) rank, nbr_id,
              |ROUND(CAST(score AS DOUBLE) / 1000000.0, 6) adc FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY score DESC, nbr_id) rk FROM sc)
              |WHERE rk <= $K""".stripMargin)),

    // V18's honest number: what nprobe=2 buys the code-only tier vs
    // the exact baseline — read next to sim_ivfpq_recall (nprobe=1)
    // and sim_ivfpq_refine_recall (reranking at the same cells): the
    // two levers priced on one axis each.
    QueryDef("sim_ivfpq_probe_recall",
      (s, d) => annRecallAtK(Tables.embeddings(s, d),
        index = knnIvfPqProbe(_, _)),
      Some(s"""WITH $pqSql,
              |$pqIvfProbeSql,
              |ap AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY score DESC, nbr_id) rk FROM sc) WHERE rk <= $K),
              |exsc AS (SELECT q.vec_id query_id, t.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(q.v, t.v), 6) AS cos
              |  FROM e q JOIN e t ON q.vec_id <> t.vec_id
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset)),
              |ex AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM exsc) WHERE rk <= $K),
              |hits AS (SELECT e2.query_id, COUNT(*) n_hit FROM ex e2
              |  JOIN ap ON e2.query_id = ap.query_id AND e2.nbr_id = ap.nbr_id
              |  GROUP BY 1),
              |base AS (SELECT query_id, COUNT(*) n_exact FROM ex GROUP BY 1)
              |SELECT COUNT(*) AS n_queries,
              |ROUND(AVG(CAST(COALESCE(n_hit, 0) AS DOUBLE)/n_exact), 6) AS avg_recall
              |FROM base LEFT JOIN hits USING (query_id)""".stripMargin)),

    QueryDef("sim_ivfpq_recall",
      (s, d) => annRecallAtK(Tables.embeddings(s, d),
        index = knnIvfPq(_, _)),
      Some(s"""WITH $pqSql,
              |$pqIvfSql,
              |ap AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY score DESC, nbr_id) rk FROM sc) WHERE rk <= $K),
              |exsc AS (SELECT q.vec_id query_id, t.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(q.v, t.v), 6) AS cos
              |  FROM e q JOIN e t ON q.vec_id <> t.vec_id
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset)),
              |ex AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM exsc) WHERE rk <= $K),
              |hits AS (SELECT e2.query_id, COUNT(*) n_hit FROM ex e2
              |  JOIN ap ON e2.query_id = ap.query_id AND e2.nbr_id = ap.nbr_id
              |  GROUP BY 1),
              |base AS (SELECT query_id, COUNT(*) n_exact FROM ex GROUP BY 1)
              |SELECT COUNT(*) AS n_queries,
              |ROUND(AVG(CAST(COALESCE(n_hit, 0) AS DOUBLE)/n_exact), 6) AS avg_recall
              |FROM base LEFT JOIN hits USING (query_id)""".stripMargin)),

    // Mean-center + L2-normalize the embedding corpus — the standard
    // preprocessing before cosine ANN (centering makes hyperplane
    // buckets balanced; unit norm makes dot = cosine). All in exact
    // integer arithmetic: values quantize to micro-units, the
    // centered numerator is xq·n − Σxq (scaling by n instead of
    // dividing keeps it integral; the norm division cancels n), and
    // the squared-norm sums exactly in DECIMAL/HUGEINT — so the
    // output is bit-identical on any engine/partitioning. Long-form
    // output (vec_id, idx, nval): dim stats are a 64-row broadcast;
    // everything else is scan-bandwidth.
    QueryDef("sim_normalize",
      (s, d) => normalizeCenter(Tables.embeddings(s, d)),
      Some(s"""WITH x AS (SELECT vec_id, CAST(g.i AS INT) AS idx,
              |    CAST(ROUND(CAST(embedding AS DOUBLE[])[g.i + 1]
              |      * 1000000.0) AS BIGINT) AS xq
              |  FROM embeddings,
              |    (SELECT unnest(generate_series(0, ${Dim - 1})) i) g),
              |ds AS (SELECT idx, SUM(xq) AS sq,
              |    CAST(COUNT(*) AS BIGINT) AS n FROM x GROUP BY 1),
              |c AS (SELECT vec_id, x.idx, xq * n - sq AS cq
              |  FROM x JOIN ds ON x.idx = ds.idx),
              |norms AS (SELECT vec_id, SUM(CAST(cq AS HUGEINT) * cq)
              |    AS ssq FROM c GROUP BY 1)
              |SELECT c.vec_id, idx,
              |ROUND(CAST(cq AS DOUBLE) / sqrt(CAST(ssq AS DOUBLE)), 6)
              |  + 0.0 AS nval
              |FROM c JOIN norms ON c.vec_id = norms.vec_id
              |WHERE ssq > 0""".stripMargin)),

    // V12 (beyond-ref): metadata-filtered kNN — see knnFiltered for
    // the pre-filter-vs-post-filter argument.
    QueryDef("sim_knn_filtered",
      (s, d) => knnFiltered(Tables.embeddings(s, d),
        Tables.documents(s, d)),
      Some(s"""WITH $qsetSql,
              |allowed AS (SELECT doc_id FROM documents
              |  WHERE lang = 'en'),
              |scored AS (SELECT q.vec_id query_id, c.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              |      CAST(c.embedding AS DOUBLE[])), 6) AS cos
              |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              |  JOIN allowed ON c.vec_id = allowed.doc_id
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset))
              |SELECT query_id, CAST(rk AS BIGINT) rank, nbr_id, cos FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM scored)
              |WHERE rk <= $K""".stripMargin)),

    // V15 (round 7): metadata filter ∧ IVF cell restriction — the
    // composition sim_knn_filtered's pre-filter promises at index
    // scale (see knnIvfFiltered).
    QueryDef("sim_knn_ivf_filtered",
      (s, d) => knnIvfFiltered(Tables.embeddings(s, d),
        Tables.documents(s, d)),
      Some(s"""WITH $ivfAssignedSql,
              |$qsetSql,
              |cand AS (SELECT a.* FROM assigned a
              |  WHERE a.vec_id IN (SELECT doc_id FROM documents
              |    WHERE lang = 'en')),
              |scored AS (SELECT a.vec_id query_id, b.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
              |  FROM assigned a JOIN qset qs ON a.vec_id = qs.vec_id
              |  JOIN cand b
              |    ON a.cell = b.cell AND a.vec_id <> b.vec_id)
              |SELECT query_id, CAST(rk AS BIGINT) rank, nbr_id, cos FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM scored)
              |WHERE rk <= $K""".stripMargin)),

    // V16 (round 7): residual IVF-PQ at nprobe=2 — per-probed-cell
    // residuals, full integer ADC distance |r_q|² + |c|² − 2·r_q·c
    // so scores compare across cells (see knnIvfPqResProbe). The
    // training chain (rasn/rxqm/rpc/rpaF) is resAdcSql's — same
    // home-cell-trained fine codebook as sim_knn_ivfpq_res, and the
    // same CAST(... AS BIGINT) score emission. Probe cells rank on
    // the integer cell ranking (`ivfrk`) shared with every IVF oracle;
    // per-probed-cell residuals and the full |r_q|²+|c|²−2·r_q·c
    // distance are operand-for-operand knnIvfPqResProbe's.
    QueryDef("sim_knn_ivfpq_res_probe",
      (s, d) => knnIvfPqResProbe(Tables.embeddings(s, d)),
      Some(s"""WITH $qsetSql,
              |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
              |${lloydCentSql()},
              |$resAdcSql,
              |qprobe AS MATERIALIZED (SELECT vec_id, cell FROM ivfrk
              |  WHERE rn <= $IvfPqProbes
              |    AND vec_id IN (SELECT vec_id FROM qset)),
              |prq AS (SELECT p.vec_id AS query_id, p.cell AS qcell, s.m,
              |    list_transform(generate_series(s.m * $PqSubDim + 1,
              |      s.m * $PqSubDim + $PqSubDim),
              |      i -> CAST(ROUND(q.v[i] * 1000000.0) AS BIGINT)
              |        - CAST(ROUND(c.cv[i] * 1000000.0) AS BIGINT)) AS rq
              |  FROM qprobe p
              |  JOIN e q ON q.vec_id = p.vec_id
              |  JOIN cent c ON c.cent_id = p.cell, psub s),
              |plut AS (SELECT query_id, qcell, x.m, c.cell AS code,
              |    CAST(list_sum(list_transform(x.rq, v -> v * v))
              |      + list_sum(list_transform(c.cq, v -> v * v))
              |      - 2 * list_sum(list_transform(generate_series(1, $PqSubDim),
              |          i -> x.rq[i] * c.cq[i])) AS BIGINT) AS part
              |  FROM prq x JOIN rpc$IvfTrainRounds c ON x.m = c.m),
              |pscr AS (SELECT l.query_id, k.vec_id AS nbr_id,
              |    SUM(l.part) AS adc_q
              |  FROM rpaF k
              |  JOIN (SELECT DISTINCT vec_id, cell FROM rxqm) co
              |    ON k.vec_id = co.vec_id
              |  JOIN plut l ON l.m = k.m AND l.code = k.cell
              |    AND l.qcell = co.cell
              |  WHERE k.vec_id <> l.query_id
              |  GROUP BY 1, 2)
              |SELECT query_id, CAST(rk AS BIGINT) AS rank, nbr_id,
              |CAST(adc_q AS BIGINT) AS adc_q
              |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY adc_q, nbr_id) rk FROM pscr)
              |WHERE rk <= $K""".stripMargin)),

    // V17 (round 9): data-free engine-drift canary — see
    // roundingCanary. Reads no tables; a driver-red row here
    // attributes any gate divergence to the driver's engine build.
    QueryDef("sim_rounding_canary",
      (s, _) => roundingCanary(s),
      Some(roundingCanarySql)),

    // V17 (round 9): coarse-assignment margin diagnostic — see
    // ivfAssignMargin.
    QueryDef("sim_ivf_assign_margin",
      (s, d) => ivfAssignMargin(Tables.embeddings(s, d)),
      Some(ivfAssignMarginSql)),

    // V17 (round 9): the retrain loop's measured payoff — stale vs
    // retrained codebook distortion + gain in ppm; see retrainGain.
    QueryDef("sim_retrain_gain",
      (s, d) => retrainGain(Tables.embeddings(s, d)),
      Some(retrainGainSql)),

    // V17 (round 9): IVF-PQ + exact refine (FAISS IndexRefineFlat) —
    // the third rung of the serving ladder; see knnIvfPqRefine.
    QueryDef("sim_knn_ivfpq_refine",
      (s, d) => knnIvfPqRefine(Tables.embeddings(s, d)),
      Some(s"""WITH $pqSql,
              |$pqIvfSql,
              |cnd AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY score DESC, nbr_id) rk FROM sc)
              |  WHERE rk <= $RerankCand),
              |ref AS (SELECT c.query_id, c.nbr_id,
              |    ROUND(list_cosine_similarity(q.v, t.v), 6) AS cos
              |  FROM cnd c JOIN e q ON q.vec_id = c.query_id
              |  JOIN e t ON t.vec_id = c.nbr_id)
              |SELECT query_id, CAST(rk AS BIGINT) rank, nbr_id, cos FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM ref)
              |WHERE rk <= $K""".stripMargin)),

    // Round 11: the refine rung on the PERSISTED code tier — store
    // ADC candidates (codes + sidecars only), float fetch from the
    // source for survivors alone; row-identical to the inline refine
    // (same candidates through the store contract, same exactRerank
    // kernel), so it SHARES sim_knn_ivfpq_refine's oracle.
    QueryDef("sim_knn_ivfpq_store_refine",
      (s, d) => knnIvfPqRefineFromStore(s, cachedPqStore(s, d),
        Tables.embeddings(s, d)),
      Some(s"""WITH $pqSql,
              |$pqIvfSql,
              |cnd AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY score DESC, nbr_id) rk FROM sc)
              |  WHERE rk <= $RerankCand),
              |ref AS (SELECT c.query_id, c.nbr_id,
              |    ROUND(list_cosine_similarity(q.v, t.v), 6) AS cos
              |  FROM cnd c JOIN e q ON q.vec_id = c.query_id
              |  JOIN e t ON t.vec_id = c.nbr_id)
              |SELECT query_id, CAST(rk AS BIGINT) rank, nbr_id, cos FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM ref)
              |WHERE rk <= $K""".stripMargin)),

    // V17's honest number: how much ranking loss the refine stage
    // recovers vs the unrefined ADC top-k (read next to
    // sim_ivfpq_recall — the residual gap is pure cell restriction).
    QueryDef("sim_ivfpq_refine_recall",
      (s, d) => annRecallAtK(Tables.embeddings(s, d),
        index = knnIvfPqRefine(_, _)),
      Some(s"""WITH $pqSql,
              |$pqIvfSql,
              |cnd AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY score DESC, nbr_id) rk FROM sc)
              |  WHERE rk <= $RerankCand),
              |ref AS (SELECT c.query_id, c.nbr_id,
              |    ROUND(list_cosine_similarity(q.v, t.v), 6) AS cos
              |  FROM cnd c JOIN e q ON q.vec_id = c.query_id
              |  JOIN e t ON t.vec_id = c.nbr_id),
              |ap AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM ref) WHERE rk <= $K),
              |exsc AS (SELECT q.vec_id query_id, t.vec_id nbr_id,
              |    ROUND(list_cosine_similarity(q.v, t.v), 6) AS cos
              |  FROM e q JOIN e t ON q.vec_id <> t.vec_id
              |  WHERE q.vec_id IN (SELECT vec_id FROM qset)),
              |ex AS (SELECT query_id, nbr_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cos DESC, nbr_id) rk FROM exsc) WHERE rk <= $K),
              |hits AS (SELECT e2.query_id, COUNT(*) n_hit FROM ex e2
              |  JOIN ap ON e2.query_id = ap.query_id AND e2.nbr_id = ap.nbr_id
              |  GROUP BY 1),
              |base AS (SELECT query_id, COUNT(*) n_exact FROM ex GROUP BY 1)
              |SELECT COUNT(*) AS n_queries,
              |ROUND(AVG(CAST(COALESCE(n_hit, 0) AS DOUBLE)/n_exact), 6)
              |  AS avg_recall
              |FROM base LEFT JOIN hits USING (query_id)""".stripMargin))
  )

  /** See the sim_normalize QueryDef. */
  def normalizeCenter(emb: DataFrame): DataFrame = {
    val x = emb.select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("idx", "xv")))
      .withColumn("xq", round(col("xv") * lit(1000000.0)).cast("long"))
    val dimStats = x.groupBy(col("idx"))
      .agg(sum(col("xq")).as("sq"), count(lit(1)).as("n"))
    val centered = x.join(broadcast(dimStats), Seq("idx"))
      .withColumn("cq", col("xq") * col("n") - col("sq"))
    val norms = centered.groupBy(col("vec_id"))
      .agg(sum(col("cq").cast(org.apache.spark.sql.types.DecimalType(38, 0))
        * col("cq")).as("ssq"))
      .filter(col("ssq") > 0)
    centered.join(norms, Seq("vec_id"))
      .select(col("vec_id"), col("idx"),
        // + 0.0 collapses IEEE -0.0 to +0.0 (engines differ on the
        // sign of a rounded tiny negative; repr-level compares care)
        (round(col("cq").cast("double") / sqrt(col("ssq").cast("double")), 6)
          + lit(0.0)).as("nval"))
  }
}
