package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column helpers shared across operators.
  *
  * Cross-engine determinism convention (the DuckDB oracle must
  * hash-match, see Verify): money aggregates are summed as
  * DECIMAL (exact, order-independent) and only then cast to double;
  * plain double sums would differ in final ULPs because Spark's partial
  * aggregation order differs from DuckDB's.
  */
object Functions {

  /** Exact money sum: cast to decimal(18,2) per row, sum (exact), cast
    * the single result back to double. Oracle equivalent:
    * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`.
    */
  def dsum(c: Column): Column = decimalSum(c).cast("double")

  /** `dsum` before its cast: the exact DECIMAL sum, for a caller that
    * sums the partial sums again before the one cast to double.
    */
  def decimalSum(c: Column): Column = sum(c.cast(DecimalType(18, 2)))

  /** Exact sum for derived monetary expressions that need more scale
    * (e.g. price*(1-discount)). Oracle: DECIMAL(18,6).
    */
  def dsum6(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Whitespace tokenizer; oracle: string_split_regex(trim(x),'\s+'). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Canonical text normalization used by fingerprint/exact-dedup:
    * lowercase, trim, collapse runs of whitespace to single spaces.
    */
  def normText(c: Column): Column =
    lower(regexp_replace(trim(c), "\\s+", " "))

  /** md5 hex of a string column (matches DuckDB md5(x)). */
  def md5Hex(c: Column): Column = md5(c.cast("binary"))

  /** Dot product of two float-array columns, accumulated left-to-right
    * in double (same fold order as the oracle's per-index sum up to
    * reassociation; see Dedup/Similarity notes on rounding).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v * v))

  /** Cosine similarity between two float-array columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Codegen'd variants (VectorExpressions via GraftExtensions) —
    * bit-identical to the interpreted folds above (same sequential
    * accumulation), ~50× faster on all-pairs workloads because
    * higher-order lambdas never enter whole-stage codegen. Require
    * `spark.sql.extensions=graft.GraftExtensions` on the session.
    */
  def dotFast(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  def cosineFast(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** Exact integer dot product over array<bigint> quantization codes
    * (SQ8 coarse scoring) — codegen'd, engine-identical by
    * construction (64-bit integer arithmetic, no float compare rules).
    */
  def dotiFast(a: Column, b: Column): Column = call_function("graft_doti", a, b)

  /** The ONE bloom build+probe composition (round-11 review fixes):
    * sizes the filter honestly at `fpp` for ANY key count by raising
    * the session's runtime-bloom caps when the request exceeds them —
    * `BloomFilterAggregate` otherwise Math.min-clamps items/bits
    * against `spark.sql.optimizer.runtime.bloomFilter.max*` (4M items
    * / 67M bits) SILENTLY, so beyond ~7M keys the realized fpp would
    * drift toward 1 and the prefilter would quietly stop filtering —
    * and wires the filter bytes through a SCALAR SUBQUERY over a temp
    * view (InjectRuntimeFilter's own shape, accepted by
    * BloomFilterMightContain's type check) instead of collecting them
    * into a multi-MB plan literal that every explain/UI/event-log
    * string would carry. The subquery executes once per query run;
    * the probe stays codegen'd.
    */
  def bloomMightContain(keys: org.apache.spark.sql.DataFrame,
                        keyCol: String, viewName: String, nItems: Long,
                        fpp: Double, probe: Column): Column = {
    val spark = keys.sparkSession
    val nBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(nItems, fpp)
    Seq("spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> nItems,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> nBits)
      .foreach { case (k, v) =>
        if (spark.conf.get(k).toLong < v) spark.conf.set(k, v.toString) }
    keys.select(col(keyCol).as("k")).createOrReplaceTempView(viewName)
    call_function("graft_might_contain",
      expr(s"(SELECT graft_bloom_agg(k, ${nItems}L, ${nBits}L) " +
        s"FROM $viewName)"),
      probe)
  }

  /** Deterministic cross-engine "hash" for seeded splits/sampling:
    * pure integer arithmetic, safe from bigint overflow on both
    * engines for keys < ~1e12 (SURVEY §2.7 U4 — numpy seeds cannot be
    * reproduced in SQL, so the split is re-keyed on a stable column).
    */
  def bucket10(key: Column, salt: Column): Column =
    ((key % 100003L) * 31L + salt * 97L) % 10L

  // ---- cross-engine deterministic hashing (dedup / LSH family) ----
  //
  // Spark's murmur3 `hash()` and DuckDB's `hash()` are different
  // functions, so every content hash goes through md5 hex — identical
  // on both engines — and re-enters integer space via a 60-bit prefix
  // (15 hex chars < 2^63, so the BIGINT cast never overflows/signs).
  // Oracle: `hex60Sql`.

  /** 60-bit integer content hash of a string column. */
  def hex60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** `hex60` in the oracle's SQL: the same 60-bit md5 prefix, so a key
    * collision merges the same counts on both engines.
    */
  private[graft] def hex60Sql(x: String): String =
    s"CAST(concat('0x', substr(md5($x),1,15)) AS BIGINT)"

  /** Largest 32-bit prime — the modulus of the minhash permutation
    * family. Reducing hex60 below 2^32 first keeps a_k*h + b_k within
    * int64 for all 32 permutations.
    */
  val P32 = 4294967291L

  /** 32-bit-range content hash (hex60 mod P32). */
  def h32(c: Column): Column = hex60(c) % P32

  /** Distinct word n-gram shingles of a token array (1-based slice,
    * space-joined) — the unit of MinHash/Jaccard dedup. Guarded for
    * short docs: Spark's sequence(1, 0) counts DOWN ([1,0]), unlike
    * DuckDB's empty generate_series, so size < n must short-circuit
    * to an empty array on both engines. Oracle:
    * list_distinct(list_transform(generate_series(1, greatest(len(t)-n+1,0)),
    *   i -> array_to_string(t[i:i+n-1], ' '))).
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))

  /** Same distinct word-n-gram list as `shingles(tokens(lower(x)), n)`
    * but as ONE codegen'd regex pass over the normalized text: a
    * lookahead capture at every token start yields the overlapping
    * n-grams natively. The HOF chain (transform + slice + concat_ws)
    * never whole-stage-codegens — this form is ~2× faster at the
    * corpus scan and byte-identical in output (FunctionsSpec asserts
    * equality; input MUST be whitespace-collapsed, i.e. normText).
    */
  def shinglesFast(normedText: Column, n: Int): Column = {
    val pat = "(?:^|\\s)(?=(" + Seq.fill(n)("\\S+").mkString(" ") + "))"
    array_distinct(regexp_extract_all(normedText, lit(pat), lit(1)))
  }

  /** k-th minhash permutation of a 32-bit-range hash: (a_k*h + b_k)
    * mod P32 with a_k = 2k+3 (odd, nonzero), b_k = k²+7. All int64.
    */
  def minhashPerm(h: Column, k: Column): Column =
    ((k * 2L + 3L) * h + (k * k + 7L)) % P32

  /** 32-slot minhash signature computed entirely inside one row
    * (no shuffle): for each permutation k, the min permuted hash over
    * the document's shingle-hash array.
    */
  def minhashSig(shingleHashes: Column): Column =
    transform(sequence(lit(0L), lit(31L)),
      k => array_min(transform(shingleHashes, h => minhashPerm(h, k))))
}
