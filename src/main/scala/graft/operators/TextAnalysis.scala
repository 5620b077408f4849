package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-training-data pipeline over the
  * `documents` table: token counting, quality scoring, language ID,
  * document fingerprinting. The reference has no text pipeline (its
  * documents are order rows); these are the beyond-reference operators
  * a 100 TB corpus pipeline needs (builder brief, "text analysis").
  *
  * The per-document scores (token stats, quality, language ID,
  * fingerprints) are per-row Column expressions — no shuffle, no UDF,
  * fully whole-stage-codegen; a 1000-executor scan applies them at read
  * bandwidth. The corpus-model families — the n-gram LMs, BPE and
  * unigram tokenizer training, span dedup and domain mixing — are not:
  * they shuffle through aggregates and joins at vocabulary, document
  * or source grain. Cross-engine float rule: every derived ratio is a
  * division of exact integer counts (identical doubles on any IEEE
  * engine), rounded only at emission.
  */
object TextAnalysis {

  /** Stopword lists for the n-gram language heuristic. Deliberately
    * tiny — the point is deterministic scoring, not model quality.
    */
  val StopEn = Seq("the", "a", "of", "and", "to", "in", "is")
  val StopDe = Seq("der", "die", "das", "und", "ist", "ein")
  val StopFr = Seq("le", "la", "les", "et", "est", "un")
  val StopEs = Seq("el", "los", "las", "y", "es", "un")

  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit(_)): _*)))

  /** The lower-cased whitespace token array of `text`. */
  private def lowTokens: Column = tokens(lower(col("text")))

  /** `lowTokens` in the oracle's SQL. */
  private val tokSql = "string_split_regex(trim(lower(text)),'\\s+')"

  /** The oracle's per-row order-`n` gram list over the token list `t`
    * (`gramArr`; DuckDB lists are 1-based and generate_series(1, 0) is
    * empty).
    */
  private def gramsSql(n: Int): String =
    s"""list_transform(
       |    generate_series(1, greatest(len(t)-${n - 1}, 0)),
       |    i -> ${(0 until n).map(k => if (k == 0) "t[i]" else s"t[i+$k]")
                 .mkString(" || ' ' || ")})""".stripMargin

  /** The oracle's held-out split (`heldoutSplit`): each doc's token
    * list `t` and its split bucket `b` (train is `b < 8`).
    */
  private val heldoutSql =
    s"""db AS (SELECT doc_id,
       |    $tokSql AS t,
       |    ((doc_id % 100003) * 31 + 7 * 97) % 10 AS b FROM documents)""".stripMargin

  /** The oracle's quantized per-doc tail (`perDocNll`). */
  private val avgNllSql =
    "ROUND(FLOOR(CAST(SUM(q_nll) AS DOUBLE) / COUNT(*)) / 1000000.0, 6) AS avg_nll"

  /** Tokenization + size/shape stats per document. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      length(regexp_replace(col("text"), "\\s+", "")).cast("long")
        .as("n_token_chars"),
      size(array_distinct(tokens(col("text")))).cast("long")
        .as("n_distinct_tokens"))
      .withColumn("avg_token_len",
        round(col("n_token_chars").cast("double") / col("n_tokens"), 6))

  /** Quality scoring: type-token ratio, stopword ratio, length score,
    * blended 0..1 quality with a keep/drop flag — the shape of a
    * corpus-filtering pass (C4-style gate per document).
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(t).cast("long").as("n_tokens"),
      size(array_distinct(t)).cast("long").as("n_distinct"),
      hits(t, StopEn).cast("long").as("n_stop"))
      .withColumn("ttr",
        col("n_distinct").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("len_score",
        least(col("n_tokens").cast("double") / 100.0d, lit(1.0d)))
      .withColumn("quality",
        round(col("ttr") * 0.5d + col("len_score") * 0.3d
          + col("stop_ratio") * 0.2d, 6))
      .withColumn("keep", (col("quality") >= 0.4d).cast("int"))
      .select(col("doc_id"), col("n_tokens"), round(col("ttr"), 6).as("ttr"),
        round(col("stop_ratio"), 6).as("stop_ratio"), col("quality"),
        col("keep"))
  }

  /** Language ID by stopword-hit voting with fixed priority
    * en > de > fr > es on ties; 'und' when nothing hits.
    */
  def langId(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val scored = docs.select(
      col("doc_id"), col("lang").as("lang_label"),
      hits(t, StopEn).cast("long").as("en_hits"),
      hits(t, StopDe).cast("long").as("de_hits"),
      hits(t, StopFr).cast("long").as("fr_hits"),
      hits(t, StopEs).cast("long").as("es_hits"))
    val m = greatest(col("en_hits"), col("de_hits"), col("fr_hits"),
      col("es_hits"))
    scored.withColumn("pred_lang",
      when(m === 0, "und")
        .when(col("en_hits") === m, "en")
        .when(col("de_hits") === m, "de")
        .when(col("fr_hits") === m, "fr")
        .otherwise("es"))
  }

  /** Top-V vocabulary size for txt_oov_rate. (Declared before `defs`,
    * which interpolates it.)
    */
  val VocabV = 60

  /** DSIR hashed-feature bucket count and selection size (dsirSelect). */
  val DsirBuckets = 1024
  val DsirK = 50

  /** Quality-band keep rates for mix_quality_bands (percent kept per
    * quartile band, best band first) — the quality-curriculum knob.
    * (Declared before `defs`, which interpolates it.)
    */
  val BandRates: Map[Int, Int] = Map(4 -> 100, 3 -> 50, 2 -> 20, 1 -> 5)

  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Terms = Seq("spark", "vector", "hash")

  /** BM25 relevance of every document against a fixed query-term set
    * — the corpus-ranking pass of a retrieval/quality pipeline.
    *
    * Shape: per-doc term frequencies are scan-bandwidth expressions;
    * the corpus statistics (N, Σdl, per-term df) are ONE tiny
    * aggregate row broadcast back over the scan — no shuffle of the
    * corpus itself, so the op is two scans + a broadcast at any scale.
    *
    * Determinism: tf/dl/df/N are exact integers; avgdl is one
    * division; the score is a fixed-shape double expression (the
    * oracle mirrors operand order and literals exactly), ln is the
    * only transcendental, and the result is rounded at emission.
    */
  def bm25(docs: DataFrame, terms: Seq[String] = Bm25Terms,
           k1: Double = Bm25K1, b: Double = Bm25B): DataFrame = {
    val t = lowTokens
    // checkpointed: the per-term HOF tf pass is the query's cost, and
    // base feeds both the 1-row corpus-stats aggregate and the final
    // scoring join — compute it once, not twice
    val base = docs.select(
      col("doc_id") +: size(t).cast("long").as("dl") +:
        terms.map(w =>
          size(filter(t, x => x === lit(w))).cast("long").as(s"tf_$w")): _*)
      .localCheckpoint(false)
    val aggs = count(lit(1)).cast("long").as("n_docs") +:
      sum(col("dl")).as("sum_dl") +:
      terms.map(w =>
        sum((col(s"tf_$w") > 0).cast("long")).as(s"df_$w"))
    val stats = base.agg(aggs.head, aggs.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    def idf(w: String) =
      log((col("n_docs").cast("double") - col(s"df_$w") + 0.5d) /
        (col(s"df_$w") + 0.5d) + 1.0d)
    def tnorm(w: String) =
      (col(s"tf_$w").cast("double") * lit(k1 + 1)) /
        (col(s"tf_$w").cast("double") +
          lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / avgdl))
    val score = terms.map(w => idf(w) * tnorm(w)).reduce(_ + _)
    base.join(broadcast(stats))
      .select(col("doc_id") +: col("dl") +: terms.map(w => col(s"tf_$w")) :+
        round(score, 6).as("bm25"): _*)
  }

  // ---- the n-gram LM core ----
  //
  // The txt_* LM family (unigram, ppl buckets, bigram, trigram,
  // interpolated, stupid-backoff and Kneser-Ney held-out) shares one
  // definition of each decision below: the gram stream, the
  // vocabulary-grain count with its derived context count, the
  // held-out split and the quantized per-doc tail. Each query keeps
  // its own grouping key, edge corrections and checkpoints.

  /** Per-row order-`n` gram array over the token array `t`, one
    * space-joined string per position (duplicates kept — these feed
    * frequency counts, not set overlap). The sequence guard matters:
    * Spark's `sequence(1, 0)` counts DOWN where DuckDB's
    * generate_series is empty.
    */
  private def gramArr(n: Int): String = {
    val words = (0 until n).map {
      case 0 => "t[i-1]"
      case 1 => "t[i]"
      case k => s"t[i+${k - 1}]"
    }
    s"""CASE WHEN size(t) >= $n
       |  THEN transform(sequence(1, size(t) - ${n - 1}),
       |    i -> concat(${words.mkString(", ' ', ")}))
       |  ELSE CAST(array() AS array<string>) END""".stripMargin
  }

  /** The order-`n` gram stream of a token frame (`t`, plus `doc_id`
    * when present, which is kept): one row per gram position, hashed
    * at scan to 60-bit keys so every shuffle downstream carries 8-byte
    * longs — `gh` the gram, and each of `keys` a caller asks for:
    * `ctxh` its leading n−1 words (the context), `sfxh` its trailing
    * n−1 words, `fh` / `lh` its first / last word. The oracle hashes
    * identically (`hex60Sql`), so a collision cannot cause a mismatch.
    */
  private def gramStream(toks: DataFrame, n: Int, keys: String*): DataFrame = {
    val span = Map("ctxh" -> (1, n - 1), "sfxh" -> (2, n),
      "fh" -> (1, 1), "lh" -> (n, n))
    def words(k: String): Column = {
      val (a, b) = span(k)
      val ws = (a to b).map(i => s"split_part(g, ' ', $i)")
      expr(if (ws.size == 1) ws.head else ws.mkString("concat(", ", ' ', ", ")"))
    }
    val keep = toks.columns.filter(_ == "doc_id").map(col).toSeq
    toks.select(keep :+ explode(expr(gramArr(n))).as("g"): _*)
      .select(keep ++ (hex60(col("g")).as("gh") +:
        keys.map(k => hex60(words(k)).as(k))): _*)
  }

  /** Vocabulary-grain gram counts: one row per gram key `gh` with its
    * count `c`. Each of `carry` is functionally determined by `gh`, so
    * max() carries it exactly.
    */
  private def gramVocab(stream: DataFrame, carry: String*): DataFrame = {
    val aggs = carry.map(k => max(col(k)).as(k)) :+ count(lit(1)).as("c")
    stream.groupBy(col("gh")).agg(aggs.head, aggs.tail: _*)
  }

  /** Context counts `cctx` derived from a vocabulary table, not the
    * stream: `ctxh` is functionally determined by the gram key, so this
    * aggregate runs over |vocab| rows. `extra` adds context-grain
    * aggregates.
    */
  private def ctxCount(vocab: DataFrame, extra: Column*): DataFrame =
    vocab.groupBy(col("ctxh")).agg(sum(col("c")).as("cctx"), extra: _*)

  /** Each gram's count `c` beside its context's count `cctx`, keyed on
    * `gh` — one vocabulary-grain join, which AQE broadcasts when the
    * vocabulary fits.
    */
  private def condTable(vocab: DataFrame, ctx: DataFrame): DataFrame =
    vocab.join(ctx.select("ctxh", "cctx"), Seq("ctxh"))
      .select("gh", "c", "cctx")

  /** The 80/20 held-out split on the stable doc bucket (salt 7): the
    * train and eval token frames, `t`, with `doc_id` on the eval side,
    * the grain it is scored at.
    */
  private def heldoutSplit(docs: DataFrame): (DataFrame, DataFrame) = {
    val b = bucket10(col("doc_id"), lit(7L))
    (docs.filter(b < 8).select(lowTokens.as("t")),
      docs.filter(b >= 8).select(col("doc_id"), lowTokens.as("t")))
  }

  /** Per-doc quantized NLL sums: each row's −ln p (`logp` is ln p) is
    * rounded to micro-units BEFORE the per-doc sum (distributed
    * double-sum order is engine-internal; quantized sums are exact
    * integer arithmetic — same device as sim_centroids). Yields
    * `doc_id`, the row count `n`, `extra` and `q_sum`.
    */
  private def nllSums(scored: DataFrame, logp: Column, n: String,
                      extra: Column*): DataFrame =
    scored.withColumn("q_nll", round(logp * -1000000.0d).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as(n), extra :+ sum(col("q_nll")).as("q_sum"): _*)

  /** floor(sum / n) micro-units as units, rounded to 6 places — an
    * exact mean of quantized integers.
    */
  private def microMean(sum: Column, n: Column): Column =
    round(floor(sum.cast("double") / n) / 1000000.0d, 6)

  /** The quantized per-doc tail: `nllSums`, then `avg_nll` in place of
    * `q_sum`.
    */
  private def perDocNll(scored: DataFrame, logp: Column, n: String,
                        extra: Column*): DataFrame =
    nllSums(scored, logp, n, extra: _*)
      .withColumn("avg_nll", microMean(col("q_sum"), col(n)))
      .drop("q_sum")

  /** The corpus unigram LM's scored token stream and its ln p. Grouped
    * on the token STRING, as the oracle groups: a hashed key could let
    * a collision split the two engines.
    */
  private def unigramScored(docs: DataFrame): (DataFrame, Column) = {
    val tok = docs.select(col("doc_id"), explode(lowTokens).as("tk"))
    val vocab = tok.groupBy(col("tk")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    (tok.join(vocab, Seq("tk")).join(broadcast(total)),
      log(col("cnt").cast("double") / col("total")))
  }

  /** Per-doc cross-entropy under the corpus unigram LM — the
    * perplexity-style quality filter (high score = tokens the corpus
    * finds surprising = gibberish or off-distribution text; the
    * production form swaps the unigram model for a KenLM/ngram model,
    * same dataflow).
    *
    * Shape at scale: vocabulary aggregate (one groupBy on token),
    * token stream re-joins the vocab on the token key, per-doc
    * aggregate with the quantized tail (`perDocNll`).
    */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    val (scored, logp) = unigramScored(docs)
    perDocNll(scored, logp, "n_tokens")
  }

  /** CCNet-style perplexity bucketing (arXiv:1911.00359): score every
    * doc with the corpus unigram LM, cut the corpus into head /
    * middle / tail THIRDS by per-doc cross-entropy, report each
    * bucket's doc/token mass and mean score. The cutpoints come from
    * the value-grain cumulative device (`Stats.valueCuts`) over the
    * MILLI-nat integer score — a bounded score domain (~0–25k
    * values), never a doc-grain window; scores and averages stay in
    * exact integer arithmetic end to end. CCNet cuts on a wiki-LM;
    * the self-corpus LM here keeps the query self-contained — the
    * bucketing device is identical.
    */
  def pplBuckets(docs: DataFrame): DataFrame = {
    val (scored, logp) = unigramScored(docs)
    val per = nllSums(scored, logp, "n_tokens")
      .withColumn("s", expr("q_sum div n_tokens div 1000"))
    val cuts = Stats.valueCuts(per, "s",
      Seq(1.0 / 3 -> "c1", 2.0 / 3 -> "c2"))
    per.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("s") <= col("c1"), lit("head"))
          .when(col("s") <= col("c2"), lit("middle"))
          .otherwise(lit("tail")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("s")).as("s_sum"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        expr("s_sum div n_docs").as("avg_score_milli"))
  }

  /** Self-scored order-`n` LM: P(gram) = c(gram) / c(context ·), both
    * counts over the corpus gram stream, NLL averaged per document in
    * the `countCol` column. One tokenize+hash pass, checkpointed: the
    * vocabulary, its context derive and the scoring join all reuse it
    * instead of re-running explode+md5. Docs with fewer than `n` tokens
    * have no grams and drop out (identically on both engines).
    */
  private def selfLogprob(docs: DataFrame, n: Int,
                          countCol: String): DataFrame = {
    val grams = gramStream(docs.select(col("doc_id"), lowTokens.as("t")),
      n, "ctxh").localCheckpoint(false)
    val vocab = gramVocab(grams, "ctxh")
    perDocNll(grams.join(condTable(vocab, ctxCount(vocab)), Seq("gh")),
      log(col("c").cast("double") / col("cctx")), countCol)
  }

  /** Per-doc cross-entropy under the corpus BIGRAM LM — the next rung
    * of the KenLM-style quality ladder above unigramLogprob:
    * P(w2|w1) = c(w1 w2) / c(w1 ·) (`selfLogprob`).
    *
    * Shape at scale: two vocabulary aggregates (bigram, left-context),
    * stream re-joins on those keys, per-doc aggregate — the exact
    * dataflow a sharded KenLM scoring pass has.
    */
  def bigramLogprob(docs: DataFrame): DataFrame =
    selfLogprob(docs, 2, "n_bigrams")

  /** Per-doc cross-entropy under the corpus TRIGRAM LM — the order-3
    * rung of the quality ladder (unigram → bigram → interpolated →
    * trigram): P(w3|w1 w2) = c(w1 w2 w3) / c(w1 w2 ·), the same
    * dataflow as bigramLogprob one order up (`selfLogprob`).
    */
  def trigramLogprob(docs: DataFrame): DataFrame =
    selfLogprob(docs, 3, "n_trigrams")

  val BpeMergeSteps = 10

  /** Distributed BPE merge training — the tokenizer-building pass of
    * an LLM data pipeline, at WORD-TYPE grain (GPT-2-style whitespace
    * pretokenization): the corpus collapses to a (spelling, count)
    * vocabulary table, then each step counts adjacent symbol pairs
    * weighted by word count, takes the argmax (count desc, pair asc —
    * a total order), and rewrites the spellings with the merge.
    * Merging is left-to-right non-overlapping (both engines' replace
    * semantics, and what reference BPE does), one merge per step.
    *
    * Scale: every pass runs over the vocabulary relation, never the
    * corpus — exactly how production BPE trains at 100 TB (the corpus
    * is touched once, in the initial word count); the per-step argmax
    * is a 1-row collect like ModelRegistry's metric reads. `k` is
    * therefore the DRIVER-ROUND-TRIP bound — merges are inherently
    * sequential (step t's pair counts depend on step t−1's rewrite).
    *
    * CONTRACT: k ≤ 100 (enforced). Batching "non-conflicting" merges
    * per round — the folk mitigation for large k — is NOT exact: a
    * merge (a,b)→ab creates new pairs (x,ab)/(ab,y) whose counts are
    * bounded by THAT merge's count, not by the next batch member's,
    * so a created pair can outrank (or lexicographically tie-break
    * ahead of) a later batch member and the batched merge table
    * diverges from one-merge-per-step BPE — the semantics the oracle
    * ladder mirrors and real tokenizers (GPT-2 BPE) define. A 32 k
    * vocabulary run is a training JOB (sequential by nature, driver
    * acceptable at 32 k × a vocabulary-grain aggregate), not a query;
    * this operator is the query-shaped, oracle-checkable form. Each
    * step localCheckpoints the rewritten vocabulary, so a step's
    * argmax reads the previous materialization — per-step cost is
    * constant in `step`, never an O(step) lineage recompute.
    * Output is the merge table itself: k rows, engine-exact
    * strings+integers.
    */
  def bpeTrain(docs: DataFrame, k: Int = BpeMergeSteps): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeCore(docs, k)._1
      .toDF("step", "left_sym", "right_sym", "pair_count")
  }

  /** The shared training loop: returns the merge table AND the final
    * segmented vocabulary (spelling after k merges, with counts) —
    * bpeTrain emits the former, bpeEncode consumes the latter.
    */
  private def bpeCore(docs: DataFrame, k: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    require(k <= 100,
      s"bpeTrain is bounded at 100 sequential merge steps (got $k); " +
        "larger vocabularies are a training job, not a query — see " +
        "the operator contract in the docstring")
    val pairArr =
      """CASE WHEN size(split(s, ' ')) >= 2
        |  THEN transform(sequence(1, size(split(s, ' ')) - 1),
        |    i -> concat(split(s, ' ')[i-1], ' ', split(s, ' ')[i]))
        |  ELSE CAST(array() AS array<string>) END""".stripMargin
    // alphanumeric word types only: merge pairs are interpolated as
    // SQL literals on both engines (quoting hazards) and '.'-regex
    // codepoint semantics differ off the ASCII plane — the standard
    // BPE pretokenizer restriction, stated identically in the oracle
    var words = docs
      .select(explode(lowTokens).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("s"), col("c"))
      .localCheckpoint(false)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val best = words
        .select(col("c"), explode(expr(pairArr)).as("p"))
        .groupBy(col("p")).agg(sum(col("c")).as("pc"))
        .orderBy(col("pc").desc, col("p"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (p, pc) = (best(0).getString(0), best(0).getLong(1))
        val Array(l, r) = p.split(" ", 2)
        merges += ((step.toLong, l, r, pc))
        words = words.select(
          trim(expr(s"replace(concat(' ', s, ' '), ' $l $r ', ' $l$r ')"))
            .as("s"), col("c"))
          .localCheckpoint(false) // flat lineage: step t reads t-1's
                                  // materialization, not the chain
        step += 1
      }
    }
    (merges.result(), words)
  }

  /** Apply the trained segmentation: per document, word count, char
    * count and the BPE subtoken count — the compression report that
    * decides whether k merges were enough. The segmented vocabulary
    * maps back to the raw word by dropping spelling spaces
    * (reversible by construction), so the corpus re-joins on the
    * word string; the vocabulary side is |word types| rows (AQE
    * broadcasts it at any realistic scale).
    */
  def bpeEncode(docs: DataFrame, k: Int = BpeMergeSteps): DataFrame = {
    val seg = bpeCore(docs, k)._2
      .select(regexp_replace(col("s"), " ", "").as("w"),
        size(split(col("s"), " ")).cast("long").as("n_sub"))
    docs.select(col("doc_id"), explode(lowTokens).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .join(seg, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("n_sub")).as("n_subtokens"))
      .withColumn("compression",
        round(col("n_subtokens").cast("double") / col("n_chars"), 6))
  }

  /** The unrolled DuckDB ladder mirroring bpeTrain — the pagerank
    * device: one MATERIALIZED level per merge step (DuckDB would
    * otherwise inline each level 3× and the plan explodes). The merge
    * step LEFT JOINs its (possibly empty) best-pair row and COALESCEs
    * to an impossible pattern ('  ' never occurs in a padded
    * single-spaced spelling), so when merges exhaust before k the
    * ladder carries the final vocabulary forward unchanged — exactly
    * the Spark loop's `exhausted` flag; an inner cross join would
    * collapse every later level (and txt_bpe_encode's seg) to empty.
    */
  private def bpeSql(k: Int): String =
    bpeLadderSql(k) + (0 until k).map(i =>
      s"""SELECT CAST(${i + 1} AS BIGINT) AS step,
         |split_part(p, ' ', 1) AS left_sym,
         |split_part(p, ' ', 2) AS right_sym,
         |pc AS pair_count FROM best$i""".stripMargin)
      .mkString("\n", "\nUNION ALL\n", "")

  private def bpeEncodeSql(k: Int): String =
    bpeLadderSql(k) +
      s""",
        |seg AS (SELECT replace(s, ' ', '') AS w,
        |  CAST(len(string_split(s, ' ')) AS BIGINT) AS n_sub FROM w$k),
        |dw AS (SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest($tokSql) AS w
        |    FROM documents)
        |  WHERE regexp_matches(w, '^[a-z0-9]+$$'))
        |SELECT doc_id, COUNT(*) AS n_words,
        |CAST(SUM(len(w)) AS BIGINT) AS n_chars,
        |CAST(SUM(n_sub) AS BIGINT) AS n_subtokens,
        |ROUND(CAST(SUM(n_sub) AS DOUBLE) / SUM(len(w)), 6) AS compression
        |FROM dw JOIN seg USING (w) GROUP BY 1""".stripMargin

  private def bpeLadderSql(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH w0 AS MATERIALIZED (SELECT
        |  trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s,
        |  CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT unnest($tokSql) AS w
        |    FROM documents)
        |  WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY 1)""".stripMargin)
    for (i <- 0 until k) {
      sb.append(s""",
        |pc$i AS MATERIALIZED (SELECT p, CAST(SUM(c) AS BIGINT) AS pc FROM (
        |  SELECT c, unnest(list_transform(
        |    generate_series(1, greatest(len(string_split(s, ' ')) - 1, 0)),
        |    j -> string_split(s, ' ')[j] || ' ' || string_split(s, ' ')[j+1]))
        |    AS p FROM w$i) GROUP BY 1),
        |best$i AS MATERIALIZED (SELECT p, pc FROM pc$i
        |  ORDER BY pc DESC, p LIMIT 1),
        |w${i + 1} AS MATERIALIZED (SELECT
        |  trim(replace(' ' || s || ' ',
        |    ' ' || COALESCE(p, '') || ' ',
        |    ' ' || replace(COALESCE(p, ''), ' ', '') || ' ')) AS s, c
        |  FROM w$i LEFT JOIN best$i ON true)""".stripMargin)
    }
    sb.toString
  }

  val UniMaxWord = 12
  val UniMaxPiece = 4
  val UniVocab = 200

  /** T27: unigram-LM (SentencePiece-style) Viterbi segmentation — the
    * probabilistic alternative to BPE's greedy merges (Kudo 2018,
    * arXiv:1804.10959): pieces carry corpus log-probabilities and each
    * word type takes its MINIMUM-COST segmentation by dynamic
    * programming, instead of replaying a merge history. Flavor, not
    * the full trainer: piece scores come from one substring-count
    * pass (the EM loop re-estimates them; each EM step IS this
    * operator with re-derived scores), vocabulary = all single chars
    * (coverage floor) + the top-`UniVocab` multi-char substrings by
    * the oov-rate value-grain cut.
    *
    * Exactness: costs are micro-nat integers (the LM-ladder quantized
    * -ln device), so every DP comparison is 64-bit integer arithmetic
    * and the tie rule (cost asc, then SMALLEST start — longest last
    * piece, SentencePiece's own bias) is a total order both engines
    * share. The oracle unrolls the DP as `UniMaxWord` MATERIALIZED
    * rungs (the BPE-ladder device).
    *
    * Scale: the corpus is touched once (the word count); candidates,
    * vocabulary, scores, and all `UniMaxWord` DP rungs run at
    * word-type × ≤`UniMaxPiece` grain — shuffles carry the word
    * string, never the corpus stream. Words longer than `UniMaxWord`
    * chars are out of contract (dropped identically on both engines);
    * production word-length caps are exactly this shape.
    */
  def unigramViterbi(docs: DataFrame): DataFrame = {
    val (_, _, best) = uniViterbiCore(docs)
    best
      .select(col("w").as("word"), col("c").as("n_occurrences"),
        length(col("w")).cast("long").as("n_chars"),
        col("np").as("n_pieces"), col("tot").as("q_cost"))
      .withColumn("fertility_milli", expr("1000 * n_pieces div n_chars"))
  }

  /** Shared trainer core behind unigramViterbi and unigramHardEm —
    * ONE kernel so segmentation semantics cannot drift between the
    * inference and training views. Returns (words, vocab, best):
    * word-type counts, the vocabulary with its substring-count pass
    * counts, and one row per word type at its final DP position with
    * the ARGMIN segmentation carried as a pieces array (`pcs` — the
    * tie rule (cost asc, smallest start) makes it unique, so the
    * array column stays deterministic through any partitioning).
    */
  private def uniViterbiCore(docs: DataFrame):
      (DataFrame, DataFrame, DataFrame) = {
    val words = docs.select(explode(lowTokens).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$") &&
        length(col("w")) <= UniMaxWord)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val cand = words
      .select(col("w"), col("c"),
        explode(expr(s"sequence(0, ${UniMaxWord - 1})")).as("j"))
      .filter(col("j") < length(col("w")))
      .select(col("w"), col("c"), col("j"),
        explode(expr(s"sequence(1, $UniMaxPiece)")).as("l"))
      .filter(col("j") + col("l") <= length(col("w")))
      .withColumn("piece", expr("substring(w, j + 1, l)"))
      .localCheckpoint(false)
    val pcnt = cand.groupBy(col("piece")).agg(sum(col("c")).as("cnt"))
    val topv = pcnt.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece")).limit(UniVocab)
    val vocab = pcnt.filter(length(col("piece")) === 1)
      .unionByName(topv).localCheckpoint(false)
    val tot = vocab.agg(sum(col("cnt")).as("t"))
    val scores = vocab.crossJoin(broadcast(tot))
      .select(col("piece"),
        round(log(col("cnt").cast("double") / col("t")) * -1000000.0d)
          .cast("long").as("q"))
    val edges = cand.join(scores, Seq("piece"))
      .select(col("w"), col("j"), (col("j") + col("l")).as("i"),
        col("piece"), col("q"))
      .localCheckpoint(false)
    // DP rungs: level i's best cost/piece-count/pieces per word,
    // candidates drawn from the ≤ UniMaxPiece previous levels. Every
    // level gets a FRESH leaf plan (new expression ids over the
    // checkpointed rows): the rungs re-join and re-union one another,
    // and shared attribute ids across those unions trip Catalyst's
    // Union constraint rewrite.
    val spark = docs.sparkSession
    def leaf(df: DataFrame): DataFrame =
      spark.createDataFrame(df.localCheckpoint(false).rdd, df.schema)
    var levels: Vector[DataFrame] = Vector(leaf(
      words.select(col("w"), lit(0).as("pos"),
        lit(0L).as("tot"), lit(0L).as("np"),
        expr("CAST(array() AS array<string>)").as("pcs"))))
    for (i <- 1 to UniMaxWord) {
      val prev = levels.slice(math.max(0, i - UniMaxPiece), i)
        .reduce(_ unionByName _)
      val cands = edges.filter(col("i") === i).as("e")
        .join(prev.as("b"),
          col("e.w") === col("b.w") && col("e.j") === col("b.pos"))
        .select(col("e.w").as("w"), (col("b.tot") + col("e.q")).as("tot"),
          (col("b.np") + 1L).as("np"),
          concat(col("b.pcs"), array(col("e.piece"))).as("pcs"),
          col("e.j").as("j"))
      val wspec = Window.partitionBy(col("w"))
        .orderBy(col("tot"), col("j"))
      levels = levels :+ leaf(cands
        .withColumn("rn", row_number().over(wspec))
        .filter(col("rn") === 1)
        .select(col("w"), lit(i).as("pos"), col("tot"), col("np"),
          col("pcs")))
    }
    val all = levels.tail.reduce(_ unionByName _).as("b")
    val best = words.as("wt")
      .join(all, col("b.w") === col("wt.w") &&
        col("b.pos") === length(col("wt.w")))
      .select(col("wt.w").as("w"), col("c"), col("tot"), col("np"),
        col("pcs"))
    (words, vocab, best)
  }

  /** T28 (round 13 continuation): ONE hard-EM (Viterbi-EM)
    * re-estimation step of the unigram tokenizer — the TRAINING half
    * of unigramViterbi's inference view (Kudo 2018 §3.2 trains by EM;
    * the Viterbi-approximated E-step is the standard hard variant).
    * E-step: every word type re-segments by the current scores
    * through the SHARED uniViterbiCore DP (so training consumes
    * exactly the segmentation inference serves); the expected piece
    * counts collapse to integer occurrence counts weighted by word
    * frequency. M-step: re-normalized piece probabilities in integer
    * ppm. Pieces the argmin segmentations never use re-estimate to 0
    * — the vocabulary-pruning signal the EM loop alternates with.
    *
    * Hard EM rather than soft forward–backward BY DESIGN: the E-step
    * counts are then exact 64-bit integers (sums of word counts), so
    * both engines agree bit-for-bit — a float lattice-sum E-step
    * would reintroduce the order-dependent-sum hazard the LM ladder's
    * quantization exists to avoid — and the M-step ppm is integer
    * division under integer totals.
    *
    * Scale: everything past the corpus-touching word count runs at
    * word-type × ≤UniMaxWord grain (the DP) and vocabulary grain (the
    * count/normalize aggregates) — iterating the EM loop costs one
    * such pass per step, corpus touched once ever.
    */
  def unigramHardEm(docs: DataFrame): DataFrame = {
    val (_, vocab, best0) = uniViterbiCore(docs)
    // EAGER checkpoint: `best` feeds the main join AND the tote
    // broadcast aggregate — under a lazy checkpoint the broadcast
    // build races the main branch into the same uncached DP rungs and
    // the whole ladder materializes twice (measured ~4× the viterbi
    // sibling); one eager action runs the DP exactly once
    val best = best0.localCheckpoint()
    val used = best.select(explode(col("pcs")).as("piece"), col("c"))
      .groupBy(col("piece")).agg(sum(col("c")).as("em_cnt"))
      .localCheckpoint(false) // em join + the tote aggregate
    val tot = vocab.agg(sum(col("cnt")).as("t"))
    val tote = used.agg(sum(col("em_cnt")).as("te"))
    vocab.join(used, Seq("piece"), "left")
      .withColumn("em_cnt", coalesce(col("em_cnt"), lit(0L)))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(tote))
      .select(col("piece"), col("cnt"), col("em_cnt"),
        expr("cnt * 1000000 div t").as("p_ppm"),
        expr("em_cnt * 1000000 div te").as("em_p_ppm"))
  }

  /** Unrolled DuckDB mirror of uniViterbiCore: candidate generation,
    * vocabulary cut, integer scores, then one MATERIALIZED rung per
    * DP level, rungs carrying the argmin pieces list — ONE builder
    * behind both the inference (txt_unigram_viterbi) and training
    * (txt_unigram_hard_em) oracles, mirroring the shared Spark
    * kernel; `tail` is the per-query final text appended after the
    * `lv` CTE.
    */
  private def uniDpSql(tail: String): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH w AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT unnest($tokSql) AS w
         |    FROM documents)
         |  WHERE regexp_matches(w, '^[a-z0-9]+$$') AND len(w) <= $UniMaxWord
         |  GROUP BY 1),
         |cand AS MATERIALIZED (SELECT w.w, w.c, j.j, l.l,
         |    substr(w.w, j.j + 1, l.l) AS piece
         |  FROM w,
         |    (SELECT unnest(generate_series(0, ${UniMaxWord - 1})) AS j) j,
         |    (SELECT unnest(generate_series(1, $UniMaxPiece)) AS l) l
         |  WHERE j.j < len(w.w) AND j.j + l.l <= len(w.w)),
         |pcnt AS (SELECT piece, CAST(SUM(c) AS BIGINT) AS cnt
         |  FROM cand GROUP BY 1),
         |topv AS (SELECT piece, cnt FROM pcnt WHERE len(piece) > 1
         |  ORDER BY cnt DESC, piece LIMIT $UniVocab),
         |vocab AS MATERIALIZED (SELECT piece, cnt FROM pcnt WHERE len(piece) = 1
         |  UNION ALL SELECT piece, cnt FROM topv),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM vocab),
         |scores AS (SELECT piece,
         |    CAST(ROUND(ln(CAST(cnt AS DOUBLE) / t) * -1000000.0) AS BIGINT) AS q
         |  FROM vocab, tot),
         |edges AS MATERIALIZED (SELECT c.w, c.j, c.j + c.l AS i, c.piece, s.q
         |  FROM cand c JOIN scores s USING (piece)),
         |b0 AS (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS tot,
         |  CAST(0 AS BIGINT) AS np, CAST([] AS VARCHAR[]) AS pcs FROM w)""".stripMargin)
    for (i <- 1 to UniMaxWord) {
      val prev = (math.max(0, i - UniMaxPiece) until i)
        .map(j => s"SELECT * FROM b$j").mkString(" UNION ALL ")
      sb.append(s""",
        |b$i AS MATERIALIZED (SELECT w, $i AS pos, tot, np, pcs FROM (
        |  SELECT e.w, b.tot + e.q AS tot, b.np + 1 AS np,
        |    list_append(b.pcs, e.piece) AS pcs,
        |    ROW_NUMBER() OVER (PARTITION BY e.w
        |      ORDER BY b.tot + e.q, e.j) AS rn
        |  FROM edges e JOIN ($prev) b
        |    ON e.w = b.w AND e.j = b.pos
        |  WHERE e.i = $i) WHERE rn = 1)""".stripMargin)
    }
    sb.append(s""",
      |lv AS (${(1 to UniMaxWord).map(i => s"SELECT * FROM b$i")
        .mkString(" UNION ALL ")})
      |$tail""".stripMargin)
    sb.toString
  }

  private def unigramViterbiSql: String = uniDpSql(
    """SELECT w.w AS word, w.c AS n_occurrences,
      |CAST(len(w.w) AS BIGINT) AS n_chars,
      |b.np AS n_pieces, b.tot AS q_cost,
      |CAST(1000 * b.np // CAST(len(w.w) AS BIGINT) AS BIGINT)
      |  AS fertility_milli
      |FROM w JOIN lv b ON b.w = w.w AND b.pos = len(w.w)""".stripMargin)

  private def unigramHardEmSql: String = uniDpSql(
    s"""SELECT v.piece, v.cnt, COALESCE(e.em_cnt, 0) AS em_cnt,
       |v.cnt * 1000000 // t.t AS p_ppm,
       |COALESCE(e.em_cnt, 0) * 1000000 // te.te AS em_p_ppm
       |FROM vocab v
       |LEFT JOIN (SELECT piece, CAST(SUM(c) AS BIGINT) AS em_cnt FROM (
       |    SELECT unnest(b.pcs) AS piece, w.c
       |    FROM w JOIN lv b ON b.w = w.w AND b.pos = len(w.w))
       |  GROUP BY 1) e ON v.piece = e.piece,
       |tot t,
       |(SELECT CAST(SUM(c * np) AS BIGINT) AS te
       |  FROM w JOIN lv b ON b.w = w.w AND b.pos = len(w.w)) te""".stripMargin)

  val CollocMinCount = 5L
  val CollocTopK = 50

  /** Corpus collocation mining: the top-k bigrams by pointwise mutual
    * information, PMI = ln( p(w1w2) / (p(w1)·p(w2)) ) with unigram
    * probabilities over the token stream and bigram probabilities
    * over the bigram stream — the standard phrase detector (NYT/
    * word2vec-phrases shape) that feeds multiword-token vocabularies.
    * A min-count floor keeps rare-pair noise (PMI's known bias) out.
    * The ln is micro-unit-quantized like every LM score here; ranking
    * and the tie-break (q desc, w1, w2) run on the quantized integer,
    * so both engines cut the same top-k.
    * Scale: ONE full-stream explode (the bigram stream); unigram
    * counts and both totals DERIVE from the bigram vocabulary — a
    * leading-word sum covers every token but each doc's last, which
    * one row per doc off the checkpointed arrays supplies (the
    * backoffHeldout edge-correction device one order down). The PMI
    * joins key on 8-byte hex60 hashes (bigramLogprob's device) and
    * run at vocabulary grain, so AQE broadcasts them; the final
    * top-k is TakeOrdered over the min-count-filtered vocabulary,
    * never a global sort of the stream. The oracle hashes its join
    * keys identically, so a hash collision cannot cause a mismatch.
    */
  def collocations(docs: DataFrame, k: Int = CollocTopK,
                   minCount: Long = CollocMinCount): DataFrame = {
    val toks = docs.withColumn("t", lowTokens)
      .select(col("t"))
      .localCheckpoint(false)
    val big = toks.select(explode(expr(gramArr(2))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      .withColumn("w1h", hex60(expr("split_part(bg, ' ', 1)")))
      .withColumn("w2h", hex60(expr("split_part(bg, ' ', 2)")))
      .localCheckpoint(false) // vocab-grain: feeds c1, totals, PMI join
    // Unigram counts: every token position but the doc-final one is
    // some bigram's left word; 1-token docs (no bigrams) are covered
    // by the same last-token edge row.
    val edge = toks.filter(size(col("t")) >= 1)
      .select(hex60(expr("t[size(t)-1]")).as("wh"))
      .groupBy(col("wh")).agg(count(lit(1)).as("c"))
    val uni = big.select(col("w1h").as("wh"), col("c2").as("c"))
      .unionByName(edge)
      .groupBy(col("wh")).agg(sum(col("c")).as("c1"))
      .localCheckpoint(false) // reused: two PMI joins + n1 total
    val tot = uni.agg(sum(col("c1")).as("n1"))
      .crossJoin(big.agg(sum(col("c2")).as("n2"))) // 1-row × 1-row
    big.filter(col("c2") >= minCount)
      .withColumn("w1", expr("split_part(bg, ' ', 1)"))
      .withColumn("w2", expr("split_part(bg, ' ', 2)"))
      .join(uni.select(col("wh").as("w1h"), col("c1").as("c1a")),
        Seq("w1h"))
      .join(uni.select(col("wh").as("w2h"), col("c1").as("c1b")),
        Seq("w2h"))
      .crossJoin(broadcast(tot)) // 1-row totals
      .withColumn("q",
        round(log((col("c2") * lit(1.0d) / col("n2")) /
          ((col("c1a") * lit(1.0d) / col("n1")) *
            (col("c1b") * lit(1.0d) / col("n1")))) * 1000000.0d)
          .cast("long"))
      .orderBy(col("q").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("c2"),
        round(col("q").cast("double") / 1000000.0d, 6).as("pmi"))
  }

  val BackoffAlpha = 0.4

  /** Held-out perplexity under stupid backoff (Brants et al.) — THE
    * standard LM-quality eval, and the one place backoff is actually
    * exercised: the corpus splits by the stable hash bucket into
    * train (80%) and eval; eval trigrams score against the TRAIN
    * counts, falling trigram → bigram → add-one unigram with an α
    * penalty per level. Self-scoring queries (txt_*_logprob) never
    * take the backoff branch because every observed n-gram has
    * count ≥ 1 in its own LM; held-out data has genuinely unseen
    * n-grams, so `n_backoff` is informative and the unigram floor
    * (Laplace +1 over N+V+1) keeps unseen words finite.
    * Shape at scale: three train-side vocabulary aggregates, the
    * eval stream left-joins them on 8-byte hashes, one per-doc
    * aggregate — the sharded held-out-eval dataflow. α and α² are
    * Scala-computed constants interpolated into both engines, so no
    * cross-engine float arithmetic beyond the single ln.
    */
  def backoffHeldout(docs: DataFrame): DataFrame = {
    val a2 = BackoffAlpha * BackoffAlpha
    val (trainToks, evalToks) = heldoutSplit(docs)
    val train = trainToks.localCheckpoint(false)

    // ONE full-stream explode of the train split: the trigram stream,
    // hashed at scan to (trigram, leading-bigram, first-word) 8-byte
    // keys. Bigram and unigram train counts DERIVE from the trigram
    // vocabulary: a leading-position sum covers positions 1..n-2 of
    // every doc, and the only occurrences it misses are each doc's
    // last bigram (position n-1) and last two tokens — one/two rows
    // per doc, read off the checkpointed token arrays without another
    // stream explode. Counts are exact, so the scored values are
    // byte-identical to the three-explode form the oracle runs.
    val c3t = gramVocab(gramStream(train, 3, "ctxh", "fh"), "ctxh", "fh")
      .localCheckpoint(false) // vocab-grain: feeds cctx, c2, uni, tot
    // Context counts = leading-bigram sums over the trigram vocab
    // (fh is functionally determined by ctxh, so max() is exact).
    val cc = ctxCount(c3t, max(col("fh")).as("fh"))
      .localCheckpoint(false) // reused: c3tab join + bigram derivation
    val c3tab = condTable(c3t, cc)
      .select(col("gh"), col("c").as("c3"), col("cctx"))
    // Full bigram counts = trigram-context sums + the per-doc final
    // bigram (also the ONLY bigram of 2-token docs, which have no
    // trigrams at all); a bigram's context is its first word.
    val edgeBg = train.filter(size(col("t")) >= 2)
      .select(
        hex60(expr("concat(t[size(t)-2], ' ', t[size(t)-1])")).as("gh"),
        hex60(expr("t[size(t)-2]")).as("ctxh"))
      .groupBy(col("gh"))
      .agg(max(col("ctxh")).as("ctxh"), count(lit(1)).as("c"))
    val c2t = cc
      .select(col("ctxh").as("gh"), col("fh").as("ctxh"), col("cctx").as("c"))
      .unionByName(edgeBg)
      .groupBy(col("gh"))
      .agg(max(col("ctxh")).as("ctxh"), sum(col("c")).as("c"))
    val c2tab = condTable(c2t, ctxCount(c2t))
      .select(col("gh").as("sfxh"), col("c").as("c23"), col("cctx").as("cl2"))
    // Unigram counts = trigram first-word sums + each doc's last two
    // tokens (or its only token); totals then read off the unigram
    // vocab table instead of a stream-grain countDistinct.
    val edgeUni = train.filter(size(col("t")) >= 1)
      .select(explode(
        expr("slice(t, -least(size(t), 2), least(size(t), 2))")).as("w"))
      .select(hex60(col("w")).as("lh"))
      .groupBy(col("lh")).agg(count(lit(1)).as("c"))
    val uni = c3t
      .select(col("fh").as("lh"), col("c"))
      .unionByName(edgeUni)
      .groupBy(col("lh")).agg(sum(col("c")).as("u3"))
      .localCheckpoint(false) // reused: scoring join + totals
    val tot = uni.agg(sum(col("u3")).as("n_total"),
      count(lit(1)).as("v_size"))

    val scored = gramStream(evalToks, 3, "sfxh", "lh")
      .join(c3tab, Seq("gh"), "left")
      .join(c2tab, Seq("sfxh"), "left")
      .join(uni, Seq("lh"), "left")
      .crossJoin(broadcast(tot)) // 1-row totals
      .withColumn("backed",
        when(col("c3").isNotNull, 0)
          .when(col("c23").isNotNull, 1).otherwise(2))
    perDocNll(scored,
      when(col("c3").isNotNull,
        log(col("c3").cast("double") / col("cctx")))
        .when(col("c23").isNotNull,
          log(lit(BackoffAlpha) * (col("c23").cast("double") / col("cl2"))))
        .otherwise(log(lit(a2) *
          ((coalesce(col("u3"), lit(0L)) + 1).cast("double") /
            (col("n_total") + col("v_size") + 1)))),
      "n_trigrams", sum((col("backed") >= 1).cast("long")).as("n_backoff"))
  }

  val CoocWindow = 2
  val CoocTopK = 50

  /** T26: skip-gram window co-occurrence counts — the (center,
    * context) pair table word2vec/GloVe-style embedding training
    * consumes, one ring out from collocations' adjacent-bigram PMI:
    * every token pairs with its neighbors at distances 1..window on
    * BOTH sides. Pairs come out of one per-row generator over the
    * token array (offset-o pairs per offset, the gramArr device —
    * no positional self-join, which would shuffle the corpus once
    * per offset), direction symmetry is a unionByName before the
    * count, the count aggregate groups on 8-byte hashes at
    * vocab-pair grain, and the cut is a TakeOrdered. Exact integer
    * counts throughout.
    */
  def windowCooc(docs: DataFrame, window: Int = CoocWindow,
                 k: Int = CoocTopK): DataFrame = {
    val pairArr =
      s"""flatten(transform(sequence(1, $window), o ->
         |  CASE WHEN size(t) > o
         |    THEN transform(sequence(0, size(t) - 1 - o),
         |      i -> struct(t[i] AS w, t[i + o] AS c))
         |    ELSE CAST(array() AS array<struct<w:string,c:string>>)
         |  END))""".stripMargin
    val pr = docs.withColumn("t", lowTokens)
      .select(explode(expr(pairArr)).as("p"))
      .select(col("p.w").as("w"), col("p.c").as("c"))
      .localCheckpoint(false) // both directions of the union
    pr.unionByName(pr.select(col("c").as("w"), col("w").as("c")))
      .groupBy(hex60(col("w")).as("wh"), hex60(col("c")).as("ch"))
      .agg(max(col("w")).as("w"), max(col("c")).as("c"),
        count(lit(1)).as("n_cooc"))
      .orderBy(col("n_cooc").desc, col("w"), col("c"))
      .limit(k)
      .select(col("w"), col("c"), col("n_cooc"))
  }

  val KnDiscount = 0.75

  /** Held-out cross-entropy under interpolated Kneser-Ney — the
    * smoothing that completes the ladder (add-one floor →
    * Jelinek-Mercer mix → stupid backoff → KN): absolute discounting
    * with the freed mass routed to the CONTINUATION distribution
    * (how many distinct contexts a word follows), which is what makes
    * KN the production default ("Francisco" is frequent but only ever
    * follows "San" — its continuation probability is tiny).
    *   P(w2|w1) = (max(c12−D, 0) + D·N1+(w1·)·Pc(w2)) / c1
    *   Pc(w2)   = (N1+(·w2) + 1) / (|bigram types| + |cont types| + 1)
    * with D = 0.75 and the +1 floor keeping unseen continuations
    * finite (the backoffHeldout Laplace device); an unseen CONTEXT
    * backs off to Pc alone. All counts are exact integers from ONE
    * bigram explode of the train split — c1, N1+(w1·), N1+(·w2) and
    * both type totals all derive from the bigram vocabulary table
    * (the backoff/collocations derivation pattern), so the corpus is
    * touched once. Shuffles carry 8-byte hashes; the single ln runs
    * on one fixed-shape double expression mirrored operand-for-
    * operand by the oracle.
    */
  def knHeldout(docs: DataFrame): DataFrame = {
    val (trainToks, evalToks) = heldoutSplit(docs)
    // Bigram vocabulary — every other model table derives from it. A
    // bigram's context is its first word: `cctx` is c1, `c` is c12.
    val c2t = gramVocab(gramStream(trainToks, 2, "ctxh", "lh"), "ctxh", "lh")
      .localCheckpoint(false) // feeds left/right/totals + scoring join
    val left = ctxCount(c2t, count(lit(1)).as("n1f"))
    val right = c2t.groupBy(col("lh")).agg(count(lit(1)).as("n1b"))
    val tot = c2t.agg(count(lit(1)).as("n_types"),
      countDistinct(col("lh")).as("n_cont"))
    val pc = (coalesce(col("n1b"), lit(0L)) + lit(1L)).cast("double") /
      (col("n_types") + col("n_cont") + lit(1L)).cast("double")
    val scored = gramStream(evalToks, 2, "ctxh", "lh")
      .join(c2t.select(col("gh"), col("c")), Seq("gh"), "left")
      .join(left, Seq("ctxh"), "left")
      .join(right, Seq("lh"), "left")
      .crossJoin(broadcast(tot)) // 1-row totals
      .withColumn("pc", pc)
    perDocNll(scored,
      when(col("cctx").isNotNull,
        log((greatest(coalesce(col("c"), lit(0L)).cast("double")
          - lit(KnDiscount), lit(0.0d))
          + lit(KnDiscount) * col("n1f").cast("double") * col("pc"))
          / col("cctx").cast("double")))
        .otherwise(log(col("pc"))),
      "n_bigrams",
      sum(col("cctx").isNull.cast("long")).as("n_unseen_ctx"),
      sum((col("cctx").isNotNull && col("c").isNull).cast("long"))
        .as("n_discounted_zero"))
  }

  /** PII span patterns — the RE2 ∩ Java-regex common subset (char
    * classes, bounded repeats, \b; no lookaround) so Spark and DuckDB
    * match identical spans.
    */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhoneRe = "\\b555-[0-9]{4}\\b"

  /** Shannon entropy of each document's token distribution (nats) —
    * the Gopher-family "natural language" signal: template/spam text
    * has low entropy, mixed natural prose is high. Identity used:
    * H = ln(n) − (Σ c·ln c)/n over per-token counts c, so ln runs on
    * exact integers only; each c·ln c is micro-unit-quantized before
    * the order-free integer sum (the txt_unigram_logprob pattern).
    * Scale: explode + two map-side-combinable aggregates keyed by
    * (doc_id, token) then doc_id — no joins, bounded by token volume.
    */
  def tokenEntropy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(lowTokens).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("c"),
        expr("CAST(ROUND(c * ln(c) * 1000000) AS BIGINT)").as("q"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), sum(col("q")).as("sq"))
      .select(col("doc_id"), col("n_tokens"),
        round(expr("ln(n_tokens)")
          - (col("sq").cast("double") / 1000000.0d) / col("n_tokens"), 6)
          .as("entropy"))

  val SelectBudgetTokens = 4000L

  /** Quality-aware selection under a per-source token budget — "spend
    * my 10B-token budget on the best documents each source offers":
    * rank every source's docs by quality, keep while the running token
    * total fits. One window per source partition; ordering is
    * (rounded quality desc, doc_id) so the cut line is deterministic
    * on any engine. The budget is per-source, so a giant source can't
    * crowd out a small high-quality one — mix_domains' rate-based
    * sampling solves proportions, this solves rations.
    */
  def budgetSelect(docs: DataFrame,
                   budget: Long = SelectBudgetTokens): DataFrame =
    budgetCut(qualityScore(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id"),
      col("n_tokens"), "cum_tokens", lit(budget))
      .select(col("doc_id"), col("source"), col("quality"),
        col("n_tokens"), col("cum_tokens"), col("keep"))

  /** The ONE budget cut both ration queries run: per-source window in
    * (quality desc, doc_id) order, running sum of `charge` as
    * `cumName`, keep while it fits `budget` — factored so the
    * documented same-cut-line contract between budgetSelect and
    * budgetSelectWeighted is a construction fact, not a
    * parallel-editing promise.
    */
  private def budgetCut(rows: DataFrame, charge: Column, cumName: String,
                        budget: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    rows.withColumn(cumName, sum(charge).over(w))
      .withColumn("keep", (col(cumName) <= budget).cast("int"))
  }

  /** Budget selection with near-dup soft weights — the composition a
    * trainer actually runs: each doc charges the budget its EFFECTIVE
    * token count, n_tokens × weight_ppm (micro-token units), where
    * weight_ppm = 1e6 div near-dup-cluster size from the production
    * LSH clustering (Dedup.clusterWeights). A 10-clone boilerplate
    * cluster thus spends one document-equivalent of budget instead of
    * ten, so duplicated mass can't crowd fresh content out of the
    * ration — soft dedup and budget rationing in ONE deterministic
    * cut. Same per-source window and (quality desc, doc_id) order as
    * budgetSelect; all arithmetic exact integers, the budget compared
    * at the 1e6× micro-token scale so no division touches the cut.
    * Scale: clusterWeights' band-keyed shuffles + one doc-grain join
    * + the per-source window — each piece is a registered operator's
    * own plan.
    */
  def budgetSelectWeighted(docs: DataFrame,
                           budget: Long = SelectBudgetTokens): DataFrame =
    budgetCut(qualityScore(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .join(Dedup.clusterWeights(docs)
        .select(col("doc_id"), col("weight_ppm")), "doc_id")
      .withColumn("eff_utokens", expr("n_tokens * weight_ppm")),
      col("eff_utokens"), "cum_utokens", lit(budget * 1000000L))
      .select(col("doc_id"), col("source"), col("quality"),
        col("n_tokens"), col("weight_ppm"), col("eff_utokens"),
        col("cum_utokens"), col("keep"))

  /** Corpus-health dashboard at (source, lang) grain: document count,
    * mean quality, gate keep-rate. The mean is a micro-quantized
    * integer sum (quality is already round-6, so ×10⁶ is integral up
    * to fp dust that one ROUND clears) — order-free, engine-exact.
    */
  def qualityBySource(docs: DataFrame): DataFrame =
    qualityScore(docs)
      .join(docs.select(col("doc_id"), col("source"), col("lang")), "doc_id")
      .select(col("source"), col("lang"),
        expr("CAST(ROUND(quality * 1000000) AS BIGINT)").as("q6"),
        col("keep").cast("long").as("k"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("q6")).as("sq"), sum(col("k")).as("n_keep"))
      .select(col("source"), col("lang"), col("n_docs"),
        microMean(col("sq"), col("n_docs")).as("avg_quality"),
        col("n_keep"),
        round(col("n_keep").cast("double") / col("n_docs"), 6)
          .as("keep_rate"))

  /** Redact PII spans in (user_id, text) rows: per-span counts plus
    * the scrubbed text. Pure per-row work at scan bandwidth.
    */
  def piiRedact(contacts: DataFrame): DataFrame =
    contacts.select(col("user_id"),
      regexp_count(col("text"), lit(PiiEmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PiiPhoneRe)).cast("long").as("n_phones"),
      regexp_replace(
        regexp_replace(col("text"), PiiEmailRe, "[EMAIL]"),
        PiiPhoneRe, "[PHONE]").as("clean_text"))

  val RepTopTokenMax = 0.2
  val RepDupBigramMax = 0.5

  /** Gopher-style repetition filter: top-token fraction and duplicate
    * -bigram fraction per document, with the keep gate on the ROUNDED
    * values (cross-engine rule). Pure per-row expressions — the
    * distinct-token count is bounded by doc length, so the inner
    * quadratic stays cache-resident at any corpus size.
    */
  def repetition(docs: DataFrame): DataFrame =
    docs
      .withColumn("t", lowTokens)
      .withColumn("bg", expr(gramArr(2)))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        // mode count via longest run in the sorted array — O(n log n)
        // per row vs the O(distinct·n) transform+filter scan; same
        // value (count of the most frequent token), oracle unchanged
        expr("""aggregate(array_sort(t),
            named_struct('prev', cast(null as string), 'run', 0, 'best', 0),
            (acc, x) -> named_struct(
              'prev', x,
              'run', if(acc.prev <=> x, acc.run + 1, 1),
              'best', greatest(acc.best, if(acc.prev <=> x, acc.run + 1, 1))),
            acc -> acc.best)""")
          .cast("long").as("top_tok"),
        size(col("bg")).cast("long").as("n_bigrams"),
        size(array_distinct(col("bg"))).cast("long").as("n_distinct_bg"))
      .withColumn("top_ratio",
        round(col("top_tok").cast("double") / col("n_tokens"), 6))
      .withColumn("dup_bg_ratio",
        round(lit(1.0d) - col("n_distinct_bg").cast("double") / col("n_bigrams"), 6))
      .withColumn("keep",
        (col("top_ratio") <= RepTopTokenMax &&
          col("dup_bg_ratio") <= RepDupBigramMax).cast("int"))
      .select(col("doc_id"), col("n_tokens"), col("top_ratio"),
        col("dup_bg_ratio"), col("keep"))

  /** Token budget per (source, lang) — the "how many tokens do I
    * actually have" report every pretraining data plan starts from.
    * One groupBy + a broadcast 1-row total; share is a division of
    * exact integer sums.
    */
  def tokenBudget(docs: DataFrame): DataFrame = {
    val per = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val total = per.agg(sum(col("n_tokens")).as("total_tokens"))
    per.join(broadcast(total))
      .withColumn("share",
        round(col("n_tokens").cast("double") / col("total_tokens"), 6))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("share"))
  }

  val MixRates: Seq[(String, Double)] =
    Seq("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
  val MixDefaultRate = 0.1

  /** Deterministic domain mixing: per-source keep rates applied via a
    * stable integer hash bucket of doc_id (no RNG — any engine, any
    * partitioning, any re-run draws the same sample; the same device
    * as the U4 split). The 100 TB form of "2 parts web, 1 part
    * books": a scan-bandwidth filter, no shuffle.
    */
  def mixDomains(docs: DataFrame,
                 rates: Seq[(String, Double)] = MixRates,
                 defaultRate: Double = MixDefaultRate): DataFrame = {
    val bucket = expr("((doc_id % 100003) * 31 + 17) % 10000")
    val thresh = rates.foldRight(lit((defaultRate * 10000).toLong)) {
      case ((src, r), els) =>
        when(col("source") === src, lit((r * 10000).toLong)).otherwise(els)
    }
    docs.withColumn("bucket", bucket.cast("long"))
      .filter(col("bucket") < thresh)
      .select(col("doc_id"), col("source"), col("bucket"))
  }

  /** Epoch budget for the registered temperature-mix queries, in ppm
    * of the corpus token count: spend half the corpus per epoch.
    */
  val MixTempBudgetPpm = 500000L

  /** Temperature-reweighted mixture plan (α = 0.5) under an epoch
    * token budget B: per-source targets ∝ n_tokens^α scaled to Σ=B,
    * rate_i = min(1, target_i/n_i) — the standard rebalance that
    * upweights small sources without letting one giant source
    * dominate an epoch (mix_domains is the hand-set-rates form; this
    * derives the rates from the data). α is fixed at 0.5 because
    * sqrt is the one power IEEE-754 requires correctly rounded —
    * pow(x, 0.3) is not, and would flake across engines. All shares
    * are integer ppm (q = round(sqrt(n)·10³), shares = q·10⁶ div
    * Σq): order-free sums, engine-exact division. A source smaller
    * than its temperature target is taken whole (the upsampling
    * remainder is an epoch-count concern, not a selection concern).
    * Widest intermediate is temp_ppm·B ≈ 10⁶·Σtokens: fits a long
    * until ~9·10¹² corpus tokens; past that drop the ppm quantum
    * to 10⁴.
    * Scale: one groupBy(source) + a broadcast 1-row total — the plan
    * is |sources| rows, nothing touches the corpus twice.
    */
  def mixTemperature(docs: DataFrame,
                     budgetPpm: Long = MixTempBudgetPpm): DataFrame = {
    val per = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("q", expr("CAST(ROUND(sqrt(n_tokens) * 1000) AS BIGINT)"))
    val tot = per.agg(sum(col("n_tokens")).as("tot_tokens"),
      sum(col("q")).as("tot_q"))
    per.join(broadcast(tot))
      .withColumn("budget_tokens",
        expr(s"tot_tokens * $budgetPpm div 1000000"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("n_tokens * 1000000 div tot_tokens").as("nat_ppm"),
        expr("q * 1000000 div tot_q").as("temp_ppm"),
        expr("LEAST(1000000, (q * 1000000 div tot_q) * budget_tokens div n_tokens)")
          .as("rate_ppm"))
  }

  /** Apply a (source, rate_ppm) mixture plan to a document relation —
    * batch or STREAMING (stream-static broadcast join: the plan is a
    * small static table, the docs side may be a readStream). The
    * bucket multiplier is Knuth's 2654435761 so small consecutive
    * doc_ids still spread across the full ppm range (×31 would leave
    * ids < ~32k all below any realistic threshold). Plan side
    * broadcasts; the docs side is a scan-bandwidth filter, no
    * shuffle, no streaming state.
    */
  def applyMixPlan(docs: DataFrame, plan: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"))
      .withColumn("bucket",
        expr("((doc_id % 1000003) * 2654435761 + 12345) % 1000000")
          .cast("long"))
      .join(broadcast(plan.select("source", "rate_ppm")), Seq("source"))
      .filter(col("bucket") < col("rate_ppm"))
      .select(col("doc_id"), col("source"), col("bucket"))

  /** Derive the temperature plan from `docs` and apply it in one
    * query (the registered batch form; the streaming ingest applies
    * a precomputed plan via applyMixPlan directly).
    */
  def mixTemperatureSample(docs: DataFrame,
                           budgetPpm: Long = MixTempBudgetPpm): DataFrame =
    applyMixPlan(docs, mixTemperature(docs, budgetPpm))

  /** Total training tokens for the epoch plan, as a multiple of the
    * corpus size (milli: 2000 = train on 2× the corpus token count),
    * and the per-source repeat ceiling (milli: 4000 = at most 4
    * epochs of any one source — the data-constrained-scaling rule
    * that repeating past ~4 epochs stops helping).
    */
  val MixTrainBudgetMilli = 2000L
  val MixMaxEpochsMilli = 4000L

  /** The up-sampling complement of mixTemperature: given the same
    * α=0.5 temperature shares and a total training budget T =
    * budget_milli/1000 × corpus tokens, how many EPOCHS of each
    * source fill its share — epochs_i = min(cap, share_i·T / n_i),
    * in exact integer milli-epochs (mixTemperature's rate_ppm caps
    * at 1, selecting WITHIN an epoch; this plans repeats ACROSS
    * epochs for sources smaller than their target). planned_tokens
    * is the realized allocation n_i·epochs_i. Same engine-exact
    * arithmetic and |sources|-row plan as mixTemperature.
    */
  def mixEpochPlan(docs: DataFrame,
                   budgetMilli: Long = MixTrainBudgetMilli,
                   capMilli: Long = MixMaxEpochsMilli): DataFrame = {
    val per = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("q", expr("CAST(ROUND(sqrt(n_tokens) * 1000) AS BIGINT)"))
    val tot = per.agg(sum(col("n_tokens")).as("tot_tokens"),
      sum(col("q")).as("tot_q"))
    per.join(broadcast(tot))
      .withColumn("target_tokens",
        expr(s"(q * 1000000 div tot_q) * (tot_tokens * $budgetMilli div 1000)" +
          " div 1000000"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("q * 1000000 div tot_q").as("temp_ppm"),
        expr(s"LEAST($capMilli, target_tokens * 1000 div n_tokens)")
          .as("epochs_milli"),
        expr(s"n_tokens * LEAST($capMilli, target_tokens * 1000 div n_tokens)" +
          " div 1000").as("planned_tokens"))
  }

  val PackSeqLen = 2048L

  /** Sequence packing: assign each document to a fixed-token-budget
    * training sequence by its cumulative start offset within its
    * source shard (docs may straddle a boundary — the standard
    * offset-bin approximation of greedy packing). Window is
    * partitioned by source: no global sort, each shard packs
    * independently — exactly how a 1000-executor packing job runs.
    */
  def packSequences(docs: DataFrame, seqLen: Long = PackSeqLen): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("seq_id",
        expr(s"(cum_tokens - n_tokens) div $seqLen"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("seq_id"))
  }

  val ChunkW = 50
  val ChunkStride = 40

  /** Overlapping token-window chunking — the RAG / context-window
    * split: chunks start every `stride` tokens and span `w` tokens
    * (clamped at the end), so consecutive chunks overlap by
    * `w − stride`. Pure per-row generator (explode of an expression-
    * built array): runs at scan bandwidth, no shuffle.
    */
  def chunk(docs: DataFrame, w: Int = ChunkW,
            stride: Int = ChunkStride): DataFrame =
    docs
      // empty text still "tokenizes" to one empty string — gate on
      // the trimmed raw text instead (mirrored in the oracle)
      .filter(length(trim(col("text"))) > 0)
      .withColumn("t", tokens(col("text")))
      .select(col("doc_id"), expr(
        s"""explode(transform(sequence(0, size(t) - 1, $stride),
           |  s -> struct(s AS start_tok,
           |    size(slice(t, s + 1, $w)) AS n_chunk_tokens,
           |    concat_ws(' ', slice(t, s + 1, $w)) AS chunk)))""".stripMargin)
        .as("c"))
      .select(col("doc_id"),
        expr(s"c.start_tok div $stride").as("chunk_id"),
        col("c.start_tok").cast("long").as("start_tok"),
        col("c.n_chunk_tokens").cast("long").as("n_chunk_tokens"),
        col("c.chunk"))

  val KeywordsK = 3

  /** Per-document TF-IDF keyword extraction — the tagging/metadata
    * pass of a corpus pipeline. tf and df are exact integer
    * aggregates (token grain, then vocabulary grain); the score
    * tf·ln((N+1)/(df+1)) is one fixed-shape double expression, ranked
    * on its ROUNDED value with a token tie-break so the top-k cut is
    * deterministic on any engine.
    */
  def keywords(docs: DataFrame, k: Int = KeywordsK): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(lowTokens).as("tk"))
    val tf = tok.groupBy(col("doc_id"), col("tk"))
      .agg(count(lit(1)).as("tf")).localCheckpoint(false)
    val df = tf.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tk"))
    tf.join(df, Seq("tk"))
      .crossJoin(broadcast(nDocs)) // 1-row corpus size
      .withColumn("score",
        round(col("tf").cast("double")
          * log((col("n_docs").cast("double") + 1.0d) / (col("df") + 1.0d)),
          6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("tk").as("keyword"), col("tf"), col("df"), col("score"))
  }

  val PostingsK = 5
  val PostingsMinDf = 5L

  /** Inverted-index build: per term, document frequency, total term
    * frequency, and the top-k postings by (tf desc, doc_id) encoded
    * as an ordered "doc:tf" string (the a22 sorted-string device —
    * the driver's comparator can't sort array cells). The df floor
    * keeps hapax noise out of the artifact.
    *
    * Scale shape: the (term, doc) aggregate is map-side combinable
    * off one tokenize pass; everything after runs at VOCABULARY
    * grain — the stats aggregate and the per-term rank window both
    * key on the term, which is exactly how a sharded index build
    * partitions (term-sharded posting files). The window output is
    * bounded at k rows per term before the string assembly, so no
    * posting list ever materializes beyond the cap.
    */
  def invertedIndex(docs: DataFrame, k: Int = PostingsK,
                    minDf: Long = PostingsMinDf): DataFrame = {
    val tf = docs.select(col("doc_id"),
      explode(lowTokens).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(false) // stats aggregate + postings window
    val stats = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
      .filter(col("df") >= minDf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term"))
      .orderBy(col("tf").desc, col("doc_id"))
    val posts = tf.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .groupBy(col("term"))
      .agg(sort_array(collect_list(struct(col("rk").as("r"),
        concat(col("doc_id"), lit(":"), col("tf")).as("p")))).as("ps"))
      .select(col("term"),
        expr("array_join(transform(ps, x -> x.p), ' ')").as("top_docs"))
    stats.join(posts, Seq("term"))
      .select(col("term"), col("df"), col("tf_total"), col("top_docs"))
  }

  val PhraseTopDocs = 100

  /** Phrase query over positional postings — the retrieval half the
    * index tier lacked (invertedIndex answers "which docs contain the
    * TERM"; this answers "which docs contain the PHRASE", the
    * Elasticsearch match_phrase shape): (doc_id, pos, term) postings
    * for the two phrase words join on (same doc, adjacent positions),
    * so matching touches two posting lists, never the corpus text.
    * The phrase itself is data-derived (top corpus bigram by count,
    * tie lexicographic) only so the query is self-contained and
    * oracle-exact — production passes a literal, the vocabulary
    * aggregate disappears, and the two term filters push down to a
    * term-keyed posting store as point lookups.
    *
    * Shape at scale: one map-side-combinable vocabulary aggregate
    * picks the phrase (absent for a literal query); each posting side
    * is filtered to ONE term by a 1-row broadcast before anything
    * shuffles, so the adjacency join moves only the two filtered
    * lists, keyed on doc_id; the per-doc hit count and the bounded
    * top cut are window-free aggregates on the join output.
    */
  def phraseSearch(docsDf: DataFrame,
                   topDocs: Int = PhraseTopDocs): DataFrame = {
    val tk = docsDf.select(col("doc_id"), lowTokens.as("t"))
      .localCheckpoint(false) // phrase pick + both posting sides
    val top = tk.select(explode(expr(gramArr(2))).as("phrase"))
      .groupBy(col("phrase")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("phrase")).limit(1)
      .select(col("phrase"),
        split(col("phrase"), " ").getItem(0).as("w1"),
        split(col("phrase"), " ").getItem(1).as("w2"))
    val post = tk.select(col("doc_id"),
      posexplode(col("t")).as(Seq("pos", "term")))
    val lhs = post.join(broadcast(top), col("term") === col("w1"))
      .select(col("phrase"), col("doc_id"), col("pos"))
    val rhs = post.join(broadcast(top.select(col("w2"))),
        col("term") === col("w2"))
      .select(col("doc_id").as("doc_r"), col("pos").as("pos_r"))
    lhs.join(rhs,
        col("doc_id") === col("doc_r") && col("pos_r") === col("pos") + 1)
      .groupBy(col("phrase"), col("doc_id"))
      .agg(count(lit(1)).as("hits"))
      .orderBy(col("hits").desc, col("doc_id"))
      .limit(topDocs)
  }

  val InterpLambda = 0.75

  /** Jelinek-Mercer interpolated LM score: p = λ·p_bigram + (1−λ)·
    * p_unigram — the smoothing rung above txt_bigram_logprob (an
    * unseen-in-context bigram no longer scores −ln(small count) off a
    * cliff; it backs off to the word's corpus frequency). All counts
    * are exact integers; the mixed probability is one fixed-shape
    * double expression, so ln sees identical bits on both engines and
    * the per-token NLL micro-quantizes into order-free integer sums.
    * Same shuffle shape as the bigram LM: vocabulary-grain aggregates
    * + hash-keyed joins, one checkpointed tokenize pass.
    */
  def interpLogprob(docs: DataFrame,
                    lambda: Double = InterpLambda): DataFrame = {
    val bg = gramStream(docs.select(col("doc_id"), lowTokens.as("t")),
      2, "ctxh", "lh").localCheckpoint(false)
    val tok = docs
      .select(explode(lowTokens).as("w"))
      .select(hex60(col("w")).as("lh"))
      .localCheckpoint(false)
    val uni = tok.groupBy(col("lh")).agg(count(lit(1)).as("u"))
    val nTot = tok.agg(count(lit(1)).as("n_total"))
    val vocab = gramVocab(bg, "ctxh")
    val scored = bg.join(condTable(vocab, ctxCount(vocab)), Seq("gh"))
      .join(uni, Seq("lh"))
      .crossJoin(broadcast(nTot)) // 1-row total
    perDocNll(scored,
      log(lit(lambda) * (col("c").cast("double") / col("cctx"))
        + lit(1.0d - lambda) * (col("u").cast("double") / col("n_total"))),
      "n_bigrams")
  }

  val SpanDupMax = 0.3

  /** Span-level dedup (C4/RefinedWeb style): a document whose token
    * windows largely re-appear in OTHER documents is boilerplate even
    * when no single whole-doc duplicate exists. Chunks come from the
    * same overlapping windows as txt_chunk; a span is "duplicated"
    * when its fingerprint occurs in more than one distinct document.
    * Shapes: chunk fingerprints at scan speed, one distinct + one
    * count aggregate on the 60-bit fp key, a semi-join back — never a
    * pairwise doc comparison.
    */
  def spanDedup(docs: DataFrame, maxDupFrac: Double = SpanDupMax): DataFrame = {
    val ch = chunk(docs)
      .select(col("doc_id"), md5Hex(normText(col("chunk"))).as("fp"))
      .localCheckpoint(false)
    val dupFp = ch.select(col("doc_id"), col("fp")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1).select(col("fp"))
    val tot = ch.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
    val dup = ch.join(dupFp, Seq("fp"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    tot.join(dup, Seq("doc_id"), "left")
      .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_chunks"), 6))
      .withColumn("keep", (col("dup_frac") <= maxDupFrac).cast("int"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup"),
        col("dup_frac"), col("keep"))
  }

  /** Stride-1 window fingerprints — the shared prefix of the two
    * exact-substring-dedup queries: one row per token position with
    * the 60-bit hash of the w-token window starting there. Linear in
    * corpus token count (the same volume as the shingle stream the
    * whole dedup family already builds), emitted at scan bandwidth.
    */
  private[graft] def spanWindows(docs: DataFrame, w: Int): DataFrame =
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), lowTokens.as("t"))
      .filter(size(col("t")) >= w)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(t) - $w), p -> " +
          s"array_join(slice(t, p + 1, $w), ' '))"))
        .as(Seq("s", "wtxt")))
      .select(col("doc_id"), col("s").cast("long").as("s"),
        hex60(col("wtxt")).as("fp"))

  /** Exact-substring span dedup, the missing rung above dedup_span
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499): dedup_span SCORES documents by their
    * strided duplicated-chunk fraction; this emits the actual
    * REMOVABLE OBJECT — per document, the maximal token-span
    * intervals covered by w-token windows that re-appear verbatim in
    * other documents. Every position's window is fingerprinted
    * (stride 1, so a shared run of length L ≥ w yields duplicated
    * windows at exactly positions [p, p+L−w] and their interval union
    * recovers [p, p+L) — the merge is EXACT, no chunk-boundary loss),
    * cross-doc duplicated fingerprints are found at vocabulary grain,
    * and overlapping windows merge per doc via the classic
    * interval-union window: new span ⟺ start > running max of prior
    * ends, span id = running count of span starts. Output
    * (doc_id, span_id, span_start, span_end, span_tokens), end
    * exclusive, token units.
    *
    * Scale shape: window rows are corpus-token-linear; the dup test
    * is one distinct + one count aggregate on the 8-byte fp and a
    * semi-join back (never pairwise docs); the merge windows partition
    * on doc_id (bounded by doc length). The within-doc repetition
    * case (same window twice in ONE doc) is deliberately NOT a dup —
    * mirroring dedup_span's cross-doc definition; txt_repetition owns
    * intra-doc boilerplate.
    */
  /** Interval-union merge over (doc_id, s, e) window intervals — THE
    * span-merge kernel, one copy shared by the batch pass and the
    * incremental twin so their merge semantics cannot drift: new span
    * ⟺ start > running max of prior ends (adjacent intervals merge),
    * span id = running count of span starts, per-doc window only.
    *
    * Totality (round 13, ADVICE): ordering the running-max frame by
    * `s` alone makes span numbering row-order-dependent under
    * duplicate starts. Every current caller feeds one interval per
    * (doc_id, s) by construction (spanWindows posexplodes one window
    * per position; the semi-join keeps at most that), but the kernel
    * no longer relies on it: the window orders by (s, e DESC), so a
    * duplicate start's WIDEST interval arrives first and every
    * same-start sibling lands inside the running max (s > pmax is
    * false against its own wider twin's end) — same span, same
    * extents, for ANY interval relation. Ties beyond (s, e) are
    * exact duplicate rows, which are interchangeable, so the result
    * is deterministic. Chosen over a (doc_id, s)→max(e) pre-aggregate
    * because that costs an extra exchange of the dup-interval stream
    * (+33% span-family shuffle bytes at sf1, measured) while the
    * ordering change costs nothing — the per-doc sort was already
    * there. PropertySpec laws the kernel against a linear-sweep
    * reference on arbitrary generated interval relations.
    */
  private[graft] def mergeIntervals(sp: DataFrame): DataFrame = {
    val wo = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("s"), col("e").desc)
    val pmax = max(col("e"))
      .over(wo.rowsBetween(Window.unboundedPreceding, -1))
    sp.withColumn("newg",
        when(pmax.isNull || col("s") > pmax, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("newg"))
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .select(col("doc_id"), col("span_id"), col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  def spanMerge(docs: DataFrame, w: Int = ChunkW): DataFrame = {
    // window fps feed the dup-fp aggregate AND the span side
    val wfp = spanWindows(docs, w).localCheckpoint(false)
    val dupFp = wfp.select(col("doc_id"), col("fp")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1).select(col("fp"))
    mergeIntervals(wfp.join(dupFp, Seq("fp"), "left_semi")
      .select(col("doc_id"), col("s"), (col("s") + w).as("e")))
  }

  /** The daily-ingest shape of span dedup (dedup_incremental's span
    * sibling, same deterministic doc_id-hash split standing in for
    * the lake's partition column): the corpus side is already
    * span-deduped, so only the incoming batch's windows are checked,
    * and only AGAINST the corpus — the corpus×corpus and batch×batch
    * window-pair spaces never form. At 100 TB the corpus side is the
    * distinct window-fp index this same pass persisted at previous
    * ingests, so daily cost is batch-sized: fingerprint the batch,
    * semi-join the index, merge intervals. Batch-internal duplication
    * runs through the ordinary spanMerge at batch scale first — the
    * same contract dedup_incremental documents.
    */
  def spanMergeIncremental(docs: DataFrame, w: Int = ChunkW): DataFrame = {
    val wfp = spanWindows(docs, w).localCheckpoint(false)
    val corpusFp = wfp.filter(col("doc_id") % 10 < 8)
      .select(col("fp")).distinct()
    spanFromIndex(wfp.filter(col("doc_id") % 10 >= 8), corpusFp, w)
  }

  /** Batch-windows-vs-index core shared by the registered incremental
    * query and the streaming ingest twin — one codepath, so stream ≡
    * batch is a construction fact (CorpusIngestSpec pins it).
    */
  private[graft] def spanFromIndex(batchWfp: DataFrame,
                                   corpusFps: DataFrame,
                                   w: Int): DataFrame =
    mergeIntervals(batchWfp
      .join(corpusFps, Seq("fp"), "left_semi")
      .select(col("doc_id"), col("s"), (col("s") + w).as("e")))

  /** Span detection for an incoming batch against a PERSISTED corpus
    * window-fp index (the lake table streaming.CorpusIngest builds) —
    * the form a production ingest actually calls: the corpus never
    * recomputes, the batch is window-fingerprinted and semi-joined.
    */
  def spanAgainstIndex(batch: DataFrame, corpusFps: DataFrame,
                       w: Int = ChunkW): DataFrame =
    spanFromIndex(spanWindows(batch, w), corpusFps, w)

  /** Oracle CTE chain for the span family, terminal relation
    * `spans(doc_id, span_id, span_start, span_end, span_tokens)` —
    * one text shared by the merge query and its mass monitor, the
    * same running-max interval union operand-for-operand. span_id is
    * a windowed SUM over INTEGER, cast to BIGINT INSIDE the CTE (the
    * note-50 emission rule applied at the source).
    */
  /** Window-fp prefix (tk/wn/wf) and the interval-union tail
    * (mg/gs/spans, expects `sp(doc_id, s, e)`) — factored so the
    * batch and incremental oracles share both ends verbatim and
    * differ ONLY in how `sp` selects duplicated windows, mirroring
    * the one mergeIntervals kernel on the Spark side.
    */
  private def spanWinSql(w: Int): String =
    s"""tk AS (SELECT doc_id,
       |    $tokSql AS t
       |  FROM documents WHERE len(trim(text)) > 0),
       |wn AS (SELECT doc_id, t,
       |    unnest(generate_series(0, len(t) - $w)) AS s
       |  FROM tk WHERE len(t) >= $w),
       |wf AS (SELECT doc_id, s,
       |    ${hex60Sql(s"\n      array_to_string(t[s+1 : s+$w], ' ')")} AS fp
       |  FROM wn)""".stripMargin

  private val spanMergeTailSql =
    // ORDER BY (s, e DESC) mirrors the round-13 kernel totality
    // ordering verbatim (widest same-start interval first) — on the
    // registered inputs e = s + w so it is the old ORDER BY s, but
    // the shared-semantics claim must hold on ANY interval relation
    """mg AS (SELECT doc_id, s, e, MAX(e) OVER (PARTITION BY doc_id
      |    ORDER BY s, e DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |    AS pmax
      |  FROM sp),
      |gs AS (SELECT doc_id, s, e,
      |    CAST(SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY s, e DESC
      |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_id
      |  FROM mg),
      |spans AS (SELECT doc_id, span_id, MIN(s) AS span_start,
      |    MAX(e) AS span_end, MAX(e) - MIN(s) AS span_tokens
      |  FROM gs GROUP BY doc_id, span_id)""".stripMargin

  private def spanCtesSql(w: Int): String =
    s"""${spanWinSql(w)},
       |dupfp AS (SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM wf)
       |  GROUP BY fp HAVING COUNT(*) > 1),
       |sp AS (SELECT doc_id, s, s + $w AS e FROM wf
       |  WHERE fp IN (SELECT fp FROM dupfp)),
       |$spanMergeTailSql""".stripMargin

  private def spanIncCtesSql(w: Int): String =
    s"""${spanWinSql(w)},
       |cfp AS (SELECT DISTINCT fp FROM wf WHERE doc_id % 10 < 8),
       |sp AS (SELECT doc_id, s, s + $w AS e FROM wf
       |  WHERE doc_id % 10 >= 8 AND fp IN (SELECT fp FROM cfp)),
       |$spanMergeTailSql""".stripMargin

  /** The mass-report aggregate select over the `spans` + `tk` CTEs —
    * factored so the single-w mass query and the w-sweep share the
    * aggregate text verbatim (the cut-tail device again).
    */
  private val spanMassSelSql =
    """SELECT
      |  (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM spans)
      |    AS n_docs_spanned,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM spans) AS n_spans,
      |  (SELECT CAST(COALESCE(SUM(span_tokens), 0) AS BIGINT)
      |    FROM spans) AS dup_tokens,
      |  (SELECT CAST(SUM(len(t)) AS BIGINT) FROM tk)
      |    AS total_tokens""".stripMargin

  /** The positional-cut oracle tail over any tokenized doc relation
    * `docsRel(doc_id, t)` and the `spans` CTE — factored exactly like
    * the Spark-side spanCutWith seam, so the batch cut (docsRel = tk)
    * and the incremental cut (docsRel = the batch-half restriction)
    * share the cut text verbatim and differ only in which documents
    * get cut, mirroring the one kernel.
    */
  private def spanCutTailSql(docsRel: String): String =
    s"""pos AS (SELECT doc_id, t,
       |    unnest(generate_series(0, len(t) - 1)) AS p
       |  FROM $docsRel),
       |keptp AS (SELECT pos.doc_id, pos.p, pos.t FROM pos
       |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
       |    WHERE sp.doc_id = pos.doc_id
       |      AND pos.p >= sp.span_start AND pos.p < sp.span_end)),
       |kept AS (SELECT doc_id,
       |    array_to_string(list(t[p+1] ORDER BY p), ' ') AS ktxt,
       |    CAST(COUNT(*) AS BIGINT) AS kept_tokens
       |  FROM keptp GROUP BY doc_id)
       |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
       |CAST(len(d.t) AS BIGINT) - COALESCE(k.kept_tokens, 0)
       |  AS cut_tokens,
       |COALESCE(k.kept_tokens, 0) AS kept_tokens,
       |CAST(concat('0x', substr(md5(COALESCE(k.ktxt, '')),1,15))
       |  AS BIGINT) AS kept_fp
       |FROM $docsRel d LEFT JOIN kept k USING (doc_id)""".stripMargin

  /** The removable-mass monitor over spanMerge — the number a curator
    * reads before turning span-cutting on: how many documents carry a
    * duplicated span, how many maximal spans there are, the token
    * mass they cover, and that mass as ppm of the corpus (integer
    * div, engine-exact). One row.
    */
  /** The window-size knob priced (round 13) — spanMass swept over w:
    * the curve a curator reads before choosing the cut granularity
    * (Lee et al. fix w = 50 tokens; smaller w cuts more mass at less
    * precision — every w-window match is also ⌈L/w'⌉ smaller-window
    * matches, so dup_ppm is monotone nonincreasing in w and the knee
    * of this curve is the operating point). Three one-row reports,
    * one per w, each the exact spanMass relation — a turn-the-knob
    * ANALYSIS query run once per corpus: cost is |ws| window passes,
    * each corpus-token-linear, sharing nothing across w by design
    * (the fp universes differ per w; at 100 TB run the sweep on the
    * deterministic monitor sample if three full passes matter).
    */
  val SpanSweepWs: Seq[Int] = Seq(10, 25, ChunkW)

  def spanWSweep(docs: DataFrame, ws: Seq[Int] = SpanSweepWs): DataFrame =
    ws.map(w => spanMass(docs, w)
        .select(lit(w).cast("long").as("w"), col("*")))
      .reduce(_.unionByName(_))

  def spanMass(docs: DataFrame, w: Int = ChunkW): DataFrame = {
    val spans = spanMerge(docs, w)
      .agg(countDistinct(col("doc_id")).as("n_docs_spanned"),
        count(lit(1)).as("n_spans"),
        coalesce(sum(col("span_tokens")), lit(0L)).as("dup_tokens"))
    val tot = docs.filter(length(trim(col("text"))) > 0)
      .select(size(lowTokens).cast("long").as("n"))
      .agg(sum(col("n")).as("total_tokens"))
    spans.crossJoin(tot) // 1 row × 1 row
      .withColumn("dup_ppm",
        when(col("total_tokens") > 0,
          expr("(dup_tokens * 1000000) div total_tokens")))
  }

  /** The CUT half of exact-substring dedup — apply spanMerge's
    * intervals and emit the cleaned document: every token whose
    * position falls inside a merged duplicated span is dropped, the
    * survivors re-join in order. Output is counts plus the 60-bit
    * fingerprint of the cleaned text (emitting megabytes of text from
    * a gate query helps nobody; the fp pins the content exactly).
    * Documents with no spans — including those shorter than one
    * window — pass through uncut.
    *
    * Scale shape: the span list collapses to one doc-grain row
    * (bounded by dup mass) and joins the token table on the doc key
    * alone; the positional cut is a single filter/exists HOF
    * expression per row — scan bandwidth, no per-position shuffle, no
    * window. A trainer would emit the cleaned text column instead of
    * its fingerprint; same plan.
    */
  def spanCut(docs: DataFrame, w: Int = ChunkW): DataFrame =
    spanCutWith(docs, spanMerge(docs, w))

  /** The CUT tail factored over ANY span relation
    * (doc_id, span_start, span_end) — the seam the incremental and
    * streaming-ingest forms need: production applies the cut to an
    * incoming BATCH against index-derived spans (Lee et al. §4 cuts
    * at preprocessing time), not to the whole corpus against
    * spanMerge. One copy of the positional-cut expression shared by
    * every caller, so cut semantics cannot drift between the batch,
    * incremental, and streaming rows.
    */
  def spanCutWith(docs: DataFrame, spanRel: DataFrame): DataFrame = {
    val spans = spanRel
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("sp"))
    val tk = docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), lowTokens.as("t"))
    tk.join(spans, Seq("doc_id"), "left")
      .withColumn("sp", coalesce(col("sp"),
        expr("cast(array() as array<struct<s:bigint,e:bigint>>)")))
      .withColumn("kept", expr(
        "filter(transform(sequence(0, size(t) - 1), " +
          "p -> struct(cast(p as bigint) as p, t[p] as tok)), " +
          "x -> not exists(sp, r -> x.p >= r.s and x.p < r.e))"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        (size(col("t")) - size(col("kept"))).cast("long").as("cut_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        hex60(array_join(expr("transform(kept, x -> x.tok)"), " "))
          .as("kept_fp"))
  }

  /** The CUT half of the daily-ingest shape (round 13, completing the
    * span family's production story): spanCut removes whole-corpus
    * duplicated spans, but a production ingest cuts the incoming
    * BATCH against the corpus-side fp index — detect
    * (spanMergeIncremental: batch windows semi-join the corpus
    * distinct-fp index, never corpus×corpus or batch×batch) and then
    * cut only the batch documents through the one shared tail. Same
    * doc_id-hash split standing in for the lake partition column;
    * daily cost is batch-sized end to end, and the cut stays one
    * scan-bandwidth HOF per batch row.
    */
  def spanCutIncremental(docs: DataFrame, w: Int = ChunkW): DataFrame =
    spanCutWith(docs.filter(col("doc_id") % 10 >= 8),
      spanMergeIncremental(docs, w))

  /** Batch cut against a PERSISTED corpus window-fp index — the verb
    * `streaming.CorpusIngest` calls per micro-batch: detect via the
    * shared spanAgainstIndex kernel, cut via the shared tail; the
    * corpus is touched only through the index semi-join.
    */
  def spanCutAgainstIndex(batch: DataFrame, corpusFps: DataFrame,
                          w: Int = ChunkW): DataFrame =
    spanCutWith(batch, spanAgainstIndex(batch, corpusFps, w))

  /** The composed curation gate — the one-query form of the full
    * text-side filter pipeline: quality score, repetition gate,
    * language ID, and exact-dup canonicalization joined into a single
    * keep decision per document. This is the query a corpus curator
    * actually ships; each flag is also emitted so drop reasons are
    * auditable. All component semantics identical to their standalone
    * operators.
    */
  def corpusGate(docs: DataFrame): DataFrame = {
    val q = qualityScore(docs)
      .select(col("doc_id"), col("quality"), col("keep").as("q_keep"))
    val r = repetition(docs)
      .select(col("doc_id"), col("keep").as("r_keep"))
    val l = langId(docs)
      .withColumn("l_keep", (col("pred_lang") === "en").cast("int"))
      .select(col("doc_id"), col("pred_lang"), col("l_keep"))
    val wFp = org.apache.spark.sql.expressions.Window
      .partitionBy(md5Hex(normText(col("text"))))
    val canon = docs
      .withColumn("is_canonical",
        (col("doc_id") === min(col("doc_id")).over(wFp)).cast("int"))
      .select(col("doc_id"), col("is_canonical"))
    q.join(r, Seq("doc_id")).join(l, Seq("doc_id")).join(canon, Seq("doc_id"))
      .withColumn("keep",
        (col("q_keep") === 1 && col("r_keep") === 1 &&
          col("l_keep") === 1 && col("is_canonical") === 1).cast("int"))
  }

  /** Canonical-text fingerprint: md5 of the normalized text plus its
    * 60-bit integer form — the key for exact dedup and shard routing.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5Hex(normText(col("text"))).as("fp"),
      hex60(normText(col("text"))).as("fp_int"))

  // ---- driver-contract registry ----

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  private def sqlHits(words: Seq[String]) =
    s"len(list_filter(string_split_regex(trim(text),'\\s+'), " +
      s"x -> x IN (${words.map(w => s"'$w'").mkString(",")})))"

  /** Quality CTE `q(doc_id, source, n_tokens, quality)` — ONE text
    * shared by the mix_budget_select and mix_budget_weighted oracles,
    * mirroring the budgetCut kernel sharing on the Spark side.
    */
  private lazy val budgetQSql = {
    val toks = "string_split_regex(trim(text),'\\s+')"
    s"""q AS (SELECT doc_id, source,
       |    CAST(len($toks) AS BIGINT) AS n_tokens,
       |    ROUND(CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks) * 0.5
       |      + LEAST(CAST(len($toks) AS DOUBLE)/100.0, 1.0) * 0.3
       |      + CAST(${sqlHits(StopEn)} AS DOUBLE) / len($toks) * 0.2, 6)
       |      AS quality
       |  FROM documents)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("txt_token_stats",
      (s, d) => tokenStats(docs(s, d)),
      Some("""SELECT doc_id,
             |CAST(len(string_split_regex(trim(text),'\s+')) AS BIGINT) AS n_tokens,
             |CAST(len(regexp_replace(text,'\s+','','g')) AS BIGINT) AS n_token_chars,
             |CAST(len(list_distinct(string_split_regex(trim(text),'\s+'))) AS BIGINT) AS n_distinct_tokens,
             |ROUND(CAST(len(regexp_replace(text,'\s+','','g')) AS DOUBLE)
             |  / len(string_split_regex(trim(text),'\s+')), 6) AS avg_token_len
             |FROM documents""".stripMargin)),

    QueryDef("txt_quality",
      (s, d) => qualityScore(docs(s, d)),
      Some(s"""WITH q AS (SELECT doc_id,
              |  CAST(len(string_split_regex(trim(text),'\\s+')) AS BIGINT) AS n_tokens,
              |  CAST(len(list_distinct(string_split_regex(trim(text),'\\s+'))) AS BIGINT) AS n_distinct,
              |  CAST(${sqlHits(StopEn)} AS BIGINT) AS n_stop
              |  FROM documents),
              |r AS (SELECT doc_id, n_tokens,
              |  CAST(n_distinct AS DOUBLE)/n_tokens AS ttr,
              |  CAST(n_stop AS DOUBLE)/n_tokens AS stop_ratio,
              |  LEAST(CAST(n_tokens AS DOUBLE)/100.0, 1.0) AS len_score
              |  FROM q)
              |SELECT doc_id, n_tokens, ROUND(ttr,6) AS ttr,
              |ROUND(stop_ratio,6) AS stop_ratio,
              |ROUND(ttr*0.5 + len_score*0.3 + stop_ratio*0.2, 6) AS quality,
              |CAST(ROUND(ttr*0.5 + len_score*0.3 + stop_ratio*0.2, 6) >= 0.4 AS INT) AS keep
              |FROM r""".stripMargin)),

    QueryDef("txt_lang_id",
      (s, d) => langId(docs(s, d)),
      Some(s"""WITH h AS (SELECT doc_id, lang AS lang_label,
              |  CAST(${sqlHits(StopEn)} AS BIGINT) AS en_hits,
              |  CAST(${sqlHits(StopDe)} AS BIGINT) AS de_hits,
              |  CAST(${sqlHits(StopFr)} AS BIGINT) AS fr_hits,
              |  CAST(${sqlHits(StopEs)} AS BIGINT) AS es_hits
              |  FROM documents)
              |SELECT *, CASE
              |  WHEN GREATEST(en_hits,de_hits,fr_hits,es_hits) = 0 THEN 'und'
              |  WHEN en_hits = GREATEST(en_hits,de_hits,fr_hits,es_hits) THEN 'en'
              |  WHEN de_hits = GREATEST(en_hits,de_hits,fr_hits,es_hits) THEN 'de'
              |  WHEN fr_hits = GREATEST(en_hits,de_hits,fr_hits,es_hits) THEN 'fr'
              |  ELSE 'es' END AS pred_lang
              |FROM h""".stripMargin)),

    // Language-ID confusion matrix + per-class precision/recall —
    // the eval artifact behind the lang_id classifier: |langs|² cells
    // at any corpus scale, exact integer ratios rounded once. This
    // is how a real pipeline decides whether the n-gram heuristic is
    // good enough or a model is needed.
    QueryDef("txt_lang_confusion",
      (s, d) => {
        val p = langId(docs(s, d))
          .select(col("lang_label"), col("pred_lang"))
        val cells = p.groupBy(col("lang_label"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
        val byLabel = Window.partitionBy(col("lang_label"))
        val byPred = Window.partitionBy(col("pred_lang"))
        cells
          .withColumn("recall_of_label",
            round(col("n").cast("double") / sum(col("n")).over(byLabel), 6))
          .withColumn("precision_of_pred",
            round(col("n").cast("double") / sum(col("n")).over(byPred), 6))
      },
      Some(s"""WITH h AS (SELECT doc_id, lang AS lang_label,
              |  CAST(${sqlHits(StopEn)} AS BIGINT) AS en_hits,
              |  CAST(${sqlHits(StopDe)} AS BIGINT) AS de_hits,
              |  CAST(${sqlHits(StopFr)} AS BIGINT) AS fr_hits,
              |  CAST(${sqlHits(StopEs)} AS BIGINT) AS es_hits
              |  FROM documents),
              |p AS (SELECT lang_label, CASE
              |  WHEN GREATEST(en_hits,de_hits,fr_hits,es_hits) = 0 THEN 'und'
              |  WHEN en_hits = GREATEST(en_hits,de_hits,fr_hits,es_hits) THEN 'en'
              |  WHEN de_hits = GREATEST(en_hits,de_hits,fr_hits,es_hits) THEN 'de'
              |  WHEN fr_hits = GREATEST(en_hits,de_hits,fr_hits,es_hits) THEN 'fr'
              |  ELSE 'es' END AS pred_lang
              |  FROM h),
              |cells AS (SELECT lang_label, pred_lang,
              |    CAST(COUNT(*) AS BIGINT) AS n
              |  FROM p GROUP BY 1, 2)
              |SELECT lang_label, pred_lang, n,
              |ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY lang_label), 6)
              |  AS recall_of_label,
              |ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY pred_lang), 6)
              |  AS precision_of_pred
              |FROM cells""".stripMargin)),

    QueryDef("txt_fingerprint",
      (s, d) => fingerprint(docs(s, d)),
      Some(s"""SELECT doc_id,
             |md5(lower(regexp_replace(trim(text),'\\s+',' ','g'))) AS fp,
             |${hex60Sql("lower(regexp_replace(trim(text),'\\s+',' ','g'))")} AS fp_int
             |FROM documents""".stripMargin)),

    // BPE-ish tokenizer: letter runs / digit runs / punctuation runs
    // as separate tokens (the pre-tokenization split BPE vocabularies
    // assume), counted per doc.
    QueryDef("txt_regex_tokens",
      (s, d) => docs(s, d).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]+"), lit(0))).cast("long")
          .as("n_bpe_tokens"),
        size(array_distinct(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]+"), lit(0)))).cast("long")
          .as("n_bpe_distinct")),
      Some("""SELECT doc_id,
             |CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS BIGINT) AS n_bpe_tokens,
             |CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]+'))) AS BIGINT) AS n_bpe_distinct
             |FROM documents""".stripMargin)),

    // Quantile-threshold quality filter: drop the bottom decile by
    // quality score — the corpus-filtering gate with an exact
    // percent_rank and a deterministic tie-break, so any engine
    // draws the same cut. The rank is BANDED (the bi_abc_analysis
    // device): doc_id is unique, so percent_rank's RANK equals
    // row_number over (quality, doc_id), which decomposes exactly
    // into (count of strictly-lower quality values — a value-grain
    // cumulative, |distinct rounded scores| rows) + (within-value
    // rank by doc_id, partitioned by quality). No doc-grain relation
    // ever passes through a single-partition sort, and the double
    // division (rank-1)/(n-1) is bit-identical to percent_rank's.
    QueryDef("txt_quality_filter",
      (s, d) => {
        val q = qualityScore(docs(s, d))
        val wv = org.apache.spark.sql.expressions.Window
          .orderBy(col("qv"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = q.groupBy(col("quality").as("qv"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("off", coalesce(sum(col("cnt")).over(wv), lit(0L)))
          .withColumn("n",
            sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
              .partitionBy(lit(1))))
          .select(col("qv"), col("off"), col("n"))
        val wIn = org.apache.spark.sql.expressions.Window
          .partitionBy(col("quality")).orderBy(col("doc_id"))
        q.join(offs, col("quality") === col("qv"))
          .withColumn("rk", col("off") + row_number().over(wIn))
          .withColumn("pr", (col("rk") - 1L).cast("double")
            / (col("n") - 1L).cast("double"))
          .filter(col("pr") >= 0.1d)
          .select(col("doc_id"), col("quality"), round(col("pr"), 6).as("pr"))
      },
      Some(s"""WITH q AS (SELECT doc_id,
              |  ROUND(CAST(len(list_distinct(string_split_regex(trim(text),'\\s+'))) AS DOUBLE)
              |      / len(string_split_regex(trim(text),'\\s+')) * 0.5
              |    + LEAST(CAST(len(string_split_regex(trim(text),'\\s+')) AS DOUBLE)/100.0, 1.0) * 0.3
              |    + CAST(${sqlHits(StopEn)} AS DOUBLE)
              |      / len(string_split_regex(trim(text),'\\s+')) * 0.2, 6) AS quality
              |  FROM documents)
              |SELECT doc_id, quality, ROUND(pr, 6) AS pr FROM (
              |  SELECT doc_id, quality,
              |    PERCENT_RANK() OVER (ORDER BY quality, doc_id) AS pr FROM q)
              |WHERE pr >= 0.1""".stripMargin)),

    // Corpus report: per-source doc counts + mean quality — the mean
    // goes through DECIMAL so partial-aggregation order can't move it.
    QueryDef("txt_corpus_report",
      (s, d) => {
        val q = qualityScore(docs(s, d))
          .join(docs(s, d).select(col("doc_id"), col("source")), Seq("doc_id"))
        q.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            (sum(col("quality").cast("decimal(16,6)")).cast("double") /
              count(lit(1))).as("mean_quality"))
      },
      Some(s"""WITH q AS (SELECT doc_id, source,
              |  CAST(len(string_split_regex(trim(text),'\\s+')) AS BIGINT) AS n_tokens,
              |  ROUND(CAST(len(list_distinct(string_split_regex(trim(text),'\\s+'))) AS DOUBLE)
              |      / len(string_split_regex(trim(text),'\\s+')) * 0.5
              |    + LEAST(CAST(len(string_split_regex(trim(text),'\\s+')) AS DOUBLE)/100.0, 1.0) * 0.3
              |    + CAST(${sqlHits(StopEn)} AS DOUBLE)
              |      / len(string_split_regex(trim(text),'\\s+')) * 0.2, 6) AS quality
              |  FROM documents)
              |SELECT source, COUNT(*) AS n_docs,
              |CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
              |CAST(SUM(CAST(quality AS DECIMAL(16,6))) AS DOUBLE) / COUNT(*) AS mean_quality
              |FROM q GROUP BY source""".stripMargin)),

    // The 100 TB form of the same gate: threshold from
    // approx_percentile (one sketch pass, no global sort/window) —
    // sketch internals are engine-specific, so rows-only check, while
    // txt_quality_filter above is the exact oracle-checked contract.
    QueryDef("txt_quality_filter_approx",
      (s, d) => {
        val q = qualityScore(docs(s, d))
        val cut = q.agg(
          expr("approx_percentile(quality, 0.1, 10000)").as("cut"))
        q.join(broadcast(cut))
          .filter(col("quality") >= col("cut"))
          .select(col("doc_id"), col("quality"))
      },
      None),

    QueryDef("txt_unigram_logprob",
      (s, d) => unigramLogprob(docs(s, d)),
      Some(s"""WITH tok AS (SELECT doc_id,
             |    unnest($tokSql) AS tk
             |  FROM documents),
             |vocab AS (SELECT tk, COUNT(*) AS cnt FROM tok GROUP BY 1),
             |tot AS (SELECT SUM(cnt) AS total FROM vocab),
             |scored AS (SELECT doc_id,
             |    CAST(ROUND(ln(CAST(cnt AS DOUBLE) / total) * -1000000.0) AS BIGINT) AS q_nll
             |  FROM tok JOIN vocab USING (tk), tot)
             |SELECT doc_id, COUNT(*) AS n_tokens,
             |$avgNllSql
             |FROM scored GROUP BY doc_id""".stripMargin)),

    QueryDef("txt_bm25",
      (s, d) => bm25(docs(s, d)),
      Some {
        val terms = Bm25Terms
        val k1p1 = s"${Bm25K1 + 1}"
        val oneMinusB = s"${1 - Bm25B}"
        val tfCols = terms.map(w =>
          s"""CAST(len(list_filter($tokSql,
             |      x -> x = '$w')) AS BIGINT) AS tf_$w""".stripMargin)
          .mkString(",\n    ")
        val dfCols = terms.map(w =>
          s"CAST(SUM(CASE WHEN tf_$w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$w")
          .mkString(",\n    ")
        val scoreTerms = terms.map(w =>
          s"""ln((CAST(n_docs AS DOUBLE) - df_$w + 0.5) / (df_$w + 0.5) + 1.0)
             |  * ((CAST(tf_$w AS DOUBLE) * $k1p1) / (CAST(tf_$w AS DOUBLE)
             |    + $Bm25K1 * ($oneMinusB + $Bm25B * CAST(dl AS DOUBLE)
             |      / (CAST(sum_dl AS DOUBLE) / n_docs))))""".stripMargin)
          .mkString("\n  + ")
        s"""WITH base AS (SELECT doc_id,
           |    CAST(len($tokSql) AS BIGINT) AS dl,
           |    $tfCols
           |  FROM documents),
           |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    SUM(dl) AS sum_dl,
           |    $dfCols
           |  FROM base)
           |SELECT doc_id, dl, ${terms.map(w => s"tf_$w").mkString(", ")},
           |ROUND($scoreTerms, 6) AS bm25
           |FROM base, stats""".stripMargin
      }),

    // Corpus n-gram document frequency, top 20 — the boilerplate /
    // contamination detector (an n-gram in half the corpus is
    // template text). Scale shape: groupBy on the shingle string
    // (map-side partial counts), then a distributed
    // TakeOrderedAndProject for the top-k — NO single-partition sort
    // of the full n-gram table; the rank window runs over 20 rows.
    QueryDef("txt_ngram_freq",
      (s, d) => {
        val df = Dedup.docShingles(docs(s, d))
          .groupBy(col("s").as("ngram"))
          .agg(count(lit(1)).as("n_docs"))
        val top = df.orderBy(col("n_docs").desc, col("ngram")).limit(20)
        top.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n_docs").desc, col("ngram"))))
          .select(col("rank").cast("long").as("rank"),
            col("ngram"), col("n_docs"))
      },
      Some(s"""WITH toks AS (SELECT doc_id,
             |    $tokSql t FROM documents),
             |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |    generate_series(1, greatest(len(t)-2, 0)),
             |    i -> array_to_string(t[i:i+2], ' ')))) AS s
             |  FROM toks),
             |df AS (SELECT s AS ngram, COUNT(*) AS n_docs FROM sh0 GROUP BY 1)
             |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_docs DESC, ngram) AS BIGINT) AS rank,
             |ngram, n_docs FROM df
             |ORDER BY n_docs DESC, ngram LIMIT 20""".stripMargin)),

    // Polynomial rolling hash over the character stream — the
    // shard-stable fingerprint; fold-with-0 here equals DuckDB's
    // reduce-with-first-element since 0*31+c0 = c0.
    QueryDef("txt_rolling_hash",
      (s, d) => docs(s, d).select(
        col("doc_id"),
        aggregate(
          transform(split(normText(col("text")), ""), c => ascii(c).cast("long")),
          lit(0L),
          (acc, c) => (acc * 31L + c) % 1000000007L).as("rhash")),
      Some("""SELECT doc_id,
             |list_reduce(list_transform(
             |  string_split(lower(regexp_replace(trim(text),'\s+',' ','g')), ''),
             |  c -> CAST(ord(c) AS BIGINT)),
             |  (a, b) -> (a * 31 + b) % 1000000007) AS rhash
             |FROM documents""".stripMargin)),

    QueryDef("txt_bigram_logprob",
      (s, d) => bigramLogprob(docs(s, d)),
      Some(s"""WITH tk AS (SELECT doc_id,
             |    $tokSql AS t FROM documents),
             |b2 AS (SELECT doc_id,
             |    ${hex60Sql("bg")} AS bh,
             |    ${hex60Sql("split_part(bg, ' ', 1)")} AS w1h
             |  FROM (
             |  SELECT doc_id, unnest(${gramsSql(2)}) AS bg FROM tk)),
             |c2 AS (SELECT bh, COUNT(*) AS c2 FROM b2 GROUP BY 1),
             |c1 AS (SELECT w1h, COUNT(*) AS c1 FROM b2 GROUP BY 1),
             |scored AS (SELECT doc_id,
             |    CAST(ROUND(ln(CAST(c2.c2 AS DOUBLE) / c1.c1) * -1000000.0) AS BIGINT) AS q_nll
             |  FROM b2 JOIN c2 USING (bh) JOIN c1 USING (w1h))
             |SELECT doc_id, COUNT(*) AS n_bigrams,
             |$avgNllSql
             |FROM scored GROUP BY doc_id""".stripMargin)),

    QueryDef("txt_trigram_logprob",
      (s, d) => trigramLogprob(docs(s, d)),
      Some(s"""WITH tk AS (SELECT doc_id,
             |    $tokSql AS t FROM documents),
             |t3 AS (SELECT doc_id,
             |    ${hex60Sql("tg")} AS th,
             |    ${hex60Sql("\n      split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2)\n    ")} AS ctxh
             |  FROM (
             |  SELECT doc_id, unnest(${gramsSql(3)}) AS tg FROM tk)),
             |c3 AS (SELECT th, COUNT(*) AS c3 FROM t3 GROUP BY 1),
             |cc AS (SELECT ctxh, COUNT(*) AS cctx FROM t3 GROUP BY 1),
             |scored AS (SELECT doc_id,
             |    CAST(ROUND(ln(CAST(c3.c3 AS DOUBLE) / cc.cctx) * -1000000.0) AS BIGINT) AS q_nll
             |  FROM t3 JOIN c3 USING (th) JOIN cc USING (ctxh))
             |SELECT doc_id, COUNT(*) AS n_trigrams,
             |$avgNllSql
             |FROM scored GROUP BY doc_id""".stripMargin)),

    QueryDef("txt_bpe_merges",
      (s, d) => bpeTrain(docs(s, d)),
      Some(bpeSql(BpeMergeSteps))),

    QueryDef("txt_bpe_encode",
      (s, d) => bpeEncode(docs(s, d)),
      Some(bpeEncodeSql(BpeMergeSteps))),

    // T27 (beyond-ref): unigram-LM Viterbi segmentation — see
    // unigramViterbi for the integer-cost DP and vocabulary cut.
    QueryDef("txt_unigram_viterbi",
      (s, d) => unigramViterbi(docs(s, d)),
      Some(unigramViterbiSql)),

    // ONE hard-EM re-estimation step of the unigram tokenizer — the
    // training half of the Viterbi view, on the shared uniViterbiCore
    // kernel/oracle builder (see unigramHardEm).
    QueryDef("txt_unigram_hard_em",
      (s, d) => unigramHardEm(docs(s, d)),
      Some(unigramHardEmSql)),

    QueryDef("txt_backoff_heldout",
      (s, d) => backoffHeldout(docs(s, d)),
      Some {
        val a2 = BackoffAlpha * BackoffAlpha
        s"""WITH $heldoutSql,
           |ttok AS (SELECT ${hex60Sql("w")} AS wh FROM (
           |  SELECT unnest(t) AS w FROM db WHERE b < 8)),
           |uni AS (SELECT wh, CAST(COUNT(*) AS BIGINT) AS u3 FROM ttok GROUP BY 1),
           |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           |  CAST(COUNT(DISTINCT wh) AS BIGINT) AS v_size FROM ttok),
           |tbg AS (SELECT ${hex60Sql("bg")} AS b23h,
           |    ${hex60Sql("split_part(bg, ' ', 1)")} AS lwh FROM (
           |  SELECT unnest(${gramsSql(2)}) AS bg FROM db WHERE b < 8)),
           |c2t AS (SELECT b23h, MAX(lwh) AS lwh,
           |  CAST(COUNT(*) AS BIGINT) AS c23 FROM tbg GROUP BY 1),
           |cl AS (SELECT lwh, CAST(SUM(c23) AS BIGINT) AS cl2 FROM c2t GROUP BY 1),
           |c2tab AS (SELECT b23h, c23, cl2 FROM c2t JOIN cl USING (lwh)),
           |ttg AS (SELECT ${hex60Sql("tg")} AS th,
           |    ${hex60Sql("split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2)")} AS ctxh
           |  FROM (SELECT unnest(${gramsSql(3)}) AS tg
           |  FROM db WHERE b < 8)),
           |c3t AS (SELECT th, MAX(ctxh) AS ctxh,
           |  CAST(COUNT(*) AS BIGINT) AS c3 FROM ttg GROUP BY 1),
           |cc AS (SELECT ctxh, CAST(SUM(c3) AS BIGINT) AS cctx FROM c3t GROUP BY 1),
           |c3tab AS (SELECT th, c3, cctx FROM c3t JOIN cc USING (ctxh)),
           |ev AS (SELECT doc_id, ${hex60Sql("tg")} AS th,
           |    ${hex60Sql("split_part(tg, ' ', 2) || ' ' || split_part(tg, ' ', 3)")} AS b23h,
           |    ${hex60Sql("split_part(tg, ' ', 3)")} AS w3h
           |  FROM (SELECT doc_id, unnest(${gramsSql(3)}) AS tg
           |  FROM db WHERE b >= 8)),
           |scored AS (SELECT doc_id,
           |  CASE WHEN c3 IS NOT NULL THEN 0
           |       WHEN c23 IS NOT NULL THEN 1 ELSE 2 END AS backed,
           |  CAST(ROUND(CASE
           |    WHEN c3 IS NOT NULL THEN ln(c3 * 1.0 / cctx)
           |    WHEN c23 IS NOT NULL THEN ln($BackoffAlpha * (c23 * 1.0 / cl2))
           |    ELSE ln($a2 * ((COALESCE(u3, 0) + 1) * 1.0 / (n_total + v_size + 1)))
           |  END * -1000000.0) AS BIGINT) AS q_nll
           |  FROM ev LEFT JOIN c3tab USING (th)
           |  LEFT JOIN c2tab USING (b23h)
           |  LEFT JOIN uni ON ev.w3h = uni.wh, tot)
           |SELECT doc_id, COUNT(*) AS n_trigrams,
           |CAST(SUM(CASE WHEN backed >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
           |$avgNllSql
           |FROM scored GROUP BY 1""".stripMargin
      }),

    QueryDef("txt_kn_heldout",
      (s, d) => knHeldout(docs(s, d)),
      Some {
        s"""WITH $heldoutSql,
           |tbg AS (SELECT ${hex60Sql("bg")} AS bgh,
           |    ${hex60Sql("split_part(bg, ' ', 1)")} AS w1h,
           |    ${hex60Sql("split_part(bg, ' ', 2)")} AS w2h FROM (
           |  SELECT unnest(${gramsSql(2)}) AS bg FROM db WHERE b < 8)),
           |c2t AS (SELECT bgh, MAX(w1h) AS w1h, MAX(w2h) AS w2h,
           |  CAST(COUNT(*) AS BIGINT) AS c12 FROM tbg GROUP BY 1),
           |lft AS (SELECT w1h, CAST(SUM(c12) AS BIGINT) AS c1,
           |  CAST(COUNT(*) AS BIGINT) AS n1f FROM c2t GROUP BY 1),
           |rgt AS (SELECT w2h, CAST(COUNT(*) AS BIGINT) AS n1b FROM c2t GROUP BY 1),
           |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           |  CAST(COUNT(DISTINCT w2h) AS BIGINT) AS n_cont FROM c2t),
           |ev AS (SELECT doc_id, ${hex60Sql("bg")} AS bgh,
           |    ${hex60Sql("split_part(bg, ' ', 1)")} AS w1h,
           |    ${hex60Sql("split_part(bg, ' ', 2)")} AS w2h
           |  FROM (SELECT doc_id, unnest(${gramsSql(2)}) AS bg FROM db WHERE b >= 8)),
           |scored AS (SELECT doc_id,
           |  CASE WHEN c1 IS NULL THEN 1 ELSE 0 END AS unseen,
           |  CASE WHEN c1 IS NOT NULL AND c12 IS NULL THEN 1 ELSE 0 END AS dzero,
           |  CAST(ROUND(CASE WHEN c1 IS NOT NULL THEN
           |      ln((GREATEST(CAST(COALESCE(c12, 0) AS DOUBLE) - $KnDiscount, 0.0)
           |        + $KnDiscount * CAST(n1f AS DOUBLE) * pc) / CAST(c1 AS DOUBLE))
           |    ELSE ln(pc) END * -1000000.0) AS BIGINT) AS q_nll
           |  FROM (SELECT doc_id, c12, c1, n1f,
           |      CAST(COALESCE(n1b, 0) + 1 AS DOUBLE)
           |        / CAST(n_types + n_cont + 1 AS DOUBLE) AS pc
           |    FROM ev LEFT JOIN (SELECT bgh, c12 FROM c2t) USING (bgh)
           |    LEFT JOIN lft USING (w1h)
           |    LEFT JOIN rgt USING (w2h), tot))
           |SELECT doc_id, COUNT(*) AS n_bigrams,
           |CAST(SUM(unseen) AS BIGINT) AS n_unseen_ctx,
           |CAST(SUM(dzero) AS BIGINT) AS n_discounted_zero,
           |$avgNllSql
           |FROM scored GROUP BY 1""".stripMargin
      }),

    // T26 (beyond-ref): skip-gram window co-occurrence — see
    // windowCooc.
    QueryDef("txt_window_cooc",
      (s, d) => windowCooc(docs(s, d)),
      Some {
        s"""WITH tk AS (SELECT $tokSql AS t
           |  FROM documents),
           |pr AS (SELECT p['w'] AS w, p['c'] AS c FROM (
           |  SELECT unnest(flatten(list_transform(
           |    generate_series(1, $CoocWindow), o ->
           |    list_transform(generate_series(1, greatest(len(t) - o, 0)),
           |      i -> {'w': t[i], 'c': t[i + o]})))) AS p FROM tk)),
           |bi AS (SELECT w, c FROM pr UNION ALL SELECT c AS w, w AS c FROM pr),
           |cnt AS (SELECT ${hex60Sql("w")} AS wh, ${hex60Sql("c")} AS ch,
           |    MAX(w) AS w, MAX(c) AS c, CAST(COUNT(*) AS BIGINT) AS n_cooc
           |  FROM bi GROUP BY 1, 2)
           |SELECT w, c, n_cooc FROM cnt
           |ORDER BY n_cooc DESC, w, c LIMIT $CoocTopK""".stripMargin
      }),

    QueryDef("txt_collocations",
      (s, d) => collocations(docs(s, d)),
      Some {
        s"""WITH tk AS (SELECT $tokSql AS t
           |  FROM documents),
           |tot AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS n1,
           |    CAST(SUM(greatest(len(t)-1, 0)) AS BIGINT) AS n2 FROM tk),
           |uni AS (SELECT ${hex60Sql("w")} AS wh, COUNT(*) AS c1 FROM
           |  (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
           |bgs AS (SELECT unnest(${gramsSql(2)}) AS bg FROM tk),
           |c2t AS (SELECT bg, COUNT(*) AS c2 FROM bgs GROUP BY 1
           |  HAVING COUNT(*) >= $CollocMinCount),
           |sp AS (SELECT bg, c2, split_part(bg,' ',1) AS w1,
           |    split_part(bg,' ',2) AS w2,
           |    ${hex60Sql("split_part(bg,' ',1)")} AS w1h,
           |    ${hex60Sql("split_part(bg,' ',2)")} AS w2h FROM c2t),
           |j AS (SELECT w1, w2, c2,
           |  CAST(ROUND(ln((c2*1.0/n2)/((a.c1*1.0/n1)*(b.c1*1.0/n1))) * 1000000)
           |    AS BIGINT) AS q
           |  FROM sp JOIN uni a ON sp.w1h = a.wh JOIN uni b ON sp.w2h = b.wh, tot)
           |SELECT w1, w2, c2, ROUND(CAST(q AS DOUBLE)/1000000.0, 6) AS pmi
           |FROM j ORDER BY q DESC, w1, w2 LIMIT $CollocTopK""".stripMargin
      }),

    // T22 (beyond-ref): the index-build artifact behind txt_bm25 —
    // term-sharded posting lists, capped at k per term.
    QueryDef("txt_inverted_index",
      (s, d) => invertedIndex(docs(s, d)),
      Some(s"""WITH tok AS (SELECT doc_id,
              |    unnest($tokSql) AS term
              |  FROM documents),
              |tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
              |  FROM tok GROUP BY 1, 2),
              |stats AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
              |    CAST(SUM(tf) AS BIGINT) AS tf_total
              |  FROM tf GROUP BY 1 HAVING COUNT(*) >= $PostingsMinDf),
              |pk AS (SELECT term, doc_id, tf,
              |    ROW_NUMBER() OVER (PARTITION BY term
              |      ORDER BY tf DESC, doc_id) rk FROM tf),
              |posts AS (SELECT term,
              |    string_agg(doc_id || ':' || tf, ' ' ORDER BY rk)
              |      AS top_docs
              |  FROM pk WHERE rk <= $PostingsK GROUP BY 1)
              |SELECT term, df, tf_total, top_docs
              |FROM stats JOIN posts USING (term)""".stripMargin)),

    QueryDef("txt_keywords",
      (s, d) => keywords(docs(s, d)),
      Some(s"""WITH tok AS (SELECT doc_id,
              |    unnest($tokSql) AS tk
              |  FROM documents),
              |tf AS (SELECT doc_id, tk, CAST(COUNT(*) AS BIGINT) AS tf
              |  FROM tok GROUP BY 1, 2),
              |df AS (SELECT tk, CAST(COUNT(*) AS BIGINT) AS df
              |  FROM tf GROUP BY 1),
              |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
              |scored AS (SELECT doc_id, tk, tf.tf, df.df,
              |    ROUND(CAST(tf.tf AS DOUBLE)
              |      * ln((CAST(n_docs AS DOUBLE) + 1.0) / (df.df + 1.0)), 6)
              |      AS score
              |  FROM tf JOIN df USING (tk), nd)
              |SELECT doc_id, CAST(rk AS BIGINT) AS rank, tk AS keyword,
              |tf, df, score FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              |    ORDER BY score DESC, tk) rk FROM scored)
              |WHERE rk <= $KeywordsK""".stripMargin)),

    QueryDef("txt_interp_logprob",
      (s, d) => interpLogprob(docs(s, d)),
      Some(s"""WITH tk AS (SELECT doc_id,
              |    $tokSql AS t FROM documents),
              |b2 AS (SELECT doc_id,
              |    ${hex60Sql("bg")} AS bh,
              |    ${hex60Sql("split_part(bg, ' ', 1)")} AS w1h,
              |    ${hex60Sql("split_part(bg, ' ', 2)")} AS w2h
              |  FROM (
              |  SELECT doc_id, unnest(${gramsSql(2)}) AS bg FROM tk)),
              |toks AS (SELECT ${hex60Sql("w")} AS wh
              |  FROM (SELECT unnest(t) AS w FROM tk)),
              |uni AS (SELECT wh, CAST(COUNT(*) AS BIGINT) AS u FROM toks GROUP BY 1),
              |ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM toks),
              |c2 AS (SELECT bh, MAX(w1h) AS w1h, CAST(COUNT(*) AS BIGINT) AS c2
              |  FROM b2 GROUP BY 1),
              |c1 AS (SELECT w1h, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
              |scored AS (SELECT doc_id,
              |    CAST(ROUND(-ln($InterpLambda * (CAST(c2.c2 AS DOUBLE) / c1.c1)
              |      + ${1.0 - InterpLambda} * (CAST(uni.u AS DOUBLE) / ntot.n_total))
              |      * 1000000.0) AS BIGINT) AS q_nll
              |  FROM b2 JOIN c2 USING (bh) JOIN c1 ON c2.w1h = c1.w1h
              |  JOIN uni ON b2.w2h = uni.wh, ntot)
              |SELECT doc_id, COUNT(*) AS n_bigrams,
              |$avgNllSql
              |FROM scored GROUP BY doc_id""".stripMargin)),

    QueryDef("txt_repetition",
      (s, d) => repetition(docs(s, d)),
      Some(s"""WITH tk AS (SELECT doc_id,
              |    $tokSql AS t FROM documents),
              |b AS (SELECT doc_id, t, ${gramsSql(2)} AS bg FROM tk),
              |m AS (SELECT doc_id,
              |  CAST(len(t) AS BIGINT) AS n_tokens,
              |  CAST(list_max(list_transform(list_distinct(t),
              |    x -> len(list_filter(t, y -> y = x)))) AS BIGINT) AS top_tok,
              |  CAST(len(bg) AS BIGINT) AS n_bigrams,
              |  CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct_bg
              |  FROM b)
              |SELECT doc_id, n_tokens,
              |ROUND(CAST(top_tok AS DOUBLE)/n_tokens, 6) AS top_ratio,
              |ROUND(1.0 - CAST(n_distinct_bg AS DOUBLE)/n_bigrams, 6) AS dup_bg_ratio,
              |CAST(ROUND(CAST(top_tok AS DOUBLE)/n_tokens, 6) <= $RepTopTokenMax
              |  AND ROUND(1.0 - CAST(n_distinct_bg AS DOUBLE)/n_bigrams, 6) <= $RepDupBigramMax
              |  AS INT) AS keep
              |FROM m""".stripMargin)),

    QueryDef("txt_token_budget",
      (s, d) => tokenBudget(docs(s, d)),
      Some("""WITH per AS (SELECT source, lang, COUNT(*) AS n_docs,
             |    CAST(SUM(len(string_split_regex(trim(text),'\s+'))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY 1, 2),
             |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM per)
             |SELECT source, lang, n_docs, n_tokens,
             |ROUND(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS share
             |FROM per, tot""".stripMargin)),

    QueryDef("mix_domains",
      (s, d) => mixDomains(docs(s, d)),
      Some {
        val cases = MixRates.map { case (src, r) =>
          s"WHEN source = '$src' THEN ${(r * 10000).toLong}"
        }.mkString(" ")
        s"""SELECT doc_id, source,
           |((doc_id % 100003) * 31 + 17) % 10000 AS bucket
           |FROM documents
           |WHERE ((doc_id % 100003) * 31 + 17) % 10000 <
           |CASE $cases ELSE ${(MixDefaultRate * 10000).toLong} END""".stripMargin
      }),

    QueryDef("mix_temperature",
      (s, d) => mixTemperature(docs(s, d)),
      Some(s"""WITH per AS (SELECT source, COUNT(*) AS n_docs,
             |    CAST(SUM(len(string_split_regex(trim(text),'\\s+'))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY 1),
             |q AS (SELECT source, n_docs, n_tokens,
             |    CAST(ROUND(sqrt(n_tokens) * 1000) AS BIGINT) AS q
             |  FROM per WHERE n_tokens > 0),
             |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
             |    CAST(SUM(q) AS BIGINT) AS tot_q FROM q)
             |SELECT source, n_docs, n_tokens,
             |CAST(n_tokens * 1000000 // tot_tokens AS BIGINT) AS nat_ppm,
             |CAST(q * 1000000 // tot_q AS BIGINT) AS temp_ppm,
             |CAST(LEAST(1000000, (q * 1000000 // tot_q)
             |  * (tot_tokens * $MixTempBudgetPpm // 1000000) // n_tokens) AS BIGINT) AS rate_ppm
             |FROM q, tot""".stripMargin)),

    QueryDef("mix_temperature_sample",
      (s, d) => mixTemperatureSample(docs(s, d)),
      Some(s"""WITH per AS (SELECT source, COUNT(*) AS n_docs,
             |    CAST(SUM(len(string_split_regex(trim(text),'\\s+'))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY 1),
             |q AS (SELECT source, n_tokens,
             |    CAST(ROUND(sqrt(n_tokens) * 1000) AS BIGINT) AS q
             |  FROM per WHERE n_tokens > 0),
             |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
             |    CAST(SUM(q) AS BIGINT) AS tot_q FROM q),
             |plan AS (SELECT source,
             |  CAST(LEAST(1000000, (q * 1000000 // tot_q)
             |    * (tot_tokens * $MixTempBudgetPpm // 1000000) // n_tokens) AS BIGINT) AS rate_ppm
             |  FROM q, tot)
             |SELECT doc_id, source,
             |CAST(((doc_id % 1000003) * 2654435761 + 12345) % 1000000 AS BIGINT) AS bucket
             |FROM documents JOIN plan USING (source)
             |WHERE ((doc_id % 1000003) * 2654435761 + 12345) % 1000000 < rate_ppm""".stripMargin)),

    QueryDef("txt_ppl_buckets",
      (s, d) => pplBuckets(docs(s, d)),
      Some(s"""WITH tok AS (SELECT doc_id,
             |    unnest($tokSql) AS tk
             |  FROM documents),
             |vocab AS (SELECT tk, COUNT(*) AS cnt FROM tok GROUP BY 1),
             |tot AS (SELECT SUM(cnt) AS total FROM vocab),
             |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |    CAST(SUM(CAST(ROUND(ln(CAST(cnt AS DOUBLE) / total)
             |      * -1000000.0) AS BIGINT)) AS BIGINT) AS q_sum
             |  FROM tok JOIN vocab USING (tk), tot GROUP BY doc_id),
             |sc AS (SELECT doc_id, n_tokens,
             |    q_sum // n_tokens // 1000 AS s FROM per),
             |g AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM sc GROUP BY 1),
             |c AS (SELECT s,
             |    SUM(cnt) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) cum,
             |    SUM(cnt) OVER () n FROM g),
             |cuts AS (SELECT
             |    MIN(CASE WHEN cum >= CAST(ceil(0.3333333333333333 * n)
             |      AS BIGINT) THEN s END) AS c1,
             |    MIN(CASE WHEN cum >= CAST(ceil(0.6666666666666666 * n)
             |      AS BIGINT) THEN s END) AS c2 FROM c),
             |lab AS (SELECT n_tokens, s,
             |    CASE WHEN s <= c1 THEN 'head'
             |      WHEN s <= c2 THEN 'middle' ELSE 'tail' END AS bucket
             |  FROM sc, cuts)
             |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             |CAST(SUM(s) // COUNT(*) AS BIGINT) AS avg_score_milli
             |FROM lab GROUP BY 1""".stripMargin)),

    // T26 (beyond-ref): tokenizer fertility by language — BPE-ish
    // regex tokens per whitespace word, the standard tokenizer-health
    // metric (a vocabulary that fragments one language inflates its
    // effective sequence length and training cost). Pure per-row
    // counting + a lang-grain aggregate; exact integer milli ratio.
    QueryDef("txt_tokenizer_fertility",
      (s, d) => docs(s, d)
        .select(col("lang"),
          size(tokens(col("text"))).cast("long").as("w"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]+"), lit(0))).cast("long")
            .as("t"))
        .filter(col("w") > 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
          sum(col("t")).as("n_bpe_tokens"))
        .withColumn("fertility_milli",
          expr("n_bpe_tokens * 1000 div n_words")),
      Some("""WITH per AS (SELECT lang,
             |    CAST(len(string_split_regex(trim(text),'\s+')) AS BIGINT) w,
             |    CAST(len(regexp_extract_all(text,
             |      '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS BIGINT) t
             |  FROM documents)
             |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |CAST(SUM(w) AS BIGINT) AS n_words,
             |CAST(SUM(t) AS BIGINT) AS n_bpe_tokens,
             |CAST(SUM(t) * 1000 // SUM(w) AS BIGINT) AS fertility_milli
             |FROM per WHERE w > 0 GROUP BY 1""".stripMargin)),

    QueryDef("mix_epoch_plan",
      (s, d) => mixEpochPlan(docs(s, d)),
      Some(s"""WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(len(string_split_regex(trim(text),'\\s+'))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY 1),
             |q AS (SELECT source, n_docs, n_tokens,
             |    CAST(ROUND(sqrt(n_tokens) * 1000) AS BIGINT) AS q
             |  FROM per WHERE n_tokens > 0),
             |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
             |    CAST(SUM(q) AS BIGINT) AS tot_q FROM q),
             |t AS (SELECT source, n_docs, n_tokens,
             |    q * 1000000 // tot_q AS temp_ppm,
             |    (q * 1000000 // tot_q)
             |      * (tot_tokens * $MixTrainBudgetMilli // 1000)
             |      // 1000000 AS target_tokens
             |  FROM q, tot)
             |SELECT source, n_docs, n_tokens,
             |CAST(temp_ppm AS BIGINT) AS temp_ppm,
             |CAST(LEAST($MixMaxEpochsMilli,
             |  target_tokens * 1000 // n_tokens) AS BIGINT) AS epochs_milli,
             |CAST(n_tokens * LEAST($MixMaxEpochsMilli,
             |  target_tokens * 1000 // n_tokens) // 1000 AS BIGINT)
             |  AS planned_tokens
             |FROM t""".stripMargin)),

    QueryDef("txt_chunk",
      (s, d) => chunk(docs(s, d)),
      Some(s"""WITH tk AS (SELECT doc_id, string_split_regex(trim(text),'\\s+') AS t
              |  FROM documents WHERE len(trim(text)) > 0),
              |c AS (SELECT doc_id, t,
              |    unnest(generate_series(0, len(t) - 1, $ChunkStride)) AS s
              |  FROM tk)
              |SELECT doc_id, s // $ChunkStride AS chunk_id,
              |CAST(s AS BIGINT) AS start_tok,
              |CAST(len(t[s+1 : s+$ChunkW]) AS BIGINT) AS n_chunk_tokens,
              |array_to_string(t[s+1 : s+$ChunkW], ' ') AS chunk
              |FROM c""".stripMargin)),

    QueryDef("txt_corpus_gate",
      (s, d) => corpusGate(docs(s, d)),
      Some {
        val toks = "string_split_regex(trim(text),'\\s+')"
        val g = "GREATEST(en_hits,de_hits,fr_hits,es_hits)"
        s"""WITH q AS (SELECT doc_id,
           |  ROUND(CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks) * 0.5
           |    + LEAST(CAST(len($toks) AS DOUBLE)/100.0, 1.0) * 0.3
           |    + CAST(${sqlHits(StopEn)} AS DOUBLE) / len($toks) * 0.2, 6) AS quality
           |  FROM documents),
           |qq AS (SELECT doc_id, quality,
           |  CAST(quality >= 0.4 AS INT) AS q_keep FROM q),
           |rb AS (SELECT doc_id, $tokSql AS t,
           |    list_transform(generate_series(1, greatest(len($tokSql)-1, 0)),
           |      i -> $tokSql[i] || ' ' || $tokSql[i+1]) AS bg
           |  FROM documents),
           |rm AS (SELECT doc_id,
           |  ROUND(CAST(list_max(list_transform(list_distinct(t),
           |    x -> len(list_filter(t, y -> y = x)))) AS DOUBLE) / len(t), 6) AS top_ratio,
           |  ROUND(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6) AS dup_bg_ratio
           |  FROM rb),
           |rr AS (SELECT doc_id, CAST(top_ratio <= $RepTopTokenMax
           |  AND dup_bg_ratio <= $RepDupBigramMax AS INT) AS r_keep FROM rm),
           |lh AS (SELECT doc_id,
           |  CAST(${sqlHits(StopEn)} AS BIGINT) AS en_hits,
           |  CAST(${sqlHits(StopDe)} AS BIGINT) AS de_hits,
           |  CAST(${sqlHits(StopFr)} AS BIGINT) AS fr_hits,
           |  CAST(${sqlHits(StopEs)} AS BIGINT) AS es_hits
           |  FROM documents),
           |ll AS (SELECT doc_id, CASE
           |  WHEN $g = 0 THEN 'und'
           |  WHEN en_hits = $g THEN 'en'
           |  WHEN de_hits = $g THEN 'de'
           |  WHEN fr_hits = $g THEN 'fr'
           |  ELSE 'es' END AS pred_lang FROM lh),
           |l2 AS (SELECT doc_id, pred_lang,
           |  CAST(pred_lang = 'en' AS INT) AS l_keep FROM ll),
           |canon AS (SELECT doc_id, CAST(doc_id = MIN(doc_id) OVER (
           |    PARTITION BY md5(lower(regexp_replace(trim(text),'\\s+',' ','g'))))
           |  AS INT) AS is_canonical FROM documents)
           |SELECT qq.doc_id, qq.quality, qq.q_keep, rr.r_keep,
           |l2.pred_lang, l2.l_keep, canon.is_canonical,
           |CAST(qq.q_keep = 1 AND rr.r_keep = 1 AND l2.l_keep = 1
           |  AND canon.is_canonical = 1 AS INT) AS keep
           |FROM qq JOIN rr USING (doc_id) JOIN l2 USING (doc_id)
           |JOIN canon USING (doc_id)""".stripMargin
      }),

    QueryDef("txt_pack_sequences",
      (s, d) => packSequences(docs(s, d)),
      Some(s"""WITH b AS (SELECT doc_id, source,
              |    CAST(len(string_split_regex(trim(text),'\\s+')) AS BIGINT) AS n_tokens
              |  FROM documents),
              |c AS (SELECT doc_id, source, n_tokens,
              |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
              |  FROM b)
              |SELECT doc_id, source, n_tokens, cum_tokens,
              |(cum_tokens - n_tokens) // $PackSeqLen AS seq_id
              |FROM c""".stripMargin)),

    // PII scrubbing (beyond-ref): the redaction pass every
    // training-data pipeline runs before packing. The synthetic
    // documents carry no PII-shaped spans, so the query derives a
    // deterministic contact card per customer (name, e-mail, phone)
    // and redacts it — the regex machinery, counts, and replacement
    // plumbing are what's under test. Patterns are RE2∩Java-regex
    // compatible (char classes + \b only, no lookaround) so both
    // engines match identical spans; replacement is per-row at scan
    // bandwidth — no shuffle at any corpus size.
    QueryDef("pii_redact",
      (s, d) => {
        val text = concat(col("c_name"), lit(" <"),
          lower(regexp_replace(col("c_name"), "#", ".")),
          lit("@example.com> ph 555-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0"))
        piiRedact(graft.Tables.customer(s, d)
          .select(col("c_custkey").as("user_id"), text.as("text")))
      },
      Some(s"""WITH t AS (SELECT c_custkey AS user_id,
              |    c_name || ' <' || lower(replace(c_name, '#', '.'))
              |      || '@example.com> ph 555-'
              |      || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS text
              |  FROM customer)
              |SELECT user_id,
              |CAST(len(regexp_extract_all(text, '$PiiEmailRe')) AS BIGINT) AS n_emails,
              |CAST(len(regexp_extract_all(text, '$PiiPhoneRe')) AS BIGINT) AS n_phones,
              |regexp_replace(regexp_replace(text, '$PiiEmailRe', '[EMAIL]', 'g'),
              |  '$PiiPhoneRe', '[PHONE]', 'g') AS clean_text
              |FROM t""".stripMargin)),

    QueryDef("dedup_span",
      (s, d) => spanDedup(docs(s, d)),
      Some(s"""WITH tk AS (SELECT doc_id, string_split_regex(trim(text),'\\s+') AS t
              |  FROM documents WHERE len(trim(text)) > 0),
              |cc AS (SELECT doc_id, t,
              |    unnest(generate_series(0, len(t) - 1, $ChunkStride)) AS s
              |  FROM tk),
              |ch AS (SELECT doc_id, md5(lower(regexp_replace(trim(
              |    array_to_string(t[s+1 : s+$ChunkW], ' ')),'\\s+',' ','g'))) AS fp
              |  FROM cc),
              |chd AS (SELECT DISTINCT doc_id, fp FROM ch),
              |dupfp AS (SELECT fp FROM chd GROUP BY fp HAVING COUNT(*) > 1),
              |agg AS (SELECT ch.doc_id,
              |    CAST(COUNT(*) AS BIGINT) AS n_chunks,
              |    CAST(SUM(CASE WHEN dupfp.fp IS NOT NULL THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_dup
              |  FROM ch LEFT JOIN dupfp ON ch.fp = dupfp.fp
              |  GROUP BY 1)
              |SELECT doc_id, n_chunks, n_dup,
              |ROUND(CAST(n_dup AS DOUBLE) / n_chunks, 6) AS dup_frac,
              |CAST(ROUND(CAST(n_dup AS DOUBLE) / n_chunks, 6) <= $SpanDupMax
              |  AS INT) AS keep
              |FROM agg""".stripMargin)),

    // D12 (beyond-ref, round 12): exact-substring span dedup — the
    // Lee et al. output object dedup_span only scores: maximal merged
    // token-span intervals of cross-doc duplicated stride-1 windows
    // (see spanMerge; interval-union via running-max window, span
    // numbering cast to BIGINT at emission per the note-50 rule).
    QueryDef("dedup_span_merge",
      (s, d) => spanMerge(docs(s, d)),
      Some(s"""WITH ${spanCtesSql(ChunkW)}
              |SELECT doc_id, span_id, span_start, span_end, span_tokens
              |FROM spans""".stripMargin)),

    // The daily-ingest twin — batch windows checked against the
    // corpus-side fp index only (see spanMergeIncremental); shares
    // the window prefix and merge tail verbatim with the batch pass.
    QueryDef("dedup_span_incremental",
      (s, d) => spanMergeIncremental(docs(s, d)),
      Some(s"""WITH ${spanIncCtesSql(ChunkW)}
              |SELECT doc_id, span_id, span_start, span_end, span_tokens
              |FROM spans""".stripMargin)),

    // The CUT applied — cleaned-document counts + content fingerprint
    // per doc, same CTE text (see spanCut; cut tail factored in
    // spanCutTailSql, shared verbatim with the incremental cut).
    QueryDef("dedup_span_cut",
      (s, d) => spanCut(docs(s, d)),
      Some(s"""WITH ${spanCtesSql(ChunkW)},
              |${spanCutTailSql("tk")}""".stripMargin)),

    // Round 13: the CUT against the corpus-side fp index — the form
    // a production ingest actually runs (Lee et al. §4 applies the
    // cut at preprocessing time, batch-by-batch): spans come from
    // the incremental detection (batch windows semi-join the corpus
    // distinct-fp index), the cut applies to batch documents only,
    // both through the ONE shared kernel/tail each
    // (mergeIntervals + spanCutWith; spanIncCtesSql + spanCutTailSql
    // on the oracle side). streaming.CorpusIngest.runSpanCut is this
    // row's per-micro-batch twin, stream ≡ batch spec-pinned.
    QueryDef("dedup_span_cut_incremental",
      (s, d) => spanCutIncremental(docs(s, d)),
      Some(s"""WITH ${spanIncCtesSql(ChunkW)},
              |tkb AS (SELECT * FROM tk WHERE doc_id % 10 >= 8),
              |${spanCutTailSql("tkb")}""".stripMargin)),

    // The removable-mass monitor over the same CTE text — the
    // turn-it-on number for span cutting (docs affected, span count,
    // token mass, ppm of corpus).
    QueryDef("dedup_span_mass",
      (s, d) => spanMass(docs(s, d)),
      Some(s"""WITH ${spanCtesSql(ChunkW)}
              |SELECT n_docs_spanned, n_spans, dup_tokens, total_tokens,
              |CASE WHEN total_tokens > 0
              |  THEN dup_tokens * 1000000 // total_tokens END AS dup_ppm
              |FROM ($spanMassSelSql) z""".stripMargin)),

    // Round 13: the window-size knob priced — spanMass swept over
    // w ∈ {10, 25, 50} (see spanWSweep: dup_ppm monotone
    // nonincreasing in w; the knee is the operating point). Each
    // branch is the exact mass relation at its w, the aggregate
    // select shared verbatim via spanMassSelSql.
    QueryDef("dedup_span_w_sweep",
      (s, d) => spanWSweep(docs(s, d)),
      Some(SpanSweepWs.map(w =>
        s"""SELECT CAST($w AS BIGINT) AS w, n_docs_spanned, n_spans,
           |dup_tokens, total_tokens,
           |CASE WHEN total_tokens > 0
           |  THEN dup_tokens * 1000000 // total_tokens END AS dup_ppm
           |FROM (WITH ${spanCtesSql(w)}
           |$spanMassSelSql) z""".stripMargin)
        .mkString("\nUNION ALL\n"))),

    QueryDef("txt_quality_by_source",
      (s, d) => qualityBySource(docs(s, d)),
      Some {
        val toks = "string_split_regex(trim(text),'\\s+')"
        s"""WITH q AS (SELECT doc_id, source, lang,
           |    ROUND(CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks) * 0.5
           |      + LEAST(CAST(len($toks) AS DOUBLE)/100.0, 1.0) * 0.3
           |      + CAST(${sqlHits(StopEn)} AS DOUBLE) / len($toks) * 0.2, 6)
           |      AS quality
           |  FROM documents),
           |g AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(CAST(ROUND(quality * 1000000) AS BIGINT)) AS BIGINT) AS sq,
           |    CAST(SUM(CAST(quality >= 0.4 AS INT)) AS BIGINT) AS n_keep
           |  FROM q GROUP BY 1, 2)
           |SELECT source, lang, n_docs,
           |ROUND(FLOOR(CAST(sq AS DOUBLE) / n_docs) / 1000000.0, 6) AS avg_quality,
           |n_keep,
           |ROUND(CAST(n_keep AS DOUBLE) / n_docs, 6) AS keep_rate
           |FROM g""".stripMargin
      }),

    QueryDef("mix_budget_select",
      (s, d) => budgetSelect(docs(s, d)),
      Some(
        s"""WITH $budgetQSql,
           |c AS (SELECT doc_id, source, quality, n_tokens,
           |    CAST(SUM(n_tokens) OVER (PARTITION BY source
           |      ORDER BY quality DESC, doc_id
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           |  FROM q)
           |SELECT doc_id, source, quality, n_tokens, cum_tokens,
           |CAST(cum_tokens <= $SelectBudgetTokens AS INT) AS keep
           |FROM c""".stripMargin)),

    // Soft-dedup-weighted budget rationing — budgetSelect × the LSH
    // cluster weights, the trainer's composition (see
    // budgetSelectWeighted). Oracle composes the two registered
    // queries' own CTE chains (Dedup's edge/weights chain + the
    // shared budgetQSql quality CTE), each shared verbatim.
    QueryDef("mix_budget_weighted",
      (s, d) => budgetSelectWeighted(docs(s, d)),
      Some(
        s"""WITH ${Dedup.shSql},
           |${Dedup.sigSql},
           |${Dedup.lshEdgesSql},
           |e AS MATERIALIZED (SELECT i, j FROM p UNION ALL SELECT j, i FROM p),
           |l0 AS MATERIALIZED (SELECT doc_id, doc_id AS lbl FROM documents),
           |${Dedup.ccFixSql},
           |lf AS MATERIALIZED (SELECT doc_id, lbl FROM lcc),
           |sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) cluster_size
           |  FROM lf GROUP BY 1),
           |$budgetQSql,
           |jw AS (SELECT q.doc_id, q.source, q.quality, q.n_tokens,
           |    1000000 // s.cluster_size AS weight_ppm
           |  FROM q JOIN lf c ON q.doc_id = c.doc_id
           |  JOIN sz s ON c.lbl = s.lbl),
           |cw AS (SELECT doc_id, source, quality, n_tokens, weight_ppm,
           |    n_tokens * weight_ppm AS eff_utokens,
           |    CAST(SUM(n_tokens * weight_ppm) OVER (PARTITION BY source
           |      ORDER BY quality DESC, doc_id
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_utokens
           |  FROM jw)
           |SELECT doc_id, source, quality, n_tokens, weight_ppm,
           |eff_utokens, cum_utokens,
           |CAST(cum_utokens <= CAST($SelectBudgetTokens AS BIGINT) * 1000000
           |  AS INT) AS keep
           |FROM cw""".stripMargin)),

    QueryDef("txt_entropy",
      (s, d) => tokenEntropy(docs(s, d)),
      Some(s"""WITH tk AS (SELECT doc_id,
             |    unnest($tokSql) AS tok
             |  FROM documents),
             |c AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM tk GROUP BY 1, 2),
             |q AS (SELECT doc_id, c,
             |    CAST(ROUND(c * ln(c) * 1000000) AS BIGINT) AS q FROM c),
             |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             |    CAST(SUM(q) AS BIGINT) AS sq FROM q GROUP BY 1)
             |SELECT doc_id, n_tokens,
             |ROUND(ln(n_tokens) - (CAST(sq AS DOUBLE) / 1000000.0) / n_tokens, 6)
             |  AS entropy
             |FROM a""".stripMargin)),

    // Quality-classifier calibration: the precision/recall curve of
    // the blended quality score against a reference label (lang =
    // 'en' — the corpus's dominant class stands in for "wanted").
    // The curve is value-grain (one row per distinct rounded score,
    // cumulative counts over score desc — the p20 percentile
    // device), so the window input is |distinct scores|, bounded by
    // the rounding grid, never |docs|. This is how you pick the keep
    // threshold for a filtering pass: the knee of this curve.
    QueryDef("txt_quality_pr",
      (s, d) => qualityPr(docs(s, d)),
      Some(s"""WITH q AS (SELECT doc_id,
              |  CAST(len(string_split_regex(trim(text),'\\s+')) AS BIGINT) AS n_tokens,
              |  CAST(len(list_distinct(string_split_regex(trim(text),'\\s+'))) AS BIGINT) AS n_distinct,
              |  CAST(${sqlHits(StopEn)} AS BIGINT) AS n_stop,
              |  CAST(lang = 'en' AS BIGINT) AS pos
              |  FROM documents),
              |r AS (SELECT doc_id, pos,
              |  ROUND(CAST(n_distinct AS DOUBLE)/n_tokens*0.5
              |    + LEAST(CAST(n_tokens AS DOUBLE)/100.0, 1.0)*0.3
              |    + CAST(n_stop AS DOUBLE)/n_tokens*0.2, 6) AS quality
              |  FROM q),
              |vals AS (SELECT quality, CAST(COUNT(*) AS BIGINT) AS cnt,
              |    CAST(SUM(pos) AS BIGINT) AS npos
              |  FROM r GROUP BY 1),
              |cum AS (SELECT quality,
              |    SUM(cnt) OVER (ORDER BY quality DESC
              |      ROWS UNBOUNDED PRECEDING) AS n_ge,
              |    SUM(npos) OVER (ORDER BY quality DESC
              |      ROWS UNBOUNDED PRECEDING) AS tp,
              |    SUM(npos) OVER () AS p_total
              |  FROM vals)
              |SELECT quality AS threshold, CAST(n_ge AS BIGINT) AS n_ge,
              |ROUND(CAST(tp AS DOUBLE) / n_ge, 6) AS precision,
              |ROUND(CAST(tp AS DOUBLE) / NULLIF(p_total, 0), 6) AS recall
              |FROM cum""".stripMargin)),

    // Calibration companion to the PR curve: reliability diagram of
    // the blended quality score — fixed 0.1-wide score bands, each
    // with its quantized mean predicted score and observed positive
    // rate in exact ppm. A well-calibrated scorer has avg_score ≈
    // pos_rate band by band; a monotone-but-miscalibrated one still
    // ranks (PR curve looks fine) yet lies about absolute quality —
    // exactly what a mixture-weighting pass consuming the score as a
    // probability would trip over. One scan → one ≤10-row aggregate.
    QueryDef("txt_quality_calibration",
      (s, d) => qualityCalibration(docs(s, d)),
      Some(s"""WITH q AS (SELECT doc_id,
              |  CAST(len(string_split_regex(trim(text),'\\s+')) AS BIGINT) AS n_tokens,
              |  CAST(len(list_distinct(string_split_regex(trim(text),'\\s+'))) AS BIGINT) AS n_distinct,
              |  CAST(${sqlHits(StopEn)} AS BIGINT) AS n_stop,
              |  CAST(lang = 'en' AS BIGINT) AS pos
              |  FROM documents),
              |r AS (SELECT pos,
              |  ROUND(CAST(n_distinct AS DOUBLE)/n_tokens*0.5
              |    + LEAST(CAST(n_tokens AS DOUBLE)/100.0, 1.0)*0.3
              |    + CAST(n_stop AS DOUBLE)/n_tokens*0.2, 6) AS quality
              |  FROM q)
              |SELECT CAST(LEAST(FLOOR(quality * 10.0), 9.0) AS BIGINT) AS bin,
              |CAST(COUNT(*) AS BIGINT) AS n_docs,
              |CAST(SUM(pos) AS BIGINT) AS n_pos,
              |ROUND(FLOOR(CAST(SUM(CAST(ROUND(quality * 1000000.0) AS BIGINT))
              |    AS DOUBLE) / COUNT(*)) / 1000000.0, 6) AS avg_score,
              |CAST(ROUND(SUM(pos) * 1000000.0 / COUNT(*)) AS BIGINT)
              |  AS pos_rate_ppm
              |FROM r GROUP BY 1""".stripMargin)),

    // Vocabulary coverage / OOV pressure per source — the tokenizer-
    // budget diagnostic run before committing to a vocab size: fix
    // the top-V corpus words as the vocabulary (deterministic
    // (count desc, word) cut), then measure each source's
    // out-of-vocabulary token rate in exact ppm. Token stream
    // aggregates at word grain before the top-V window (value-grain,
    // the p20 device); the vocab is a broadcast semi-join.
    QueryDef("txt_oov_rate",
      (s, d) => oovRate(docs(s, d)),
      Some(s"""WITH toks AS (SELECT source,
              |    unnest(string_split_regex(trim(text),'\\s+')) AS tok
              |  FROM documents),
              |wc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
              |  FROM toks GROUP BY 1),
              |vocab AS (SELECT tok FROM wc
              |  ORDER BY cnt DESC, tok LIMIT $VocabV),
              |m AS (SELECT source, COUNT(*) AS n_tokens,
              |    CAST(SUM(CASE WHEN tok NOT IN (SELECT tok FROM vocab)
              |      THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
              |  FROM toks GROUP BY 1)
              |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, n_oov,
              |CAST((n_oov * 1000000) // n_tokens AS BIGINT) AS oov_ppm
              |FROM m""".stripMargin)),

    // The global training order: band-desc curriculum, md5 shuffle
    // within a band, two-phase global position — see curriculumOrder.
    QueryDef("mix_curriculum",
      (s, d) => curriculumOrder(docs(s, d)),
      Some(s"""WITH $bandPreludeSql,
              |ord AS (SELECT doc_id, band,
              |    ${hex60Sql("concat('cur',\n      CAST(doc_id AS VARCHAR))")} AS h
              |  FROM b)
              |SELECT doc_id, band, h AS shuffle_key,
              |CAST(ROW_NUMBER() OVER (ORDER BY band DESC, h, doc_id) - 1
              |  AS BIGINT) AS global_pos
              |FROM ord""".stripMargin)),

    QueryDef("mix_quality_bands",
      (s, d) => qualityBands(docs(s, d)),
      Some(s"""WITH $bandPreludeSql,
              |k AS (SELECT band, n_tokens,
              |    CAST(${hex60Sql("concat('qb',\n      CAST(doc_id AS VARCHAR))")}
              |      % 4294967291 % 100
              |      < CASE band ${BandRates.toSeq.sortBy(_._1)
                       .map { case (bb, r) => s"WHEN $bb THEN $r" }
                       .mkString(" ")} END AS INT) AS keep
              |  FROM b)
              |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |CAST(SUM(keep) AS BIGINT) AS n_kept,
              |CAST(SUM(CASE WHEN keep = 1 THEN n_tokens ELSE 0 END)
              |  AS BIGINT) AS tokens_kept
              |FROM k GROUP BY 1""".stripMargin)),

    QueryDef("txt_dsir_select",
      (s, d) => dsirSelect(docs(s, d)),
      Some(s"""WITH tok AS (SELECT doc_id, CAST(lang = 'en' AS INT) tgt,
              |    unnest(string_split_regex(trim(text),'\\s+')) AS w FROM documents),
              |tb AS (SELECT doc_id, tgt,
              |    ${hex60Sql("w")}
              |      % 4294967291 % $DsirBuckets AS b
              |  FROM tok),
              |cb AS (SELECT b, CAST(COUNT(*) AS BIGINT) ccnt,
              |    CAST(SUM(tgt) AS BIGINT) tcnt FROM tb GROUP BY 1),
              |tots AS (SELECT SUM(ccnt) ctot, SUM(tcnt) ttot FROM cb),
              |qd AS (SELECT b,
              |    CAST(ROUND(ln(CAST(tcnt + 1 AS DOUBLE)
              |      / CAST(ttot + $DsirBuckets AS DOUBLE)) * 1000000.0) AS BIGINT)
              |  - CAST(ROUND(ln(CAST(ccnt + 1 AS DOUBLE)
              |      / CAST(ctot + $DsirBuckets AS DOUBLE)) * 1000000.0) AS BIGINT) AS qdiff
              |  FROM cb, tots),
              |dwc AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) cnt
              |  FROM tb GROUP BY 1, 2)
              |SELECT d.doc_id, CAST(SUM(d.cnt * q.qdiff) AS BIGINT) AS weight_qnats
              |FROM dwc d JOIN qd q USING (b)
              |GROUP BY 1 ORDER BY weight_qnats DESC, doc_id LIMIT $DsirK""".stripMargin)),

    QueryDef("txt_nb_classifier",
      (s, d) => nbQualityClassifier(docs(s, d)),
      Some(s"""WITH ql AS (SELECT doc_id,
              |  CAST(len(string_split_regex(trim(text),'\\s+')) AS BIGINT) AS n_tokens,
              |  CAST(len(list_distinct(string_split_regex(trim(text),'\\s+'))) AS BIGINT) AS n_distinct,
              |  CAST(${sqlHits(StopEn)} AS BIGINT) AS n_stop
              |  FROM documents),
              |lab AS (SELECT doc_id,
              |  CAST(ROUND(CAST(n_distinct AS DOUBLE)/n_tokens*0.5
              |    + LEAST(CAST(n_tokens AS DOUBLE)/100.0, 1.0)*0.3
              |    + CAST(n_stop AS DOUBLE)/n_tokens*0.2, 6) >= 0.4 AS INT) AS label
              |  FROM ql),
              |tok AS (SELECT doc_id,
              |  unnest(string_split_regex(trim(text),'\\s+')) AS w FROM documents),
              |dwc AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) cnt
              |  FROM tok GROUP BY 1, 2),
              |cwc AS (SELECT l.label, d.w, SUM(d.cnt) cwc
              |  FROM dwc d JOIN lab l USING (doc_id) GROUP BY 1, 2),
              |ctot AS (SELECT label, SUM(cwc) tot FROM cwc GROUP BY 1),
              |vs AS (SELECT COUNT(DISTINCT w) v FROM tok),
              |vw AS (SELECT DISTINCT w FROM tok),
              |cls AS (SELECT DISTINCT label FROM lab),
              |grid AS (SELECT vw.w, cls.label,
              |    CAST(ROUND(ln(CAST(COALESCE(c.cwc, 0) + 1 AS DOUBLE)
              |      / CAST(ct.tot + vs.v AS DOUBLE)) * 1000000.0) AS BIGINT) AS qll
              |  FROM vw CROSS JOIN cls
              |  JOIN ctot ct ON ct.label = cls.label
              |  LEFT JOIN cwc c ON c.w = vw.w AND c.label = cls.label
              |  CROSS JOIN vs),
              |pri AS (SELECT label, CAST(ROUND(ln(CAST(COUNT(*) AS DOUBLE)
              |    / (SELECT COUNT(*) FROM lab)) * 1000000.0) AS BIGINT) AS qp
              |  FROM lab GROUP BY 1),
              |sc AS (SELECT d.doc_id, g.label,
              |    SUM(d.cnt * g.qll) + MAX(p.qp) AS score
              |  FROM dwc d JOIN grid g ON d.w = g.w
              |  JOIN pri p ON p.label = g.label
              |  GROUP BY 1, 2),
              |prd AS (SELECT doc_id, label AS pred FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              |      ORDER BY score DESC, label DESC) rn FROM sc) WHERE rn = 1)
              |SELECT l.label, p.pred, CAST(COUNT(*) AS BIGINT) AS n_docs
              |FROM lab l JOIN prd p USING (doc_id) GROUP BY 1, 2""".stripMargin)),

    // T23 (beyond-ref): Heaps-law vocabulary growth curve — see
    // heapsLaw for the first-occurrence device.
    QueryDef("txt_heaps_law",
      (s, d) => heapsLaw(docs(s, d)), Some(heapsLawSql)),

    // T24 (beyond-ref): Zipf rank-frequency fit over the head
    // vocabulary — see zipfFit for the quantized-log closed form.
    QueryDef("txt_zipf_fit",
      (s, d) => zipfFit(docs(s, d)), Some(zipfFitSql)),

    // T25 (beyond-ref): positional-postings phrase query — see
    // phraseSearch for the adjacency-join device. The oracle states
    // the same relation on the bigram stream directly: a phrase hit
    // at positions (i, i+1) IS a bigram occurrence at i.
    QueryDef("txt_phrase_search",
      (s, d) => phraseSearch(docs(s, d)),
      Some(s"""WITH tk AS (SELECT doc_id,
              |    $tokSql AS t
              |  FROM documents),
              |bgs AS (SELECT doc_id, unnest(${gramsSql(2)}) AS phrase FROM tk),
              |top AS (SELECT phrase, COUNT(*) AS c FROM bgs
              |  GROUP BY 1 ORDER BY c DESC, phrase LIMIT 1)
              |SELECT b.phrase, b.doc_id, CAST(COUNT(*) AS BIGINT) AS hits
              |FROM bgs b JOIN top USING (phrase)
              |GROUP BY 1, 2
              |ORDER BY hits DESC, doc_id
              |LIMIT $PhraseTopDocs""".stripMargin))
  )

  /** DSIR-style importance selection (Data Selection via Importance
    * Resampling, arXiv:2302.03169) — the canonical pretraining
    * data-selection method: score every raw document by the
    * log-ratio of a target-domain bag-of-hashed-features model to
    * the raw-corpus model, then take the highest-ratio documents.
    * Features are hashed unigram buckets (h32 mod DsirBuckets — the
    * paper's hashed n-grams at order 1); the target slice is the
    * lang='en' subset (any registered domain table slots in); both
    * bucket LMs are add-one smoothed. The paper samples ∝ weight;
    * the deterministic contract here is top-k by weight (the greedy
    * variant), ties on doc_id.
    *
    * Scale shape: one token pass feeds both bucket LMs (a single
    * DsirBuckets-row aggregate carrying the target count as a
    * conditional sum) and the per-doc score join; the LM table and
    * totals broadcast; the only data-sized shuffles key on the
    * bucket id and doc_id; top-k is TakeOrderedAndProject. Bucket
    * log-probs quantize to integer micro-nats BEFORE the per-doc
    * sum, so ranking is exact integer arithmetic on both engines.
    */
  def dsirSelect(d: DataFrame): DataFrame = {
    val tb = d.select(col("doc_id"),
        (col("lang") === lit("en")).cast("int").as("tgt"),
        explode(tokens(col("text"))).as("w"))
      .withColumn("b", h32(col("w")) % DsirBuckets)
      .localCheckpoint(false) // feeds the bucket LMs AND the doc score
    val cb = tb.groupBy(col("b")).agg(
      count(lit(1)).as("ccnt"),
      sum(col("tgt").cast("long")).as("tcnt"))
    val tots = cb.agg(sum(col("ccnt")).as("ctot"),
      sum(col("tcnt")).as("ttot"))
    val qdiff = cb.crossJoin(broadcast(tots))
      .select(col("b"),
        (round(log((col("tcnt") + lit(1L)).cast("double")
            / (col("ttot") + lit(DsirBuckets.toLong)).cast("double"))
            * lit(1000000.0d)).cast("long")
          - round(log((col("ccnt") + lit(1L)).cast("double")
            / (col("ctot") + lit(DsirBuckets.toLong)).cast("double"))
            * lit(1000000.0d)).cast("long")).as("qdiff"))
    tb.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cnt"))
      .join(qdiff, Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt") * col("qdiff")).as("weight_qnats"))
      .orderBy(col("weight_qnats").desc, col("doc_id"))
      .limit(DsirK)
  }

  /** Multinomial Naive Bayes quality classifier — the
    * train-a-cheap-model-on-heuristic-labels shape behind production
    * quality filters (a fastText-style classifier distilled from rule
    * labels): the heuristic gate (qualityScore.keep) labels the
    * corpus, add-one-smoothed token counts train the model, and every
    * document is re-scored by it. One pass trains AND applies — the
    * model tables are vocab-grain (class-conditional counts) or
    * broadcast-sized (priors, vocab size, class list), and the
    * scoring join shuffles on the word key, never a doc pair, so the
    * plan is three hash aggregates + one vocab-keyed join at any
    * corpus size.
    *
    * Determinism device: log-likelihoods and priors are quantized to
    * integer micro-nats (round(ln·10⁶) as int64) BEFORE the
    * per-document sum, so the argmax is exact integer arithmetic —
    * no float summation order can flip a prediction between engines.
    * Ties break toward the higher class id. Output is the ≤2×2
    * confusion of model prediction vs heuristic label — the artifact
    * a pipeline inspects before swapping the rule gate for the model.
    */
  def nbQualityClassifier(d: DataFrame): DataFrame = {
    val labeled = qualityScore(d)
      .select(col("doc_id"), col("keep").as("label"))
      .localCheckpoint(false) // training labels, priors, AND the confusion join
    val tok = d.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val dwc = tok.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // feeds training counts AND the scoring join
    val cwc = dwc.join(labeled, Seq("doc_id"))
      .groupBy(col("label"), col("w")).agg(sum(col("cnt")).as("cwc"))
    val ctot = cwc.groupBy(col("label")).agg(sum(col("cwc")).as("tot"))
    val vsize = tok.agg(count_distinct(col("w")).as("v"))
    val grid = tok.select(col("w")).distinct()
      .crossJoin(broadcast(labeled.select(col("label")).distinct()))
      .join(cwc, Seq("w", "label"), "left")
      .join(broadcast(ctot), Seq("label"))
      .crossJoin(broadcast(vsize))
      .select(col("w"), col("label"),
        round(log((coalesce(col("cwc"), lit(0L)) + lit(1L)).cast("double")
          / (col("tot") + col("v")).cast("double")) * lit(1000000.0d))
          .cast("long").as("qll"))
    val prior = labeled.groupBy(col("label")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(labeled.agg(count(lit(1)).as("n_all"))))
      .select(col("label"), round(log(col("n").cast("double")
        / col("n_all").cast("double")) * lit(1000000.0d))
        .cast("long").as("qp"))
    val wPred = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("label").desc)
    val pred = dwc.join(grid, Seq("w"))
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("cnt") * col("qll")).as("ll"))
      .join(broadcast(prior), Seq("label"))
      .select(col("doc_id"), col("label"),
        (col("ll") + col("qp")).as("score"))
      .withColumn("rn", row_number().over(wPred))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("label").as("pred"))
    labeled.join(pred, Seq("doc_id"))
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Stratified quality-band sampling — the curriculum/mixing pass
    * that keeps ALL of the best-quality quartile and a decaying
    * fraction of each lower band (vs txt_quality_filter's hard gate
    * and mix_budget_select's global ranking). Bands come from
    * value-grain exact quartile cuts on the rounded quality score;
    * the keep decision is the house md5 hash bucket — deterministic,
    * replayable, scan-bandwidth. Output is band grain.
    */
  /** Per-doc quartile band (1 worst … 4 best) from the quality
    * score's value-grain cuts — the shared derivation under
    * qualityBands (rates) and curriculumOrder (ordering). */
  def docBands(d: DataFrame): DataFrame = {
    val q = qualityScore(d).select(col("doc_id"), col("n_tokens"),
      col("quality"))
    val cuts = Stats.valueCuts(q, "quality",
      Seq(0.25 -> "q1", 0.50 -> "q2", 0.75 -> "q3"))
    q.crossJoin(broadcast(cuts))
      .withColumn("band", lit(1)
        + (col("quality") > col("q1")).cast("int")
        + (col("quality") > col("q2")).cast("int")
        + (col("quality") > col("q3")).cast("int"))
  }

  def qualityBands(d: DataFrame): DataFrame = {
    val rateCase = BandRates.toSeq.sortBy(_._1)
      .map { case (b, r) => s"WHEN $b THEN $r" }.mkString(" ")
    docBands(d)
      .withColumn("rate", expr(s"CASE band $rateCase END"))
      .withColumn("keep",
        (graft.functions.Functions.h32(
          concat(lit("qb"), col("doc_id").cast("string"))) % 100
          < col("rate")).cast("int"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"),
        sum(when(col("keep") === 1, col("n_tokens")).otherwise(0L))
          .as("tokens_kept"))
  }

  /** See the txt_oov_rate QueryDef. */
  def oovRate(d: DataFrame, v: Int = VocabV): DataFrame = {
    val toks = d.select(col("source"),
      explode(tokens(col("text"))).as("tok"))
    val wc = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // top-V as TakeOrderedAndProject (per-partition heaps), NOT a
    // rank window: the distinct-word relation is hapax-heavy at
    // corpus scale and must never sort in one partition
    val vocab = wc
      .orderBy(col("cnt").desc, col("tok"))
      .limit(v)
      .select(col("tok"))
    toks.join(broadcast(vocab.withColumn("in_v", lit(1L))),
        Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        expr("(n_oov * 1000000) div n_tokens").as("oov_ppm"))
  }

  /** See the txt_quality_pr QueryDef. */
  /** Reliability-diagram calibration of the quality score — see the
    * txt_quality_calibration QueryDef. Same single-projection
    * score+label trick as qualityPr; the band aggregate is map-side
    * combinable and at most 10 rows leave it.
    */
  def qualityCalibration(d: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val q = d.select(
        (col("lang") === lit("en")).cast("long").as("pos"),
        size(t).cast("long").as("n_tokens"),
        size(array_distinct(t)).cast("long").as("n_distinct"),
        hits(t, StopEn).cast("long").as("n_stop"))
      .select(col("pos"), round(
        col("n_distinct").cast("double") / col("n_tokens") * 0.5d
          + least(col("n_tokens").cast("double") / 100.0d, lit(1.0d)) * 0.3d
          + col("n_stop").cast("double") / col("n_tokens") * 0.2d, 6)
        .as("quality"))
    q.groupBy(least(floor(col("quality") * lit(10.0d)), lit(9L)).as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"),
        sum(round(col("quality") * lit(1000000.0d)).cast("long"))
          .as("q_sum"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        microMean(col("q_sum"), col("n_docs")).as("avg_score"),
        round(col("n_pos") * lit(1000000.0d) / col("n_docs")).cast("long")
          .as("pos_rate_ppm"))
  }

  def qualityPr(d: DataFrame): DataFrame = {
    // label and score in ONE projection — joining qualityScore back
    // to d on doc_id would shuffle the corpus twice for a column the
    // same scan already carries
    val t = tokens(col("text"))
    val q = d.select(
        (col("lang") === lit("en")).cast("long").as("pos"),
        size(t).cast("long").as("n_tokens"),
        size(array_distinct(t)).cast("long").as("n_distinct"),
        hits(t, StopEn).cast("long").as("n_stop"))
      .select(col("pos"), round(
        col("n_distinct").cast("double") / col("n_tokens") * 0.5d
          + least(col("n_tokens").cast("double") / 100.0d, lit(1.0d)) * 0.3d
          + col("n_stop").cast("double") / col("n_tokens") * 0.2d, 6)
        .as("quality"))
    val vals = q
      .groupBy(col("quality"))
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("npos"))
    val wCum = Window.orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(lit(1))
    vals
      .withColumn("n_ge", sum(col("cnt")).over(wCum))
      .withColumn("tp", sum(col("npos")).over(wCum))
      .withColumn("p_total", sum(col("npos")).over(wTot))
      .select(col("quality").as("threshold"), col("n_ge"),
        round(col("tp").cast("double") / col("n_ge"), 6)
          .as("precision"),
        // NULL recall when the corpus has no positives (tp/0 is NULL
        // on Spark but NaN on DuckDB — nullif aligns the oracle)
        when(col("p_total") > 0,
          round(col("tp").cast("double") / col("p_total"), 6))
          .as("recall"))
  }

  /** Heaps-law vocabulary growth: V(n) at ten doc-id checkpoints —
    * the curve that sizes a tokenizer vocabulary and predicts how
    * much NEW vocabulary the next corpus doubling brings (V ≈ K·nᵝ;
    * a flattening curve means the crawl is saturating). The device is
    * first-occurrence reduction: each token type collapses to its
    * MIN doc_id once (one vocab-grain aggregate), so every checkpoint
    * count is a conditional sum over that bounded relation — never a
    * re-scan per checkpoint, and no data-sized window. Checkpoints
    * are integer-arithmetic doc-id cuts from a 1-row bounds
    * broadcast; all counts exact.
    */
  def heapsLaw(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(lowTokens).as("tk"))
    // ONE corpus explode: both grains derive from the (doc, term)
    // matrix — far smaller than the token stream — so the scan and
    // the explode run once, not once per aggregate.
    val dtm = tok.groupBy(col("doc_id"), col("tk"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val firsts = dtm.groupBy(col("tk")).agg(min(col("doc_id")).as("fd"))
    val perDoc = dtm.groupBy(col("doc_id")).agg(sum(col("c")).as("ntok"))
    val b = docs.agg(min(col("doc_id")).as("dmin"),
      max(col("doc_id")).as("dmax")) // 1 row
    def cut(k: Int) = expr(s"dmin + ((dmax - dmin + 1) * $k) div 10")
    val vCols = (1 to 10).map(k =>
      sum((col("fd") < cut(k)).cast("long")).as(s"v$k"))
    val vAgg = firsts.crossJoin(broadcast(b))
      .agg(vCols.head, vCols.tail: _*)
    val dCols = (1 to 10).flatMap(k => Seq(
      sum((col("doc_id") < cut(k)).cast("long")).as(s"d$k"),
      sum(when(col("doc_id") < cut(k), col("ntok")).otherwise(0L))
        .as(s"t$k")))
    val dAgg = perDoc.crossJoin(broadcast(b))
      .agg(dCols.head, dCols.tail: _*)
    val stacked = vAgg.crossJoin(dAgg).selectExpr(
      s"""stack(10, ${(1 to 10).map(k =>
        s"${k}L, d$k, t$k, v$k").mkString(", ")})
         | AS (k, n_docs, n_tokens, vocab)""".stripMargin)
    stacked.select(col("k"), coalesce(col("n_docs"), lit(0L)).as("n_docs"),
      coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
      coalesce(col("vocab"), lit(0L)).as("vocab"))
  }

  /** The global training ORDER — curriculum learning's data-side
    * half (Bengio et al. 2009): every kept doc gets its position in
    * the sequence the trainer will read — best quality band first
    * (band 4 → 1), deterministic md5 shuffle within a band (no RNG,
    * the u11 rule), doc_id as the final tiebreak. mix_epoch_plan
    * says how often a source repeats; mix_budget_select says what's
    * in; THIS says in what order — the missing verb between
    * selection and shard writing (u13 packs the ordered stream).
    *
    * Scale shape: a global ROW_NUMBER is a single-partition window —
    * the banned shape. Instead the u13 two-phase device: range-
    * partition by the sort key (band desc, h, doc_id), per-partition
    * counts prefix-summed at PARTITION grain (a bounded window:
    * one row per partition), then a within-partition rank plus the
    * partition offset. Partition boundaries are sampled and
    * nondeterministic, but any range partitioning that respects the
    * total order yields the identical global position — the
    * boundaries cancel (shardPack's invariance argument, proven in
    * its spec).
    */
  def curriculumOrder(d: DataFrame): DataFrame = {
    val b = docBands(d).select(col("doc_id"), col("band"))
      .withColumn("h",
        hex60(concat(lit("cur"), col("doc_id").cast("string"))))
    val parts = b
      .repartitionByRange(col("band").desc, col("h"), col("doc_id"))
      .withColumn("pid", spark_partition_id().cast("long"))
      .localCheckpoint(false) // offsets aggregate + the rank pass
    val wOff = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = parts.groupBy(col("pid"))
      .agg(count(lit(1)).as("pn"))
      .withColumn("off", coalesce(sum(col("pn")).over(wOff), lit(0L)))
      .select(col("pid"), col("off"))
    val wIn = Window.partitionBy(col("pid"))
      .orderBy(col("band").desc, col("h"), col("doc_id"))
    parts.join(broadcast(offs), Seq("pid"))
      .withColumn("global_pos",
        col("off") + row_number().over(wIn).cast("long") - 1L)
      .select(col("doc_id"), col("band"), col("h").as("shuffle_key"),
        col("global_pos"))
  }

  /** The per-doc quality-band CTE chain (q0 … b) shared by the
    * mix_quality_bands and mix_curriculum oracles — mirrors
    * docBands exactly. */
  private lazy val bandPreludeSql: String =
    s"""q0 AS (SELECT doc_id,
       |  CAST(len(string_split_regex(trim(text),'\\s+')) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(string_split_regex(trim(text),'\\s+'))) AS BIGINT) AS n_distinct,
       |  CAST(${sqlHits(StopEn)} AS BIGINT) AS n_stop
       |  FROM documents),
       |q AS (SELECT doc_id, n_tokens,
       |  ROUND(CAST(n_distinct AS DOUBLE)/n_tokens*0.5
       |    + LEAST(CAST(n_tokens AS DOUBLE)/100.0, 1.0)*0.3
       |    + CAST(n_stop AS DOUBLE)/n_tokens*0.2, 6) AS quality
       |  FROM q0),
       |vals AS (SELECT quality, COUNT(*) AS cnt FROM q GROUP BY 1),
       |cum AS (SELECT quality,
       |    SUM(cnt) OVER (ORDER BY quality ROWS UNBOUNDED PRECEDING)
       |      AS cum, SUM(cnt) OVER () AS n
       |  FROM vals),
       |cuts AS (SELECT
       |    MIN(CASE WHEN cum >= CAST(ceil(0.25*n) AS BIGINT)
       |      THEN quality END) AS q1,
       |    MIN(CASE WHEN cum >= CAST(ceil(0.50*n) AS BIGINT)
       |      THEN quality END) AS q2,
       |    MIN(CASE WHEN cum >= CAST(ceil(0.75*n) AS BIGINT)
       |      THEN quality END) AS q3
       |  FROM cum),
       |b AS (SELECT doc_id, n_tokens,
       |    1 + CAST(quality > q1 AS INT) + CAST(quality > q2 AS INT)
       |      + CAST(quality > q3 AS INT) AS band
       |  FROM q, cuts)""".stripMargin

  private lazy val heapsLawSql: String =
    s"""WITH tok AS (SELECT doc_id,
      |    unnest($tokSql) AS tk
      |  FROM documents),
      |f AS (SELECT tk, MIN(doc_id) AS fd FROM tok GROUP BY 1),
      |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ntok
      |  FROM tok GROUP BY 1),
      |b AS (SELECT MIN(doc_id) AS dmin, MAX(doc_id) AS dmax
      |  FROM documents),
      |ks AS (SELECT unnest(generate_series(1, 10)) AS k),
      |cuts AS (SELECT k, dmin + ((dmax - dmin + 1) * k) // 10 AS cut
      |  FROM ks, b),
      |v AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS vocab
      |  FROM f, cuts WHERE fd < cut GROUP BY 1),
      |d AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(ntok) AS BIGINT) AS n_tokens
      |  FROM pd, cuts WHERE doc_id < cut GROUP BY 1)
      |SELECT CAST(ks.k AS BIGINT) AS k,
      |COALESCE(d.n_docs, CAST(0 AS BIGINT)) AS n_docs,
      |COALESCE(d.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
      |COALESCE(v.vocab, CAST(0 AS BIGINT)) AS vocab
      |FROM ks LEFT JOIN d ON ks.k = d.k
      |LEFT JOIN v ON ks.k = v.k""".stripMargin

  final val ZipfHead = 1000

  /** Zipf rank-frequency fit over the head vocabulary: least-squares
    * slope of ln(freq) on ln(rank) across the top `ZipfHead` tokens —
    * natural text sits near −1; a flat slope flags templated or
    * machine-generated corpora (the txt_repetition signal at corpus
    * rather than document grain). Logs quantize to micro-nat integers
    * (the LM-ladder device) so the sufficient statistics are exact
    * sums; slope and intercept are then ONE identical IEEE division
    * sequence on both engines. The head cut is a TakeOrdered top-k,
    * and the rank window runs over k rows — bounded by the explicit
    * constant (PlanSpec whitelist: k-grain).
    */
  def zipfFit(docs: DataFrame, topK: Int = ZipfHead): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val tok = docs.select(explode(lowTokens).as("tk"))
    val freq = tok.groupBy(col("tk")).agg(count(lit(1)).as("cnt"))
    val top = freq.orderBy(col("cnt").desc, col("tk")).limit(topK)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("tk")))
        .cast("long"))
      .select(
        round(log(col("rank").cast("double")) * 1000000.0d)
          .cast("long").as("qx"),
        round(log(col("cnt").cast("double")) * 1000000.0d)
          .cast("long").as("qy"))
    val st = ranked.agg(count(lit(1)).as("n"),
      sum(col("qx")).as("sx"), sum(col("qy")).as("sy"),
      sum(col("qx").cast(dec) * col("qx")).as("sxx"),
      sum(col("qx").cast(dec) * col("qy")).as("sxy"))
    val num = (col("sxy") * col("n") -
      col("sx").cast(dec) * col("sy")).cast("double")
    val den = (col("sxx") * col("n") -
      col("sx").cast(dec) * col("sx")).cast("double")
    st.filter(col("n") >= 2)
      .select(col("n").as("n_head"),
        round(num / den, 6).as("slope"),
        // intercept in micro-nats back to nats: same unrounded slope
        // double on both engines, one shared expression shape
        round((col("sy").cast("double") -
          (num / den) * col("sx").cast("double")) /
          col("n").cast("double") / 1000000.0d, 6).as("intercept"))
  }

  private lazy val zipfFitSql: String =
    s"""WITH tok AS (SELECT
       |    unnest($tokSql) AS tk
       |  FROM documents),
       |freq AS (SELECT tk, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM tok GROUP BY 1),
       |top AS (SELECT tk, cnt FROM freq
       |  ORDER BY cnt DESC, tk LIMIT $ZipfHead),
       |rk AS (SELECT cnt,
       |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tk) AS BIGINT)
       |      AS rank FROM top),
       |q AS (SELECT
       |    CAST(ROUND(ln(CAST(rank AS DOUBLE)) * 1000000.0) AS BIGINT)
       |      AS qx,
       |    CAST(ROUND(ln(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT)
       |      AS qy FROM rk),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(qx) AS BIGINT) AS sx, CAST(SUM(qy) AS BIGINT) AS sy,
       |    SUM(CAST(qx AS HUGEINT) * qx) AS sxx,
       |    SUM(CAST(qx AS HUGEINT) * qy) AS sxy
       |  FROM q)
       |SELECT n AS n_head,
       |ROUND(CAST(sxy * n - CAST(sx AS HUGEINT) * sy AS DOUBLE)
       |  / CAST(sxx * n - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6)
       |  AS slope,
       |ROUND((CAST(sy AS DOUBLE)
       |  - (CAST(sxy * n - CAST(sx AS HUGEINT) * sy AS DOUBLE)
       |    / CAST(sxx * n - CAST(sx AS HUGEINT) * sx AS DOUBLE))
       |  * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 1000000.0, 6)
       |  AS intercept
       |FROM st WHERE n >= 2""".stripMargin
}
