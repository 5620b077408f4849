package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-log operators over the `events` table: semi-structured
  * property extraction and funnel conversion — the clickstream shapes
  * a training-data pipeline runs upstream of sessionization
  * (reference keeps its event payloads as JSON strings in Kafka,
  * flink_job_alert_detection_simple.py:41-55; here the same
  * extraction is a batch scan expression).
  *
  * Scale design (100 TB):
  *  - JSON extraction is a pure per-row expression (get_json_object
  *    codegens) — applied at scan bandwidth, no shuffle;
  *  - the funnel is NOT the textbook 3-way self-join (|views|×|clicks|
  *    ×|purchases| per user — quadratic-plus on power users). It is
  *    two chained as-of carries over ONE (user, ts) sort: the running
  *    last-view, snapshotted at each click, carried forward to each
  *    purchase. One shuffle, zero joins, and provably equivalent to
  *    the exists-semantics: the most recent click before a purchase
  *    dominates older clicks (its window slack is largest), and the
  *    most recent view before that click dominates older views.
  */
object Events {

  /** Funnel window: purchase converts if view → click → purchase all
    * happen within this span (microseconds).
    */
  val FunnelWindowUs: Long = 6L * 3600 * 1000000

  /** Typed property extraction from the JSON `props` column. */
  def jsonProps(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("event_type"),
      get_json_object(col("props"), "$.k").cast("long").as("k_val"))

  /** view → click → purchase conversion per user within `windowUs`.
    *
    * Two window passes over the same (user_id, ts_us, event_id)
    * ordering: pass 1 computes the running last-view timestamp; pass
    * 2 carries (last click ts, last-view-as-of-that-click) forward.
    * A purchase converts iff both carried timestamps are within the
    * window. Tie rule: the running frame is ordered by (ts_us,
    * event_id), so an equal-timestamp prior stage counts as "before"
    * exactly when its event_id is lower — deterministic, mirrored in
    * the oracle's identical window spec.
    */
  def funnel(events: DataFrame, windowUs: Long = FunnelWindowUs): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pass1 = events.withColumn("lv",
      last(when(col("event_type") === "view", col("ts_us")),
        ignoreNulls = true).over(w))
    val pass2 = pass1
      .withColumn("lc",
        last(when(col("event_type") === "click", col("ts_us")),
          ignoreNulls = true).over(w))
      .withColumn("lvc",
        last(when(col("event_type") === "click", col("lv")),
          ignoreNulls = true).over(w))
    val converted = (col("lc").isNotNull &&
      col("ts_us") - col("lc") <= windowUs &&
      col("lvc").isNotNull &&
      col("ts_us") - col("lvc") <= windowUs).cast("long")
    pass2.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(converted).as("n_converted"))
      .withColumn("conv_rate",
        round(col("n_converted").cast("double") / col("n_purchases"), 6))
  }

  // ---- driver-contract registry ----

  /** Count-min-sketch heavy hitters — the third classical sketch
    * beside HLL (a10) and the approx-percentile gate: estimated
    * frequency per candidate key with the (ε, δ) overcount guarantee
    * est ∈ [exact, exact + ε·N]. The sketch builds distributed
    * (mergeable per-partition tables inside stat.countMinSketch); the
    * candidate probe set is the distinct key list — tiny here, and at
    * 100 TB you'd probe a fixed watch-list instead, which is the
    * point of a CMS: the sketch is O(ln(1/δ)/ε) bytes regardless of
    * stream size. The candidate watch-list is a CALLER-SUPPLIED
    * literal — the production contract (probe a fixed list against
    * the sketch; the operator itself never collects the stream).
    * Estimates depend on the hash seed, so this is a rows-only entry
    * (count = |watchlist|, stable); EventsSpec asserts the error
    * bound against exact counts.
    */
  def heavyHittersCms(events: DataFrame, watchlist: Seq[String],
                      eps: Double = 0.001, conf: Double = 0.99,
                      seed: Int = 42): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val cms = events.stat.countMinSketch(col("event_type"), eps, conf, seed)
    watchlist.sorted.map(t => (t, cms.estimateCount(t)))
      .toDF("event_type", "est_count")
      .orderBy(col("est_count").desc, col("event_type"))
  }

  /** Test-only probe list for the registered query: the distinct key
    * set of the synthetic table (5 values). A deployment passes its
    * literal watch-list; this collect is OUTSIDE the operator and
    * bounded by `event_type`'s enum cardinality.
    */
  def eventTypeWatchlist(events: DataFrame): Seq[String] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_type")).distinct().as[String]
      .collect().sorted.toSeq
  }

  private def ev(s: SparkSession, d: String) =
    Tables.events(s, d).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_type"), col("props"))

  /** The ev projection with `value` instead of `props` (fill-forward
    * and attribution consume the measurement, not the payload).
    */
  private def evv(s: SparkSession, d: String) =
    Tables.events(s, d).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))

  /** E13: conversion-latency quartiles — the funnel's time dimension
    * (e2 counts who converts; this prices HOW LONG the view→purchase
    * hop takes, the metric behind "checkout friction" pages). Per
    * user: first view, first purchase at-or-after it, latency in
    * whole minutes; the report is one row of exact discrete quartiles
    * (PERCENTILE_DISC convention: smallest value whose cumulative
    * count reaches ⌈q·n⌉, compared as cum·den ≥ n·num in integers —
    * the a28 device on a single group). The quartile window runs over
    * the latency-minute VALUE grain (bounded by the corpus time span,
    * never user count) and every other step is a user-grain aggregate
    * or a 1-row broadcast.
    */
  def conversionLatency(events: DataFrame): DataFrame = {
    val firstView = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("v"))
      .localCheckpoint(false)
    val firstPurch = events.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("ts_us") >= col("v"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("p"),
        min(col("v")).as("v"))
    val lat = firstPurch
      .select(expr("(p - v) div 60000000").as("m"))
      .localCheckpoint(false)
    val g = lat.groupBy(col("m")).agg(count(lit(1)).as("c"))
    val cum = g.withColumn("cum",
        sum(col("c")).over(Window.orderBy(col("m"))))
      .crossJoin(broadcast(lat.agg(count(lit(1)).as("n"))))
    val q = cum.agg(
      min(when(col("cum") * 4 >= col("n"), col("m"))).as("p25_min"),
      min(when(col("cum") * 2 >= col("n"), col("m"))).as("p50_min"),
      min(when(col("cum") * 4 >= col("n") * 3, col("m"))).as("p75_min"))
    firstView.agg(count(lit(1)).as("n_viewers"))
      .crossJoin(lat.agg(count(lit(1)).as("n_converted")))
      .crossJoin(q)
  }

  private val conversionLatencySql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type
      |  FROM events),
      |v AS (SELECT user_id, MIN(t) AS v FROM e
      |  WHERE event_type = 'view' GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(e.t) AS p, MIN(v.v) AS v
      |  FROM e JOIN v ON e.user_id = v.user_id AND e.t >= v.v
      |  WHERE e.event_type = 'purchase' GROUP BY 1),
      |lat AS (SELECT (p - v) // 60000000 AS m FROM p),
      |g AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS c FROM lat GROUP BY 1),
      |cum AS (SELECT m, SUM(c) OVER (ORDER BY m) AS cum,
      |  (SELECT COUNT(*) FROM lat) AS n FROM g)
      |SELECT (SELECT COUNT(*) FROM v) AS n_viewers,
      |(SELECT COUNT(*) FROM lat) AS n_converted,
      |(SELECT MIN(m) FROM cum WHERE cum * 4 >= n) AS p25_min,
      |(SELECT MIN(m) FROM cum WHERE cum * 2 >= n) AS p50_min,
      |(SELECT MIN(m) FROM cum WHERE cum * 4 >= n * 3) AS p75_min""".stripMargin

  val SkewTopK = 20 // before defs: the oracle SQL interpolates it
  val FreshStaleMin = 60L
  val PathGapUs = 30L * 60 * 1000000
  val PathK = 20

  /** E11: data-freshness monitor — per event_type, rows, last-seen
    * timestamp, and lag behind the freshest type in whole minutes,
    * with a staleness flag at the SLA bound. The pipeline-health
    * check every ingestion tier pages on (a type that stops flowing
    * is a dead producer). One map-side-combined aggregate at type
    * grain + a 1-row corpus-max broadcast; exact integer lag.
    */
  def freshness(events: DataFrame,
                staleMin: Long = FreshStaleMin): DataFrame = {
    val tot = events.agg(max(col("ts_us")).as("corpus_max_us"))
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), max(col("ts_us")).as("last_ts_us"))
      .crossJoin(broadcast(tot)) // 1-row corpus max
      .select(col("event_type"), col("n_events"), col("last_ts_us"),
        expr("(corpus_max_us - last_ts_us) div 60000000")
          .as("lag_minutes"),
        (expr("(corpus_max_us - last_ts_us) div 60000000") > staleMin)
          .cast("long").as("is_stale"))
  }

  /** E12: top session paths — the first three event types of every
    * gap session (st5's session device), concatenated in order, top-k
    * by session count: the sequence-mining "how do sessions start"
    * read next to e3's pairwise transitions. Sessions shorter than
    * three events keep their shorter path (concat_ws skips the
    * missing slots identically on both engines). Two window passes
    * on the same (user, ts) ordering + a path-grain TakeOrdered.
    */
  def topSessionPaths(events: DataFrame, gapUs: Long = PathGapUs,
                      k: Int = PathK): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val wSess = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events
      .withColumn("prev", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_start",
        (col("prev").isNull || col("ts_us") - col("prev") > gapUs)
          .cast("long"))
      .withColumn("session_id", sum(col("is_start")).over(
        byUser.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("rn", row_number().over(wSess))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"), col("session_id"))
      .agg(concat_ws(">",
        max(when(col("rn") === 1, col("event_type"))),
        max(when(col("rn") === 2, col("event_type"))),
        max(when(col("rn") === 3, col("event_type")))).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  val CovisGapUs: Long = 30L * 60 * 1000000
  val CovisCap = 32
  val CovisTopK = 10

  /** E14 (beyond-ref): session covisitation — the candidate generator
    * modern large-scale recommenders lead with (the OTTO/Merlin
    * "co-visitation matrix"): two items are related when the same
    * user touches both in one browsing session. Complements the CF
    * family (order-grain co-purchase needs a transaction; this fires
    * on views) and bi_basket_lift (whose basket IS the order): the
    * session is the behavioral basket.
    *
    * Pipeline: gap-sessionize (the st5 device, same one-shuffle
    * (user, ts) ordering) → DISTINCT items per session in first-seen
    * order → per-session cap (row_number ≤ cap: a crawler session
    * touching 10⁴ items contributes cap², not 10⁸, pairs — the CF
    * CapPerUser device at session grain) → canonical i<j pairs
    * counted at pair grain → symmetric top-k neighbors per anchor
    * (WindowGroupLimit bounds the rank window's shuffle).
    *
    * Scale: the only data-sized shuffles are the session sort and the
    * (session-grain)² ≤ cap² pair explosion keyed on item pairs;
    * the top-k window runs at item grain. Deterministic: ties break
    * (n_co desc, nbr asc); the cap keeps FIRST-seen items (min ts,
    * then item id) so reruns and repartitions agree.
    */
  def covisitation(events: DataFrame, gapUs: Long = CovisGapUs,
                   cap: Int = CovisCap, k: Int = CovisTopK): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val sess = events
      .withColumn("item",
        get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("prev", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_start",
        (col("prev").isNull || col("ts_us") - col("prev") > gapUs)
          .cast("long"))
      .withColumn("session_id",
        sum(col("is_start")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val items = sess.filter(col("item").isNotNull)
      .groupBy(col("user_id"), col("session_id"), col("item"))
      .agg(min(col("ts_us")).as("first_us"))
    val wCap = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("first_us"), col("item"))
    val capped = items.withColumn("rn", row_number().over(wCap))
      .filter(col("rn") <= cap)
      .select(col("user_id"), col("session_id"), col("item"))
      // both sides of the pair self-join: uncached, the whole events
      // prefix (JSON extract + the two session windows) executes once
      // per join side AND per symmetric-union branch — 8 scans of the
      // events table in one plan (round-13 optimization pass, guide
      // §2.4: duplicated subtrees are removed shuffles)
      .localCheckpoint(false)
    val pairs = capped.as("x").join(capped.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.session_id") === col("y.session_id") &&
          col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("i"), col("y.item").as("j"))
      .agg(count(lit(1)).as("n_co"))
      // referenced by both symmetric-union branches: cache the pair
      // list (one row per canonical co-visit pair) so the session
      // self-join — the dominant stage — runs once, not twice
      .localCheckpoint(false)
    val wTop = Window.partitionBy(col("item"))
      .orderBy(col("n_co").desc, col("nbr"))
    pairs
      .select(col("i").as("item"), col("j").as("nbr"), col("n_co"))
      .unionByName(pairs
        .select(col("j").as("item"), col("i").as("nbr"), col("n_co")))
      .withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("item"), col("nbr"), col("n_co"), col("rnk"))
  }

  /** ml_covisitation's oracle. */
  private lazy val covisSql =
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) ts_us,
       |  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
       |  FROM events),
       |g AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
       |    OR ts_us - lag(ts_us) OVER w > $CovisGapUs
       |    THEN 1 ELSE 0 END AS is_start
       |  FROM e WINDOW w AS (PARTITION BY user_id
       |    ORDER BY ts_us, event_id)),
       |sess AS (SELECT *, CAST(SUM(is_start) OVER (
       |    PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
       |  FROM g),
       |it AS (SELECT user_id, session_id, item, MIN(ts_us) first_us
       |  FROM sess WHERE item IS NOT NULL GROUP BY 1, 2, 3),
       |cap AS (SELECT user_id, session_id, item FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id,
       |      session_id ORDER BY first_us, item) rn FROM it)
       |  WHERE rn <= $CovisCap),
       |p AS (SELECT x.item AS i, y.item AS j,
       |    CAST(COUNT(*) AS BIGINT) AS n_co
       |  FROM cap x JOIN cap y ON x.user_id = y.user_id
       |    AND x.session_id = y.session_id AND x.item < y.item
       |  GROUP BY 1, 2),
       |sym AS (SELECT i AS item, j AS nbr, n_co FROM p
       |  UNION ALL SELECT j AS item, i AS nbr, n_co FROM p)
       |SELECT item, nbr, n_co, CAST(rnk AS BIGINT) AS rnk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY item
       |    ORDER BY n_co DESC, nbr) AS rnk FROM sym)
       |WHERE rnk <= $CovisTopK""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef("e1_json_extract",
      (s, d) => jsonProps(ev(s, d)),
      Some("""SELECT event_id, event_type,
             |CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
             |FROM events""".stripMargin)),

    // P17' (beyond-ref): the same extraction through Spark 4's
    // VARIANT type — parse once into the binary semi-structured
    // encoding, then typed variant_get paths (the modern replacement
    // for per-path get_json_object string re-parsing: one parse
    // serves any number of field reads, and the encoding is the
    // shredding-ready columnar form). Same oracle as e1 — the two
    // paths must agree row-for-row.
    QueryDef("e1_variant_extract",
      (s, d) => ev(s, d).select(col("event_id"), col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')")
          .as("k_val")),
      Some("""SELECT event_id, event_type,
             |CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
             |FROM events""".stripMargin)),

    // E13 (beyond-ref): view→purchase latency quartiles — see
    // conversionLatency for the value-grain percentile device.
    QueryDef("e13_conversion_latency",
      (s, d) => conversionLatency(evv(s, d)),
      Some(conversionLatencySql)),

    QueryDef("e2_funnel",
      (s, d) => funnel(ev(s, d).drop("props")),
      Some(s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) ts_us,
              |  event_type FROM events),
              |s1 AS (SELECT *, last_value(CASE WHEN event_type = 'view'
              |    THEN ts_us END IGNORE NULLS) OVER w AS lv
              |  FROM e WINDOW w AS (PARTITION BY user_id
              |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)),
              |s2 AS (SELECT *,
              |  last_value(CASE WHEN event_type = 'click'
              |    THEN ts_us END IGNORE NULLS) OVER w AS lc,
              |  last_value(CASE WHEN event_type = 'click'
              |    THEN lv END IGNORE NULLS) OVER w AS lvc
              |  FROM s1 WINDOW w AS (PARTITION BY user_id
              |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING))
              |SELECT user_id, COUNT(*) AS n_purchases,
              |CAST(SUM(CASE WHEN lc IS NOT NULL AND ts_us - lc <= $FunnelWindowUs
              |  AND lvc IS NOT NULL AND ts_us - lvc <= $FunnelWindowUs
              |  THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
              |ROUND(CAST(SUM(CASE WHEN lc IS NOT NULL AND ts_us - lc <= $FunnelWindowUs
              |  AND lvc IS NOT NULL AND ts_us - lvc <= $FunnelWindowUs
              |  THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS conv_rate
              |FROM s2 WHERE event_type = 'purchase'
              |GROUP BY user_id""".stripMargin)),

    // E3 (beyond-ref): first-order Markov transition matrix over each
    // user's event sequence — the user-journey model behind funnel
    // design. One (user, ts) window pass for the lag, then a
    // type²-grain aggregate; transition probabilities are exact
    // integer count ratios rounded once. The |types|² output is
    // constant-size at any corpus scale.
    QueryDef("e3_transitions",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        val wSrc = Window.partitionBy(col("prev_type"))
        ev(s, d).drop("props")
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p_next",
            round(col("n").cast("double") / sum(col("n")).over(wSrc), 6))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             |    event_type FROM events),
             |seq AS (SELECT event_type,
             |    LAG(event_type, 1) OVER (PARTITION BY user_id
             |      ORDER BY ts_us, event_id) AS prev_type FROM e),
             |t AS (SELECT prev_type, event_type AS next_type,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
             |SELECT prev_type, next_type, n,
             |ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 6)
             |  AS p_next
             |FROM t""".stripMargin)),

    // E5 (beyond-ref): DAU / rolling-7-day WAU — the activity chart
    // every product dashboard leads with. The distinct (user, day)
    // grid computes once (checkpointed); DAU is a count on it; WAU
    // range-joins the day axis to the grid (|days| × active-users
    // fan-out, bounded by the window width — never events × events)
    // and distinct-counts per day.
    QueryDef("e5_active_users",
      (s, d) => {
        val days = ev(s, d)
          .select(col("user_id"),
            to_date(timestamp_micros(col("ts_us"))).as("day"))
          .distinct().localCheckpoint(false)
        val dau = days.groupBy(col("day")).agg(count(lit(1)).as("dau"))
        val wau = days.select(col("day")).distinct()
          .join(days.select(col("user_id"), col("day").as("uday")),
            col("uday").between(date_sub(col("day"), 6), col("day")))
          .groupBy(col("day"))
          .agg(countDistinct(col("user_id")).as("wau"))
        dau.join(wau, Seq("day"))
          .select(col("day"), col("dau"), col("wau"))
      },
      Some("""WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
             |  FROM events),
             |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
             |  FROM days GROUP BY 1),
             |axis AS (SELECT DISTINCT day FROM days),
             |wau AS (SELECT axis.day,
             |    COUNT(DISTINCT d2.user_id) AS wau
             |  FROM axis JOIN days d2
             |    ON d2.day BETWEEN axis.day - 6 AND axis.day
             |  GROUP BY 1)
             |SELECT day, dau, wau FROM dau JOIN wau USING (day)""".stripMargin)),

    // E4 (beyond-ref): cohort retention triangle — users grouped by
    // first-activity day, counted per day offset. Two aggregates
    // (user grain, then cohort×offset grain), both map-side
    // combinable; the output is |days|²/2 rows regardless of user
    // count. The classic growth-dashboard query.
    QueryDef("e4_retention",
      (s, d) => {
        val days = ev(s, d)
          .select(col("user_id"),
            to_date(timestamp_micros(col("ts_us"))).as("day"))
          .distinct()
        val cohort = days.groupBy(col("user_id"))
          .agg(min(col("day")).as("cohort_day"))
        // `days` is distinct on (user, day) and offset is a function
        // of day for a fixed user, so each user hits a (cohort,
        // offset) cell at most once: COUNT(*) == COUNT(DISTINCT user)
        // without the distinct-aggregate's extra exchange.
        days.join(cohort, "user_id")
          .groupBy(col("cohort_day"),
            datediff(col("day"), col("cohort_day")).cast("long")
              .as("offset_days"))
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
             |  FROM events),
             |cohort AS (SELECT user_id, MIN(day) AS cohort_day
             |  FROM days GROUP BY 1)
             |SELECT cohort_day,
             |CAST(day - cohort_day AS BIGINT) AS offset_days,
             |COUNT(*) AS n_users
             |FROM days JOIN cohort USING (user_id)
             |GROUP BY 1, 2""".stripMargin)),

    // Rows-only (hash-seed-dependent estimates; EventsSpec proves the
    // (ε, δ) bound against exact counts).
    QueryDef("e6_heavy_hitters_cms",
      (s, d) => {
        val e = ev(s, d)
        heavyHittersCms(e, eventTypeWatchlist(e))
      },
      None),

    // P23 (beyond-ref): last-observation-carried-forward imputation.
    // 'error' events carry no valid measurement (the sensor-dropout
    // convention); each gets the user's most recent valid value, or
    // NULL before any. One window over the same (user, ts) ordering
    // every sequence op here shares; the value passes through
    // untouched (no float arithmetic), so the fill is trivially
    // engine-identical.
    QueryDef("p23_fill_forward",
      (s, d) => fillForward(evv(s, d)),
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) ts_us,
             |  event_type, value FROM events),
             |c AS (SELECT *, CASE WHEN event_type <> 'error'
             |    THEN value END AS v_clean FROM e)
             |SELECT event_id, user_id, ts_us, event_type,
             |last_value(v_clean IGNORE NULLS) OVER (
             |  PARTITION BY user_id ORDER BY ts_us, event_id
             |  ROWS UNBOUNDED PRECEDING) AS filled_value,
             |CAST(v_clean IS NULL AND last_value(v_clean IGNORE NULLS)
             |  OVER (PARTITION BY user_id ORDER BY ts_us, event_id
             |  ROWS UNBOUNDED PRECEDING) IS NOT NULL AS INT)
             |  AS was_imputed
             |FROM c""".stripMargin)),

    // E7 (beyond-ref): last-touch attribution — each purchase's value
    // credited to the user's most recent non-purchase event type
    // ('direct' when none precedes). The same single-sort window
    // carry as the funnel (no as-of join materializes); revenue sums
    // in exact cents.
    QueryDef("e7_attribution",
      (s, d) => attribution(evv(s, d)),
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) ts_us,
             |  event_type, value FROM events),
             |c AS (SELECT *, last_value(CASE WHEN event_type <> 'purchase'
             |    THEN event_type END IGNORE NULLS) OVER (
             |    PARTITION BY user_id ORDER BY ts_us, event_id
             |    ROWS UNBOUNDED PRECEDING) AS last_ch
             |  FROM e)
             |SELECT COALESCE(last_ch, 'direct') AS channel,
             |CAST(COUNT(*) AS BIGINT) AS n_purchases,
             |ROUND(CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS DOUBLE)
             |  / 100.0, 2) AS revenue
             |FROM c WHERE event_type = 'purchase'
             |GROUP BY 1""".stripMargin)),

    // E10 (beyond-ref): key-skew audit — the monitor that catches a
    // hot key before it melts a shuffle (the operational companion to
    // the J7 salted join and AQE skew handling: measure first, salt
    // the keys this report names). One map-side-combined aggregate at
    // key grain + a 1-row totals broadcast + a k-row TakeOrdered.
    QueryDef("e10_key_skew",
      (s, d) => keySkew(ev(s, d)),
      Some(s"""WITH per AS (SELECT user_id, CAST(COUNT(*) AS BIGINT)
              |    n_events FROM events GROUP BY 1),
              |t AS (SELECT CAST(SUM(n_events) AS BIGINT) n_total,
              |  CAST(COUNT(*) AS BIGINT) n_keys FROM per)
              |SELECT user_id, n_events,
              |CAST(ROUND(n_events * 1000000.0 / n_total) AS BIGINT) share_ppm,
              |CAST(ROUND(n_events * n_keys * 1000000.0 / n_total) AS BIGINT)
              |  x_mean_ppm
              |FROM per, t ORDER BY n_events DESC, user_id
              |LIMIT $SkewTopK""".stripMargin)),

    // E11 (beyond-ref): per-type freshness/staleness — see freshness.
    QueryDef("e11_freshness",
      (s, d) => freshness(ev(s, d)),
      Some(s"""WITH e AS (SELECT event_type, epoch_us(ts) ts_us FROM events),
              |t AS (SELECT MAX(ts_us) corpus_max_us FROM e),
              |p AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) n_events,
              |  MAX(ts_us) last_ts_us FROM e GROUP BY 1)
              |SELECT event_type, n_events, last_ts_us,
              |(corpus_max_us - last_ts_us) // 60000000 AS lag_minutes,
              |CAST((corpus_max_us - last_ts_us) // 60000000 > $FreshStaleMin
              |  AS BIGINT) AS is_stale
              |FROM p, t""".stripMargin)),

    // E12 (beyond-ref): top session opening paths — see
    // topSessionPaths.
    QueryDef("e12_top_paths",
      (s, d) => topSessionPaths(ev(s, d)),
      Some(s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) ts_us,
              |  event_type FROM events),
              |g AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
              |    OR ts_us - lag(ts_us) OVER w > $PathGapUs
              |    THEN 1 ELSE 0 END AS is_start
              |  FROM e WINDOW w AS (PARTITION BY user_id
              |    ORDER BY ts_us, event_id)),
              |sess AS (SELECT *, CAST(SUM(is_start) OVER (
              |    PARTITION BY user_id ORDER BY ts_us, event_id
              |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              |  FROM g),
              |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id,
              |    session_id ORDER BY ts_us, event_id) rn FROM sess),
              |p AS (SELECT user_id, session_id,
              |    concat_ws('>', MAX(CASE WHEN rn = 1 THEN event_type END),
              |      MAX(CASE WHEN rn = 2 THEN event_type END),
              |      MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
              |  FROM r WHERE rn <= 3 GROUP BY 1, 2)
              |SELECT path, CAST(COUNT(*) AS BIGINT) n_sessions FROM p
              |GROUP BY 1 ORDER BY n_sessions DESC, path
              |LIMIT $PathK""".stripMargin)),

    // E14 (beyond-ref): session covisitation candidates — see
    // covisitation for the cap/top-k scale devices.
    QueryDef("ml_covisitation",
      (s, d) => covisitation(ev(s, d)), Some(covisSql)),

    QueryDef("e9_new_vs_returning",
      (s, d) => newVsReturning(Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"))),
      Some("""WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
             |  FROM events),
             |first AS (SELECT user_id, MIN(day) AS first_day
             |  FROM days GROUP BY 1)
             |SELECT day, CAST(COUNT(*) AS BIGINT) AS active,
             |CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
             |  AS BIGINT) AS new_users,
             |CAST(COUNT(*) - SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
             |  AS BIGINT) AS returning
             |FROM days JOIN first USING (user_id)
             |GROUP BY 1""".stripMargin))
  )

  /** E10: top-k hottest keys by row count, with corpus share and
    * multiple-of-mean in exact ppm — see the e10_key_skew QueryDef.
    * At scale: key-grain aggregate (map-side combined), 1-row totals
    * broadcast, TakeOrderedAndProject for the k-row cut; nothing
    * driver-side grows with data volume.
    */
  def keySkew(events: DataFrame, k: Int = SkewTopK): DataFrame = {
    val per = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val tot = per.agg(sum(col("n_events")).as("n_total"),
      count(lit(1)).as("n_keys"))
    per.crossJoin(broadcast(tot)) // 1-row totals
      .select(col("user_id"), col("n_events"),
        round(col("n_events") * lit(1000000.0d) / col("n_total"))
          .cast("long").as("share_ppm"),
        round(col("n_events") * col("n_keys") * lit(1000000.0d) /
          col("n_total")).cast("long").as("x_mean_ppm"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(k)
  }

  /** E9: daily new-vs-returning actives — the acquisition half of the
    * E5 activity chart. The (user, day) grid reduces once; first-seen
    * day is a per-user min; a day's "new" are the users whose first
    * day it is. Two small aggregates, exact integers.
    */
  def newVsReturning(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"),
        to_date(timestamp_micros(col("ts_us"))).as("day"))
      .distinct().localCheckpoint(false)
    val first = days.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    days.join(first, Seq("user_id"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("active"),
        sum((col("day") === col("first_day")).cast("long")).as("new_users"))
      .select(col("day"), col("active"), col("new_users"),
        (col("active") - col("new_users")).as("returning"))
  }

  /** See the p23_fill_forward QueryDef. */
  def fillForward(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("v_clean",
        when(col("event_type") =!= "error", col("value")))
      .withColumn("filled_value",
        last(col("v_clean"), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("filled_value"),
        (col("v_clean").isNull && col("filled_value").isNotNull)
          .cast("int").as("was_imputed"))
  }

  /** See the e7_attribution QueryDef. */
  def attribution(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("last_ch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("last_ch"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(floor(col("value") * lit(100.0))).cast("double")
          / 100.0, 2).as("revenue"))
  }
}
