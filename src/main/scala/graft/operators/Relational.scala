package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Functions._
import graft.streaming.Dashboard
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch relational core (SURVEY §2.2–§2.7, M1): scans, filters,
  * aggregations, joins, sorts/top-k, set ops — all stock Catalyst
  * operators. Each QueryDef carries its DuckDB oracle.
  *
  * Scale notes (100 TB):
  *  - dims (part/supplier/nation/region, and customer at these SFs)
  *    are broadcast — no shuffle on the fact side for enrichment;
  *  - every groupBy keys on a stable, well-distributed column
  *    (partkey/custkey/date) → hash partial+final aggregation with
  *    map-side combine; no driver-side collection anywhere;
  *  - top-k goes through TakeOrderedAndProject (no global sort);
  *  - filters/projections are plain Column exprs → pushed to the
  *    parquet scan (PushedFilters/ReadSchema verified in RelationalSpec).
  */
object Relational {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)

  /** J11: bloom-prefiltered selective join. The urgent-priority order
    * keys are collapsed to a broadcast bloom sketch (one distributed
    * aggregate; ~1.2 MB per 10⁶ keys at fpp 1%), the fact scan probes
    * it locally, and only surviving rows enter the shuffle join —
    * which then removes the fpp false positives, so the result is
    * EXACT and the sketch is pure shuffle-volume savings (~5× here:
    * one priority class of five). The two passes over the key side
    * (count to size, aggregate to build) are column-pruned single-
    * int64 scans; at 100 TB the count comes from table stats instead.
    * Build and probe are Spark's OWN runtime-filter expression pair
    * (BloomFilterAggregate / BloomFilterMightContain, injected as
    * graft_bloom_agg / graft_might_contain — round 11; formerly a
    * Scala UDF over a broadcast sketch), composed by
    * Functions.bloomMightContain: the filter builds in a scalar
    * subquery (never a plan literal), honest-at-fpp at any key count
    * (the session bloom caps raise with the request), and the probe
    * stays inside whole-stage codegen (PlanSpec pins it).
    */
  def bloomPrefilterJoin(orders: DataFrame, lineitem: DataFrame,
                         fpp: Double = 0.01): DataFrame = {
    val keys = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val nKeys = keys.count()
    val pre =
      if (nKeys == 0) lineitem.filter(lit(false))
      else lineitem.filter(graft.functions.Functions.bloomMightContain(
        keys, "o_orderkey", "graft_bloom_j11_keys", nKeys, fpp,
        col("l_orderkey")))
    pre.join(keys, pre("l_orderkey") === keys("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("revenue"))
  }

  /** S26: snapshot diff — the change-data-feed EXPORT (Delta's
    * table_changes / CDC-out shape, the inverse of the S12 ingest
    * side): given two keyed snapshots, emit one row per changed key
    * with op ∈ insert/update/delete. One full-outer shuffle join on
    * the key; payload comparison happens on caller-built canonical
    * payload strings (exact-integer encodings, never float formatting)
    * so the diff is engine-exact. Output is |changed keys| rows —
    * a daily diff of a 100 TB table is change-sized, not table-sized,
    * after partition pruning limits both reads to touched partitions.
    */
  def snapshotDiff(oldS: DataFrame, newS: DataFrame): DataFrame =
    oldS.select(col("k"), col("payload").as("p_old"))
      .join(newS.select(col("k"), col("payload").as("p_new")),
        Seq("k"), "full_outer")
      .withColumn("op", when(col("p_old").isNull, "insert")
        .when(col("p_new").isNull, "delete")
        .when(col("p_old") =!= col("p_new"), "update"))
      .filter(col("op").isNotNull)
      .select(col("k").as("key"), col("op"))

  val defs: Seq[QueryDef] = Seq(

    // S1/P1/P10: filtered+projected scan, pushdown-friendly
    // (reference dags/daily_pipeline.py:54-66).
    QueryDef("s1_filtered_scan",
      (s, d) => ord(s, d)
        .filter(col("o_orderstatus").isin("O", "P") &&
          col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), to_date(col("o_orderdate")).as("order_date")),
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |CAST(o_orderdate AS DATE) AS order_date FROM orders
             |WHERE o_orderstatus IN ('O','P')
             |AND o_orderdate >= TIMESTAMP '1998-01-01'""".stripMargin)),

    // P2–P6: silver cleaning over the fact (reference
    // dags/daily_pipeline.py:108-118). total recomputed, never trusted.
    QueryDef("p_clean_silver",
      (s, d) => {
        val f = li(s, d).select(
          col("l_orderkey").as("order_id"), col("l_linenumber").as("line"),
          col("l_extendedprice").as("price"), col("l_quantity").as("quantity"),
          col("l_returnflag").as("status"))
        Cleaning.cleanOrders(f)
          .select(col("order_id"), col("line"), col("price"),
            col("quantity"), col("total"), col("status"))
      },
      Some("""SELECT l_orderkey AS order_id, l_linenumber AS line,
             |ABS(l_extendedprice) AS price, l_quantity AS quantity,
             |ABS(l_extendedprice)*l_quantity AS total, l_returnflag AS status
             |FROM lineitem WHERE l_orderkey IS NOT NULL AND l_quantity > 0
             |AND l_returnflag IS NOT NULL AND l_returnflag <> ''""".stripMargin)),

    // A1: global daily summary (dags/daily_pipeline.py:149-156).
    QueryDef("a1_daily_summary",
      (s, d) => li(s, d).agg(
        count(lit(1)).as("total_rows"),
        dsum(col("l_extendedprice")).as("total_revenue"),
        countDistinct(col("l_partkey")).as("unique_parts"),
        countDistinct(col("l_suppkey")).as("unique_suppliers")),
      Some("""SELECT COUNT(*) AS total_rows,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
             |COUNT(DISTINCT l_partkey) AS unique_parts,
             |COUNT(DISTINCT l_suppkey) AS unique_suppliers FROM lineitem""".stripMargin)),

    // A2: per-category gold rollup (dags/daily_pipeline.py:158-163) —
    // category comes from the part dim (J3 broadcast enrichment).
    QueryDef("a2_category_agg",
      (s, d) => li(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type").as("category"))
        .agg(count(lit(1)).as("order_count"),
          dsum(col("l_extendedprice")).as("revenue")),
      Some("""SELECT p_type AS category, COUNT(*) AS order_count,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_type""".stripMargin)),

    // A3–A7: the five dashboard tables (micro_batch_dashboard.py:95-133)
    // through the production Dashboard functions: each reads a TPC-H
    // projection renamed to the order shape and renames its outputs
    // back, so the oracle checks the code the dashboards run. avg =
    // exact-sum/count so both engines divide identical operands; the
    // top-k is a TakeOrderedAndProject with a key tie-break.
    QueryDef("a3_dashboard_metrics",
      (s, d) => Dashboard.overallMetrics(ord(s, d).select(
        col("o_totalprice").as("total"), col("o_custkey").as("customer_id"))),
      Some("""SELECT COUNT(*) AS total_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
             |COUNT(DISTINCT o_custkey) AS unique_customers,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_order_value
             |FROM orders""".stripMargin)),

    QueryDef("a4_top_products",
      (s, d) => Dashboard.topProducts(li(s, d).select(
          col("l_partkey").as("product_name"), col("l_quantity").as("quantity"),
          col("l_extendedprice").as("total")))
        .withColumnsRenamed(Map("product_name" -> "l_partkey",
          "quantity_sold" -> "total_quantity")),
      Some("""SELECT l_partkey, COUNT(*) AS order_count,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_quantity,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM lineitem GROUP BY l_partkey
             |ORDER BY revenue DESC, l_partkey LIMIT 10""".stripMargin)),

    // A5 over the brand dim.
    QueryDef("a5_brand_stats",
      (s, d) => Dashboard.categoryStats(li(s, d)
          .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
          .select(col("p_brand").as("category"), col("l_extendedprice").as("total"),
            col("l_quantity").as("quantity")))
        .withColumnsRenamed(Map("category" -> "p_brand",
          "quantity_sold" -> "total_quantity")),
      Some("""SELECT p_brand, COUNT(*) AS order_count,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_quantity
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand""".stripMargin)),

    // A6: customer→nation→region chain, dims broadcast.
    QueryDef("a6_regional_stats",
      (s, d) => Dashboard.regionalStats(ord(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("region"), col("o_totalprice").as("total"))),
      Some("""SELECT r_name AS region, COUNT(*) AS order_count,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name""".stripMargin)),

    // A7/P10: hourly stats over the event stream.
    QueryDef("a7_hourly_stats",
      (s, d) => Dashboard.hourlyStats(Tables.events(s, d)
          .select(col("ts").as("order_date"), col("value").as("total")))
        .withColumnsRenamed(Map("order_count" -> "event_count",
          "revenue" -> "total_value")),
      Some("""SELECT CAST(HOUR(ts) AS BIGINT) AS hour, COUNT(*) AS event_count,
             |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
             |FROM events GROUP BY 1""".stripMargin)),

    // A8/A12: distinct user–item interactions (daily_pipeline.py:202)
    // — the CF input. orders⋈lineitem on orderkey (both sides large →
    // shuffle hash join on the join key; at 100 TB both sides would be
    // bucketed by orderkey to make this co-located).
    QueryDef("a8_interactions",
      (s, d) => li(s, d)
        .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
        .distinct(),
      Some("""SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin)),

    // A9: dedup keep-latest (daily_pipeline.py:267-270) — pandas
    // keep='last' made deterministic via (ts desc, event_id desc).
    QueryDef("a9_dedup_keep_latest",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts").desc, col("event_id").desc)
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"), col("event_id"),
            col("value"), unix_micros(col("ts")).as("ts_us"))
      },
      Some("""SELECT user_id, event_type, event_id, value,
             |epoch_us(ts) AS ts_us FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
             |    ORDER BY ts DESC, event_id DESC) AS rn FROM events)
             |WHERE rn = 1""".stripMargin)),

    // A10: exact count-distinct per group (daily_pipeline.py:205-206).
    QueryDef("a10_count_distinct",
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("unique_users"),
          count(lit(1)).as("n")),
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS unique_users,
             |COUNT(*) AS n FROM events GROUP BY event_type""".stripMargin)),

    // A10': HLL++ approximate variant — the 100 TB path where an exact
    // distinct would force a full shuffle of user ids. Sketch params
    // differ across engines → rows-only check (no oracle).
    QueryDef("a10_approx_count_distinct",
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users")),
      None),

    // A11: daily rollup, ordered + limited (setup_source_db.py:290-299).
    QueryDef("a11_daily_rollup",
      (s, d) => ord(s, d)
        .groupBy(to_date(col("o_orderdate")).as("order_date"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("order_date"))
        .limit(10),
      Some("""SELECT CAST(o_orderdate AS DATE) AS order_date,
             |COUNT(*) AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders GROUP BY 1 ORDER BY order_date LIMIT 10""".stripMargin)),

    // J1: left-semi (daily_pipeline.py:483-484 membership restrict).
    QueryDef("j1_semi_join",
      (s, d) => Tables.customer(s, d)
        .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    // J2: left-anti (daily_pipeline.py:519-520 purchased-mask).
    QueryDef("j2_anti_join",
      (s, d) => Tables.part(s, d)
        .join(li(s, d), col("p_partkey") === col("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_name")),
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""".stripMargin)),

    // J3: multi-dim star enrichment (TPC-H Q5 shape) — the join
    // capability the reference only holds via Trino/denormalization.
    // Fact⋈orders shuffles on orderkey; every dim is broadcast.
    QueryDef("j3_star_join",
      (s, d) => li(s, d)
        .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("n_name").as("nation"))
        .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_items")),
      Some("""SELECT n_name AS nation,
             |CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             |COUNT(*) AS n_items
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             |AND o_orderdate < TIMESTAMP '1998-01-01'
             |GROUP BY n_name""".stripMargin)),

    // J11 (beyond-ref): bloom-prefiltered join — the shuffle-volume
    // device for a selective join whose key side is too big to
    // broadcast-hash-join but whose KEY SET fits a few-MB bloom
    // sketch (what Spark's own runtime InjectRuntimeFilter automates
    // when stats line up; here it is explicit and deterministic).
    // See bloomPrefilterJoin.
    QueryDef("j11_bloom_prefilter",
      (s, d) => bloomPrefilterJoin(ord(s, d), li(s, d)),
      Some("""SELECT l_returnflag,
             |COUNT(*) AS n_items,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority = '1-URGENT'
             |GROUP BY 1""".stripMargin)),

    // S26 (beyond-ref): CDC-out snapshot diff. The two snapshots
    // derive deterministically from orders in-query (yesterday =
    // keys%10≠3, today = keys%10≠9 with %10==7 repriced), so both
    // engines diff identical tables; payloads encode money as exact
    // cents, never float strings.
    QueryDef("cdc_snapshot_diff",
      (s, d) => {
        val base = ord(s, d).select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("st"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
        val oldS = base.filter(col("k") % 10 =!= 3)
          .select(col("k"), concat_ws("|", col("st"), col("cents"))
            .as("payload"))
        val newS = base.filter(col("k") % 10 =!= 9)
          .select(col("k"), concat_ws("|", col("st"),
            when(col("k") % 10 === 7, col("cents") + 100L)
              .otherwise(col("cents"))).as("payload"))
        snapshotDiff(oldS, newS)
      },
      Some("""WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
             |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |o AS (SELECT k, st || '|' || cents AS payload FROM base
             |  WHERE k % 10 <> 3),
             |n AS (SELECT k, st || '|' ||
             |    (CASE WHEN k % 10 = 7 THEN cents + 100 ELSE cents END)
             |    AS payload FROM base WHERE k % 10 <> 9)
             |SELECT COALESCE(o.k, n.k) AS key,
             |CASE WHEN o.k IS NULL THEN 'insert'
             |  WHEN n.k IS NULL THEN 'delete'
             |  WHEN o.payload <> n.payload THEN 'update' END AS op
             |FROM o FULL OUTER JOIN n ON o.k = n.k
             |WHERE o.k IS NULL OR n.k IS NULL
             |  OR o.payload <> n.payload""".stripMargin)),

    // A4-salted: the skew-mitigation pattern — two-stage aggregation
    // through an explicit salt so one hot key spreads over 16 partial
    // groups before the final combine. Identical results to a4 (sums
    // stay in exact DECIMAL through both stages); at 100 TB this is
    // what a skewed groupBy key gets rewritten to when AQE's skew
    // handling isn't enough (AQE splits skewed JOINS, not aggs).
    QueryDef("a4_salted_topk",
      (s, d) => {
        val partial = li(s, d)
          .withColumn("salt", col("l_orderkey") % 16)
          .groupBy(col("l_partkey"), col("salt"))
          .agg(count(lit(1)).as("c"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).as("r"))
        partial.groupBy(col("l_partkey"))
          .agg(sum(col("c")).as("order_count"),
            sum(col("r")).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("l_partkey"))
          .limit(10)
      },
      Some("""SELECT l_partkey, COUNT(*) AS order_count,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM lineitem GROUP BY l_partkey
             |ORDER BY revenue DESC, l_partkey LIMIT 10""".stripMargin)),

    // A18 (beyond-ref): hierarchical ROLLUP — subtotals per
    // (segment, status), per segment, and grand total in one pass
    // (Expand + single aggregation, not three scans).
    QueryDef("a18_rollup",
      (s, d) => ord(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .rollup(col("c_mktsegment").as("segment"),
          col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue")),
      Some("""SELECT c_mktsegment AS segment, o_orderstatus AS status,
             |COUNT(*) AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY ROLLUP (c_mktsegment, o_orderstatus)""".stripMargin)),

    // A19 (beyond-ref): CUBE — all 2² grouping sets in one Expand
    // pass (one shuffle), with grouping_id disambiguating subtotal
    // rows from genuine NULL groups.
    QueryDef("a19_cube",
      (s, d) => ord(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .cube(col("c_mktsegment").as("segment"),
          col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue"),
          grouping_id().cast("long").as("gid")),
      Some("""SELECT c_mktsegment AS segment, o_orderstatus AS status,
             |COUNT(*) AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             |CAST(GROUPING(c_mktsegment, o_orderstatus) AS BIGINT) AS gid
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY CUBE (c_mktsegment, o_orderstatus)""".stripMargin)),

    // A25 (beyond-ref): arbitrary GROUPING SETS — the two 1-D margins
    // without the (segment, status) cross cells CUBE would also
    // compute; still one Expand pass.
    QueryDef("a25_grouping_sets",
      (s, d) => ord(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          col("o_orderstatus").as("status"), col("o_totalprice"))
        .groupingSets(Seq(Seq(col("segment")), Seq(col("status"))),
          col("segment"), col("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue"),
          grouping_id().cast("long").as("gid")),
      Some("""SELECT c_mktsegment AS segment, o_orderstatus AS status,
             |COUNT(*) AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             |CAST(GROUPING(c_mktsegment, o_orderstatus) AS BIGINT) AS gid
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus))""".stripMargin)),

    // A20 (beyond-ref): 7-day moving average over the daily rollup —
    // a RANGE window frame keyed on the day ordinal, so gap days
    // genuinely shrink the frame (a ROWS frame would be wrong).
    // Cross-engine exactness: the frame SUM runs on DECIMAL(18,2)
    // (exact at any summation order — window aggregation order is
    // engine-internal), cast to double only at the final division.
    // Scale: the window input is day-grain (3 orders of magnitude
    // smaller than the fact table), so the unpartitioned sort is a
    // few KB at any corpus size.
    QueryDef("a20_moving_avg",
      (s, d) => {
        val daily = ord(s, d)
          .groupBy(to_date(col("o_orderdate")).as("order_date"))
          .agg(sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .as("rev_dec"))
        val w = Window.orderBy(col("day_ord")).rangeBetween(-6, 0)
        daily
          .withColumn("day_ord",
            datediff(col("order_date"), to_date(lit("1970-01-01"))))
          .withColumn("revenue", col("rev_dec").cast("double"))
          .withColumn("ma7",
            round(sum(col("rev_dec")).over(w).cast("double") /
              count(lit(1)).over(w), 6))
          .select(col("order_date"), col("revenue"), col("ma7"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS order_date,
             |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
             |  FROM orders GROUP BY 1)
             |SELECT order_date, CAST(rev_dec AS DOUBLE) AS revenue,
             |ROUND(CAST(SUM(rev_dec) OVER w AS DOUBLE) / (COUNT(*) OVER w), 6) AS ma7
             |FROM daily WINDOW w AS (
             |  ORDER BY CAST(order_date - DATE '1970-01-01' AS BIGINT)
             |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // O2: plain top-k scan → TakeOrderedAndProject.
    QueryDef("o2_top_events",
      (s, d) => Tables.events(s, d)
        .orderBy(col("value").desc, col("event_id"))
        .limit(10)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
      Some("""SELECT event_id, user_id, event_type, value FROM events
             |ORDER BY value DESC, event_id LIMIT 10""".stripMargin)),

    // U1: union-all accumulation + dedup (daily_pipeline.py:260-270).
    QueryDef("u1_union_dedup",
      (s, d) => {
        val e = Tables.events(s, d)
        e.filter(col("event_type") === "purchase")
          .unionByName(e.filter(col("value") > 400))
          .select(col("event_id"), col("user_id"), col("event_type"))
          .distinct()
      },
      Some("""SELECT DISTINCT event_id, user_id, event_type FROM (
             |  SELECT * FROM events WHERE event_type = 'purchase'
             |  UNION ALL SELECT * FROM events WHERE value > 400)""".stripMargin)),

    // U3: deterministic sampling — the reference's seeded
    // np.random.choice (daily_pipeline.py:495-496) re-keyed as a
    // stable hash-bucket filter (any engine, any partitioning draws
    // the same ~10% sample), top-100 by key for a bounded output.
    QueryDef("u3_sample",
      (s, d) => Tables.events(s, d)
        .filter(bucket10(col("event_id"), lit(7L)) === 0)
        .orderBy(col("event_id"))
        .limit(100)
        .select(col("event_id"), col("user_id"), col("event_type")),
      Some("""SELECT event_id, user_id, event_type FROM events
             |WHERE ((event_id % 100003) * 31 + 7 * 97) % 10 = 0
             |ORDER BY event_id LIMIT 100""".stripMargin)),

    // A21 (beyond-ref): exact per-group median — rank-based (avg of
    // the middle one/two DECIMAL(18,2) values), NOT an interpolated
    // quantile_cont/percentile call whose float interpolation is
    // engine-internal. One window pass per group + one aggregate;
    // group cardinality is status-grain so the sort is per-group.
    // The 100 TB form of arbitrary quantiles is the sketch
    // (approx_percentile, cf. txt_quality_filter_approx); this is the
    // exact contract.
    QueryDef("a21_group_median",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("price_dec"), col("o_orderkey"))
        val ranked = ord(s, d)
          .select(col("o_orderstatus"), col("o_orderkey"),
            col("o_totalprice")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2))
              .as("price_dec"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(
            Window.partitionBy(col("o_orderstatus"))))
        ranked
          .filter(col("rn") === expr("(n + 1) div 2") ||
            col("rn") === expr("(n + 2) div 2"))
          .groupBy(col("o_orderstatus").as("status"))
          .agg(max(col("n")).as("n_orders"),
            // exact decimal sum of the 1–2 middle values, ONE double
            // division (AVG's decimal return type differs per engine)
            (sum(col("price_dec")).cast("double") / count(lit(1)))
              .as("median_price"))
      },
      Some("""WITH ranked AS (SELECT o_orderstatus, o_orderkey,
             |    CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec,
             |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
             |      ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS rn,
             |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
             |  FROM orders)
             |SELECT o_orderstatus AS status,
             |CAST(MAX(n) AS BIGINT) AS n_orders,
             |CAST(SUM(price_dec) AS DOUBLE) / COUNT(*) AS median_price
             |FROM ranked
             |WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
             |GROUP BY 1""".stripMargin)),

    // A28 (beyond-ref): exact discrete quartiles per group —
    // PERCENTILE_DISC semantics (the smallest value whose cumulative
    // rank reaches p·n), which returns an ACTUAL data value by rank,
    // so no engine-internal interpolation arithmetic exists to
    // diverge. One rank window per group + one conditional-max
    // aggregate; same shape as the A21 median.
    QueryDef("a28_quartiles",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("price_dec"), col("o_orderkey"))
        val ranked = ord(s, d)
          .select(col("o_orderstatus"), col("o_orderkey"),
            col("o_totalprice")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2))
              .as("price_dec"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(
            Window.partitionBy(col("o_orderstatus"))))
        def disc(p: Double, name: String) =
          max(when(col("rn") === expr(s"CAST(ceil($p * n) AS BIGINT)"),
            col("price_dec"))).cast("double").as(name)
        ranked.groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).cast("long").as("n_orders"),
            disc(0.25, "p25"), disc(0.50, "p50"), disc(0.75, "p75"))
      },
      Some("""WITH ranked AS (SELECT o_orderstatus,
             |    CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec,
             |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
             |      ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS rn,
             |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
             |  FROM orders)
             |SELECT o_orderstatus AS status,
             |CAST(COUNT(*) AS BIGINT) AS n_orders,
             |CAST(MAX(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
             |  THEN price_dec END) AS DOUBLE) AS p25,
             |CAST(MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
             |  THEN price_dec END) AS DOUBLE) AS p50,
             |CAST(MAX(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
             |  THEN price_dec END) AS DOUBLE) AS p75
             |FROM ranked GROUP BY 1""".stripMargin)),

    // P20 (beyond-ref): winsorization — clip each group's price tail
    // at the exact discrete 5th/95th percentiles. Unlike a28 (row-
    // grain rank window), the percentiles come from a VALUE-grain
    // cumulative count: groupBy (status, price) first, window over
    // the aggregated distinct-value relation — at 100 TB the window
    // input is |distinct prices|, not |rows|, so a 3-status skew
    // can't pile the raw fact into 3 partitions. Clipping itself is
    // a broadcast join + scan-bandwidth LEAST/GREATEST; output is a
    // per-group audit summary (constant rows at any scale).
    QueryDef("p20_winsorize",
      (s, d) => {
        val rows = ord(s, d).select(col("o_orderstatus").as("status"),
          col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))
            .as("price_dec"))
        val vals = rows.groupBy(col("status"), col("price_dec"))
          .agg(count(lit(1)).as("cnt"))
        val wcum = Window.partitionBy(col("status")).orderBy(col("price_dec"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = vals
          .withColumn("cum", sum(col("cnt")).over(wcum))
          .withColumn("n", sum(col("cnt")).over(
            Window.partitionBy(col("status"))))
        def disc(p: Double, name: String) =
          min(when(col("cum") >= expr(s"CAST(ceil($p * n) AS BIGINT)"),
            col("price_dec"))).as(name)
        val cuts = cum.groupBy(col("status"))
          .agg(disc(0.05, "p05v"), disc(0.95, "p95v"))
        rows.join(broadcast(cuts), Seq("status"))
          .withColumn("clipped",
            least(greatest(col("price_dec"), col("p05v")), col("p95v")))
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n_orders"),
            sum((col("price_dec") < col("p05v")).cast("long"))
              .as("n_clipped_low"),
            sum((col("price_dec") > col("p95v")).cast("long"))
              .as("n_clipped_high"),
            max(col("p05v")).cast("double").as("p05"),
            max(col("p95v")).cast("double").as("p95"),
            dsum(col("clipped")).as("clipped_total"))
      },
      Some("""WITH rows_ AS (SELECT o_orderstatus AS status,
             |    CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec FROM orders),
             |vals AS (SELECT status, price_dec, COUNT(*) AS cnt
             |  FROM rows_ GROUP BY 1, 2),
             |cum AS (SELECT status, price_dec, cnt,
             |    SUM(cnt) OVER (PARTITION BY status ORDER BY price_dec
             |      ROWS UNBOUNDED PRECEDING) AS cum,
             |    SUM(cnt) OVER (PARTITION BY status) AS n
             |  FROM vals),
             |cuts AS (SELECT status,
             |    MIN(CASE WHEN cum >= CAST(ceil(0.05 * n) AS BIGINT)
             |      THEN price_dec END) AS p05v,
             |    MIN(CASE WHEN cum >= CAST(ceil(0.95 * n) AS BIGINT)
             |      THEN price_dec END) AS p95v
             |  FROM cum GROUP BY 1)
             |SELECT status, COUNT(*) AS n_orders,
             |CAST(SUM(CASE WHEN price_dec < p05v THEN 1 ELSE 0 END) AS BIGINT)
             |  AS n_clipped_low,
             |CAST(SUM(CASE WHEN price_dec > p95v THEN 1 ELSE 0 END) AS BIGINT)
             |  AS n_clipped_high,
             |CAST(MAX(p05v) AS DOUBLE) AS p05,
             |CAST(MAX(p95v) AS DOUBLE) AS p95,
             |CAST(SUM(CAST(LEAST(GREATEST(price_dec, p05v), p95v)
             |  AS DECIMAL(18,2))) AS DOUBLE) AS clipped_total
             |FROM rows_ JOIN cuts USING (status) GROUP BY status""".stripMargin)),

    // P18 (beyond-ref): the quality audit behind the P2-P6 cleaner —
    // per-rule violation counts in one conditional-sum scan.
    QueryDef("p18_quality_audit",
      (s, d) => Cleaning.qualityAudit(li(s, d).select(
        col("l_orderkey").as("order_id"),
        col("l_extendedprice").as("price"),
        col("l_quantity").as("quantity"),
        col("l_returnflag").as("status"))),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             |CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_key,
             |CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonpos_qty,
             |CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg_price,
             |CAST(SUM(CASE WHEN l_returnflag IS NULL OR l_returnflag = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_status,
             |CAST(SUM(CASE WHEN l_orderkey IS NOT NULL AND l_quantity > 0
             |  AND l_returnflag IS NOT NULL AND l_returnflag <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
             |ROUND(CAST(SUM(CASE WHEN l_orderkey IS NOT NULL AND l_quantity > 0
             |  AND l_returnflag IS NOT NULL AND l_returnflag <> '' THEN 1 ELSE 0 END) AS DOUBLE)
             |  / COUNT(*), 6) AS clean_ratio
             |FROM lineitem""".stripMargin)),

    // A22 (beyond-ref): collect_set with deterministic emission — the
    // set aggregate is order-free, the sorted string encoding makes
    // it engine-comparable (array cells crash the driver comparator).
    QueryDef("a22_status_sets",
      (s, d) => ord(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(concat_ws(",", sort_array(collect_set(col("o_orderstatus"))))
          .as("statuses"),
          countDistinct(col("o_orderstatus")).as("n_statuses")),
      Some("""SELECT c_mktsegment AS segment,
             |array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
             |CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1""".stripMargin)),

    // A23 (beyond-ref): pivot with an EXPLICIT value list — the
    // dynamic-values form needs a driver-side distinct pass AND makes
    // the output schema data-dependent (both wrong at scale); pinned
    // values keep it one aggregate with an Expand-free plan.
    QueryDef("a23_pivot",
      (s, d) => li(s, d)
        .groupBy(col("l_linestatus").as("linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(dsum(col("l_extendedprice"))),
      Some("""SELECT l_linestatus AS linestatus,
             |CAST(SUM(CASE WHEN l_returnflag = 'A'
             |  THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS A,
             |CAST(SUM(CASE WHEN l_returnflag = 'N'
             |  THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS N,
             |CAST(SUM(CASE WHEN l_returnflag = 'R'
             |  THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS R
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // A24 (beyond-ref): unpivot/melt to measure long form — the shape
    // feature stores and metric pipelines consume; a zero-shuffle
    // per-row Expand.
    QueryDef("a24_unpivot",
      (s, d) => li(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("quantity"),
          col("l_extendedprice").cast("double").as("extendedprice"),
          col("l_discount").cast("double").as("discount"),
          col("l_tax").cast("double").as("tax"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"),
            col("discount"), col("tax")),
          "measure", "value"),
      Some("""SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
             |  CAST(l_quantity AS DOUBLE) AS value FROM lineitem
             |UNION ALL SELECT l_orderkey, l_linenumber, 'extendedprice',
             |  CAST(l_extendedprice AS DOUBLE) FROM lineitem
             |UNION ALL SELECT l_orderkey, l_linenumber, 'discount',
             |  CAST(l_discount AS DOUBLE) FROM lineitem
             |UNION ALL SELECT l_orderkey, l_linenumber, 'tax',
             |  CAST(l_tax AS DOUBLE) FROM lineitem""".stripMargin)),

    // U5 (beyond-ref): stratified sampling — per-stratum rates (20%
    // of 'en' docs, 10% otherwise) from the same integer-arithmetic
    // bucket as U3/U4; a pure scan filter, no shuffle, any engine
    // reproduces the exact row set.
    QueryDef("u5_stratified_sample",
      (s, d) => Tables.documents(s, d)
        .withColumn("b", bucket10(col("doc_id"), lit(3L)))
        .filter(when(col("lang") === "en", col("b") < 2)
          .otherwise(col("b") < 1))
        .select(col("doc_id"), col("lang"), col("source")),
      Some("""SELECT doc_id, lang, source FROM documents
             |WHERE CASE WHEN lang = 'en'
             |  THEN ((doc_id % 100003) * 31 + 3 * 97) % 10 < 2
             |  ELSE ((doc_id % 100003) * 31 + 3 * 97) % 10 < 1 END""".stripMargin)),

    // S15: the Trino-federation role — plain SQL text over registered
    // lake tables through spark.sql (one engine subsumes the extra
    // query layer).
    QueryDef("s15_sql_surface",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        s.sql("""SELECT c_mktsegment AS segment, COUNT(*) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
                 FROM v_orders JOIN v_customer ON o_custkey = c_custkey
                 GROUP BY c_mktsegment""")
      },
      Some("""SELECT c_mktsegment AS segment, COUNT(*) AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment""".stripMargin)),

    // O5' (beyond-ref): keyset pagination — the scale-correct "page
    // N" shape. OFFSET pagination scans+discards every earlier row
    // (O(page · depth) at 100 TB); a keyset cursor turns the page
    // fetch into a pushed-down range filter + top-k
    // (TakeOrderedAndProject), constant work per page. Cursor tuple
    // compare is spelled out so both engines use identical semantics.
    QueryDef("o5_keyset_page",
      (s, d) => {
        val (v0, id0) = (250.0d, 5000L) // cursor = last row of prior page
        Tables.events(s, d)
          .filter(col("value") > v0 ||
            (col("value") === v0 && col("event_id") > id0))
          .orderBy(col("value"), col("event_id"))
          .limit(100)
          .select(col("event_id"), col("user_id"), col("value"))
      },
      Some("""SELECT event_id, user_id, value FROM events
             |WHERE value > 250.0 OR (value = 250.0 AND event_id > 5000)
             |ORDER BY value, event_id LIMIT 100""".stripMargin)),

    // U10 (beyond-ref): weighted sampling WITHOUT replacement
    // (Efraimidis–Spirakis A-ES) — the training-data sampling op U3's
    // uniform bucket can't express: P(row in sample) ∝ its weight.
    // The classic algorithm keeps the k rows minimizing −ln(u)/w for
    // uniform u; the RNG is replaced by the stable integer-arithmetic
    // hash (the bucket10 family, modulus 10⁶+3 for fine grain), so
    // the sample is engine/partitioning/run stable, and the single
    // −ln runs on one fixed-shape double both engines compute
    // bit-identically. One scan + one TakeOrdered — no shuffle wider
    // than the k-row cut, scan-bandwidth at any scale.
    QueryDef("u10_weighted_sample",
      (s, d) => weightedSample(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice")),
        "o_orderkey", "o_totalprice"),
      Some("""WITH h AS (SELECT o_orderkey, o_totalprice,
             |  ((o_orderkey % 1000003) * 31 + 7 * 97) % 1000003 AS hv
             |  FROM orders)
             |SELECT o_orderkey, o_totalprice FROM h
             |ORDER BY -ln(CAST(hv + 1 AS DOUBLE) / 1000004.0)
             |  / o_totalprice, o_orderkey LIMIT 100""".stripMargin)),

    // U4: seeded stratified 80/20 split (daily_pipeline.py:217-224).
    // numpy RNG can't be replayed cross-engine, so the seed becomes a
    // stable integer-arithmetic bucket of the row key — same split on
    // any engine, any partitioning, any day (SURVEY §7 risk 2 analog).
    QueryDef("u4_train_test_split",
      (s, d) => li(s, d)
        .withColumn("split",
          when(bucket10(col("l_orderkey"), col("l_linenumber").cast("long")) < 8,
            lit("train")).otherwise(lit("eval")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("l_orderkey")).as("n_orders")),
      Some("""SELECT CASE WHEN ((l_orderkey % 100003) * 31 + l_linenumber * 97) % 10 < 8
             |THEN 'train' ELSE 'eval' END AS split,
             |COUNT(*) AS n, COUNT(DISTINCT l_orderkey) AS n_orders
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // U6 (beyond-ref): deterministic k-fold assignment — the
    // cross-validation companion of U4: fold id from the same integer
    // bucket arithmetic (no RNG, engine/partitioning/run stable), so
    // "train on folds ≠ i" is a scan filter any engine replays.
    QueryDef("u6_kfold",
      (s, d) => li(s, d)
        .withColumn("fold",
          expr("((l_orderkey % 100003) * 31 + l_linenumber * 97) % 5"))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          dsum(col("l_extendedprice")).as("revenue")),
      Some("""SELECT ((l_orderkey % 100003) * 31 + l_linenumber * 97) % 5 AS fold,
             |COUNT(*) AS n, COUNT(DISTINCT l_orderkey) AS n_orders,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // A29 (beyond-ref): fixed-width histogram — the distribution
    // monitor behind p20's clip thresholds. Bin id is integer
    // arithmetic on the DECIMAL price (engine-exact), share divides
    // exact counts once. One map-side-combinable aggregate + a 1-row
    // broadcast total: output is |bins| rows at any scale.
    QueryDef("a29_histogram",
      (s, d) => {
        val binW = 25000L
        // floor explicitly: Spark's decimal→long cast truncates while
        // DuckDB's rounds — FLOOR states the same rule on both engines
        val binned = ord(s, d)
          .select(expr("CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)))" +
            s" AS BIGINT) div $binW").as("bin"))
          .groupBy(col("bin")).agg(count(lit(1)).as("n"))
        val total = binned.agg(sum(col("n")).as("total"))
        binned.join(broadcast(total))
          .select(col("bin"), (col("bin") * binW).as("bin_lo"),
            col("n"),
            round(col("n").cast("double") / col("total"), 6).as("share"))
      },
      Some("""WITH b AS (SELECT CAST(CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS BIGINT) // 25000 AS BIGINT) AS bin, COUNT(*) AS n
             |  FROM orders GROUP BY 1),
             |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM b)
             |SELECT bin, CAST(bin * 25000 AS BIGINT) AS bin_lo, n,
             |ROUND(CAST(n AS DOUBLE) / total, 6) AS share
             |FROM b, t""".stripMargin)),

    // P21 (beyond-ref): column profiler — the "describe" every data
    // contract check starts from, long-form so one schema fits any
    // column set. Extremes go through DECIMAL/BIGINT before the
    // string cast (raw double→string formatting differs between
    // engines). One pass per column, each a partial+final aggregate.
    QueryDef("p21_profile",
      (s, d) => {
        val o = ord(s, d)
        def prof(c: String, e: org.apache.spark.sql.Column) = o.agg(
          lit(c).as("column"),
          count(lit(1)).as("n"),
          sum(e.isNull.cast("long")).as("n_null"),
          countDistinct(e).as("n_distinct"),
          min(e).cast("string").as("min_s"),
          max(e).cast("string").as("max_s"))
        prof("o_custkey", col("o_custkey"))
          .unionByName(prof("o_orderstatus", col("o_orderstatus")))
          .unionByName(prof("o_totalprice", col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))))
      },
      Some("""SELECT 'o_custkey' AS "column", COUNT(*) AS n,
             |CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |COUNT(DISTINCT o_custkey) AS n_distinct,
             |CAST(MIN(o_custkey) AS VARCHAR) AS min_s,
             |CAST(MAX(o_custkey) AS VARCHAR) AS max_s FROM orders
             |UNION ALL SELECT 'o_orderstatus', COUNT(*),
             |CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |COUNT(DISTINCT o_orderstatus),
             |CAST(MIN(o_orderstatus) AS VARCHAR),
             |CAST(MAX(o_orderstatus) AS VARCHAR) FROM orders
             |UNION ALL SELECT 'o_totalprice', COUNT(*),
             |CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |COUNT(DISTINCT CAST(o_totalprice AS DECIMAL(18,2))),
             |CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR),
             |CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
             |FROM orders""".stripMargin)),

    // J7 (beyond-ref): salted shuffle join — THE hot-key mitigation
    // when AQE skew split isn't enough (or the key is hot by design).
    // The probe side carries a stable salt (event_id % S — no RNG, so
    // any engine/run salts identically); the build side replicates
    // each row S times; the join key becomes (key, salt) and one hot
    // key's rows spread over S reduce partitions. Result provably
    // equals the unsalted join (oracle runs the plain form). The
    // shuffle_hash hint keeps the demo honest: without it this dim
    // would broadcast and no shuffle would exist to salt.
    QueryDef("j7_salted_join",
      (s, d) => {
        val S = 8
        val fact = Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            (col("event_id") % S).as("salt"))
        val dim = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))
          .withColumn("salt",
            explode(array((0 until S).map(i => lit(i.toLong)): _*)))
        fact.hint("shuffle_hash")
          .join(dim, fact("user_id") === dim("c_custkey")
            && fact("salt") === dim("salt"))
          .select(col("event_id"), col("user_id"),
            col("c_mktsegment").as("segment"))
      },
      Some("""SELECT event_id, user_id, c_mktsegment AS segment
             |FROM events JOIN customer ON user_id = c_custkey""".stripMargin)),

    // A26 (beyond-ref): the navigation/distribution window-function
    // suite over each customer's order history — lag (days since the
    // previous order), ntile quartiles, and the rank ratios. One
    // shuffle on o_custkey serves every window (identical
    // partition+order spec), so the whole row is produced in a single
    // Window operator pass. percent_rank/cume_dist are re-derived
    // from (rn, n) as exact integer ratios rounded once — engine
    // round-off conventions for the built-ins (0/0 at n=1) never
    // enter the compare.
    QueryDef("a26_window_funcs",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("o_orderdate"), col("order_id"))
        val wAll = Window.partitionBy(col("user_id"))
        ord(s, d)
          .select(col("o_custkey").as("user_id"),
            col("o_orderkey").as("order_id"), col("o_orderdate"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("prev_order_id", lag(col("order_id"), 1).over(w))
          .withColumn("gap_days",
            datediff(to_date(col("o_orderdate")),
              to_date(lag(col("o_orderdate"), 1).over(w))).cast("long"))
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .withColumn("pct_rank",
            when(col("n") === 1, lit(0.0d)).otherwise(
              round((col("rn") - 1).cast("double") / (col("n") - 1), 6)))
          .withColumn("cume",
            round(col("rn").cast("double") / col("n"), 6))
          .select(col("user_id"), col("order_id"), col("rn"),
            col("prev_order_id"), col("gap_days"), col("quartile"),
            col("pct_rank"), col("cume"))
      },
      Some("""WITH w AS (SELECT o_custkey AS user_id, o_orderkey AS order_id,
             |    CAST(ROW_NUMBER() OVER win AS BIGINT) AS rn,
             |    CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n,
             |    LAG(o_orderkey, 1) OVER win AS prev_order_id,
             |    CAST(CAST(o_orderdate AS DATE)
             |      - CAST(LAG(o_orderdate, 1) OVER win AS DATE) AS BIGINT) AS gap_days,
             |    CAST(NTILE(4) OVER win AS BIGINT) AS quartile
             |  FROM orders
             |  WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
             |SELECT user_id, order_id, rn, prev_order_id, gap_days, quartile,
             |CASE WHEN n = 1 THEN 0.0
             |  ELSE ROUND(CAST(rn - 1 AS DOUBLE) / (n - 1), 6) END AS pct_rank,
             |ROUND(CAST(rn AS DOUBLE) / n, 6) AS cume
             |FROM w""".stripMargin)),

    // A27 (beyond-ref): exact covariance/correlation between quantity
    // and discount per return flag. Built-in covar_pop/corr aggregate
    // doubles in engine-internal order, so instead the five moment
    // sums are accumulated as exact integers (quantity is integral;
    // discount re-enters integer space as whole percent points) and
    // the statistics are one fixed-shape double expression at
    // emission — sqrt is IEEE-correctly-rounded, so both engines
    // produce the same bits. Scale: a single map-side-combined
    // aggregate to status grain; the moment products stay < 2^63 up
    // to ~10⁹ rows per group.
    QueryDef("a27_corr",
      (s, d) => {
        val m = li(s, d)
          .select(col("l_returnflag").as("status"),
            col("l_quantity").cast("long").as("x"),
            round(col("l_discount") * 100, 0).cast("long").as("y"))
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
        m.select(col("status"), col("n"),
          round((col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double") / col("n"))
            / col("n"), 6).as("covar_pop"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
              * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))),
            6).as("corr"))
      },
      Some("""WITH m AS (SELECT l_returnflag AS status,
             |    CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
             |    CAST(SUM(CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT) AS sy,
             |    CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT) AS sxy,
             |    CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
             |    CAST(SUM(CAST(ROUND(l_discount*100) AS BIGINT) * CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT) AS syy
             |  FROM lineitem GROUP BY 1)
             |SELECT status, n,
             |ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / n, 6) AS covar_pop,
             |ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             |  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             |    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS corr
             |FROM m""".stripMargin)),

    // J8 (beyond-ref): full-outer reconciliation — the fact-vs-rollup
    // audit every warehouse runs: order headers against the per-order
    // lineitem totals, classified matched / mismatched / only_orders /
    // only_lines with the absolute drift. Exact DECIMAL comparison
    // (no float equality); ONE shuffle each side on the order key,
    // status grain out (constant rows at any scale).
    QueryDef("j8_reconcile",
      (s, d) => {
        val dec = org.apache.spark.sql.types.DecimalType(18, 2)
        val la = li(s, d).groupBy(col("l_orderkey"))
          .agg(sum(col("l_extendedprice").cast(dec)).as("lt"))
        val o = ord(s, d).select(col("o_orderkey"),
          col("o_totalprice").cast(dec).as("ot"))
        o.join(la, col("o_orderkey") === col("l_orderkey"), "full_outer")
          .withColumn("status",
            when(col("ot").isNull, "only_lines")
              .when(col("lt").isNull, "only_orders")
              .when(col("ot") === col("lt"), "matched")
              .otherwise("mismatched"))
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n"),
            round(sum(abs(coalesce(col("ot"), lit(0)).cast(dec)
              - coalesce(col("lt"), lit(0)).cast(dec))).cast("double"), 2)
              .as("total_abs_diff"))
      },
      Some("""WITH la AS (SELECT l_orderkey,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
             |      AS DECIMAL(18,2)) AS lt
             |  FROM lineitem GROUP BY 1),
             |o AS (SELECT o_orderkey,
             |    CAST(o_totalprice AS DECIMAL(18,2)) AS ot FROM orders),
             |j AS (SELECT ot, lt,
             |    CASE WHEN ot IS NULL THEN 'only_lines'
             |      WHEN lt IS NULL THEN 'only_orders'
             |      WHEN ot = lt THEN 'matched'
             |      ELSE 'mismatched' END AS status
             |  FROM o FULL JOIN la ON o_orderkey = l_orderkey)
             |SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
             |ROUND(CAST(SUM(abs(CAST(COALESCE(ot, 0) AS DECIMAL(18,2))
             |  - CAST(COALESCE(lt, 0) AS DECIMAL(18,2)))) AS DOUBLE), 2)
             |  AS total_abs_diff
             |FROM j GROUP BY 1""".stripMargin)),

    // U8 (beyond-ref): TIME-based train/eval split — the leakage-safe
    // alternative to U4's hash split for anything temporal (CF, LMs
    // over dated corpora): train strictly precedes eval in time, so
    // no future information reaches training. The cut day is the
    // exact 80th percentile of the event stream from a VALUE-grain
    // (per-day) cumulative count — the p20 device; the split itself
    // is a scan-bandwidth comparison against the broadcast cut.
    QueryDef("u8_time_split",
      (s, d) => {
        val e = Tables.events(s, d).select(col("event_id"),
          col("user_id"), to_date(col("ts")).as("day"))
        val cut = Stats.valueCuts(e, "day", Seq(0.8 -> "cut_day"))
        e.crossJoin(broadcast(cut))
          .withColumn("split",
            when(col("day") <= col("cut_day"), "train").otherwise("eval"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            min(col("day")).as("min_day"), max(col("day")).as("max_day"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, CAST(ts AS DATE) AS day
             |  FROM events),
             |days AS (SELECT day, COUNT(*) AS cnt FROM e GROUP BY 1),
             |cum AS (SELECT day,
             |    SUM(cnt) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
             |      AS cum,
             |    SUM(cnt) OVER () AS n
             |  FROM days),
             |cut AS (SELECT MIN(CASE WHEN cum >=
             |    CAST(ceil(0.8 * n) AS BIGINT) THEN day END) AS cut_day
             |  FROM cum)
             |SELECT CASE WHEN day <= cut_day THEN 'train' ELSE 'eval' END
             |  AS split,
             |CAST(COUNT(*) AS BIGINT) AS n_events,
             |CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             |MIN(day) AS min_day, MAX(day) AS max_day
             |FROM e, cut GROUP BY 1""".stripMargin))
  )

  /** U10: Efraimidis–Spirakis weighted sampling without replacement —
    * see the u10_weighted_sample QueryDef. `weight` must be a
    * strictly-positive numeric column; rows keep their original
    * schema.
    */
  def weightedSample(df: DataFrame, key: String, weight: String,
                     k: Int = 100): DataFrame = {
    val P = 1000003L
    df.withColumn("hv", ((col(key) % P) * 31 + lit(7L) * 97) % P)
      .withColumn("es_key",
        -log((col("hv") + lit(1L)).cast("double") / lit((P + 1).toDouble))
          / col(weight))
      .orderBy(col("es_key"), col(key))
      .limit(k)
      .drop("hv", "es_key")
  }
}
