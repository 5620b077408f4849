"""Correctness checks on what the program wrote, recomputed in DuckDB.

Each function returns a list of (name, ok, detail) tuples; a failed
check counts as a failed unit of the run.
"""
import glob
import hashlib
import json
import os

import duckdb


def _con(source=None):
    """A DuckDB connection; `source` is loaded into table `source` first
    (filters pushed into a parquet scan of a cast column lose rows in
    some DuckDB versions)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    if source:
        con.execute(f"CREATE TABLE source AS SELECT * FROM '{source}'")
    return con


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(repr(r[i]) for i in order) for r in rows)


CLEAN = "order_id IS NOT NULL AND quantity > 0 AND status IS NOT NULL AND status <> ''"


def daily_backfill(plan, res):
    """Each day's gold tables and alerts equal a recomputation over the
    source."""
    lake = res["extra"]["lake"]
    con = _con(plan["paths"]["source"])
    # a join, not IN: DuckDB 1.0 drops rows from IN over a cast column
    days = ", ".join("DATE '%s'" % d for d in plan["days"])
    con.execute(f"""CREATE TABLE bronze AS
        SELECT CAST(CAST(order_date AS DATE) AS VARCHAR) AS date, *
        FROM source JOIN (SELECT unnest([{days}]) AS d) ON CAST(order_date AS DATE) = d""")
    con.execute(f"""CREATE TABLE silver AS
        SELECT CAST(CAST(order_date AS DATE) AS VARCHAR) AS date, customer_id, product_name,
               category, CAST(abs(price) * quantity AS DECIMAL(18,2)) AS total
        FROM source JOIN (SELECT unnest([{days}]) AS d) ON CAST(order_date AS DATE) = d
        WHERE {CLEAN}""")
    expect = {
        "daily_summary": """SELECT date, count(*) AS total_orders,
              CAST(sum(total) AS DOUBLE) AS total_revenue,
              count(DISTINCT customer_id) AS unique_customers,
              count(DISTINCT product_name) AS unique_products
            FROM silver GROUP BY date""",
        "category_agg": """SELECT date, category, count(*) AS order_count,
              CAST(sum(total) AS DOUBLE) AS revenue FROM silver GROUP BY date, category""",
        # the alert tier over each day's bronze: rule counts per type and
        # the (customer, 5-minute window) pairs with at least two orders
        "alerts/messages": f"""SELECT date, alert_type, count(*) AS n FROM (
              SELECT date, CASE WHEN total > 10000 THEN 'HIGH_VALUE_ORDER'
                WHEN quantity > 50 THEN 'SUSPICIOUS_QUANTITY' WHEN price < 0 THEN 'NEGATIVE_PRICE'
                ELSE 'INVALID_QUANTITY' END AS alert_type FROM bronze
              WHERE total > 10000 OR quantity > 50 OR price < 0 OR quantity <= 0)
            GROUP BY ALL""",
        "alerts/rapid": """SELECT date, customer_id,
              epoch_ms(time_bucket(INTERVAL 5 MINUTE, order_date)) AS window_start,
              count(*) AS order_count FROM bronze GROUP BY ALL HAVING count(*) >= 2""",
    }
    got_sql = {
        "alerts/messages": "SELECT date, alert_type, count(*) AS n FROM t GROUP BY ALL",
        "alerts/rapid": "SELECT date, customer_id, epoch_ms(window_start) AS window_start, "
                        "order_count FROM t",
    }
    out = []
    for table, sql in expect.items():
        con.execute(f"""CREATE OR REPLACE VIEW t AS SELECT * REPLACE (CAST(date AS VARCHAR) AS date)
            FROM read_parquet('{lake}/{table if '/' in table else 'gold/' + table}/*/*.parquet',
                              hive_partitioning = true)""")
        got = con.execute(got_sql.get(table, "SELECT * FROM t"))
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        want = con.execute(sql)
        wcols = [d[0] for d in want.description]
        wrows = want.fetchall()
        ok = _canon(grows, gcols) == _canon(wrows, wcols)
        out.append((f"lake.{table}", ok, f"{len(grows)} rows, expected {len(wrows)}"))
    return out


def _cf_views(con, cutoff):
    """lineitem/orders views whose join is exactly the window's
    interactions, so the registry's own oracle SQL applies unchanged."""
    con.execute(f"""CREATE OR REPLACE TABLE inter AS SELECT DISTINCT customer_key AS user_id,
        product_key AS item_id FROM source WHERE {CLEAN} AND order_date < TIMESTAMPTZ '{cutoff}'""")
    con.execute("CREATE OR REPLACE VIEW orders AS SELECT DISTINCT user_id AS o_orderkey, "
                "user_id AS o_custkey FROM inter")
    con.execute("CREATE OR REPLACE VIEW lineitem AS SELECT user_id AS l_orderkey, "
                "item_id AS l_partkey FROM inter")


def cf_retrain(plan, res):
    """Coverage, precision@10 and the promoted versions equal a DuckDB
    recomputation and a replay of the registry's gate."""
    reg = res["extra"]["registry"]
    oracle = res["extra"]["oracle"]
    con = _con(plan["paths"]["source"])
    best = None
    expect_promoted, metrics = [], []
    for c, cut in enumerate(plan["cutoffs"]):
        _cf_views(con, cut)
        cov = con.execute(oracle["ml_coverage"]).fetchone()[2]
        prec = con.execute(oracle["ml_precision_at_10"]).fetchone()[0]
        # NULL (None) compares false, as NaN does in the reference's gate
        better = best is None or cov > best[0] or (
            abs(cov - best[0]) < 0.01 and None not in (prec, best[1]) and prec > best[1])
        if better:
            best = (cov, prec)
        expect_promoted.append(better)
        metrics.append((cov, prec))
    out = [("registry.promoted", expect_promoted == res["extra"]["promoted"],
            f"expected {expect_promoted}, got {res['extra']['promoted']}")]
    want_prod = "v%d" % (max(i for i, b in enumerate(expect_promoted) if b) + 1)
    out.append(("registry.production", res["extra"]["production"] == want_prod,
                f"expected {want_prod}, got {res['extra']['production']}"))
    for c, b in enumerate(expect_promoted):
        if not b:
            continue
        got = con.execute(f"SELECT coverage, precision_at_10 FROM "
                          f"'{reg}/version=v{c + 1}/metrics/*.parquet'").fetchone()
        out.append((f"registry.v{c + 1}.metrics", got == metrics[c],
                    f"expected {metrics[c]}, got {got}"))
    return out


def _oracle(con, cdir, q, sql):
    """The canonical rows of query `q`'s oracle over the corpus in `cdir`.
    The corpus never changes, so they are computed once per corpus and
    oracle text and kept beside the corpus."""
    path = os.path.join(cdir, "expected-%s-%s.json" % (q, hashlib.sha256(sql.encode()).hexdigest()[:16]))
    if not os.path.exists(path):
        want = con.execute(sql)
        cols, rows = _canon(want.fetchall(), [d[0] for d in want.description])
        with open(path + ".tmp", "w") as f:
            json.dump([cols, rows], f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        cols, rows = json.load(f)
    return cols, [tuple(r) for r in rows]


def corpus_index(plan, res):
    """Each query's result equals its registered DuckDB oracle; queries
    without one are checked rows-only."""
    out_dir = res["extra"]["out"]
    oracle = res["extra"]["oracle"]
    con = _con()
    cdir = plan["paths"]["corpus"]
    for f in glob.glob(os.path.join(cdir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(f)[:-8]} AS SELECT * FROM '{f}'")
    out = []
    for q in plan["queries"]:
        files = glob.glob(os.path.join(out_dir, q, "*.parquet"))
        if not files:
            out.append((f"corpus.{q}", False, "no output"))
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{q}/*.parquet')")
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        if q not in oracle:
            out.append((f"corpus.{q}", len(grows) > 0, f"rows-only: {len(grows)} rows"))
            continue
        want = _oracle(con, cdir, q, oracle[q])
        ok = _canon(grows, gcols) == want
        out.append((f"corpus.{q}", ok, f"{len(grows)} rows, oracle {len(want[1])}"))
    return out


CHECKS = {"daily_backfill": daily_backfill, "cf_retrain": cf_retrain,
          "corpus_index": corpus_index}
