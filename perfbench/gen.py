"""Seeded input generators for the benchmark.

Everything the program reads is made here, inside the run's work
directory, from the benchmark seed:

* a TPC-H star schema from DuckDB's built-in ``dbgen`` (deterministic
  for a scale factor; cached per checkout because it never depends on
  the seed);
* the order-shaped source the reference pipeline extracts from
  (lineitem joined to orders, part, customer, nation and region) with
  the reference generator's defect rates injected by a seeded hash;
* a text and vector corpus (documents, embeddings) for the corpus
  operators, shaped like the seed-42 sf0.1 corpus and made with a fixed
  seed so every run queries one corpus.
"""
import math
import os
import random

import duckdb
import numpy as np

# Defect bands over a per-row hash in [0, 10000): the reference's
# setup_source_db.py rates, made disjoint so each count is exact.
DEFECTS = {
    "neg_price": (0, 200),       # 2% negative price
    "zero_qty": (200, 300),      # 1% zero quantity
    "empty_status": (300, 400),  # 1% empty status
    "bad_total": (400, 700),     # 3% total != price * quantity
}
CATEGORIES = ["Electronics", "Clothing", "Books", "Home", "Sports", "Toys"]
STATUSES = ["completed", "pending", "processing", "cancelled", "returned"]
PAYMENTS = ["credit_card", "debit_card", "paypal", "bank_transfer", "cash"]
CORPUS_SEED = 42
VOCAB = ("a the spark line column order small sort fast value scan hash slow "
         "group batch agg filter query big key window row part table stream "
         "merge data join vector customer").split()
LANGS = ["en", "de", "fr", "es", "zh"]


def _sql_list(xs):
    return "[" + ", ".join("'%s'" % x for x in xs) + "]"


def tpch(dir_, sf):
    """TPC-H tables at scale factor ``sf`` as one parquet file each."""
    marker = os.path.join(dir_, "_DONE")
    if os.path.exists(marker):
        return
    os.makedirs(dir_, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CALL dbgen(sf={sf})")
    for t in ["lineitem", "orders", "part", "customer", "nation", "region"]:
        con.execute(f"COPY {t} TO '{dir_}/{t}.parquet' (FORMAT parquet)")
    open(marker, "w").close()


def order_source(tpch_dir, seed, out_path, first_day, last_day, lines_per_day):
    """The order-shaped source over the order days [first_day, last_day]:
    one row per order line. The lines keep TPC-H's order but are dealt
    out `lines_per_day` to a day from 1992-01-01 on, so every day holds
    the same number of lines. Returns the exact count of every injected
    defect and of all rows."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in ["lineitem", "orders", "part", "customer", "nation", "region"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tpch_dir}/{t}.parquet'")
    d = DEFECTS
    con.execute(f"""
      CREATE TABLE src AS
      WITH lines AS (
        SELECT *, DATE '1992-01-01' + CAST((row_number() OVER (
                    ORDER BY o_orderdate, l_orderkey, l_linenumber) - 1)
                  // {lines_per_day} AS INTEGER) AS day
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      base AS (
        SELECT l_orderkey, l_linenumber, c_custkey, p_partkey, r_name,
               day AS o_orderdate, l_returnflag, l_linestatus,
               -- a tenth of TPC-H's price keeps most order totals under
               -- the alert tier's 10000 threshold, as in the reference data
               CAST(round(l_extendedprice / l_quantity / 10, 2) AS DECIMAL(10,2)) AS unit_price,
               CAST(l_quantity AS INTEGER) AS qty,
               hash(l_orderkey, l_linenumber, {seed}) % 10000 AS u,
               hash(l_orderkey, l_linenumber) % 24 AS hr
        FROM lines
        JOIN part ON l_partkey = p_partkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE day BETWEEN DATE '{first_day}' AND DATE '{last_day}')
      SELECT
        'ORD' || lpad(CAST(l_orderkey AS VARCHAR), 9, '0') || '-' || l_linenumber AS order_id,
        CAST(o_orderdate AS TIMESTAMP) + to_hours(CAST(hr AS INTEGER)) AS order_date,
        'CUST' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS customer_id,
        c_custkey AS customer_key,
        'PROD' || lpad(CAST(p_partkey AS VARCHAR), 6, '0') AS product_id,
        p_partkey AS product_key,
        {_sql_list(CATEGORIES)}[CAST(p_partkey % 6 AS INTEGER) + 1] AS category,
        'Product ' || p_partkey AS product_name,
        CASE WHEN u >= {d['neg_price'][0]} AND u < {d['neg_price'][1]}
             THEN -unit_price ELSE unit_price END AS price,
        CASE WHEN u >= {d['zero_qty'][0]} AND u < {d['zero_qty'][1]}
             THEN 0 ELSE qty END AS quantity,
        CAST(CASE WHEN u >= {d['bad_total'][0]} AND u < {d['bad_total'][1]}
             THEN unit_price * qty + 1 ELSE unit_price * qty END AS DECIMAL(12,2)) AS total,
        CASE WHEN u >= {d['empty_status'][0]} AND u < {d['empty_status'][1]} THEN ''
             ELSE {_sql_list(STATUSES)}[CAST(hash(l_orderkey, l_linenumber, 7) % 5 AS INTEGER) + 1]
        END AS status,
        {_sql_list(PAYMENTS)}[CAST(l_orderkey % 5 AS INTEGER) + 1] AS payment_method,
        r_name AS region,
        u
      FROM base
      ORDER BY order_date, order_id""")
    con.execute(f"""COPY (SELECT * EXCLUDE (u) REPLACE (CAST(order_date AS TIMESTAMPTZ) AS order_date)
                          FROM src)
                    TO '{out_path}' (FORMAT parquet, ROW_GROUP_SIZE 65536)""")
    counts = {"rows": con.execute("SELECT count(*) FROM src").fetchone()[0]}
    for name, (lo, hi) in d.items():
        counts[name] = con.execute(
            f"SELECT count(*) FROM src WHERE u >= {lo} AND u < {hi}").fetchone()[0]
    return counts


def corpus(dir_, n_docs, n_vecs, dim=64):
    """Documents and embeddings of the same shape as the seed-42 sf0.1
    corpus the repo's tests and oracles run on (5000 documents, 2000
    vectors; see perfbench/README.md for the measured figures), from a
    fixed seed:

    * each text is 10-99 words drawn uniformly from a 30-word vocabulary;
    * 5% of the documents are another document's text plus the word
      ``dup`` (so two copies of one text are exact duplicates);
    * ``lang`` is ``en`` for 40% of the documents and de/fr/es/zh for
      15% each; ``source`` is ``src<doc_id mod 20>``;
    * vectors are unit-length Gaussian directions with a label drawn
      uniformly from 0-9, independent of the vector (no clusters).
    """
    marker = os.path.join(dir_, "_DONE")
    if os.path.exists(marker):
        return
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
             for _ in range(n_docs)]
    dups = rng.choice(n_docs, size=n_docs // 20, replace=False)
    bases = [int(rng.integers(0, n_docs - 1)) for _ in dups]
    originals = list(texts)
    for i, b in zip(dups, bases):
        texts[i] = originals[b + (b >= i)] + " dup"
    langs = rng.choice(LANGS, size=n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
                "source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", [
        (i, t, str(langs[i]), "src%d" % (i % 20), len(t)) for i, t in enumerate(texts)])
    con.execute(f"COPY documents TO '{dir_}/documents.parquet' (FORMAT parquet)")
    vecs = rng.normal(size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, n_vecs)
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[], label INTEGER)")
    con.executemany("INSERT INTO embeddings VALUES (?, ?, ?)", [
        (i, [float(x) for x in vecs[i]], int(labels[i])) for i in range(n_vecs)])
    con.execute(f"COPY embeddings TO '{dir_}/embeddings.parquet' (FORMAT parquet)")
    open(marker, "w").close()


def plan(workload, seed, size, cutoffs=None):
    """The seeded parameters of one run (everything but the data).
    `cutoffs` replaces the retrain windows of cf_retrain."""
    r = random.Random(seed * 1000003 + sum(map(ord, workload)))
    p = {"workload": workload, "seed": seed, "size": size}
    if workload == "daily_backfill":
        n = 2 if size == "tiny" else 3
        # a start day well inside the source's 2400 days
        start = r.randrange(400, 2000)
        p["day_offsets"] = list(range(start, start + n))
        p["catchup_offsets"] = sorted(r.sample(p["day_offsets"], max(1, n // 3)))
    elif workload == "cf_retrain":
        # three growing windows, as fractions of the source's days, each
        # long enough that the trained model recommends to some users
        # (at sf0.1 a 1% window gives none, 3% a handful; the tiny source
        # has a tenth of the lines per day). The seed places the defects
        # and picks at least forty requests spread evenly over the cycles
        # (so the latency tail is a p75 with ten samples beyond it) and
        # two warm-up ones.
        p["cutoffs"] = cutoffs or ([0.1, 0.175, 0.25] if size == "tiny" else [0.03, 0.06, 0.1])
        per_cycle = math.ceil(40 / len(p["cutoffs"]))
        p["requests"] = [[r.random(), r.randint(1, 50)] for _ in range(per_cycle * len(p["cutoffs"]))]
        p["warmup_requests"] = [[r.random(), r.randint(1, 50)] for _ in range(2)]
    elif workload == "corpus_index":
        # each pass runs every query once, in the seeded order
        p["queries"] = list(CORPUS_QUERIES)
        r.shuffle(p["queries"])
    return p


# A dedup best-of-cluster pick over LSH clusters (42 Spark jobs), an IVF
# index built by Lloyd rounds with heap argmin cuts, a brute-force kNN
# codegen kernel and a single-pass text quality filter.
CORPUS_QUERIES = [
    "dedup_best_of_cluster", "sim_knn_ivf", "sim_knn_brute", "txt_quality_filter",
]
