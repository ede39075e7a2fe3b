"""Inputs and oracle check for the operator_suite workload.

generate(dir) writes the four tables the six timed registry queries read
(orders, lineitem, documents, embeddings) as parquet, in the schema and
shape of the repository's sf0.1 test tables (TESTDATA.md): row counts,
key ranges, lines per order, date ranges, document lengths, languages and
vector dimension follow sf0.1, scaled by SCALE. The tables come from a
fixed seed: the suite's seed only shuffles the query order, so every run
sees the same tables. check(data, out) replays each query's oracle SQL
(graft.Oracles.all, dumped by the harness) in DuckDB and compares it with
the engine's dumped result: column names, row count, and every value
after sorting. The oracle's answers are cached in CACHE (keyed by SQL,
tables and DuckDB version), since the tables are the same in every run.
"""
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20240601
TABLES = ("orders", "lineitem", "documents", "embeddings")
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "cache")
# Share of sf0.1 (150k orders, ~600k line items, 5,000 documents, 2,000
# vectors). Measured on a 4-core host: at 1.0 the JVM part of a run took
# 88 s (44 s of it the warm-up execution that dumps results) and the DuckDB
# oracles of q134 and q88 took 145 s and over 200 s; a run has to stay near
# a minute for the benchmark's repeated runs to fit their time budget. At
# 0.25 the JVM part takes about 50 s and all six oracles 19 s.
SCALE = 0.25
N_ORDERS = int(150_000 * SCALE)
N_CUSTOMERS = int(15_000 * SCALE)
N_PARTS = int(20_000 * SCALE)
N_SUPPLIERS = int(1_000 * SCALE)
N_DOCS = int(5_000 * SCALE)
N_VECS = int(2_000 * SCALE)
DIM = 64
VOCAB = ("a the data table row column key value part order line customer query join "
         "scan filter sort group agg hash merge window stream batch spark vector big small fast slow").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
FIRST_ORDER = np.datetime64("1995-01-01T00:00:00", "us")
ORDER_DAYS = 2404  # to 2001-08-01


def _ts(days):
    return pa.array(FIRST_ORDER + days.astype("timedelta64[D]"), type=pa.timestamp("us", tz="UTC"))


def generate(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(SEED)

    okeys = np.arange(N_ORDERS, dtype=np.int64)
    odays = rng.integers(0, ORDER_DAYS + 1, N_ORDERS)
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS),
        "o_orderstatus": rng.choice(["O", "F", "P"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS),
    })
    pq.write_table(orders, f"{out}/orders.parquet")

    lines = rng.integers(1, 8, N_ORDERS)
    lok = np.repeat(okeys, lines)
    n = len(lok)
    lineitem = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, N_PARTS, n),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _ts(np.repeat(odays, lines) + rng.integers(1, 122, n)),
    })
    pq.write_table(lineitem, f"{out}/lineitem.parquet")

    texts = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.2:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 97))))
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
        "source": [f"src{int(x)}" for x in rng.integers(0, 20, N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(documents, f"{out}/documents.parquet")

    labels = rng.integers(0, 10, N_VECS).astype(np.int32)
    centers = rng.normal(0, 1, (10, DIM))
    vecs = (centers[labels] * 0.1 + rng.normal(0, 0.08, (N_VECS, DIM))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })
    pq.write_table(embeddings, f"{out}/embeddings.parquet")


def rows(data):
    """Row count of each generated table, for the run's record."""
    return {t: pq.read_metadata(f"{data}/{t}.parquet").num_rows for t in TABLES}


def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        else:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _expected(con, name, sql, tables_sha):
    """The oracle's normalized answer, cached under CACHE by the SQL, the
    input tables and the DuckDB version: the tables do not depend on the
    seed, so only the first run in a checkout pays for the replay.
    """
    key = hashlib.sha256("\0".join([sql, tables_sha, duckdb.__version__]).encode()).hexdigest()[:24]
    path = os.path.join(CACHE, f"{name}-{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    want = _normalize(con.sql(sql).df())
    os.makedirs(CACHE, exist_ok=True)
    want.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return want


def check(data, out):
    """Return {query: reason} for every query whose result differs."""
    with open(f"{out}/oracle_sql.json") as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.sql(f"SET threads={os.cpu_count() or 1}")
    h = hashlib.sha256()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        with open(f"{data}/{t}.parquet", "rb") as f:
            h.update(f.read())
    wrong = {}
    for name, sql in sorted(oracles.items()):
        try:
            got = _normalize(con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df())
            want = _expected(con, name, sql, h.hexdigest())
        except Exception as e:  # a failed replay is a failed check
            wrong[name] = f"error: {str(e).splitlines()[0][:160]}"
            continue
        if list(got.columns) != list(want.columns):
            wrong[name] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            wrong[name] = f"rows {len(got)} != {len(want)}"
        elif not got.equals(want):
            wrong[name] = "values differ"
        elif len(got) == 0:
            wrong[name] = "empty result"
    con.close()
    return wrong
