"""Seeded input for the registry operator probe, and its DuckDB oracles.

The probe runs a few registered builders from ``registry.queries()`` on small
tables written here as parquet, with the column names and types the engine's
table loader expects.  The values are synthetic: uniform draws over the
ranges the queries read, plus a share of near-duplicate documents and
clustered embeddings so that the similarity queries have matches to find.

Each result is checked against ``registry.oracles()`` run in DuckDB, with the
column, type and value rules of ``tests/oracle.py``.  Oracle answers are
cached on disk, keyed on the input files' digest plus the oracle SQL, so no
timed region and no set-up carries them.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from datetime import datetime, timedelta

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

# Serial-stage queries, driver-gap queries, the txn-table and streaming
# families, and one wide-stage relational control.
QUERIES = (
    "q_fuzzy_name_pairs",
    "q_tokenizer_fertility",
    "q_cluster_silhouette",
    "q_simhash_near_dup",
    "q_tfidf_top_terms",
    "q_calibration_ece_bins",
    "q_txn_change_feed",
    "q_stream_tumbling_hourly",
    "q1_pricing_summary",
)

N_CUSTOMERS = 150
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
N_EVENTS = 1_000
N_LINEITEMS = 6_000
DIM = 64

WORDS = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark group query row data filter customer line "
    "value agg column vector"
).split()
LANGS = ["en", "en", "fr", "es", "zh", "de"]
SEGMENTS = ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]


def _customer(rng: random.Random) -> pa.Table:
    n = N_CUSTOMERS
    return pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n)],
    })


def _documents(rng: random.Random) -> pa.Table:
    texts: list[str] = []
    for _ in range(N_DOCUMENTS):
        if texts and rng.random() < 0.1:  # near-duplicate of an earlier one
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(8, 80))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in texts],
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: random.Random) -> pa.Table:
    centres = [[rng.gauss(0.0, 0.1) for _ in range(DIM)] for _ in range(10)]
    labels = [rng.randrange(10) for _ in range(N_EMBEDDINGS)]
    vecs = [[c + rng.gauss(0.0, 0.08) for c in centres[k]] for k in labels]
    return pa.table({
        "vec_id": pa.array(range(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _events(rng: random.Random) -> pa.Table:
    start = datetime(2024, 1, 1)
    ts = sorted(
        start + timedelta(microseconds=rng.randrange(30 * 86400 * 10**6))
        for _ in range(N_EVENTS)
    )
    return pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(15) for _ in ts], pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in ts],
        "value": [round(rng.uniform(0.0, 200.0), 2) for _ in ts],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in ts],
    })


def _lineitem(rng: random.Random) -> pa.Table:
    n = N_LINEITEMS
    first, days = datetime(1995, 1, 1), 7 * 365
    qty = [float(rng.randint(1, 50)) for _ in range(n)]
    return pa.table({
        "l_orderkey": pa.array([rng.randrange(1500) for _ in range(n)], pa.int64()),
        "l_partkey": pa.array([rng.randrange(200) for _ in range(n)], pa.int64()),
        "l_suppkey": pa.array([rng.randrange(10) for _ in range(n)], pa.int64()),
        "l_linenumber": pa.array([rng.randint(1, 7) for _ in range(n)], pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": [round(q * rng.uniform(900.0, 2100.0), 2) for q in qty],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(n)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(n)],
        "l_returnflag": [rng.choice("ANR") for _ in range(n)],
        "l_linestatus": [rng.choice("OF") for _ in range(n)],
        "l_shipdate": pa.array(
            [first + timedelta(days=rng.randrange(days)) for _ in range(n)],
            pa.timestamp("us"),
        ),
    })


TABLES = {
    "customer": _customer,
    "documents": _documents,
    "embeddings": _embeddings,
    "events": _events,
    "lineitem": _lineitem,
}


def write_tables(seed: int, out_dir: str) -> str:
    """Write every table the probe reads; returns the directory."""
    os.makedirs(out_dir, exist_ok=True)
    for name, make in TABLES.items():
        rng = random.Random(f"{seed}:{name}")
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def _digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(TABLES):
        with open(os.path.join(sf_dir, f"{name}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


class Oracles:
    """DuckDB answers for the probe's queries, cached under ``cache_dir``."""

    def __init__(self, sf_dir: str, cache_dir: str) -> None:
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.data_key = _digest(sf_dir)

    def _run(self, sql: str) -> dict:
        from tests.oracle import _canon_arrow, _normalize

        con = duckdb.connect()
        for name in TABLES:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        schema = con.execute(sql).arrow().schema
        return {
            "types": {f.name: _canon_arrow(f.type) for f in schema},
            "rows": [list(r) for r in _normalize(cols, rows)],
        }

    def answer(self, sql: str) -> dict:
        key = hashlib.sha256((self.data_key + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        ans = self._run(sql)
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(ans, f)
        os.replace(tmp, path)
        with open(path) as f:  # the JSON round trip, as a later run reads it
            return json.load(f)


def spark_answer(df, rows) -> dict:
    """A collected engine result in the cached oracle's shape."""
    from tests.oracle import _canon_spark, _normalize

    cols = df.columns
    return {
        "types": {f.name: _canon_spark(f.dataType) for f in df.schema.fields},
        "rows": json.loads(json.dumps([list(r) for r in _normalize(cols, [tuple(r) for r in rows])])),
    }
