"""Seeded input generators.

Every input the program sees is made here from ``--seed`` before set-up
starts; the same seed gives byte-identical files (``checksums``).  The
traffic dimensions each generator fixes are returned as a manifest so a
run can print them next to its metrics.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")

# Vocabulary and length range of the repository's sample corpus
# (documents.parquet: 30 tokens, 10-100 tokens per document, a rare
# "dup" marker); languages are labels with the sample's shares.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))

EVENT_TYPES = np.array(["view", "click", "error", "signup", "purchase"])
PROPS_POOL = pa.array(
    ['{"k": %d, "src": "s%d"}' % (i, i % 7) for i in range(1000)], pa.string()
)

# fixed traffic dimensions per workload (recorded in every run's manifest);
# README.md, "Input sizes and why", gives the measurements behind them
BATCH_DIMS = {
    "tpch_sf": 0.01,
    "events": 20000,
    "users": 400,
    "funnel_rate": 0.15,
    "documents": 800,
    "exact_dup_rate": 0.05,
    "near_dup_rate": 0.05,
    "vectors": 4000,
    "dim": 32,
    "knn_queries": 64,
}
STREAM_DIMS = {
    "users": 20000,
    "zipf_a": 1.2,
    "out_of_order_s": 1.0,
    "late_share": 0.0005,
    "tick_s": 0.25,
    "file_events": 30000,
    "cep_events": 4000,
    "cep_users": 100,
    "funnel_rate": 0.15,
    "cep_chunks": 1,
}


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def tpch(out_dir: str, sf: float) -> None:
    """TPC-H tables from DuckDB's dbgen, cast to the repository schema."""
    import duckdb

    casts = {
        "region": "r_regionkey::INT r_regionkey, r_name::VARCHAR r_name",
        "nation": "n_nationkey::INT n_nationkey, n_name::VARCHAR n_name, "
        "n_regionkey::INT n_regionkey",
        "customer": "c_custkey::BIGINT c_custkey, c_name, c_nationkey::INT c_nationkey, "
        "c_acctbal::DOUBLE c_acctbal, c_mktsegment",
        "supplier": "s_suppkey::BIGINT s_suppkey, s_name, s_nationkey::INT s_nationkey, "
        "s_acctbal::DOUBLE s_acctbal",
        "part": "p_partkey::BIGINT p_partkey, p_name, p_brand, p_type, p_size::INT p_size, "
        "p_retailprice::DOUBLE p_retailprice",
        "orders": "o_orderkey::BIGINT o_orderkey, o_custkey::BIGINT o_custkey, o_orderstatus, "
        "o_totalprice::DOUBLE o_totalprice, o_orderdate::TIMESTAMP o_orderdate, o_orderpriority",
        "lineitem": "l_orderkey::BIGINT l_orderkey, l_partkey::BIGINT l_partkey, "
        "l_suppkey::BIGINT l_suppkey, l_linenumber::INT l_linenumber, "
        "l_quantity::DOUBLE l_quantity, l_extendedprice::DOUBLE l_extendedprice, "
        "l_discount::DOUBLE l_discount, l_tax::DOUBLE l_tax, l_returnflag, l_linestatus, "
        "l_shipdate::TIMESTAMP l_shipdate",
    }
    order = {
        "region": "1", "nation": "1", "customer": "1", "supplier": "1", "part": "1",
        "orders": "1", "lineitem": "1, 4",
    }
    con = duckdb.connect()
    con.execute("SET threads=1")
    con.execute(f"CALL dbgen(sf={sf})")
    for t, sel in casts.items():
        tbl = con.execute(f"SELECT {sel} FROM {t} ORDER BY {order[t]}").fetch_arrow_table()
        _write(tbl, os.path.join(out_dir, f"{t}.parquet"))
    con.close()


def funnel_events(rng, n: int, users: int, funnel_rate: float, span_s: float,
                  first_id: int = 0) -> pa.Table:
    """Event log with planted signup -> purchase funnels.  Background
    events are uniform over ``span_s`` seconds; ``funnel_rate`` of the
    users get one funnel whose purchase follows the signup within a
    minute."""
    n_funnel = int(users * funnel_rate)
    n_bg = n - 2 * n_funnel
    off = np.sort(rng.uniform(0, span_s, n_bg))
    uid = rng.integers(0, users, n_bg)
    et = EVENT_TYPES[rng.choice(5, n_bg, p=[0.4, 0.3, 0.1, 0.1, 0.1])]
    fu = rng.choice(users, n_funnel, replace=False)
    f_start = rng.uniform(0, span_s - 120, n_funnel)
    f_gap = rng.uniform(1, 60, n_funnel)
    off = np.concatenate([off, f_start, f_start + f_gap])
    uid = np.concatenate([uid, fu, fu])
    et = np.concatenate([et, np.repeat("signup", n_funnel), np.repeat("purchase", n_funnel)])
    order = np.argsort(off, kind="stable")
    n_all = len(off)
    return pa.table({
        "event_id": np.arange(first_id, first_id + n_all, dtype=np.int64),
        "ts": BASE_TS + (off[order] * 1e6).astype("timedelta64[us]"),
        "user_id": uid[order].astype(np.int64),
        "event_type": pa.array(et[order], pa.string()),
        "value": np.round(rng.uniform(0, 50, n_all), 2),
        "props": PROPS_POOL.take(rng.integers(0, len(PROPS_POOL), n_all)),
    })


def documents(rng, n: int, exact_rate: float, near_rate: float):
    """Documents sampled from the sample corpus's vocabulary and lengths,
    with planted exact duplicates (spacing/case variants) and near
    duplicates (a few tokens replaced).  Copies get higher ids than their
    originals, so the curated keeper (min id) is always the original.
    Returns (table, exact copy ids, near pairs (orig, copy))."""
    n_exact = int(n * exact_rate)
    n_near = int(n * near_rate)
    n_orig = n - n_exact - n_near
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n_orig):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    src = rng.choice(n_orig, n_exact + n_near, replace=False)
    exact_ids, near_pairs = [], []
    for j, o in enumerate(src):
        toks = texts[o].split(" ")
        if j < n_exact:
            t = "  ".join(toks).upper() if j % 2 else " ".join(toks) + " "
            exact_ids.append(len(texts))
        else:
            toks = list(toks)
            for p in rng.choice(len(toks), max(1, len(toks) // 30), replace=False):
                toks[p] = vocab[rng.integers(0, len(vocab))]
            t = " ".join(toks)
            near_pairs.append((int(o), len(texts)))
        texts.append(t)
    lang_names = np.array([l for l, _ in LANGS])
    lang_p = np.array([p for _, p in LANGS])
    tbl = pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang_names[rng.choice(len(LANGS), len(texts), p=lang_p / lang_p.sum())]),
        "source": pa.array([f"src{i % 20}" for i in range(len(texts))]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return tbl, exact_ids, near_pairs


def embeddings(rng, n: int, dim: int) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def knn_queries(rng, n_vectors: int, n_queries: int, dim: int) -> pa.Table:
    """Random query vectors.  Each borrows a corpus id, which the top-k
    call excludes as "self", so that exclusion path is exercised too."""
    vecs = rng.standard_normal((n_queries, dim)).astype(np.float32)
    return pa.table({
        "vec_id": rng.choice(n_vectors, n_queries, replace=False).astype(np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })


def make_batch_inputs(seed: int, out_dir: str) -> dict:
    """All tables of the batch workload: TPC-H (dbgen is deterministic;
    the seed draws query parameters elsewhere), events with funnels,
    documents with planted duplicates, embeddings and query vectors."""
    d = BATCH_DIMS
    rng = np.random.default_rng([seed, 1])
    tpch(out_dir, d["tpch_sf"])
    _write(funnel_events(rng, d["events"], d["users"], d["funnel_rate"], 30 * 86400.0),
           os.path.join(out_dir, "events.parquet"))
    docs, exact_ids, near_pairs = documents(
        rng, d["documents"], d["exact_dup_rate"], d["near_dup_rate"])
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(embeddings(rng, d["vectors"], d["dim"]), os.path.join(out_dir, "embeddings.parquet"))
    _write(knn_queries(rng, d["vectors"], d["knn_queries"], d["dim"]),
           os.path.join(out_dir, "knn_queries.parquet"))
    return {"dims": dict(d), "exact_dup_ids": exact_ids, "near_dup_pairs": near_pairs}


def make_cep_chunks(seed: int, out_dir: str) -> dict:
    """The streaming CEP replay: a funnel event log split into time-ordered
    chunk files; the last one ends with a far-future sentinel row (user
    -1) that moves the watermark past every real event, so all matches
    are emitted."""
    d = STREAM_DIMS
    rng = np.random.default_rng([seed, 2])
    ev = funnel_events(rng, d["cep_events"], d["cep_users"], d["funnel_rate"], 86400.0)
    sentinel = pa.table({
        "event_id": np.array([10**12], np.int64),
        "ts": np.array([BASE_TS + np.timedelta64(365, "D")]),
        "user_id": np.array([-1], np.int64),
        "event_type": pa.array(["noop"]),
        "value": np.array([0.0]),
        "props": pa.array(["{}"]),
    }).cast(ev.schema)
    os.makedirs(out_dir, exist_ok=True)
    n = ev.num_rows
    k = d["cep_chunks"]
    for i in range(k):
        lo, hi = n * i // k, n * (i + 1) // k
        part = ev.slice(lo, hi - lo)
        if i == k - 1:
            part = pa.concat_tables([part, sentinel])
        _write(part, os.path.join(out_dir, f"chunk{i:03d}.parquet"))
    return {"events": n}


class StreamSource:
    """Deterministic event source for the open-loop stream: tick ``i`` of
    a step at ``rate`` events/s always yields the same events.  Event
    time is BASE_TS + the tick's due offset minus a bounded out-of-order
    jitter; a fixed share of events is planted late by construction (one
    hour apart each, far behind any watermark)."""

    def __init__(self, seed: int):
        self.d = STREAM_DIMS
        self.rng = np.random.default_rng([seed, 3])
        self.next_id = 0
        self.late_seen = 0

    def tick(self, n: int, due_offset_s: float, allow_late: bool) -> pa.Table:
        d, rng = self.d, self.rng
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        jitter = rng.uniform(0, d["out_of_order_s"], n)
        ts = BASE_TS + ((due_offset_s - jitter) * 1e6).astype("timedelta64[us]")
        users = (rng.zipf(d["zipf_a"], n) * 7919) % d["users"]
        n_late = rng.binomial(n, d["late_share"]) if allow_late else 0
        late = np.zeros(n, dtype=bool)
        if n_late:
            pos = rng.choice(n, n_late, replace=False)
            late[pos] = True
            hours = np.arange(self.late_seen + 1, self.late_seen + n_late + 1)
            ts[pos] = BASE_TS - (hours * 3600 * 1e6).astype("timedelta64[us]")
            self.late_seen += n_late
        return pa.table({
            "event_id": ids,
            "ts": ts,
            "user_id": users.astype(np.int64),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 2, n)]),
            "value": np.round(rng.uniform(0, 10, n), 2),
            "props": PROPS_POOL.take(rng.integers(0, len(PROPS_POOL), n)),
            "late": late,
        })


def checksums(root: str) -> dict[str, str]:
    """sha256 of every file under ``root``, by relative path."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out
