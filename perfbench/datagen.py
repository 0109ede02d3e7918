"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query corpus reads (``quackspark.session.
TESTDATA_TABLES``) as one parquet file each, with the same schemas and
value distributions as the project's TPC-H-ish fixtures: uniform keys and
categoricals, two-decimal money columns, 1995-2001 order/ship dates, a
30-day event stream with ``{"k": n}`` JSON props, word-salad documents
of which 5% are near-duplicates (``<other doc> dup``), and 64-d unit
embeddings.

Row counts scale with ``sf`` like the fixtures (sf0.1: 600k lineitem,
100k events, 5000 documents, 2000 embeddings). The same ``(sf, seed)``
always yields the same rows: numpy's PCG64 stream is platform-stable.

    python3 perfbench/datagen.py <out_dir> <sf> [seed]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: data seed shared by every benchmark run; ``--seed`` varies the
#: statement order and sample, never the tables (so expected digests hold)
DATA_SEED = 42

WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast "
    "row agg key query scan batch"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = "red blue green hot cold new old large small shiny dark light tiny".split()
PART_NOUN = "bolt anvil ring rod plate".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

_DAY_US = 86_400_000_000


def _days(start: str) -> int:
    return int(np.datetime64(start, "D").astype(np.int64))


def _ts_days(rng, n: int, lo: str, hi: str) -> pa.Array:
    d = rng.integers(_days(lo), _days(hi) + 1, n)
    return pa.array(d * _DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf``; each table has its own RNG stream so
    one table's size never shifts another's values."""

    def rng(i: int):
        return np.random.default_rng([seed, i])

    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = rng(1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust),
    })

    r = rng(2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99),
    })

    r = rng(3)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": _pick(r, names, n_part),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
    })

    r = rng(4)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _ts_days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord),
    })

    r = rng(5)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, n_line, 900.0, 105_000.0),
        "l_discount": _money(r, n_line, 0.0, 0.1),
        "l_tax": _money(r, n_line, 0.0, 0.08),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": _ts_days(r, n_line, "1995-01-02", "2001-11-04"),
    })

    r = rng(6)
    t0 = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
    ts = np.sort(r.integers(t0, t0 + 30 * _DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })

    r = rng(7)
    lengths = r.integers(10, 101, n_docs)
    vocab = np.asarray(WORDS, dtype=object)
    texts = [" ".join(vocab[r.integers(0, len(WORDS), n)]) for n in lengths]
    dup = r.random(n_docs) < 0.05
    for i in np.flatnonzero(dup):
        src = int(r.integers(0, n_docs))
        while dup[src]:
            src = int(r.integers(0, n_docs))
        texts[i] = texts[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _pick(r, LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r = rng(8)
    e = r.standard_normal((n_emb, 64))
    e = (e / np.linalg.norm(e, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def write(out_dir: str, sf: float, seed: int = DATA_SEED) -> None:
    """Write every table to ``out_dir`` atomically: a half-written
    directory (an interrupted first run) is never mistaken for data."""
    if os.path.exists(os.path.join(out_dir, "_READY")):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    with open(os.path.join(out_dir, "_READY"), "w") as f:
        f.write(f"sf={sf} seed={seed}\n")


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else DATA_SEED)
