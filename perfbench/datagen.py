"""Seeded generator of the star-schema input tables the benchmark reads.

Writes one parquet file per table (the layout `sources.star.load_table`
expects) with the column names and types of `sources.star.STAR_SCHEMAS`
and the value shapes of the TPC-H-style test data: keyed dimensions,
uniform categorical columns, 2-decimal money, a Jan-2024 event stream, a
31-word document vocabulary and unit-norm 64-d embeddings. The same seed
writes the same files. Row counts are fixed per scale, so every seed gives
the same plan shapes and only the values change.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale 1.0 (the TPC-H sf1 ratios of the test data);
# `generate(scale=...)` multiplies them. Tables the benchmark never reads
# (part, supplier) are not generated.
BASE_ROWS = {
    "customer": 150_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
DOCUMENTS = 500
EMBEDDINGS = 500
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()

_DAY_US = 86_400 * 1_000_000


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    days = rng.integers(lo, hi + 1, size=n)
    return pa.array(days * _DAY_US, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table for `seed` into `out`; return rows per table."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(r * scale)) for t, r in BASE_ROWS.items()}

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, size=nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, size=nc)],
    })

    no = n["orders"]
    _write(out, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, size=no),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, size=no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, size=no)],
    })

    # Lines are numbered 1..k within each order (k in 1..7), so
    # (l_orderkey, l_linenumber) is a key and every window ordering that
    # breaks ties on it is total.
    per_order = rng.integers(1, 8, size=no)
    cap = n["lineitem"]
    keep = np.cumsum(per_order) <= cap
    per_order = per_order[keep]
    order_keys = np.repeat(np.arange(per_order.size, dtype=np.int64), per_order)
    nl = order_keys.size
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    qty = rng.integers(1, 51, size=nl).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": order_keys,
        "l_partkey": rng.integers(0, 2000, size=nl),
        "l_suppkey": rng.integers(0, 100, size=nl),
        "l_linenumber": (np.arange(nl) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2099.99, nl), 2),
        "l_discount": rng.integers(0, 11, size=nl) / 100.0,
        "l_tax": rng.integers(0, 9, size=nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=nl)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })

    ne = n["events"]
    month_us = 30 * _DAY_US
    _write(out, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us").astype("int64")
            + rng.integers(0, month_us, size=ne),
            type=pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, max(1, nc // 10), size=ne),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, size=ne)],
        "value": np.maximum(np.round(rng.exponential(25.0, size=ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=ne)],
    })

    words = np.array(VOCAB)
    texts = [
        " ".join(words[rng.integers(0, len(VOCAB), size=int(k))])
        for k in rng.integers(10, 100, size=DOCUMENTS)
    ]
    _write(out, "documents", {
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), size=DOCUMENTS, p=LANG_P)],
        "source": [f"src{k}" for k in rng.integers(0, 20, size=DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, size=EMBEDDINGS)
    centres = rng.normal(size=(10, EMBED_DIM))
    vecs = centres[labels] + rng.normal(scale=0.8, size=(EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })

    return {
        "customer": nc, "orders": no, "lineitem": nl, "events": ne,
        "documents": DOCUMENTS, "embeddings": EMBEDDINGS,
    }
