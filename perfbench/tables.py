"""Seeded analytics tables: the star schema plus ``events``, ``documents``
and ``embeddings`` that the registry queries read, one parquet file per
table under ``<out_dir>/<name>.parquet``.

Row counts follow the shared test data at ``sf`` (lineitem = 6M x sf), and
value domains match it: the query predicates (``'%widget%'``,
``'1-URGENT'``, ``event_type`` names) select similar shares of rows. The
same seed and ``sf`` give identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "red", "blue", "hot", "green", "large", "cold", "dark")
PART_NOUN = ("ring", "widget", "bolt", "gear", "valve", "spring", "panel", "screw")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.13, 0.15)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMB_DIM = 64

_DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _days(rng: np.random.RandomState, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return _ts(rng.randint(lo, hi + 1, n) * _DAY_US)


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table; returns ``{table: rows}``."""
    rng = np.random.RandomState(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 25)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    n_doc = int(50_000 * sf)
    # the PQ codebook seeds on every 31st of 16 x 16 vectors: >= 496 rows
    n_emb = max(int(20_000 * sf), 500)

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.randint(0, 25, n_cust).astype("int32"),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.randint(0, 25, n_supp).astype("int32"),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(
                    rng.randint(0, len(PART_ADJ), n_part),
                    rng.randint(0, len(PART_NOUN), n_part),
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.randint(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.randint(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.randint(0, n_ord, n_li).astype("int64"),
            "l_partkey": rng.randint(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.randint(0, n_supp, n_li).astype("int64"),
            "l_linenumber": rng.randint(1, 8, n_li).astype("int32"),
            "l_quantity": rng.randint(1, 51, n_li).astype("float64"),
            "l_extendedprice": money(900, 105000, n_li),
            "l_discount": rng.randint(0, 11, n_li) / 100.0,
            "l_tax": rng.randint(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_li),
            "l_linestatus": rng.choice(("F", "O"), n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    jan = np.datetime64("2024-01-01", "us").astype("int64")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": _ts(jan + np.sort(rng.randint(0, 30 * _DAY_US, n_ev))),
            "user_id": rng.randint(0, n_users, n_ev).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(30.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(np.array(VOCAB)[rng.randint(0, len(VOCAB), rng.randint(8, 90))])
        for _ in range(n_doc)
    ]
    for i in range(0, n_doc, 97):  # a sprinkle of near-duplicates
        if i:
            texts[i] = texts[i - 1] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype="int64"),
        }
    )
    labels = rng.randint(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    vecs = rng.normal(0, 1, (n_emb, EMB_DIM)) + 0.6 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype("int32"),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
