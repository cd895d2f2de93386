"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same rows.  Tables are written with pyarrow from numpy columns, so input
generation costs seconds and never touches Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# shape of queries_pipeline._EVENT_WIRE_SCHEMA: flat, every field NOT NULL
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"], dtype=object)


def refresh_source(path: str, seed: int, rows: int) -> None:
    """The refresh_bulk source table: dense ``event_id`` 0..rows-1 plus
    user_id / event_type / value, no nulls."""
    rng = np.random.default_rng(seed)
    table = pa.table(
        {
            "event_id": np.arange(rows, dtype=np.int64),
            "user_id": rng.integers(0, 50_000, rows, dtype=np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), rows)],
            "value": np.round(rng.exponential(50.0, rows), 2),
        }
    )
    pq.write_table(table, path)


# -- catalog corpus ----------------------------------------------------------
# The catalog queries read the ten tables of the repository's test corpus
# (region ... embeddings).  These generators reproduce that corpus' schemas,
# key relationships and value domains (dates, enum values, the 30-word
# document vocabulary with planted exact and near duplicates, unit-norm
# 64-dim embeddings) at a chosen scale factor.

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_COLORS = "red blue green black white hot cold large small dark pale tiny lace light mint rose".split()
_NOUNS = "ring bolt nut gear pipe plate screw valve".split()
_DAY_US = 86_400 * 1_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    words = np.array(_VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    langs = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
    lang = langs[rng.choice(5, n, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": lang,
            "source": [f"src{int(s)}" for s in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb,
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def catalog_corpus(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten corpus tables at scale factor ``sf``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    choice = lambda vals, n: np.array(vals, dtype=object)[rng.integers(0, len(vals), n)]  # noqa: E731
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    tables = {
        "region": pa.table(
            {
                "r_regionkey": i32(np.arange(5)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": i32(np.arange(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": choice(
                    ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{c} {o}"
                    for c, o in zip(choice(_COLORS, n_part), choice(_NOUNS, n_part))
                ],
                "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)],
                "p_type": choice(
                    ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part
                ),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
                "o_orderstatus": choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _ts(
                    "1995-01-01", rng.integers(0, 2405, n_ord) * _DAY_US
                ),
                "o_orderpriority": choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
                "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
                "l_linenumber": i32(rng.integers(1, 8, n_li)),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": choice(["N", "R", "A"], n_li),
                "l_linestatus": choice(["F", "O"], n_li),
                "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_li) * _DAY_US),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": _ts(
                    "2024-01-01", np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
                ),
                "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev, dtype=np.int64),
                "event_type": choice(list(EVENT_TYPES), n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
