"""Deterministic synthetic tables for the benchmark.

Reproduces the shape of the engine's fixture tables (TPC-H-like star
schema, an ``events`` CDC stream, a ``documents`` corpus with planted
near-duplicates and unit-norm ``embeddings``) at any scale factor, so the
benchmark needs nothing outside its checkout.  Row counts follow the
fixture convention: ``lineitem`` has 6,000,000 x sf rows.

The tables are a function of ``(sf, DATA_SEED)`` only; the workload seed
never changes them, so every run of a workload scans the same bytes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
GEN_VERSION = 1

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float) -> dict[str, pd.DataFrame]:
    """Every fixture table at scale ``sf`` as pandas frames."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    out: dict[str, pd.DataFrame] = {}

    out["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype="int64")
    out["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(_STATUS, n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(_PRIORITY, n_ord),
        }
    )
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    # ~30 days of events whatever the scale, ~67 events per user.
    gap_us = rng.exponential(30 * 86_400e6 / n_evt, n_evt).astype("int64")
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_evt, dtype="int64"),
            "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gap_us).astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_evt).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    n_words = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(_VOCAB, k)) for k in n_words]
    # 5% planted near-duplicates: another document's text plus one token.
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    for i in dups:
        j = int(rng.integers(0, n_docs))
        texts[i] = texts[j if j != i else (i + 1) % n_docs] + " dup"
    doc_id = np.arange(n_docs, dtype="int64")
    out["documents"] = pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in doc_id],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": list(emb),
            "label": rng.integers(0, 10, n_emb).astype("int32"),
        }
    )
    return out


def ensure(root: str, sf: float) -> str:
    """Write the tables for ``sf`` under ``root`` once; return their dir.

    Written to a temporary directory and renamed into place, so an
    interrupted run never leaves a half-written table set behind.
    """
    final = os.path.join(root, f"sf{sf}-v{GEN_VERSION}")
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, df in tables(sf).items():
        schema = None
        if name == "embeddings":
            schema = pa.schema(
                [
                    ("vec_id", pa.int64()),
                    ("embedding", pa.list_(pa.float32())),
                    ("label", pa.int32()),
                ]
            )
        pq.write_table(
            pa.Table.from_pandas(df, schema=schema, preserve_index=False),
            os.path.join(tmp, f"{name}.parquet"),
        )
    os.replace(tmp, final)
    return final
