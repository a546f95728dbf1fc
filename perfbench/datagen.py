"""Seeded generator for the ten query-input tables.

The tables follow the engine's TPC-H-ish fixture set (``io.TABLES``):
the same columns, physical types, value domains, key fan-outs, text
vocabulary and duplicate rate, at a chosen scale factor. ``fidelity.py``
measures those statistics side by side with a fixture directory. The
same ``(seed, sf)`` always gives the same bytes of data, so two runs
with one seed see identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_DAY0 = np.datetime64("1995-01-01", "us")
_EVENTS_T0 = np.datetime64("2024-01-01", "us")
_US_PER_DAY = 86_400_000_000


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    return pa.array(_DAY0 + rng.integers(lo, hi + 1, n) * _US_PER_DAY, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; about 5% are an earlier document plus a
    trailing ``dup`` word (near duplicates); two near duplicates of one
    document are exact copies of each other, as in the fixture set."""
    vocab = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Isotropic random unit vectors with one of ten labels each; the
    label is independent of the vector."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    x = rng.normal(0, 1, (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    vecs = pa.array(list(x.astype(np.float32)), pa.list_(pa.float32()))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": vecs, "label": labels})


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``(seed, sf)`` as Arrow tables."""
    n = table_sizes(sf)
    rng = np.random.default_rng(seed)
    nc, ns, npart, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"], n["events"],
    )
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS, pa.string())}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -1000, 10000, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -1000, 10000, ns),
        }
    )
    keys = np.arange(npart, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
            "o_totalprice": _money(rng, 1000, 500000, no),
            "o_orderdate": _days(rng, 0, 2404, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
            "l_linestatus": _pick(rng, ("F", "O"), nl),
            "l_shipdate": _days(rng, 1, 2499, nl),
        }
    )
    gaps = rng.exponential(30 * _US_PER_DAY / ne, ne).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(_EVENTS_T0 + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, nc // 10), ne).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> str:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def fingerprint(tables_dir: str) -> str:
    """Content digest of the generated parquet files (run context)."""
    import hashlib

    h = hashlib.sha256()
    for name in sorted(os.listdir(tables_dir)):
        with open(os.path.join(tables_dir, name), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()[:16]


if __name__ == "__main__":
    import sys

    t0 = dt.datetime.now()
    write_tables(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3])
    print(f"wrote {sys.argv[3]} in {(dt.datetime.now() - t0).total_seconds():.2f}s")
