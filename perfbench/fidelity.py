"""Side-by-side statistics of the generated query tables and a fixture set.

    python3 perfbench/fidelity.py FIXTURE_DIR [--seed N]

``FIXTURE_DIR`` holds the ten ``<table>.parquet`` files of a fixture set.
The script generates tables at the fixture's scale factor (customer
rows ÷ 150,000) under ``.perfbench-work/`` in the working directory,
prints one markdown row per statistic, and exits 1 when a statistic
differs by more than its tolerance: the share of the fixture value, or
of 1 when that is smaller.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402

TABLES = tuple(datagen.table_sizes(1.0))

# (statistic, SQL giving one number, tolerance)
STATS = [
    *[(f"{t} rows", f"SELECT count(*) FROM {t}", 0.0) for t in TABLES],
    ("lineitems per order, mean", "SELECT avg(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_orderkey)", 0.05),
    ("lineitems per order, max", "SELECT max(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_orderkey)", 0.35),
    ("orders with a lineitem, share",
     "SELECT count(DISTINCT l_orderkey) / (SELECT count(*) FROM orders) FROM lineitem", 0.02),
    ("orders per customer, max", "SELECT max(c) FROM (SELECT count(*) c FROM orders GROUP BY o_custkey)", 0.3),
    ("lineitems per part, max", "SELECT max(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_partkey)", 0.3),
    ("lineitems per supplier, max", "SELECT max(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_suppkey)", 0.1),
    ("order date span, days", "SELECT date_diff('day', min(o_orderdate), max(o_orderdate)) FROM orders", 0.01),
    ("ship date span, days", "SELECT date_diff('day', min(l_shipdate), max(l_shipdate)) FROM lineitem", 0.01),
    ("l_quantity, mean", "SELECT avg(l_quantity) FROM lineitem", 0.02),
    ("l_discount, mean", "SELECT avg(l_discount) FROM lineitem", 0.02),
    ("o_totalprice, mean", "SELECT avg(o_totalprice) FROM orders", 0.02),
    ("distinct part names", "SELECT count(DISTINCT p_name) FROM part", 0.0),
    ("distinct brands", "SELECT count(DISTINCT p_brand) FROM part", 0.0),
    ("event users", "SELECT count(DISTINCT user_id) FROM events", 0.0),
    ("events per user, max", "SELECT max(c) FROM (SELECT count(*) c FROM events GROUP BY user_id)", 0.2),
    ("event users that are customers, share",
     "SELECT avg(CASE WHEN user_id IN (SELECT c_custkey FROM customer) THEN 1 ELSE 0 END) FROM events", 0.0),
    ("gap between events, mean s",
     "SELECT avg(g) FROM (SELECT epoch(ts) - epoch(lag(ts) OVER (ORDER BY ts)) g FROM events)", 0.1),
    ("event types", "SELECT count(DISTINCT event_type) FROM events", 0.0),
    ("distinct props", "SELECT count(DISTINCT props) FROM events", 0.0),
    ("event value, mean", "SELECT avg(value) FROM events", 0.05),
    ("document vocabulary",
     "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)", 0.0),
    ("words per document, mean", "SELECT avg(len(string_split(text, ' '))) FROM documents", 0.05),
    ("near-duplicate documents, share", "SELECT avg(CASE WHEN text LIKE '% dup' THEN 1 ELSE 0 END) FROM documents", 0.5),
    ("exact-duplicate documents", "SELECT count(*) - count(DISTINCT text) FROM documents", 3.0),
    ("document sources", "SELECT count(DISTINCT source) FROM documents", 0.0),
    ("english documents, share", "SELECT avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) FROM documents", 0.15),
    ("embedding labels", "SELECT count(DISTINCT label) FROM embeddings", 0.0),
]


def _embedding_stats(tables_dir: str) -> dict[str, float]:
    """Dimension, and each label centroid's norm times sqrt(rows per
    label): about 1 for isotropic vectors whose label is independent."""
    t = pq.read_table(os.path.join(tables_dir, "embeddings.parquet"))
    x = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    labels = t.column("label").to_numpy()
    scaled = [
        np.linalg.norm(x[labels == k].mean(axis=0)) * np.sqrt((labels == k).sum())
        for k in np.unique(labels)
    ]
    return {"embedding dimension": float(x.shape[1]), "label centroid norm x sqrt(n)": float(np.mean(scaled))}


def statistics_of(tables_dir: str) -> dict[str, float]:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
        out = {name: float(con.execute(sql).fetchone()[0]) for name, sql, _tol in STATS}
        out["schemas"] = ";".join(
            f"{t}:{','.join(f'{c}/{ty}' for c, ty, *_ in con.execute(f'DESCRIBE {t}').fetchall())}"
            for t in TABLES
        )
    finally:
        con.close()
    out.update(_embedding_stats(tables_dir))
    return out


TOLERANCE = {name: tol for name, _sql, tol in STATS} | {
    "embedding dimension": 0.0,
    "label centroid norm x sqrt(n)": 0.3,
}


def compare(fixture: dict, generated: dict) -> list[tuple[str, object, object, bool]]:
    """(statistic, fixture value, generated value, within tolerance)."""
    rows = [("schemas", "", "same" if fixture["schemas"] == generated["schemas"] else "differ",
             fixture["schemas"] == generated["schemas"])]
    for name, tol in TOLERANCE.items():
        f, g = fixture[name], generated[name]
        rows.append((name, f, g, abs(g - f) <= tol * max(1.0, abs(f))))
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("fixture_dir")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    fixture = statistics_of(args.fixture_dir)
    sf = fixture["customer rows"] / 150_000
    work = os.path.join(os.getcwd(), ".perfbench-work", f"fidelity-{os.getpid()}")
    try:
        generated = statistics_of(datagen.write_tables(args.seed, sf, work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rows = compare(fixture, generated)
    print(f"| statistic (sf{sf:g}, seed {args.seed}) | fixture | generated | within tolerance |")
    print("|---|---|---|---|")
    for name, f, g, ok in rows:
        f, g = (f"{v:.4g}" if isinstance(v, float) else v for v in (f, g))
        print(f"| {name} | {f} | {g} | {'yes' if ok else 'NO'} |")
    return 0 if all(ok for *_, ok in rows) else 1


if __name__ == "__main__":
    sys.exit(main())
