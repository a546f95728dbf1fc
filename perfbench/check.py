"""Correctness checks, run after the clock stops.

Query answers are compared with the query's DuckDB ``oracle`` SQL on
the same generated tables, through the repo's own oracle
comparison (``tests/oracle_check.py``): row count plus an
order-insensitive hash of the rows with floats rounded to 6 decimals,
and, when the hashes differ, that module's ``compare``, which keeps
integers exact and gives floats a relative tolerance of 1e-6.
"""

from __future__ import annotations

import hashlib
import math
import os

import pandas as pd

from tests.oracle_check import _canon, compare, run_oracle

FLOAT_DECIMALS = 6


def oracle_answers(oracles: dict[str, str], tables_dir: str) -> dict[str, pd.DataFrame]:
    """Run each oracle SQL once over the tables in ``tables_dir``."""
    return {name: run_oracle(sql, tables_dir) for name, sql in oracles.items()}


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT or v is pd.NA:
        return "\x00"
    if isinstance(v, float):
        return repr(round(v, FLOAT_DECIMALS) + 0.0)
    if isinstance(v, pd.Timestamp):
        return v.tz_localize(None).isoformat() if v.tzinfo else v.isoformat()
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):
        return _cell(v.asDict())
    return str(v)


def answer_hash(df: pd.DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result frame."""
    df = _canon(df)
    total = 0
    for row in df.itertuples(index=False, name=None):
        digest = hashlib.blake2b("\x01".join(map(_cell, row)).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(digest, "little")) % (1 << 64)
    cols = hashlib.blake2b(",".join(df.columns).encode(), digest_size=4).hexdigest()
    return len(df), f"{cols}:{total:016x}"


class _Collected:
    """A collected answer, in the shape ``compare`` takes (a frame with
    ``toPandas``), so the check can run after the session has stopped."""

    def __init__(self, df: pd.DataFrame) -> None:
        self._df = df

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - Spark's name
        return self._df


def matches_oracle(result: pd.DataFrame, oracle: pd.DataFrame) -> str | None:
    """None when ``result`` equals ``oracle``; else a one-line reason."""
    if sorted(result.columns) != sorted(oracle.columns):
        return f"columns {sorted(result.columns)} != {sorted(oracle.columns)}"
    (n_r, h_r), (n_o, h_o) = answer_hash(result), answer_hash(oracle)
    if n_r != n_o:
        return f"rows {n_r} != {n_o}"
    if h_r == h_o:
        return None
    errs = compare(_Collected(result), oracle)
    return "; ".join(errs)[:300] if errs else None


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory, from the file footers."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return -1
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring hidden and marker files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size
