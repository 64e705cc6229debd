"""Output checks: registered DuckDB oracles and order-insensitive result
hashes. Both run outside every timed span. Frames are compared with the
repository's shared standard, ``tools/compare.py``."""

from __future__ import annotations

import hashlib
import os
import sys
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from compare import frames_match, normalize  # noqa: E402,F401


def oracle_frame(sql: str, sf_dir: str) -> pd.DataFrame:
    """Run one registered oracle in DuckDB over the parquet tables in
    ``sf_dir``, each exposed as a view named after its file."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{sf_dir}/{f}'")
        return normalize(con.sql(sql).df())
    finally:
        con.close()


def result_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: column names plus the sorted
    ``repr`` of every row (floats keep all their digits)."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(tuple(r)) for r in pdf[cols].itertuples(index=False))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()[:16]
