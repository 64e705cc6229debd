"""Oracle-differential helpers mirroring the driver's compare: row count,
column set, and order-insensitive values (sorted columns, sorted rows)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from mapreduce_code_spark.sources.schemas import SCHEMAS


def duckdb_run(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in SCHEMAS:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        return con.sql(sql).df()
    finally:
        con.close()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return pdf


def _exact_repr(v) -> str:
    """Full-fidelity repr for an exact-compare cell. numpy's ndarray repr
    elides arrays past ~1000 elements with '...', so two bitwise-different
    wide vectors could normalize to EQUAL strings (r11 advisor, low) —
    convert array-likes to tuples element by element (recursively, for
    nested arrays) so every element participates in the comparison."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "(" + ", ".join(_exact_repr(x) for x in v) + ")"
    return repr(v)


def normalize_exact(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive EXACT-compare projection (r11 determinism
    checks): sorted columns, object/array/list cells made hashable +
    orderable via full-fidelity _exact_repr (never numpy's truncating
    repr), sorted rows. The ONE definition shared by the suite's
    determinism smoke and tools/determinism_audit.py, so the two checks
    can never silently disagree on what 'identical' means (review
    finding: three hand-rolled copies had already begun to diverge)."""
    pdf = pdf[sorted(pdf.columns)]
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("object") or pdf[c].map(
            lambda v: isinstance(v, (list, tuple, np.ndarray))
        ).any():
            pdf[c] = pdf[c].map(_exact_repr)
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def assert_parity(spark_df, sf_dir: str, sql: str, rtol: float = 1e-9) -> None:
    got = _normalize(spark_df.toPandas())
    want = _normalize(duckdb_run(sf_dir, sql))
    assert list(got.columns) == list(want.columns), (
        f"column mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_numeric_dtype(w):
            pd.testing.assert_series_equal(
                g.astype(float), w.astype(float), check_names=False,
                rtol=rtol, check_dtype=False,
            )
        else:
            assert g.astype(str).tolist() == w.astype(str).tolist(), f"values differ in {c}"


EVENTS_SCHEMA_STR = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,"
    " value DOUBLE, props STRING"
)


def sf_transactions(spark, sf_dir: str, ordered: bool = False):
    """The Apriori baskets of an sf corpus, built directly (no registry
    cache): sorted items, or encounter order with ``ordered``."""
    from mapreduce_code_spark.plans import prep
    from mapreduce_code_spark.sources.io import load_table

    build = prep.transactions_ordered if ordered else prep.transactions
    return build(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def event_row(eid, uid, typ, minutes, k, value=10.0):
    """Synthetic events-table row builder shared by the attribution
    tests; ``k=None`` plants a null-page props payload."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    props = "{}" if k is None else '{"k": %d}' % k
    return (
        eid,
        t0 + dt.timedelta(minutes=minutes),
        uid,
        typ,
        value,
        props,
    )
