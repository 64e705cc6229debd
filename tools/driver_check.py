"""Emulate the driver's verify pass against the live contract surface.

Runs ``entry(spark)`` (smoke: >=0 rows, stable schema), then every
``queries()[name]`` at the given sf_dir and compares row-count + column
set + order-insensitive values against ``oracle_sql()[name]`` via DuckDB —
the same check the driver records in CORRECTNESS_r{N}.json.

Usage: python tools/driver_check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

import __spark_entry__ as contract
from pyspark.sql import SparkSession
from mapreduce_code_spark.operators.sgd_theta_pinned import (
    PINNED_SF_QUERIES,
    assert_pinned_sf,
)
from mapreduce_code_spark.sources.schemas import SCHEMAS


# normalize/frames_match live in tools/compare.py (pandas-only, so the
# unit pins and any light caller can import them without pulling in
# duckdb/pyspark/the engine registry); re-exported here for the
# existing audit imports. The script-dir insert makes the sibling
# import explicit (r13 advisor low: it used to rely on the implicit
# script-dir path entry, which `python -m tools.driver_check` and an
# importing caller don't get).
sys.path.insert(0, str(Path(__file__).resolve().parent))
from compare import frames_match, normalize  # noqa: F401,E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # Deliberately a BARE session — no engine configs. The round driver
    # constructs its own vanilla SparkSession and calls the registry
    # directly, so any conf the engine needs (e.g. nanosAsLong) must be
    # applied by the engine at the point of use, not assumed from
    # session.get_spark(). Round 1 shipped 9 red queries because this
    # harness used get_spark() and masked exactly that class of bug.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver_check")
        .getOrCreate()
    )

    edf = contract.entry(spark)
    n = edf.count()
    print(f"entry(): rows={n} schema={edf.schema.simpleString()}")
    assert n > 0, "entry() returned an empty result"

    qs, oracles = contract.queries(), contract.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"UNKNOWN query names: {sorted(unknown)}")
        return 2
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # The driver records a per-query err and moves on; a raising query
        # must not mask the health of everything registered after it.
        try:
            # sf-pinned LITERAL oracles (r14 verdict #3): comparing them
            # at any other sf would hash-mismatch two correct rows —
            # fail self-describingly before burning the Spark run.
            if name in PINNED_SF_QUERIES and name in oracles:
                assert_pinned_sf(sf_dir, name)
            sdf = fn(spark, sf_dir)
            if name not in oracles:
                print(f"  {name}: rows-only check, rows={sdf.count()}")
                continue
            got = normalize(sdf.toPandas())
        except Exception as exc:
            print(f"  {name}: ERROR {type(exc).__name__}: {str(exc)[:200]}")
            failures.append(name)
            continue
        con = duckdb.connect()
        for t in SCHEMAS:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        want = normalize(con.sql(oracles[name]).df())
        con.close()
        status = frames_match(got, want)
        print(f"  {name}: rows={len(got)} {status}")
        if status != "OK":
            failures.append(name)
    if failures:
        print(f"FAILED: {failures}")
        return 1
    print("ALL OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
