"""Whole-registry partition-count invariance audit (r12 self-found,
r13 agenda item pulled forward).

The determinism audit proved every registered query returns identical
values run-to-run at a FIXED configuration. This audit checks the axis
the 1000-executor story actually varies: ``spark.sql.shuffle.partitions``.
The driver's bare session runs at the Spark default (200); a production
cluster would size it in the thousands. A query whose VALUES change with
the shuffle partition count — different float summation trees, a
partition-seeded sample, a layout-dependent tie-break — would silently
produce different answers at cluster scale than the ones the oracle gate
certified, with no red row anywhere.

Method: run each registered query at the session default, then again at
an adversarial alternate (7 — small, prime, coprime to every layout the
engine picks), shared caches evicted between legs, and compare with the
SAME standard the driver's oracle row uses (``driver_check.frames_match``:
exact on ints/strings, rtol=1e-9 when both sides are float — the
question is "would the driver row stay green at a different cluster
width", not bitwise identity, which float reduction trees cannot give).

Known, MEASURED sensitivity: the SGD pair's fits depend on the INPUT
partition layout by reference-faithful construction (sequential
in-partition kernels; drift envelope pinned in test_regression.py). The
input layout is scan splits, not shuffle partitions, so they are
expected to pass here too — but if they ever exceed rtol they are
reported as the documented class ``SENSITIVE_BY_CONSTRUCTION`` rather
than a failure, keeping the audit's exit code about the 96 queries
whose invariance is a CONTRACT, not an envelope.

Usage: python tools/partition_invariance_audit.py [sf_dir] [alt_n]
[query ...]. A full-registry run writes
``PARTITION_INVARIANCE_r{N}.json`` next to the round's other receipts
(N = newest CORRECTNESS round + 1; SPARK_GRAFT_PARTITION_OUT overrides;
a receipt recorded at a different sf_dir is never silently replaced).
Exits non-zero on any contract-class mismatch.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
# sibling tools/ imports, made explicit (r13 advisor low — see
# driver_check.py's note on the implicit script-dir path entry)
sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as contract
from pyspark.sql import SparkSession
from mapreduce_code_spark import registry
from driver_check import frames_match, normalize

ENVELOPE_QUERIES = {"regression_sgd_linear", "regression_sgd_logistic"}

# Queries whose CORRECT sf0.01 result is empty (r13 advisor low: the
# VACUOUS rule would otherwise turn a legitimate 0-row answer — e.g.
# an integrity check with no violations — into a permanent audit
# failure with no escape). Membership is a pinned, reviewable claim
# like ENVELOPE_QUERIES; empty today because every registered query
# returns rows at sf0.01, and the receipt still surfaces the distinct
# VACUOUS_ALLOWED status so an allowlisted row is never mistaken for
# evidence of invariance.
EMPTY_OK_QUERIES: frozenset[str] = frozenset()


def vacuous_status(name: str) -> tuple[str, bool]:
    """(status, is_failure) for a query whose two legs both returned 0
    rows and matched trivially. Factored out so the allowlist semantics
    are unit-pinnable without a Spark run."""
    if name in EMPTY_OK_QUERIES:
        return "VACUOUS_ALLOWED", False
    return "VACUOUS", True


def _artifact_path() -> Path:
    import os
    import re

    root = Path(__file__).resolve().parent.parent
    env = os.environ.get("SPARK_GRAFT_PARTITION_OUT")
    if env:
        return Path(env)
    rounds = [
        int(m.group(1))
        for p in root.glob("CORRECTNESS_r*.json")
        if (m := re.match(r"CORRECTNESS_r(\d+)\.json", p.name))
    ]
    n = (max(rounds) + 1) if rounds else 1
    return root / f"PARTITION_INVARIANCE_r{n:02d}.json"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    alt_n = sys.argv[2] if len(sys.argv) > 2 else "7"
    only = set(sys.argv[3:])
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("partition_invariance_audit")
        .getOrCreate()
    )
    base_n = spark.conf.get("spark.sql.shuffle.partitions")
    if alt_n == base_n:
        print(f"alt_n {alt_n} equals the session default; pick another")
        return 2
    qs = contract.queries()
    unknown = only - set(qs)
    if unknown:
        print(f"UNKNOWN query names: {sorted(unknown)}")
        return 2
    failures = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark.conf.set("spark.sql.shuffle.partitions", base_n)
            registry.evict_all(spark)
            at_base = normalize(fn(spark, sf_dir).toPandas())
            spark.conf.set("spark.sql.shuffle.partitions", alt_n)
            registry.evict_all(spark)
            at_alt = normalize(fn(spark, sf_dir).toPandas())
        except Exception as exc:
            print(f"  {name}: ERROR {type(exc).__name__}: {str(exc)[:160]}")
            failures.append(name)
            report[name] = {
                "status": "ERROR",
                "detail": f"{type(exc).__name__}: {str(exc)[:160]}",
            }
            continue
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", base_n)
            registry.evict_all(spark)
        status = frames_match(at_base, at_alt)
        if status == "OK" and len(at_base) == 0:
            # Two empty frames match trivially — that is not evidence of
            # invariance, it is an empty-result regression hiding behind
            # one (r12 advisor low: the smoke test asserts len(at_base);
            # the full-registry receipt must hold the same standard) —
            # unless the query's correct answer IS empty and says so on
            # the pinned allowlist (non-fatal, distinct status).
            vstatus, fatal = vacuous_status(name)
            print(f"  {name}: {vstatus} (0 rows at both widths)")
            if fatal:
                failures.append(name)
            report[name] = {"status": vstatus, "rows": 0}
        elif status == "OK":
            print(f"  {name}: rows={len(at_base)} INVARIANT")
            report[name] = {"status": "INVARIANT", "rows": len(at_base)}
        elif name in ENVELOPE_QUERIES:
            print(f"  {name}: SENSITIVE_BY_CONSTRUCTION ({status})")
            report[name] = {
                "status": "SENSITIVE_BY_CONSTRUCTION",
                "detail": status,
            }
        else:
            print(f"  {name}: MISMATCH {status[:200]}")
            failures.append(name)
            report[name] = {"status": "MISMATCH", "detail": status[:200]}
    if not only:  # full-registry runs leave the committed receipt
        import json

        out = _artifact_path()
        if out.exists():
            try:
                prior_sf = json.loads(out.read_text()).get("sf_dir")
            except (ValueError, OSError):
                prior_sf = None
            if prior_sf is not None and prior_sf != sf_dir:
                print(
                    f"REFUSING to overwrite {out.name}: it records "
                    f"sf_dir={prior_sf!r}, this run used {sf_dir!r}. "
                    "Set SPARK_GRAFT_PARTITION_OUT to write elsewhere."
                )
                return 1 if failures else 0
        from determinism_audit import _head_sha

        out.write_text(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    # commit certified by this receipt (see
                    # determinism_audit._head_sha for rationale)
                    "head_sha": _head_sha(),
                    "shuffle_partitions": {"base": base_n, "alt": alt_n},
                    "n_queries": len(report),
                    "n_mismatch_or_error": len(failures),
                    "all_invariant": not failures,
                    "queries": report,
                },
                indent=1,
                sort_keys=True,
            )
        )
        print(f"artifact: {out}")
    if failures:
        print(f"FAILURES: {failures}")
        return 1
    print("ALL INVARIANT")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
