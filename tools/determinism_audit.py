"""Whole-registry double-run determinism audit (r11 contract hardening).

The r11 SGD finding (repartitionByRange's RDD-id-seeded boundary
sampling made identical fits differ run-to-run) raises the obvious
follow-up: does any OTHER registered query return different values when
run twice in one session? The oracle hash-compare is order-insensitive
but value-sensitive, so a query whose row SELECTION or float SUMMATION
ORDER varies between runs would flap the driver's hash check sooner or
later. This audit runs every registered query TWICE in a bare session
(same session conventions as tools/driver_check.py) and requires the
normalized results to be EXACTLY equal — bitwise, no tolerance, NaN==NaN.

Usage: python tools/determinism_audit.py [sf_dir] [query_name ...]
Prints one line per query; exits non-zero on any mismatch.

Per-round artifact (r11 verdict #3): a FULL-registry run (no query-name
filter) also writes ``DETERMINISM_r{N}.json`` at the repo root — one
entry per query, ``{"status": "DETERMINISTIC"|"MISMATCH"|"ERROR",
"rows": n}`` plus a top-level summary — so the green run is a committed
receipt next to CORRECTNESS_r{N}.json instead of a commit-message
claim. N defaults to the newest CORRECTNESS round on disk PLUS ONE —
the round in progress, since the driver writes CORRECTNESS_r{N} only
at round end; override the full path with SPARK_GRAFT_DETERMINISM_OUT.
A MISMATCH still exits 1, and the artifact records it — failing loudly
in both channels. An existing receipt recorded at a DIFFERENT sf_dir
is never silently replaced: the run refuses and asks for the env
override, so a default-args rerun can't swap the committed round
receipt for a different-scale one.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pandas as pd

import __spark_entry__ as contract
from pyspark.sql import SparkSession
from mapreduce_code_spark import registry
from tests.helpers import normalize_exact as normalize


def _head_sha() -> str | None:
    """Current HEAD commit, recorded in the receipt as the code state it
    certifies. None outside a git checkout (the receipt is then
    mtime-ordered only, as before).

    A ``-dirty`` suffix (r13 advisor low) marks a receipt produced over
    uncommitted CODE changes — a standalone audit run on a dirty tree
    would otherwise embed a sha whose committed tree did not produce
    the results. Dirtiness uses round_close's own classifier
    (``classify_dirty`` over the same CODE_GLOBS), so the two tools
    can never disagree about what counts; round_close's strict
    ``recorded_sha == HEAD`` equality then rejects dirty-stamped
    receipts mechanically ("abc123-dirty" never equals a sha)."""
    import subprocess

    here = Path(__file__).resolve().parent
    if str(here) not in sys.path:
        sys.path.insert(0, str(here))
    # reuse round_close's own git wrapper AND dirty classifier — one
    # source of truth, so the porcelain invocation and the path
    # classification can't drift apart by hand (review finding). The
    # import sits INSIDE the try: a missing/renamed round_close.py is
    # the same documented non-git degradation as a failed git call
    # (r14 advisor low), never a raise.
    try:
        from round_close import _git, dirty_code_paths

        sha = _git("rev-parse", "HEAD")
        dirty = dirty_code_paths()
    except (ImportError, OSError, subprocess.CalledProcessError):
        return None
    return f"{sha}-dirty" if dirty else sha


def _artifact_path() -> Path:
    """DETERMINISM_r{N}.json for the round in progress: N = the newest
    CORRECTNESS_r{N}.json on disk PLUS ONE (the driver writes the
    round's CORRECTNESS at round end, so while building round N only
    rounds <= N-1 exist). SPARK_GRAFT_DETERMINISM_OUT overrides."""
    import os
    import re

    root = Path(__file__).resolve().parent.parent
    env = os.environ.get("SPARK_GRAFT_DETERMINISM_OUT")
    if env:
        return Path(env)
    rounds = [
        int(m.group(1))
        for p in root.glob("CORRECTNESS_r*.json")
        if (m := re.match(r"CORRECTNESS_r(\d+)\.json", p.name))
    ]
    n = (max(rounds) + 1) if rounds else 1
    return root / f"DETERMINISM_r{n:02d}.json"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("determinism_audit")
        .getOrCreate()
    )
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
            # every shared build is evicted between the runs: a live one
            # would hand run 2 the cached blocks of exactly the stage
            # whose run-to-run determinism is being checked
            registry.evict_all(spark)
            first = normalize(fn(spark, sf_dir).toPandas())
            registry.evict_all(spark)
            second = normalize(fn(spark, sf_dir).toPandas())
            registry.evict_all(spark)
        except Exception as exc:
            print(f"  {name}: ERROR {type(exc).__name__}: {str(exc)[:160]}")
            failures.append(name)
            report[name] = {
                "status": "ERROR",
                "detail": f"{type(exc).__name__}: {str(exc)[:160]}",
            }
            registry.evict_all(spark)
            continue
        try:
            pd.testing.assert_frame_equal(first, second, check_exact=True)
            print(f"  {name}: rows={len(first)} DETERMINISTIC")
            report[name] = {"status": "DETERMINISTIC", "rows": len(first)}
        except AssertionError as exc:
            print(f"  {name}: MISMATCH {str(exc)[:200]}")
            failures.append(name)
            report[name] = {"status": "MISMATCH", "detail": str(exc)[:200]}
    if not only:  # full-registry runs leave the committed receipt
        import json

        out = _artifact_path()
        if out.exists():
            try:
                prior_sf = json.loads(out.read_text()).get("sf_dir")
            except (ValueError, OSError):
                prior_sf = None
            if prior_sf is not None and prior_sf != sf_dir:
                # the round receipt on disk came from a different scale;
                # overwriting it on a default-args rerun would silently
                # swap the committed receipt. Refuse — rerun at the same
                # sf_dir, or point SPARK_GRAFT_DETERMINISM_OUT elsewhere.
                print(
                    f"REFUSING to overwrite {out.name}: it records "
                    f"sf_dir={prior_sf!r}, this run used {sf_dir!r}. "
                    "Set SPARK_GRAFT_DETERMINISM_OUT to write elsewhere."
                )
                return 1 if failures else 0
        out.write_text(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    # the commit this receipt CERTIFIES — provenance as
                    # content, not mtime (r13: a regenerated receipt over
                    # unchanged results is byte-identical, so git history
                    # could show the receipt's commit predating the code
                    # commit it actually followed; the sha settles it)
                    "head_sha": _head_sha(),
                    "n_queries": len(report),
                    "n_mismatch_or_error": len(failures),
                    "all_deterministic": not failures,
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
    print("ALL DETERMINISTIC")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
