"""Pins bench.py's stdout protocol and its rotation sidecar without a
Spark run: the bench reports one run, so its output is a pure function
of that run's timings."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import rotation_payload, stdout_payloads

SHORT_KEYS = {
    "metric",
    "value",
    "unit",
    "sf",
    "n_queries",
    "queries_sidecar",
    "rotation_sidecar",
    "py_workers",
}


def test_stdout_payloads_two_line_protocol():
    """A consumer may keep only a ~2000-char tail of the bench output,
    so bench.py prints a FULL line (with the per-query "queries" map)
    first and the SHORT contract line last. Pins: (a) the short line has
    exactly the contract keys and stays small enough that a 2000-char
    tail window always holds it whole at the 98-query surface; (b) the
    full line is the short line plus "queries" and "cpus", so a consumer
    parsing either line gets the same headline."""
    timings = {f"relational_query_name_number_{i:02d}": 1.234 for i in range(98)}
    full, short = stdout_payloads(timings, "0.1", 32, "site-packages")
    short_line = json.dumps(short, separators=(",", ":"))
    assert len(short_line) < 1000, "short line must fit a 2000-char tail"
    assert set(short) == SHORT_KEYS
    assert short["value"] == round(98 * 1.234, 3)
    assert short["n_queries"] == 98
    assert short["sf"] == 0.1
    assert short["py_workers"] == "site-packages"
    assert set(full) == SHORT_KEYS | {"queries", "cpus"}
    assert full["queries"] == {n: 1.234 for n in timings}
    assert full["cpus"] == 32
    for k, v in short.items():
        assert full[k] == v


def test_rotation_payload_covers_surface_with_current_must_check(tmp_path):
    """The rotation sidecar must make a ~50-row correctness rotation
    legible — (newest CORRECTNESS rows) ∪ (must-check prefix) has to
    cover the registered surface, and the payload says so explicitly."""
    from mapreduce_code_spark.registry import queries
    from mapreduce_code_spark.rotation import ROUND_FIRST

    reg = sorted(queries())
    # synthesize a newest-CORRECTNESS file = everything the must-check
    # prefix does NOT name (the rotation invariant the real files obey)
    covered_last_round = [n for n in reg if n not in set(ROUND_FIRST)]
    (tmp_path / "CORRECTNESS_r99.json").write_text(
        json.dumps({n: {"rows_match": True} for n in covered_last_round})
    )
    p = rotation_payload(tmp_path)
    assert p["newest_correctness_round"] == 99
    assert p["n_registered"] == len(reg)
    assert p["union_covers_full_surface"] is True
    assert p["must_check_prefix_next_round"] == list(ROUND_FIRST)
