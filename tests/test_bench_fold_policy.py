"""Pins bench.py's sidecar fold + contention/regression policy (r15).

The r15 change: the run-level contended test and the per-query
regression bar compare against per-query TYPICAL (median honest-idle
time, non-ratcheting) instead of the min-folded floor. Rationale in
``bench.fold_policy``'s docstring — floors are per-query minima over
an ever-growing sample count, so vs-floor medians of honest runs
drift up (two ps-verified-idle r15 sweeps read 1.271/1.278 vs floors
carrying 8 samples) and the old test labeled the host's steady state
as contention. These tests pin every branch without a Spark run.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import fold_policy


def test_idle_run_vs_typical_reads_clean_even_when_floors_are_tight():
    """The motivating case: fresh ~1.27x the min-folded floors but
    ~1.0x typical must NOT be contended (the old vs-floor test fired)."""
    timings = {"a": 1.27, "b": 0.635, "c": 2.54}
    runs = {n: [t, t + 0.05] for n, t in timings.items()}
    prior = {"a": 1.0, "b": 0.5, "c": 2.0}       # tight envelope
    typical = {"a": 1.25, "b": 0.63, "c": 2.5}   # honest-idle medians
    out = fold_policy(timings, runs, prior, typical)
    assert out["run_contended"] is False
    assert out["regressed"] == []
    # uncontended run folds floors (min-merge: no change here) and
    # re-medians typical
    assert out["merged"] == prior
    assert set(out["typical"]) == set(timings)


def test_contended_run_flags_and_freezes_both_references():
    timings = {"a": 2.0, "b": 1.0, "c": 5.0}
    runs = {n: [t, t] for n, t in timings.items()}
    prior = {"a": 1.0, "b": 0.5, "c": 0.9}
    typical = {"a": 1.05, "b": 0.52, "c": 1.0}
    out = fold_policy(timings, runs, prior, typical)
    assert out["run_contended"] is True
    # contended: floors AND typical keep their priors untouched
    assert out["merged"] == prior
    assert out["typical"] == typical
    # uniform ~1.9x slowdown is absorbed by the scaled bar
    # (1.5 * median = 2.87); the 5x outlier still flags through it
    assert out["regressed"] == ["c"]


def test_regression_flags_against_typical_not_floor():
    """A query 1.6x its FLOOR but 1.05x its TYPICAL is the adjudicated
    r14 pattern (ten noise-shaped flags) — must not flag."""
    timings = {"a": 1.6, "b": 0.6}
    runs = {n: [t, t] for n, t in timings.items()}
    prior = {"a": 1.0, "b": 0.55}
    typical = {"a": 1.55, "b": 0.58}
    out = fold_policy(timings, runs, prior, typical)
    assert out["run_contended"] is False
    assert out["regressed"] == []


def test_real_regression_still_flags_on_a_clean_run():
    """One query 2x its typical while the run median sits at 1.0 is a
    code signal and must flag at the UNscaled 1.5x bar."""
    timings = {"a": 1.0, "b": 0.5, "c": 4.0}
    runs = {n: [t, t] for n, t in timings.items()}
    prior = {"a": 0.9, "b": 0.45, "c": 1.8}
    typical = {"a": 1.0, "b": 0.5, "c": 2.0}
    out = fold_policy(timings, runs, prior, typical)
    assert out["run_contended"] is False
    assert out["regressed"] == ["c"]
    # r16 (r15 verdict #2): the flagged query's samples are EXCLUDED
    # from the typical fold — its typical keeps the prior instead of
    # jumping to the flagged reading (which would raise next round's
    # 1.5x bar to 1.5x-the-regression and hide it)
    assert out["typical"]["c"] == 2.0
    # unflagged queries still fold normally
    assert out["typical"]["a"] == 1.0


def test_flagged_query_without_incumbent_stays_unseeded():
    """A newly-registered query whose first clean-run reading flags vs
    its floor must NOT seed typical from the flagged samples — it earns
    its typical on a future within-bar run."""
    timings = {"new": 2.0, "ok": 1.0, "ok2": 1.0, "ok3": 1.0}
    runs = {n: [t, t + 0.1] for n, t in timings.items()}
    prior = {n: 1.0 for n in timings}
    out = fold_policy(timings, runs, prior, {})
    assert out["run_contended"] is False
    assert out["regressed"] == ["new"]
    assert "new" not in out["typical"]
    assert out["typical"]["ok"] == 1.05


def test_new_query_falls_back_to_floor_and_seeds_typical():
    timings = {"new": 1.0}
    runs = {"new": [1.0, 1.1]}
    out = fold_policy(timings, runs, {"new": 0.95}, {})
    assert out["run_contended"] is False
    # uncontended fold seeds typical from the MEDIAN of this run's
    # repeats — not a list re-including the min, which with repeats=2
    # always collapsed to the min (r15 advisor, low)
    assert out["typical"]["new"] == 1.05
    assert out["merged"]["new"] == 0.95


def test_zero_typical_falls_back_to_floor_not_dropped():
    """A committed typical of 0.0 must degrade to the floor reference
    instead of silently removing the query from the contended median
    and the regression check (r15 advisor, low)."""
    timings = {"z": 1.0, "a": 1.0, "b": 1.0, "c": 1.0}
    runs = {n: [t, t] for n, t in timings.items()}
    prior = {"z": 0.5, "a": 1.0, "b": 1.0, "c": 1.0}
    out = fold_policy(timings, runs, prior, {"z": 0.0})
    # z's reference is its floor 0.5 -> ratio 2.0 -> flags on a run
    # whose median (1.0) stays clean
    assert out["run_contended"] is False
    assert out["regressed"] == ["z"]
    # fold side (r16 advisor, low): the 0.0 incumbent is ABSENT, and a
    # flagged query without an incumbent stays unseeded — 0.0 must not
    # round-trip into the sidecar forever
    assert "z" not in out["typical"]


def test_zero_typical_reseeds_unflagged_query_from_runs():
    """The other half of the r16 advisor low: an UNFLAGGED query whose
    committed typical is 0.0 must re-seed from this run's repeats — not
    fold the 0.0 into a 3-element median that biases the seed low."""
    timings = {"y": 1.0, "a": 1.0, "b": 1.0}
    runs = {"y": [1.0, 1.2], "a": [1.0, 1.0], "b": [1.0, 1.0]}
    prior = {"y": 1.0, "a": 1.0, "b": 1.0}
    out = fold_policy(timings, runs, prior, {"y": 0.0})
    assert out["regressed"] == []
    # median([1.0, 1.2]) = 1.1, NOT median([0.0, 1.0, 1.2]) = 1.0
    assert out["typical"]["y"] == 1.1


def test_sub_noise_floor_queries_never_flag():
    timings = {"tiny": 0.15}
    runs = {"tiny": [0.15, 0.15]}
    out = fold_policy(timings, runs, {"tiny": 0.05}, {"tiny": 0.06})
    assert out["regressed"] == []


def test_typical_fold_moves_both_directions():
    """min-folded floors only ever decrease; typical must track drift
    BOTH ways (3-element median of incumbent + this run's repeats).
    Downward movement is UNclamped — it only tightens the next bar."""
    runs_fast = {"a": [0.8, 0.85]}
    out = fold_policy({"a": 0.8}, runs_fast, {"a": 0.79}, {"a": 1.0})
    assert out["typical"]["a"] == 0.85  # moved down, unclamped
    runs_slow = {"a": [1.2, 1.25]}
    out = fold_policy({"a": 1.2}, runs_slow, {"a": 0.79}, {"a": 1.0})
    # 1.2/1.0 median ratio = 1.2 < 1.25: still clean, typical moves up
    # — but only to the 10% drift clamp (r16 verdict #2), not straight
    # to the inflated reading
    assert out["run_contended"] is False
    assert out["typical"]["a"] == 1.1


def test_contended_marked_query_keeps_prior_typical():
    """r16 verdict #2, first rule: a query whose own repeats spread >3x
    within the run (the sidecar's per-query 'contended' marker) must NOT
    fold — the r16 driver window folded similarity_semantic_dedup's
    17.6/4.7 s repeats into typical WHILE marking the row contended
    (3.257 -> 4.664)."""
    timings = {"a": 4.7, "b": 1.0, "c": 1.0}
    runs = {"a": [17.6, 4.7], "b": [1.0, 1.0], "c": [1.0, 1.0]}
    prior = {"a": 3.0, "b": 1.0, "c": 1.0}
    typical = {"a": 3.3, "b": 1.0, "c": 1.0}
    out = fold_policy(timings, runs, prior, typical)
    assert out["contended"] == ["a"]
    # min 4.7 vs typical 3.3 = 1.42x: under the 1.5x bar, so the old
    # within-bar rule would have folded median(3.3, 17.6, 4.7) = 4.7
    assert out["regressed"] == []
    assert out["typical"]["a"] == 3.3  # prior kept exactly
    # a contended-marked query with NO incumbent stays unseeded
    out2 = fold_policy(timings, runs, prior, {"b": 1.0, "c": 1.0})
    assert "a" not in out2["typical"]


def test_fold_clamps_upward_drift_to_ten_percent():
    """r16 verdict #2, second rule: a dirty-but-sub-bar window (both
    repeats at 1.25-1.49x typical — the exact r16 shape that moved five
    heavy rows' typicals up 1.26-1.43x in one fold) moves typical at
    most 10% per fold."""
    timings = {"a": 1.30, "b": 1.0, "c": 1.0}
    runs = {"a": [1.40, 1.30], "b": [1.0, 1.0], "c": [1.0, 1.0]}
    prior = {"a": 0.9, "b": 1.0, "c": 1.0}
    typical = {"a": 1.0, "b": 1.0, "c": 1.0}
    out = fold_policy(timings, runs, prior, typical)
    assert out["run_contended"] is False
    assert out["regressed"] == []
    assert out["contended"] == []
    # unclamped median(1.0, 1.40, 1.30) = 1.30; clamp holds it at 1.1
    assert out["typical"]["a"] == 1.1


# --------------------------------------------------------- r18 protocol

def test_stdout_payloads_two_line_protocol():
    """r17 verdict #1: the driver's PERF comparator reads per-query
    timings from the bench's stdout JSON, but the driver also keeps
    only a ~2000-char tail — so bench.py prints a FULL line (with
    "queries" + "regressed_vs_prior") first and the r17-compatible
    SHORT line last. Pins: (a) the short line stays small enough that
    a 2000-char tail window always contains it whole, even at the
    98-query surface; (b) the full line is the short line plus the
    per-query keys, so any consumer parsing either line gets a
    consistent headline."""
    import json

    from bench import stdout_payloads

    timings = {f"relational_query_name_number_{i:02d}": 1.234 for i in range(98)}
    full, short = stdout_payloads(
        timings, timings, ["relational_query_name_number_07"], False, "0.1", 32,
        "site-packages",
    )
    short_line = json.dumps(short, separators=(",", ":"))
    assert len(short_line) < 1000, "short line must fit a 2000-char tail"
    assert "queries" not in short
    assert short["py_workers"] == "site-packages"
    assert full["queries"] == {n: 1.234 for n in timings}
    assert full["regressed_vs_prior"] == ["relational_query_name_number_07"]
    assert full["cpus"] == 32
    # full is a strict superset of short (same headline values)
    for k, v in short.items():
        assert full[k] == v


def test_rotation_payload_covers_surface_with_current_must_check(tmp_path):
    """r17 verdict #7: the rotation sidecar must make the driver's
    50-row correctness rotation legible — (newest CORRECTNESS rows) ∪
    (must-check prefix) has to cover the registered surface, and the
    payload says so explicitly."""
    import json

    from bench import rotation_payload
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
