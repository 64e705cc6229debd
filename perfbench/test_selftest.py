"""Self-test of the benchmark at about sf0.001.

    python3 -m pytest perfbench -q

Runs every workload once, traced, in one process on the self-test input
sizes, and pins what the benchmark's consumers rely on: the result
line's shape, every metric name and unit in ``BENCHMARK.json``, a clean
check at HEAD, and that an injected wrong result raises the error rate
above 0.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())

# Self-test sizes (about sf0.001): same queries, same code paths.
SMOKE: dict[str, dict[str, dict]] = {
    "reference_iterative": {
        "part": {"n": 200},
        "lineitem": {"n": 3_000, "n_part": 200},
    },
    "near_dup_hot_key": {
        "documents": {"n": 61, "copies": 3},
        "embeddings": {"n": 61, "copies": 3},
        "events": {"n": 1_000, "n_users": 30, "hot_rows": 300},
    },
}


@pytest.fixture(scope="module")
def work():
    d = HERE / ".work" / f"run-{os.getpid()}"
    run.prepare_env(d)
    yield d
    run.stop_jvm()
    os.chdir(run.ROOT)
    shutil.rmtree(d, ignore_errors=True)


def _bench(work, workload, queries=None, drop_row=None):
    """One traced run at self-test sizes with a single measured pass;
    ``drop_row`` names a query whose result loses one row."""
    args = run.parse_args(
        ["--workload", workload, "--seed", "3", "--seconds", "0", "--trace", "1"]
    )
    bench = run.Bench(args, work)
    bench.tables = SMOKE[workload]
    bench.warmup_passes = 0
    bench.min_warm = 1
    if queries is not None:
        bench.queries = [q for q in bench.queries if q[0] in queries]
    if drop_row is not None:
        fn = bench.fns[drop_row]
        bench.fns = dict(bench.fns, **{drop_row: lambda spark, sf: fn(spark, sf).offset(1)})
    return bench.run()


def _units(entries):
    return {m["name"]: m["unit"] for m in entries}


def test_spec_names_the_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert SPEC["command"][-1] == "perfbench/run.py"
    assert set(SMOKE) == set(WORKLOADS)


def test_same_seed_gives_identical_inputs(work):
    tables = {t: s for wl in SMOKE.values() for t, s in wl.items()}
    a, b, c = (str(work / f"seed-{d}") for d in "abc")
    inputs.build(a, 7, tables)
    inputs.build(b, 7, tables)
    inputs.build(c, 8, tables)
    assert inputs.content_hash(a, tables) == inputs.content_hash(b, tables)
    assert inputs.content_hash(a, tables) != inputs.content_hash(c, tables)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_workload_shape_and_check(work, workload):
    report, line = _bench(work, workload)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"], report["errors"]
    assert line["failed"] == 0 and line["attempted"] >= len(WORKLOADS[workload]["queries"])
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    assert got == _units(SPEC["per_layer"])
    e2e = {k: v["unit"] for k, v in report["end_to_end"].items()}
    assert e2e == _units(SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in report["end_to_end"].values())
    assert line["metrics"]["error_rate"]["value"] == 0
    assert set(report["oracle"].values()) == {"OK"}
    fp = report["fingerprint"]
    for key in ("cpus", "ram_gb", "spark", "python", "java", "driver_heap",
                "local_dir_fs", "sgd_kernel"):
        assert fp[key] not in (None, "")


def test_injected_wrong_result_counts(work):
    report, line = _bench(work, "near_dup_hot_key", queries={"events_sliding_window"},
                          drop_row="events_sliding_window")
    assert not line["correct"]
    assert line["failed"] >= 1
    assert line["metrics"]["error_rate"]["value"] > 0
    assert report["oracle"]["events_sliding_window"] != "OK"
