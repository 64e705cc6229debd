"""Cross-family shuffle-partition-count invariance smoke (r12).

The determinism audit/smoke pin run-to-run stability at a FIXED
configuration; this module pins the axis a real cluster varies:
``spark.sql.shuffle.partitions``. The driver certifies results at one
width, production runs at another — a query whose values depend on the
shuffle width (float reduction trees aside, which the driver-faithful
rtol absorbs) would ship different answers at scale than the ones the
oracle gate checked. The full 98-query audit is
``tools/partition_invariance_audit.py`` (writes the per-round
``PARTITION_INVARIANCE_r{N}.json`` receipt); this smoke pins one
representative per family in the suite, same selection rationale as
``test_determinism_smoke.py``: the constructs most likely to regress.

The SGD pair is deliberately ON the list even though its INPUT-layout
sensitivity is envelope-pinned (test_regression.py): its layout derives
from scan splits, not the shuffle width, so shuffle-width invariance is
a contract for it too — a regression here would mean the exact-split
kernel started consulting the wrong knob.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from mapreduce_code_spark import registry

SMOKE = [
    "regression_sgd_logistic",
    "sampling_global_shuffle",
    "dedup_minhash_lsh",
    "relational_histogram_quantiles",
    "events_session_paths",
    "similarity_topk_ivf_pinned",
    "text_winnow_fingerprint",
    "graph_pagerank_clicks",
]


@pytest.mark.parametrize("name", SMOKE)
def test_values_survive_shuffle_width_change(spark, sf_dir, name):
    from driver_check import frames_match, normalize

    fn = registry.queries()[name]
    base = spark.conf.get("spark.sql.shuffle.partitions")
    alt = "7" if base != "7" else "11"
    try:
        registry.evict_all(spark)
        at_base = normalize(fn(spark, sf_dir).toPandas())
        spark.conf.set("spark.sql.shuffle.partitions", alt)
        registry.evict_all(spark)
        at_alt = normalize(fn(spark, sf_dir).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", base)
        registry.evict_all(spark)
    assert len(at_base), f"vacuous: {name} returned no rows"
    status = frames_match(at_base, at_alt)
    assert status == "OK", f"{name} at shuffle.partitions {alt}: {status}"
