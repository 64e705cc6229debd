"""Cross-family double-run determinism smoke (r11 contract hardening).

The driver's oracle check hashes values order-insensitively, so it
silently relies on every registered query returning the SAME values on
every run — a property the r11 SGD finding showed can break invisibly
(`repartitionByRange`'s RDD-id-seeded boundary sampling made identical
fits differ run-to-run while the rows-only check stayed green). The
full 98-query audit is `tools/determinism_audit.py` (run green r11);
this smoke pins the property in the suite for one representative query
per family, chosen for the constructs most likely to regress it:
iterative averaging (SGD), hash-salted sampling, MinHash/LSH banding,
approx quantiles, window/session paths, the pinned IVF quantizer,
rolling-hash winnowing, and the graph fixpoint.
"""

from __future__ import annotations

import pandas as pd
import pytest

from mapreduce_code_spark import registry
from tests.helpers import normalize_exact

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
def test_double_run_is_bitwise_identical(spark, sf_dir, name):
    fn = registry.queries()[name]
    # every shared build is evicted between the runs: a live one (e.g.
    # graph_pagerank_clicks' click_edges frame) would hand run 2 the
    # cached blocks of exactly the stage whose run-to-run determinism
    # this checks
    try:
        registry.evict_all(spark)
        first = normalize_exact(fn(spark, sf_dir).toPandas())
        registry.evict_all(spark)
        second = normalize_exact(fn(spark, sf_dir).toPandas())
    finally:
        registry.evict_all(spark)
    assert len(first), f"vacuous: {name} returned no rows"
    pd.testing.assert_frame_equal(first, second, check_exact=True)
