"""The benchmark's workloads: inputs, registered queries, and the layer
each query's kernel belongs to.

Each query is ``(registered name, layer, check)``:

- ``layer`` names the package module whose per-layer metrics the query
  feeds (``frequent``, ``regression``, ``dedup``, ``similarity``,
  ``pipeline``, ``streaming``, ``relational``). The Apriori rules row
  counts under ``frequent``; the sliding-window row
  (``streaming.windows``) counts under ``relational``, the window layer
  the hot key stresses.
- ``check`` is ``"oracle"`` when the registered DuckDB oracle holds at
  the generated inputs, or ``"hash"`` when it does not: the SGD oracles
  are literal thetas pinned to the sf0.01 test tables
  (``operators/sgd_theta_pinned.py``), so those rows are checked by an
  order-insensitive result hash that must repeat across passes.

Sizes are chosen so that one run, set-up included, takes about a minute
on a 4-core host while every query still does real work.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    # The paper's own MapReduce applications: many small jobs and a
    # driver loop with one mapInPandas collect per SGD iteration.
    "reference_iterative": {
        "tables": {
            "part": {"n": 2_000},
            "lineitem": {"n": 30_000, "n_part": 2_000},
        },
        "queries": [
            ("apriori_frequent_items", "frequent", "oracle"),
            ("apriori_frequent_itemsets", "frequent", "oracle"),
            ("apriori_association_rules_ref", "frequent", "oracle"),
            ("regression_ols_stats", "regression", "oracle"),
            ("regression_sgd_linear", "regression", "hash"),
            ("regression_sgd_logistic", "regression", "hash"),
        ],
    },
    # The LLM-data surface: near-duplicate detection over a 3x corpus
    # with remapped ids (every document has two verbatim copies, so
    # candidate generation and pair verification dominate), the streamed
    # incremental dedup and epoch-rewrite write paths over that corpus,
    # and window/range-join operators over events where one hot user
    # holds 30% of the rows at 1 s spacing.
    "near_dup_hot_key": {
        "tables": {
            "documents": {"n": 333, "copies": 3},
            "embeddings": {"n": 333, "copies": 3},
            "events": {"n": 20_000, "n_users": 300, "hot_rows": 6_000},
        },
        "queries": [
            ("dedup_ngram_jaccard", "dedup", "oracle"),
            ("similarity_cosine_dups", "similarity", "oracle"),
            ("dedup_streamed_incremental", "streaming", "oracle"),
            ("pipeline_materialize_epoch", "pipeline", "oracle"),
            ("relational_rolling_24h", "relational", "oracle"),
            ("events_sliding_window", "relational", "oracle"),
        ],
    },
}

LAYERS = (
    "frequent",
    "regression",
    "dedup",
    "similarity",
    "pipeline",
    "streaming",
    "relational",
)

# query-name prefixes dropped from per-query metric names
_PREFIXES = ("apriori_", "regression_", "dedup_", "similarity_", "events_",
             "relational_", "pipeline_")


def query_metric(name: str, layer: str) -> str:
    """``relational_rolling_24h`` -> ``relational.rolling_24h_s``."""
    short = name
    for p in _PREFIXES:
        if short.startswith(p):
            short = short[len(p):]
            break
    return f"{layer}.{short}_s"
