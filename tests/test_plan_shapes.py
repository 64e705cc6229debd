"""Automated plan-shape audit: every registered query's physical plan —
plus the batch plan of each kept kernel no row returns (KERNEL_BUILDS) —
is checked for scale anti-patterns.

- ``CartesianProduct`` — an unbroadcast cross join means a shuffle-side
  blowup that cannot survive scale.
- ``BatchEvalPython`` — a row-at-a-time Python UDF in the plan means the
  hot path fell off Arrow vectorization (our Python crossings must be
  ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas).

``BroadcastNestedLoopJoin`` is allowed: it appears only for non-equi
joins against broadcast-tiny sides (query vectors, corpus-size scalars),
where it is the right plan.
"""

from __future__ import annotations

import pytest

from mapreduce_code_spark.registry import queries
from mapreduce_code_spark.sources.io import load_table

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")


def _apriori_counts(spark, sf_dir, support=5, ordered=False):
    from mapreduce_code_spark.operators.frequent import (
        AprioriConfig,
        frequent_itemsets,
    )
    from tests.helpers import sf_transactions

    return frequent_itemsets(
        sf_transactions(spark, sf_dir, ordered),
        AprioriConfig(support=support, ordered_identity=ordered),
    )


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def _view_purchase(spark, sf_dir):
    from mapreduce_code_spark.streaming import joins as SJ

    ev = _events(spark, sf_dir)
    return SJ.view_then_purchase(
        ev.filter(ev.event_type == "view"),
        ev.filter(ev.event_type == "purchase"),
        watermark=None,
    )


def _kernel_builds():
    """Batch plans of kept kernels that no registered row returns: the
    rows run them inside a stream (whose returned plan is a sink scan
    the audits cannot see into) or not at all (kernel modes checked
    against DuckDB in test_apriori/test_rules). Each is a direct kernel
    call, keyed by a descriptive name that no registered row uses."""
    from mapreduce_code_spark import registry
    from mapreduce_code_spark.operators import monitoring as MON
    from mapreduce_code_spark.operators import relational as R
    from mapreduce_code_spark.operators import rules
    from mapreduce_code_spark.operators import sampling as SMP
    from mapreduce_code_spark.plans import pipeline as PIPE
    from mapreduce_code_spark.streaming import windows as W

    return {
        "apriori_association_rules": lambda s, d: rules.association_rules(
            _apriori_counts(s, d), 5
        ),
        "apriori_frequent_itemsets_ordered": lambda s, d: _apriori_counts(
            s, d, ordered=True
        ),
        "apriori_frequent_itemsets_s300": lambda s, d: _apriori_counts(
            s, d, support=300
        ),
        "events_anomaly_zscore": lambda s, d: MON.anomaly_zscore(_events(s, d)),
        "events_attribution_last_touch": lambda s, d: (
            MON.attribution_last_touch(_events(s, d))
        ),
        "events_session_window": lambda s, d: W.session_windows(_events(s, d)),
        "events_tumbling_window": lambda s, d: W.tumbling_counts(_events(s, d)),
        "events_view_purchase_correlation": _view_purchase,
        "pipeline_epoch_manifest": lambda s, d: PIPE.epoch_manifest(
            s, registry._epoch_shards_src(s, d), salt=registry.EPOCH_SALT
        ),
        "relational_hll_distinct": lambda s, d: (
            R.hll_distinct_orders_portable(load_table(s, d, "lineitem"))
        ),
        "sampling_stratified_lang": lambda s, d: SMP.stratified_sample(
            load_table(s, d, "documents")
        ),
    }


KERNEL_BUILDS = _kernel_builds()
ALL_NAMES = sorted(set(queries()) | set(KERNEL_BUILDS))


def _query(name):
    """A registered query, or a direct kernel build from KERNEL_BUILDS."""
    return queries().get(name) or KERNEL_BUILDS[name]


def test_kernel_builds_shadow_no_registered_row():
    assert not set(KERNEL_BUILDS) & set(queries())


@pytest.mark.parametrize("name", ALL_NAMES)
def test_no_scale_antipatterns(spark, sf_dir, name):
    df = _query(name)(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in FORBIDDEN:
        assert marker not in plan, f"{name}: {marker} in physical plan"


# Queries whose final operator is a per-group top-k: the rank filter must
# compile to WindowGroupLimit (per-partition group-limit BEFORE the
# window shuffle) — losing it means the full per-group rowset shuffles
# and sorts, which is the difference between top-k and full-sort at scale.
TOPK = (
    "relational_topk_parts_per_brand",
    "similarity_topk_cosine",
    "similarity_topk_ivf_pinned",
    "sampling_source_cap",
)


@pytest.mark.parametrize("name", TOPK)
def test_topk_uses_window_group_limit(spark, sf_dir, name):
    plan = _query(name)(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, f"{name}: rank filter lost WindowGroupLimit"


def _net_exchanges(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange") - plan.count("BroadcastExchange")


def test_hybrid_rrf_plans_five_net_exchanges(spark, sf_dir):
    """Both retrieval legs arrive hash(query_id)-partitioned, so the RRF
    fusion (a union + per-(query, doc) max) and the final rank window
    add no exchange: the dense leg plans 2 (spread, top-k window) and
    the sparse leg 3 (spread, the (q, d, word) dedup, one
    repartition(query_id) serving both count and rank). A full-outer-
    join fusion planned 11."""
    from mapreduce_code_spark.operators import similarity

    # projections, so no registry cache over the bare tables is
    # substituted into these plans (see the near-dup pin below)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assert _net_exchanges(similarity.keyword_ranked(docs)) == 3
    assert _net_exchanges(similarity.hybrid_rrf(docs, emb)) == 5


def test_near_dup_kernels_read_one_shingle_set_per_doc(spark, sf_dir):
    """The near-dup kernels read one persisted ``doc_shingle_sets`` build:
    spread's round-robin plus the groupBy(doc_id) — 2 exchanges, which
    the printed plan repeats under every reference to the set. So each
    count below is 2 × (references to a set) + the kernel's own:

    - ``ngram_jaccard_pairs`` 7: the set under both sides of the sid
      self-join (4), one hash(sid) exchange per side for the df window
      (2), and the (doc_a, doc_b) count (1); at this size the join
      itself broadcasts.
    - ``near_dup_pairs_scalable`` 9: the set under both band-join sides
      and both rerank sides (8) and the distinct over candidate pairs
      (1); at this size the band join and rerank joins broadcast.
    - ``incremental_near_dups`` 9: the new and the corpus set, each under
      its band-join side and its rerank side (8), and the candidate
      distinct (1).

    A sizes aggregate or a shingle-level rerank join adds a reference to
    a set or an exchange and fails this; the exploded-shingle forms the
    set replaced printed 17, 16 and 16."""
    from pyspark.sql import functions as F

    from mapreduce_code_spark.operators import dedup

    # the projection keeps these plans apart from the registry's session-
    # wide caches over the same table (the near-dup pairs, the corpus
    # sets), which Spark would otherwise substitute into them
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    builds = {
        "ngram": lambda: dedup.ngram_jaccard_pairs(docs, threshold=0.2),
        "scalable": lambda: dedup.near_dup_pairs_scalable(docs),
        "incremental": lambda: dedup.incremental_near_dups(
            docs.filter(F.col("doc_id") % 2 == 1),
            docs.filter(F.col("doc_id") % 2 == 0),
        ),
    }
    got = {}
    for name, build in builds.items():
        # released per kernel: a live cached set would be substituted
        # into the next kernel's plan
        dedup.release_persisted()
        got[name] = _net_exchanges(build())
    dedup.release_persisted()
    assert got == {"ngram": 7, "scalable": 9, "incremental": 9}


# Scan-heavy queries with selective predicates: at least one parquet scan
# must carry a non-empty PushedFilters list — an empty one means the
# filter runs post-scan and the 100 TB read is unpruned. (The plan
# printer elides long filter lists with "...", so match on the opening
# bracket followed by content.)
PUSHDOWN = (
    "apriori_frequent_items",
    "events_session_window",
    "events_sliding_window",
    "events_tumbling_window",
    "events_view_purchase_correlation",
    # pipeline_curated_corpus dropped (round 5): the single-scan rewrite
    # computes every gate from the one projection and filters on
    # window-derived columns (keeper_id needs ALL rows of a hash group),
    # so there is no longer any scan-level predicate to push — the same
    # trade the relational_hll_distinct single-scan rewrite made below
    "relational_events_close_pairs",
    "relational_filter_case_orders",
    # relational_hll_distinct dropped: its single-scan rewrite removed the
    # exact-count join whose IsNotNull inference was the only predicate —
    # a predicate-free full-table sketch has nothing to push down
    "relational_kv_upsert",
    "relational_pricing_summary",
    "relational_setops_customers",
    "relational_topk_parts_per_brand",
    "similarity_topk_cosine",
)


@pytest.mark.parametrize("name", PUSHDOWN)
def test_filters_reach_the_scan(spark, sf_dir, name):
    import re

    plan = _query(name)(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[[^\]]", plan), (
        f"{name}: no non-empty PushedFilters on any scan"
    )


# The corpus-scan operators spread an under-partitioned input before their
# explode-heavy stages, but at 100 TB the input already arrives as
# thousands of splits and an unconditional repartition() would be a full
# shuffle of the widest columns for nothing. spread() must therefore be a
# NO-OP (no round-robin Exchange before the explode) when the input
# already has >= shuffle.partitions partitions.
def test_spread_is_noop_on_well_partitioned_input(spark, sf_dir):
    from mapreduce_code_spark.operators.dedup import doc_shingle_sets
    from mapreduce_code_spark.partitioning import spread

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = load_table(spark, sf_dir, "documents")

    # under-partitioned (single file → 1 partition): spread repartitions
    assert spread(docs).rdd.getNumPartitions() == n_part

    # pre-partitioned at/above the target: spread passes through untouched
    pre = docs.repartition(n_part)
    assert spread(pre) is pre

    # end-to-end: the shingle-set plan over a well-partitioned input
    # contains exactly ONE round-robin exchange — the input's own explicit
    # repartition — i.e. spread() added none (the unconditional form
    # added a second one)
    plan = (
        doc_shingle_sets(pre)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("RoundRobinPartitioning") == 1, plan


# Queries allowed a PARTITIONLESS unbounded WindowExec because the window
# input is bounded by construction (never the data): the ~100 histogram
# bins. Everything else must either partition its windows or bound the
# input first (e.g. session_paths ranks only the k rows surviving a
# TakeOrderedAndProject, via a broadcast self-count — window-free).
BOUNDED_GLOBAL_WINDOW_OK = ("relational_histogram_quantiles",)


def _window_nodes(df):
    """Yield (simpleName, partitionSpec_size) for every window-family
    exec node in the compiled physical plan, via the JVM tree walk (the
    toString form elides the empty-partition case ambiguously). Descends
    through AQE wrappers and into cached (InMemoryTableScan) subtrees so
    persisted intermediates don't hide their windows."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name in ("WindowExec", "WindowInPandasExec"):
            yield name, node.partitionSpec().size()
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
        # AQE wraps the real plan; descend into the input plan too
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.inputPlan())
        elif name == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())


@pytest.mark.parametrize(
    "name", sorted(set(ALL_NAMES) - set(BOUNDED_GLOBAL_WINDOW_OK))
)
def test_no_partitionless_unbounded_window(spark, sf_dir, name):
    """A WindowExec with an empty partition spec sorts its ENTIRE input
    in one task — a corpus-sized frame there is the classic silent
    scale-killer (round-4 verdict finding #1). Whitelist only windows
    whose input is bounded by construction.

    Honest coverage note: this audits the POST-HOC plan the query hands
    back. For the eager/streamed queries and the iterative loops that
    end rounds in localCheckpoint, that plan is a checkpoint/memory-sink
    scan — windows INSIDE the loop body or stream are invisible here and
    are instead covered by their kernels' own plan/parity tests (the
    cached-subtree descent above closes the persist() case, not the
    checkpoint one)."""
    df = _query(name)(spark, sf_dir)
    bad = [n for n, psize in _window_nodes(df) if psize == 0]
    assert not bad, f"{name}: partitionless window exec(s) {bad}"


# PLANS.md freshness sentinels (r5 verdict #6): a committed plan
# inventory nothing validates is a plan inventory that silently rots.
# These queries span the shapes the file exists to document — top-k
# operators, pushdown, the cached near-dup pipeline, the new profiler
# Expand, and the manifest chain; their committed rows must match a
# live regeneration byte-for-byte.
PLAN_SENTINELS = [
    "relational_pricing_summary",
    "relational_topk_parts_per_brand",
    "events_session_paths",
    "dedup_near_dup_scalable",
    "relational_profile",
    "pipeline_materialize_manifest",
]


def test_plans_md_sentinel_rows_are_fresh(spark):
    """Regenerate the PLANS.md rows for the sentinel queries with the
    exact row-builder the committed file came from (same sf dir — plan
    shapes can be size-dependent; PLAN_SF_DIR is the one constant both
    this test and tools/plan_report.py read) and diff against the
    committed lines: a plan-shape change without `python
    tools/plan_report.py` now fails pytest instead of shipping a stale
    inventory. Skips on hosts without the PLANS.md-scale dataset
    (round-6 advisor item)."""
    import os
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(root / "tools"))
    try:
        from plan_report import PLAN_SF_DIR, query_row
    finally:
        sys.path.pop(0)

    if not os.path.isdir(PLAN_SF_DIR):
        pytest.skip(f"PLANS.md dataset {PLAN_SF_DIR} not on this host")

    committed = {}
    for line in (root / "PLANS.md").read_text().splitlines():
        if line.startswith("| ") and not line.startswith("| query"):
            committed[line.split("|")[1].strip()] = line
    qs = queries()
    for name in PLAN_SENTINELS:
        row, bad = query_row(name, qs[name], spark, PLAN_SF_DIR)
        assert not bad, bad
        assert name in committed, f"PLANS.md has no row for {name}"
        assert committed[name] == row, (
            f"PLANS.md is stale for {name}:\n committed: {committed[name]}\n"
            f" live:      {row}\nregenerate with tools/plan_report.py"
        )


def test_rotation_lists_name_real_queries():
    """Every name in the _FIRST/_LAST rotation lists must exist in the
    registry — a typo would silently drop the driver-budget ordering the
    round contract depends on — and the ordered dict must contain every
    registered query exactly once, _FIRST entries leading."""
    from mapreduce_code_spark import registry as REG

    names = list(REG.queries())
    assert set(REG._FIRST) <= set(names), set(REG._FIRST) - set(names)
    assert set(REG._LAST) <= set(names), set(REG._LAST) - set(names)
    assert len(REG._FIRST) == len(set(REG._FIRST)), "duplicate in _FIRST"
    assert len(names) == len(set(names)) == len(REG._QUERIES)
    lead = names[: len(REG._FIRST)]
    assert lead == list(REG._FIRST)
    for n in REG._LAST:
        assert names.index(n) >= len(names) - len(REG._LAST)


def _orders_in_broadcast_window() -> str:
    """sf0.1 orders.parquet, skipping unless its COMPRESSED size sits in
    the 2m..10m window between the HIGH_DUPLICATION cap and the 10m
    default — the regime both broadcast-flip tests need. Sums data files
    when the fixture is a Spark-style parquet directory (getsize on a
    dir returns the inode size), and skips — naming the real cause —
    rather than failing if the fixture drifts out of the window."""
    import os

    path = "/root/testdata/sf0.1/orders.parquet"
    if not os.path.exists(path):
        pytest.skip("sf0.1 dataset not on this host")
    if os.path.isdir(path):
        size = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    else:
        size = os.path.getsize(path)
    if not 2 * 1024 * 1024 < size < 10 * 1024 * 1024:
        pytest.skip(
            f"orders.parquet is {size} bytes — outside the 2m..10m "
            "cap..default window these tests need; the fixture changed"
        )
    return path


def test_high_duplication_confs_flip_automatic_broadcast(spark):
    """The HIGH_DUPLICATION_CONFS cap (session.py) must actually change
    the automatic join strategy in the size window the r12 sf10 incident
    lives in: a build side whose COMPRESSED estimate sits between the 2m
    cap and the 10m default. sf0.1 orders.parquet (~2.7 MB on disk) is
    exactly that — under defaults the planner broadcasts it; under the
    cap the same join must fall back to a shuffle join. Explicit
    broadcast() hints must keep working regardless (hints bypass
    thresholds; the engine's own dim broadcasts rely on that)."""
    from pyspark.sql import functions as F

    from mapreduce_code_spark.session import (
        HIGH_DUPLICATION_CONFS,
        apply_high_duplication_confs,
        restore_confs,
    )

    path = _orders_in_broadcast_window()

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # full-width build side: column pruning scales the size estimate by
    # the projected row-width ratio, so a narrow projection would fall
    # under the 2m cap and never exercise the flip
    orders = spark.read.parquet(path)
    build = spark.read.parquet(path)
    joined = orders.alias("a").join(build.alias("b"), "o_orderkey")

    prev = apply_high_duplication_confs(spark)
    try:
        assert set(prev) == set(HIGH_DUPLICATION_CONFS)
        capped = plan(orders.alias("a").join(build.alias("b"), "o_orderkey"))
        assert "BroadcastHashJoin" not in capped, capped[:2000]
        hinted = plan(
            orders.alias("a").join(F.broadcast(build.alias("b")), "o_orderkey")
        )
        assert "BroadcastHashJoin" in hinted, hinted[:2000]
    finally:
        restore_confs(spark, prev)
    default = plan(joined)
    assert "BroadcastHashJoin" in default, default[:2000]


def test_high_duplication_confs_restore_is_plan_transparent(spark):
    """Verdict r12 item 6: a scoped apply/restore cycle must leave the
    canonical session's plans byte-identical — the registered floors
    depend on default broadcast behavior, so a caller that caps for one
    dedup job and restores must not leave residue that flips any later
    automatic-broadcast decision. Compares the physical plan string of a
    broadcast-sensitive join BEFORE the cycle and AFTER restore (plan id
    counters stripped), and asserts the conf values themselves round-trip
    including the None-means-unset case."""
    import re

    from mapreduce_code_spark.session import (
        HIGH_DUPLICATION_CONFS,
        apply_high_duplication_confs,
        restore_confs,
    )

    # same 2m..10m fixture guard as the flip test: below the cap the
    # "capped plan loses its broadcast" assertion would fail with a
    # message blaming apply_high_duplication_confs for fixture drift
    path = _orders_in_broadcast_window()

    def plan(df):
        # strip per-plan id counters (#123) and exchange ids so two
        # plans for the same query compare byte-identical
        s = df._jdf.queryExecution().executedPlan().toString()
        return re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+", "#", s))

    def confs():
        return {
            k: spark.conf.get(k, None) for k in HIGH_DUPLICATION_CONFS
        }

    orders = spark.read.parquet(path)
    build = spark.read.parquet(path)

    def joined():
        # rebuilt per call — a DataFrame memoizes its QueryExecution, so
        # reusing one instance would show the pre-cap plan forever
        return orders.alias("a").join(build.alias("b"), "o_orderkey")

    before_confs = confs()
    before_plan = plan(joined())
    assert "BroadcastHashJoin" in before_plan  # the default the floors use

    prev = apply_high_duplication_confs(spark)
    assert prev == before_confs  # saved exactly what was there
    capped_plan = plan(joined())
    assert "BroadcastHashJoin" not in capped_plan  # cap took effect
    restore_confs(spark, prev)

    assert confs() == before_confs, "restore left conf residue"
    assert plan(joined()) == before_plan, "restore changed the default plan"
