"""Physical-plan inventory for every registered query → PLANS.md.

One committed page the plan-shape claims can be audited against without
re-running anything: per query, the structural facts that matter at
100 TB — net shuffle Exchanges (net_shuffles' tree walk), parquet
scan count, whether any scan carries PushedFilters, the top-k operators
(TakeOrderedAndProject / WindowGroupLimit) when present, and two
anti-pattern flags that must always be absent (CartesianProduct,
row-at-a-time BatchEvalPython). Plans are built FRESH, each after
evicting every shared build, and never executed — this reports what
Catalyst plans, not what ran, whatever ran before.

Eager queries (writeStream paths, driver loops) and lineage-cut
iterative plans can't expose one analyzable physical plan; they are
listed with a note instead of fake numbers.

Usage: python tools/plan_report.py [sf_dir]   (writes PLANS.md)
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def net_shuffles(df) -> int:
    """True shuffle-Exchange count for a DataFrame's physical plan.

    Walks the plan TREE instead of counting substrings of the printed
    plan: the printer re-expands a cached relation's child plan at every
    InMemoryTableScan reference, so string counts over-report persisted
    pipelines wildly (the near-dup query printed 16-56 "Exchanges" for a
    plan that actually runs 4 net shuffles plus one cached build). Rules:
    - ``Exchange`` (shuffle) counts; ``BroadcastExchange`` /
      ``ReusedExchange`` don't (no all-to-all network move).
    - ``AdaptiveSparkPlan`` descends into its initial plan (fresh
      unexecuted plans have no runtime re-plan yet).
    - Each DISTINCT cached relation's build plan is traversed ONCE (its
      shuffles run once at materialization), not once per scan.
    """
    seen_cached: set[str] = set()

    def walk(node) -> int:
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.initialPlan())
        n = 1 if name == "Exchange" else 0
        if name == "InMemoryTableScan":
            cached = node.relation().cachedPlan()
            key = cached.toString()
            if key not in seen_cached:
                seen_cached.add(key)
                n += walk(cached)
        ch = node.children()
        for i in range(ch.size()):
            n += walk(ch.apply(i))
        return n

    return walk(df._jdf.queryExecution().executedPlan())


# Queries whose fn() runs work EAGERLY at DataFrame-construction time:
# their returned frame's plan is a checkpoint/createDataFrame scan, not
# the work, so they get a note instead of counts. Split by WHY they are
# eager so each row states the right reason.
EAGER_STREAMS = {
    "events_streamed_tumbling",  # runs an actual writeStream at build
    "events_streamed_session",  # writeStream at build
    "events_streamed_view_purchase",  # stream-stream writeStream at build
    "dedup_streamed_incremental",  # foreachBatch writeStream at build
    "relational_streamed_hll",  # foreachBatch writeStream at build
    "sampling_streamed_stratified",  # writeStream at build
    "events_streamed_anomaly",  # stream-static join writeStream at build
    "events_streamed_attribution",  # stateful writeStream at build
    # the two ingest rows share one streamed run; the manifest row
    # localCheckpoints its rank at build
    "pipeline_ingest_manifest",
    "pipeline_ingest_hash_log",
}
EAGER_LOOPS = {  # driver iteration loops: SGD fits, components fixpoint
    "regression_sgd_linear",
    "regression_sgd_logistic",
    "dedup_components_starcontract",
}
EAGER_WRITES = {  # physical rewrite at build, result localCheckpointed
    "pipeline_materialize_epoch",  # writes the epoch-1 shards, audits them
}
EAGER = EAGER_STREAMS | EAGER_LOOPS | EAGER_WRITES
# Lazy ITERATIVE queries whose rounds end in localCheckpoint(eager=
# False): the fresh plan net_shuffles() sees is the final round behind
# the lineage cut, which hides every earlier round's exchanges, so the
# row says so.
LINEAGE_CUT = {
    "graph_pagerank_clicks",
    "graph_coreness_clicks",
    "graph_lpa_communities",
    "text_bpe_merges",  # merge rounds end in localCheckpoint
    "text_bpe_encode",  # trains its merge table through the same rounds
}

# The sf dir PLANS.md is generated against (plan shapes can be
# size-dependent) — shared with the PLANS.md freshness sentinel test so
# the test regenerates rows at the SAME scale the committed file used.
PLAN_SF_DIR = "/root/testdata/sf0.1"


def plan_string(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def query_row(name, fn, spark, sf_dir) -> tuple[str, list[str]]:
    """One query's markdown row for PLANS.md plus its anti-pattern
    violations (empty when clean). Importable so the PLANS.md freshness
    test (tests/test_plan_shapes.py) regenerates sentinel rows with the
    exact row-building code the committed file came from."""
    if name in EAGER:
        if name in EAGER_STREAMS:
            why = "real writeStream path"
        elif name in EAGER_WRITES:
            why = "physical shard rewrite at build"
        else:
            why = "driver loop executes at build"
        return f"| {name} | — | — | — | — | eager: {why} |", []
    from mapreduce_code_spark.registry import evict_all

    # Spark substitutes any live cached plan into a new one, so each row
    # is planned with no shared build left live by an earlier row or
    # caller: its counts do not depend on what ran before it
    evict_all(spark)
    try:
        df = fn(spark, sf_dir)
        p = plan_string(df)
        sh = net_shuffles(df)
    except Exception as e:  # pragma: no cover - report, don't die
        return f"| {name} | ? | ? | ? | ? | plan build failed: {e} |", []
    scans = p.count("FileScan parquet")
    pushed = "yes" if "PushedFilters: [" in p and not all(
        seg.startswith("]")
        for seg in p.split("PushedFilters: [")[1:]
    ) else "no"
    topk = []
    if "TakeOrderedAndProject" in p:
        topk.append("TakeOrdered")
    if "WindowGroupLimit" in p:
        topk.append("WindowGroupLimit")
    bad = [m for m in ("CartesianProduct", "BatchEvalPython") if m in p]
    note = (
        "iterative: reported plan is the final round behind its "
        "lineage cut; per-round shuffles in SURVEY §9"
        if name in LINEAGE_CUT
        else ""
    )
    if bad:
        note = (note + "; " if note else "") + f"VIOLATION: {', '.join(bad)}"
    row = (
        f"| {name} | {sh} | {scans} | {pushed} | "
        f"{'+'.join(topk) or '—'} | {note} |"
    )
    return row, [f"{name}: {', '.join(bad)}"] if bad else []


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else PLAN_SF_DIR

    from mapreduce_code_spark.registry import queries
    from mapreduce_code_spark.session import get_spark

    spark = get_spark(app_name="plan_report")
    qs = queries()

    lines = [
        "# PLANS — physical-plan inventory (generated by tools/plan_report.py)",
        "",
        f"Scale factor dir: `{sf_dir}`. Plans are fresh (never executed),",
        "each built with no shared build live (`registry.evict_all`).",
        "`shuffles` is the net Exchange count from `net_shuffles`",
        "(BroadcastExchange / ReusedExchange excluded; each distinct cached",
        "subtree counted once). `scans` counts parquet file scans;",
        "`pushed` is whether at least one scan carries a non-empty",
        "PushedFilters. Caveat: `scans` counts the PRINTED plan, which",
        "re-expands a cached relation's subtree at every reference — a",
        "persisted pipeline shows its build scans once per consumer (the",
        "shuffle column does NOT have this problem; it walks the tree).",
        "Queries marked *eager/iterative* run writeStream",
        "paths, driver loops, or per-round lineage cuts — their work is",
        "not one analyzable plan; their guarantees are pinned by the",
        "streaming-parity / loop tests instead.",
        "",
        "| query | shuffles | scans | pushed | top-k op | notes |",
        "|---|---|---|---|---|---|",
    ]

    # anti-patterns are recorded in the row AND fail the run at the
    # end — not a bare assert (stripped under -O, and an abort
    # mid-loop would leave a silently stale PLANS.md)
    violations: list[str] = []
    for name, fn in qs.items():
        row, bad = query_row(name, fn, spark, sf_dir)
        lines.append(row)
        violations.extend(bad)

    out = Path(__file__).resolve().parent.parent / "PLANS.md"
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(qs)} queries)")
    if violations:
        print("ANTI-PATTERN VIOLATIONS:", "; ".join(violations))
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
