"""Driver-budget rotation invariants (SURVEY §8 / registry ordering
contract): the driver verifies ~50 queries per round in registry order,
so (a) the surface must fit the 2-round coverage ceiling, (b) any query
without a row in the two newest CORRECTNESS files must sit inside the
budget prefix (new/unchecked queries lead), and (c) the _FIRST/_LAST
ordering lists and bench.py's per-name query sets must actually name
registered queries — a typo there silently falls out of `queries()`'s
ordering (or bench's special-casing) instead of erroring."""

from __future__ import annotations

import json
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUDGET = 50


def _correctness_rows() -> list[set[str]]:
    """Names with rows in each CORRECTNESS_r*.json, newest first."""
    files = sorted(
        ROOT.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
        reverse=True,
    )
    return [set(json.loads(p.read_text())) for p in files]


def test_ordering_lists_name_registered_queries():
    from mapreduce_code_spark import registry

    reg = set(registry.queries())
    missing_first = [n for n in registry._FIRST if n not in reg]
    missing_last = [n for n in registry._LAST if n not in reg]
    assert not missing_first, f"_FIRST names unregistered: {missing_first}"
    assert not missing_last, f"_LAST names unregistered: {missing_last}"


def test_surface_fits_two_round_budget():
    from mapreduce_code_spark import registry

    n = len(registry.queries())
    assert n <= 2 * BUDGET, (
        f"{n} registered queries exceed the {2 * BUDGET} two-round "
        "coverage ceiling — delete a registered query or the rotation "
        "guarantee breaks"
    )


def test_next_round_must_check_fits_budget():
    """The r8 breach, made impossible to ship quietly (r8 verdict #1):
    the NEXT driver sweep must cover every query with no row in the
    NEWEST CORRECTNESS file (they'd otherwise go two rounds unchecked),
    so that stale set must fit the 50-row budget AT REGISTRATION TIME —
    registering a query beyond the slack fails here the moment it is
    added, not at round end when the sweep has already truncated."""
    from mapreduce_code_spark import registry

    rows = _correctness_rows()
    if not rows:
        return  # round 1: no history yet
    stale = [n for n in registry.queries() if n not in rows[0]]
    assert len(stale) <= BUDGET, (
        f"{len(stale)} queries lack a row in the newest CORRECTNESS "
        f"file — the next 50-row sweep cannot cover them all; delete "
        f"a near-twin before registering more (slack this round: "
        f"{BUDGET - len(stale)})"
    )


def test_unchecked_queries_lead_the_order():
    """Every query with no row in the two newest driver CORRECTNESS
    files must sit inside the budget prefix, so the next driver run
    covers it — the 'nothing sits unchecked two rounds in a row'
    contract, checkable at any point in the round cycle."""
    from mapreduce_code_spark import registry

    rows = _correctness_rows()
    if len(rows) < 2:
        return  # round 1: no history to rotate against
    recent = rows[0] | rows[1]
    order = list(registry.queries())
    stale = [
        (i, n) for i, n in enumerate(order) if n not in recent and i >= BUDGET
    ]
    assert not stale, (
        "queries with no driver row in the last two rounds sit beyond "
        f"the {BUDGET}-row budget prefix (position, name): {stale} — "
        "move them into registry._FIRST"
    )


def test_shared_build_consumers_name_registered_queries():
    """The subset-bench prewarm filter (r9 advisor item) keys off the
    CONSUMERS sets — a typo'd or stale name there silently skips a
    prewarm (the consumer then pays a build the full sweep attributes
    to the owner), so every consumer must be a registered query and
    every owner must be among its own consumers (the owner's timed runs
    rebuild the cache they evict)."""
    from mapreduce_code_spark import registry

    reg = set(registry.queries())
    for kind, (owner, _build, consumers) in registry.SHARED_BUILDS.items():
        unknown = sorted(consumers - reg)
        assert not unknown, f"{kind}: consumers not registered: {unknown}"
        assert owner in consumers, f"{kind}: owner {owner} not a consumer"
    for fixture, consumers in registry.SOURCE_FIXTURES:
        unknown = sorted(consumers - reg)
        assert not unknown, (
            f"{fixture.__name__}: consumers not registered: {unknown}"
        )


def test_bench_query_sets_name_registered_queries():
    """bench.py special-cases queries by name (SGD iteration counts, the
    -1 shuffle sentinel for eager and lineage-cut rows) — a stale name
    there silently special-cases nothing, so every name must be a
    registered query."""
    import sys

    sys.path.insert(0, str(ROOT))
    import bench
    from mapreduce_code_spark import registry

    reg = set(registry.queries())
    for label, names in (
        ("SGD_LINKS", set(bench.SGD_LINKS)),
        ("EAGER_STREAMS", bench.EAGER_STREAMS),
        ("EAGER_LOOPS", bench.EAGER_LOOPS),
        ("EAGER_WRITES", bench.EAGER_WRITES),
        ("LINEAGE_CUT", bench.LINEAGE_CUT),
    ):
        unknown = sorted(names - reg)
        assert not unknown, f"bench.{label} names unregistered: {unknown}"
