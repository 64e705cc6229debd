"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
TWO JSON lines (r17 verdict #1 — see stdout_payloads for the protocol):
a FULL line carrying "queries" ({name: this run's fresh best-of-N sec})
and "regressed_vs_prior", then a SHORT line — the r17-compatible
contract line, printed LAST so any tail-window or last-line parser
always finds a complete object. "value" is THIS run's best-of-N total —
the number that can regress when the code does (round-6 advisor: a
min-merged headline is monotonically non-increasing and therefore blind
to regressions). "merged_value" is the per-query-min merge with the
committed sidecar — the engine-time floor, for reading a contended host
run against history; a run uniformly slower than that history sets
"run_contended", and a contended run's times are NOT folded into the
sidecar mins (a contention-distorted sample, fast or slow, is not
evidence about engine time).

Per-query timings (and per-run times when SPARK_GRAFT_BENCH_REPEATS>1)
go to bench_timings.json next to this file (the driver keeps only a
2000-char tail of stdout, and a 68-query timings dict inline overflowed
it three rounds running — BENCH_r0{1,2,3}.json all "parsed": null; the
full stdout line now carries the same map for consumers that read full
stdout), plus a bench_timings_c{cpus}.json copy so the driver's
lower-core-count second run can't clobber the main run's detail, plus
rotation.json (the correctness-rotation state — r17 verdict #7).

Execution is forced through the noop sink (full pipeline runs, nothing
collected to the driver), which measures engine time rather than
driver-materialization time.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from mapreduce_code_spark.operators import regression
from mapreduce_code_spark.operators.dedup import release_persisted
from mapreduce_code_spark.registry import (
    SHARED_BUILDS,
    SOURCE_FIXTURES,
    evict_cached,
    queries,
)
from mapreduce_code_spark.session import get_spark, worker_pyspark

# registered SGD queries -> their sgd_fit link, for the sidecar's
# iteration-count field (r9 verdict #5)
SGD_LINKS = {
    "regression_sgd_linear": "linear",
    "regression_sgd_logistic": "logistic",
}


def fold_policy(
    timings: dict[str, float],
    runs: dict[str, list[float]],
    prior: dict[str, float],
    prior_typical: dict[str, float],
) -> dict:
    """The sidecar fold + contention/regression policy, pure so
    tests/test_bench_fold_policy.py can pin it without a Spark run.

    The run-level contended test compares against per-query TYPICAL
    (median honest-idle time), not the min-folded floor (r15): floors
    ratchet DOWN with every fold — after the r14 re-baseline they carry
    8 samples per query, and two ps-verified-idle r15 sweeps read
    median fresh/floor 1.271 and 1.278 — so vs-floor medians of honest
    runs drift UP with sample count and the 1.25 threshold starts
    labeling the host's steady state as contention. typical is
    non-ratcheting (3-element median fold, moves both ways), so
    fresh/typical ~ 1.0 stays the honest-idle reading and >1.25 again
    means real contention or a real uniform regression. Queries with no
    typical yet (newly registered) fall back to their floor — a
    committed typical of 0.0 is treated as absent, not as a reference
    (r15 advisor: ``.get(n, prior.get(n))`` selected the zero and the
    truthiness filter then silently dropped the query from both the
    contended median and the regression check).

    The typical fold takes WITHIN-BAR samples only (r15 verdict #2):
    a query this same run flags as regressed keeps its prior typical
    untouched (or stays unseeded). With repeats=2, folding flagged
    samples moved typical straight to the flagged reading — r15's two
    driver-window flags contaminated their typicals to 6.019/4.503 s,
    which would have let a real 2-3x regression pass the next round's
    1.5x-of-typical bar silently.

    r16 verdict #2 closed the residual ratchet the within-bar rule
    left open — a dirty-but-sub-bar window still folded BOTH inflated
    repeats, and median(prior, r1, r2) with two inflated samples jumps
    to min(r1, r2): one r16 driver window moved five heavy rows'
    typicals up 1.26-1.43x, including a row the SAME run marked
    contended. Two rules close it:
    - CONTENDED-marked queries (max/min repeat ratio > 3x — the same
      definition the sidecar's "contended" list has always used, now
      computed here) keep their prior typical exactly like regressed
      ones: a repeat set that noisy is host evidence, not engine time.
    - The fold's UPWARD movement is clamped to 10% per fold: typical
      tracks genuine drift both ways, but a single window can no
      longer teleport it to the inflated reading — a real sustained
      slowdown still gets there (and meanwhile flags at the 1.5x bar),
      while a one-window artifact decays on the next clean run.
      Downward movement stays unclamped: it only ever TIGHTENS next
      round's regression bar.
    A committed typical of 0.0 is treated as absent on the fold side
    too (r16 advisor, low): the query re-seeds from this run's repeats
    instead of writing 0.0 back (or biasing its median with it) forever.
    """
    reference = {n: prior_typical.get(n) or prior.get(n) for n in timings}
    reference = {n: r for n, r in reference.items() if r}
    ratios = [timings[n] / reference[n] for n in reference]
    # true median (two-middle average on even lengths — 98 is even),
    # same convention as tools/rebaseline_floors.py after the r14
    # advisor low
    median_ratio = round(statistics.median(ratios), 3) if ratios else None
    run_contended = bool(median_ratio and median_ratio > 1.25)
    # Per-query regression flag (computed BEFORE the fold so the fold
    # can exclude flagged samples): a query whose fresh min exceeds its
    # reference (typical where it exists, else the floor) by 1.5x is a
    # REGRESSION candidate. Same ratchet argument as the run-level test:
    # vs-floor bars tighten with every fold and start flapping on
    # sub-second queries (the r14 driver run flagged 12, ten of them
    # noise-shaped; all 12 adjudicated within-bar in r15's idle sweeps).
    # Only a run-level contention flag earns a scaled threshold —
    # scaling by median_ratio on a CLEAN run would let a uniform code
    # regression raise its own bar and hide (round-6 advisor item).
    reg_bar = 1.5 * (max(1.0, median_ratio or 1.0) if run_contended else 1.0)
    regressed = sorted(
        n
        for n in reference
        if reference[n] > 0.2  # sub-noise-floor queries flap, skip them
        and timings[n] / reference[n] > reg_bar
    )
    # Per-query contended marker: repeats of the SAME query spreading
    # >3x within one run is per-query host noise even when the run-level
    # median is clean (a mid-sweep contention window). Computed here so
    # the fold can exclude the marked queries (r16 verdict #2) — the
    # sidecar's "contended" list is this value.
    contended = sorted(
        n for n, rs in runs.items() if len(rs) > 1 and max(rs) > 3 * min(rs)
    )
    # Fold this run into the per-query engine-time floor ONLY when the
    # run itself is credible: a contended run's samples (including the
    # occasionally-lucky fast ones) are host noise, so the sidecar keeps
    # its prior mins untouched instead of min-merging them in (round-6
    # advisor item).
    if run_contended:
        # keep ONLY the prior floor: a query with no prior entry (newly
        # registered) gets no floor at all rather than a
        # contention-inflated one — it earns its entry on the next
        # clean run (zero-valued typicals drop instead of round-tripping
        # — r16 advisor, low)
        merged = {n: round(t, 3) for n, t in prior.items()}
        typical = {n: round(t, 3) for n, t in prior_typical.items() if t}
    else:
        merged = {
            n: round(min(t, prior.get(n, t)), 3) for n, t in timings.items()
        }
        # non-ratcheting typical fold: median of (incumbent, this run's
        # repeats) tracks genuine drift in BOTH directions, so typical
        # stays an honest-idle expectation instead of a best-case
        # envelope. Within-bar samples only (docstring above): a flagged
        # OR contended-marked query's samples ARE the suspected
        # regression/noise, so its typical keeps the prior (or stays
        # unseeded). A query with no incumbent seeds from the median of
        # this run's repeats — NOT from a list that re-includes the min
        # (r15 advisor: median([min, r1, r2]) is always the min with
        # repeats=2, a best-case seed that made the next honest run
        # read ~1.27x against it). Upward movement clamps at 10% per
        # fold (docstring above — the r16-verdict-#2 ratchet).
        typical = {}
        for n in timings:
            # `or None`: a committed 0.0 typical is absent, not a value
            incumbent = prior_typical.get(n) or None
            if n in regressed or n in contended:
                if incumbent is not None:
                    typical[n] = round(incumbent, 3)
                continue
            if incumbent is None:
                typical[n] = round(statistics.median(runs[n]), 3)
                continue
            candidate = statistics.median([incumbent, *runs[n]])
            if candidate > incumbent:
                candidate = min(candidate, incumbent * 1.10)
            typical[n] = round(candidate, 3)
    return {
        "median_ratio": median_ratio,
        "run_contended": run_contended,
        "merged": merged,
        "typical": typical,
        "regressed": regressed,
        "contended": contended,
    }


def stdout_payloads(
    timings: dict[str, float],
    merged: dict[str, float],
    regressed: list[str],
    run_contended: bool,
    sf,
    cpus: int,
    py_workers: str,
) -> tuple[dict, dict]:
    """The two stdout JSON payloads, pure so tests can pin the
    protocol without a Spark run.

    WHY TWO LINES (r17 verdict #1 vs the round-1-3 lesson): the driver
    keeps only a ~2000-char tail of the bench output and parses the
    JSON line out of that tail — an inline 98-query map is ~3.4k chars,
    so a single line carrying it can NEVER be parsed from the tail
    (BENCH_r0{1,2,3}.json: "parsed": null, the whole headline lost).
    But the r17 PERF comparator's per-query table was EMPTY because the
    short line carries no per-query data and the comparator does not
    read the sidecar. So the bench prints BOTH:

      line 1 (full): every short-line key PLUS "queries" ({name: THIS
        run's fresh best-of-N seconds — the value that regresses when
        the code does}), "regressed_vs_prior" (the flagged names the
        r17 verdict said were unrecoverable), and "cpus". A consumer
        reading full stdout gets the per-query detail.
      line 2 (short, LAST): exactly the r17 schema — under any
        tail-window or last-line parsing strategy the final line is a
        complete, parseable JSON object, so the headline can never be
        truncated away again. A tail window sees at worst a mid-line
        fragment of line 1 (unparseable, skipped) followed by the
        complete short line.

    The short line is the one-line JSON of the driver contract; the
    full line strictly adds keys and is printed first so it can never
    shadow the short line under last-line parsing."""
    short = {
        "metric": "engine_bench_total",
        "value": round(sum(timings.values()), 3),
        "merged_value": round(sum(merged.values()), 3),
        "n_floor_queries": len(merged),
        "run_contended": run_contended,
        "n_regressed": len(regressed),
        "unit": "sec",
        "sf": float(sf) if str(sf).replace(".", "").isdigit() else sf,
        "n_queries": len(timings),
        "queries_sidecar": "bench_timings.json",
        "rotation_sidecar": "rotation.json",
        # which pyspark the Python workers imported ("site-packages" or
        # "zip", see session.worker_pyspark)
        "py_workers": py_workers,
    }
    full = dict(short)
    full["queries"] = {n: round(t, 3) for n, t in timings.items()}
    full["regressed_vs_prior"] = list(regressed)
    full["cpus"] = cpus
    return full, short


def rotation_payload(correctness_dir: Path) -> dict:
    """The rotation-legibility sidecar (r17 verdict #7): PERF_r17
    reported 47 queries "dropped" and 48 "newly passing" every round
    because the driver's ~50-row correctness budget rotates disjoint
    subsets of the 98-query surface — sound (adjacent rounds' union is
    the full surface) but illegible to a reader holding only the
    JSONs. This emits the rotation state as data: the must-check
    prefix the next sweep will verify, the full registered surface,
    and whether (newest CORRECTNESS rows) ∪ (must-check prefix) covers
    every registered query."""
    import re

    from mapreduce_code_spark.registry import queries
    from mapreduce_code_spark.rotation import ROUND_FIRST

    registered = sorted(queries())
    newest: list[str] = []
    newest_round = None
    rows = sorted(
        correctness_dir.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    if rows:
        newest_round = int(re.search(r"r(\d+)", rows[-1].name).group(1))
        try:
            newest = sorted(json.loads(rows[-1].read_text()))
        except (ValueError, TypeError):
            newest = []
    covered = set(newest) | set(ROUND_FIRST)
    return {
        "explains": (
            "the driver verifies ~50 queries per round in registry "
            "order, so adjacent CORRECTNESS files cover rotating "
            "subsets of the full registered surface; a PERF diff that "
            "keys on one round's file alone reads the rotation as "
            "dropped/newly-passing queries. The real drop signal is a "
            "name missing from the REGISTERED surface or from the "
            "bench's n_queries."
        ),
        "newest_correctness_round": newest_round,
        "n_newest_correctness_rows": len(newest),
        "must_check_prefix_next_round": list(ROUND_FIRST),
        "n_registered": len(registered),
        "registered": registered,
        "union_covers_full_surface": covered >= set(registered),
    }


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


# Queries whose fn() runs work EAGERLY at DataFrame-construction time.
# For these a second fn() call to build a "fresh plan" for shuffle
# counting would re-run the whole computation untimed, and the returned
# frame's plan is a checkpoint/createDataFrame scan anyway — record the
# sentinel -1 ("iterative; not one plan") instead. Split by WHY they are
# eager so PLANS.md can state the right reason per query.
EAGER_STREAMS = {
    "events_streamed_tumbling",  # runs an actual writeStream at build
    "events_streamed_session",  # writeStream at build
    "events_streamed_view_purchase",  # stream-stream writeStream at build
    "dedup_streamed_incremental",  # foreachBatch writeStream at build
    "relational_streamed_hll",  # foreachBatch writeStream at build
    "sampling_streamed_stratified",  # writeStream at build
    "events_streamed_anomaly",  # stream-static join writeStream at build
    "events_streamed_attribution",  # stateful writeStream at build
    # the two ingest rows share one streamed run (r9 verdict #3): the
    # hash-log row OWNS it (pays the cold foreachBatch chain at build —
    # evicted before each timed run), the manifest row reads it warm but
    # still localCheckpoints its rank at build
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
# False): the fresh plan net_shuffles() sees is a checkpoint scan, so
# a structural count would read 0 and hide every real per-round
# exchange behind the lineage cut — record the same -1 sentinel as
# the eager loops ("iterative; not one plan").
LINEAGE_CUT = {
    "graph_pagerank_clicks",
    "graph_coreness_clicks",
    "graph_lpa_communities",
    "text_bpe_merges",  # merge rounds end in localCheckpoint
    "text_bpe_encode",  # trains its merge table through the same rounds
}

def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")

    # Warm up the JVM (codegen, shuffle machinery) and the Python worker
    # pool once, on a tiny table, so the first timed query measures the
    # engine rather than process startup.
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    nation.groupBy("n_regionkey").count().write.mode("overwrite").format(
        "noop"
    ).save()
    # Warm the WHOLE Python worker pool, not one worker: nation is a
    # single input split, so a bare mapInPandas here forked exactly one
    # worker — every later pandas-UDF query running at local[N]
    # parallelism then paid (N-1) worker spawns + per-worker
    # pandas/pyarrow imports inside its FIRST timed run (measured r17:
    # regression_sgd_linear first-run 5.9 s vs a 1.2 s floor, and every
    # first repeat of the mapInPandas/applyInPandasWithState rows
    # carried the same tail). Repartitioning the warmup to the
    # session's parallelism pays that cost once, untimed — guide §4.5's
    # init-once rule applied to the harness itself.
    n_cpus = spark.sparkContext.defaultParallelism
    # 4N rows in ONE input partition, round-robined into N partitions:
    # a single round-robin stream deals rows to consecutive output
    # partitions (one pseudorandom starting offset, then modular
    # sweep), so 4N consecutive rows provably land in every output
    # partition and every worker slot forks and imports. With nation
    # (25 rows, 1 split) the old warmup forked exactly one worker; with
    # MULTIPLE input partitions of 4 rows each, coverage was only
    # probabilistic — each input partition starts its sweep at its own
    # offset, so an output partition could stay cold (r17 ADVICE).
    spark.range(0, 4 * n_cpus, 1, 1).repartition(n_cpus).mapInPandas(
        lambda it: it, schema="id long"
    ).write.mode("overwrite").format("noop").save()
    py_workers = "zip" if ".zip" in worker_pyspark(spark)[0] else "site-packages"

    qs = queries()
    only = set(sys.argv[1:])
    unknown = only - set(qs)
    if unknown:
        print(f"UNKNOWN query names: {sorted(unknown)}", file=sys.stderr)
        return 2

    # Deterministic shared-build attribution (r8 verdict #3): build the
    # on-disk source fixtures and every shared cache ONCE, untimed,
    # before the sweep — then evict a cache before each timed run of its
    # OWNER query below. Result: the owner always pays its build
    # (min-of-N is min-of-cold), every other consumer always rides warm,
    # and neither floors nor the contention signal depend on rotation
    # order. Subset runs prewarm only the fixtures/caches their selected
    # queries actually consume (r9 advisor item: an unrelated
    # single-query invocation was paying tens of seconds of pure
    # prewarm), so a subset time stays comparable to the same query's
    # full-sweep time without the full sweep's setup.
    for fixture, consumers in SOURCE_FIXTURES:
        if only and not (only & consumers):
            continue
        fixture(spark, sf_dir)
    cache_owner = {
        owner: kind for kind, (owner, _, _) in SHARED_BUILDS.items()
    }
    for kind, (_, build, consumers) in SHARED_BUILDS.items():
        if only and not (only & consumers):
            continue
        # .count() forces materialization — persist() alone is lazy, and
        # an unmaterialized "prewarm" would leave the build cost inside
        # the first consumer's timed run (review finding)
        build(spark, sf_dir).count()
    # SPARK_GRAFT_BENCH_REPEATS>1 records the fastest of N runs per query
    # — the machine is noisy, and min-of-N isolates engine time from
    # contention. Default 2 (round-4 verdict #8): rounds 1-4 showed the
    # driver's one-shot run regularly lands host-contended (117 s vs a
    # clean 84 s min-of-6 in r4), so the driver-invoked path now pays
    # one repeat to report engine time instead of neighbor noise.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    shuffles: dict[str, int] = {}
    sgd_iters: dict[str, int | list[int]] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        per_run: list[float] = []
        iters_per_run: list[int] = []
        for _ in range(max(repeats, 1)):
            if name in cache_owner:
                # the owner pays its shared build EVERY run — evict so
                # min-of-N can't ride a prior run's (or another
                # query's) warm cache; release the dedup module's
                # internal persisted intermediates too, or run 1's
                # shingle blocks warm runs 2..N through CacheManager
                # plan-matching (review finding). In-memory eviction is
                # scoped to THIS session so a concurrently-live second
                # session's cache is never degraded (r9 advisor item);
                # disk-backed kinds (the ingest run) are process-local
                # tempdirs, so there is no cross-process cache to spare.
                evict_cached(cache_owner[name], spark)
                release_persisted()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            per_run.append(round(time.perf_counter() - t0, 3))
            if name in SGD_LINKS:
                # captured PER RUN (r10 advisor, low): min-of-N reports
                # the fastest repeat, so a single post-loop read of the
                # LAST repeat's count could mislabel the floor if the
                # trajectory ever varied across repeats
                it = regression.LAST_FIT_ITERATIONS.get(SGD_LINKS[name])
                if it is not None:
                    iters_per_run.append(it)
        # (the owner's last timed run leaves its cache warm for later
        # consumers in the sweep)
        best = min(per_run)
        runs[name] = per_run
        # shuffle count — the scale-relevant plan-shape metric (each net
        # Exchange is a full network shuffle at cluster scale; broadcast
        # and reused exchanges don't shuffle). Counted structurally on a
        # FRESH unexecuted plan via net_shuffles() — see its docstring
        # for why string-counting the printed plan over-reports.
        if name in EAGER or name in LINEAGE_CUT:
            shuffles[name] = -1
        else:
            shuffles[name] = net_shuffles(fn(spark, sf_dir))
        timings[name] = round(best, 3)
        if iters_per_run:
            # iteration count of the timed fit (r9 verdict #5): the stop
            # rule is trajectory-dependent, so a slow SGD line must be
            # attributable to convergence-path variance vs a real
            # per-iteration regression. Scalar when all repeats agree
            # (the fit is deterministic, so they should); the per-run
            # list otherwise, so the sidecar count always corresponds
            # to the floor it explains (r10 advisor, low).
            sgd_iters[name] = (
                iters_per_run[0]
                if len(set(iters_per_run)) == 1
                else iters_per_run
            )
        # release per-query persisted intermediates (shingle passes) so
        # cached blocks don't accumulate across the full-registry sweep;
        # deliberately outside the timed section, like the driver's own
        # per-query process isolation
        release_persisted()
        if os.environ.get("SPARK_GRAFT_BENCH_GC"):
            spark.sparkContext._jvm.System.gc()
        print(f"# {name}: {timings[name]}s", file=sys.stderr)

    # Rounds 1-3 lesson: the driver captures only a ~2000-char tail of
    # stdout and the inline per-query timings dict overflowed it every
    # round ("parsed": null). Stdout gets ONE short line (total only);
    # everything per-query goes to sidecar files next to this script:
    #   bench_timings.json  — best-of-N per query, per-run times, and a
    #                         "contended" list (max/min > 3x) so a noisy
    #                         host run is visibly noisy instead of
    #                         looking like a regression
    #   bench_shuffles.json — net Exchange count per fresh plan
    here = Path(__file__).resolve().parent
    if not only:
        # subset runs must not clobber the committed full-registry
        # inventory (same guard as the timings sidecar below)
        (here / "bench_shuffles.json").write_text(
            json.dumps(shuffles, indent=1, sort_keys=True)
        )
    # Maintain the per-query engine-time floor (committed sidecar mins;
    # r5 verdict #1/#3: min-of-N inside ONE invocation cannot see
    # cross-invocation host contention — r4/r5 driver runs landed a
    # uniform 1.4x host tax over the builder's clean runs) and the
    # per-query TYPICAL (median honest-idle time). Merge is per-query,
    # same-sf only, and only over queries in THIS run's set
    # (retired/renamed entries drop out). The contended test, fold
    # rules, and regression bar live in fold_policy above — since r15
    # they compare against typical-where-present-else-floor; a run
    # flagged contended is excluded from both references entirely.
    prior: dict[str, float] = {}
    prior_typical: dict[str, float] = {}
    sidecar_path = here / "bench_timings.json"
    if not only and sidecar_path.exists():
        try:
            old = json.loads(sidecar_path.read_text())
            if old.get("sf") == sf:
                prior = {
                    n: float(t)
                    for n, t in old.get("queries", {}).items()
                    if n in timings
                }
                prior_typical = {
                    n: float(t)
                    for n, t in old.get("typical", {}).items()
                    if n in timings
                }
        except (ValueError, TypeError):
            prior = {}
            prior_typical = {}
    policy = fold_policy(timings, runs, prior, prior_typical)
    median_ratio = policy["median_ratio"]
    run_contended = policy["run_contended"]
    merged = policy["merged"]
    typical = policy["typical"]
    regressed = policy["regressed"]
    contended = policy["contended"]
    fresh_total = round(sum(timings.values()), 3)
    merged_total = round(sum(merged.values()), 3)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if not only:
        sidecar_payload = json.dumps(
                {
                    "total_sec": merged_total,
                    "n_floor_queries": len(merged),
                    "fresh_total_sec": fresh_total,
                    "sf": sf,
                    "repeats": max(repeats, 1),
                    "queries": merged,
                    "typical": typical,
                    "runs": runs,
                    "contended": contended,
                    # canonical key since r16 (the old
                    # median_ratio_vs_prior name was dual-written for
                    # one round and dropped in r17 as declared)
                    "median_ratio_vs_reference": median_ratio,
                    "reference": "typical-where-present-else-floor",
                    "run_contended": run_contended,
                    "regressed_vs_prior": regressed,
                    # SIDECAR SCHEMA NOTE (r11 advisor, low): values are
                    # int | list[int] — a scalar when every repeat's fit
                    # took the same iteration count (the deterministic
                    # norm), the per-run list when repeats disagreed so
                    # the count always corresponds to the floor it
                    # explains. Consumers must normalize first, e.g.
                    #   its = v if isinstance(v, list) else [v]
                    # before any arithmetic on the count.
                    "sgd_iterations": sgd_iters,
                },
                indent=1,
                sort_keys=True,
            )
        sidecar_path.write_text(sidecar_payload)
        # per-core-count copy (r17 verdict #1): the driver benches the
        # same HEAD twice (main core count, then a lower one) and the
        # second run's fold used to OVERWRITE the first's per-query
        # detail — the r17 32-core run's one flagged row was
        # unrecoverable from the committed artifacts. The canonical
        # fold above still carries the cross-run floor history; this
        # copy preserves each core count's own reading.
        (here / f"bench_timings_c{cpus}.json").write_text(sidecar_payload)
        # rotation-legibility sidecar (r17 verdict #7)
        (here / "rotation.json").write_text(
            json.dumps(rotation_payload(here), indent=1, sort_keys=True)
        )
    full, short = stdout_payloads(
        timings, merged, regressed, run_contended, sf, cpus, py_workers
    )
    # full line FIRST, short line LAST — see stdout_payloads' docstring
    # for why the order is load-bearing (tail-window parsing)
    print(json.dumps(full, separators=(",", ":")))
    print(json.dumps(short, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
