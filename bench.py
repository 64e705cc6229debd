"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and reports
THIS run only — it reads no earlier result and folds nothing across
runs. A regression is judged by comparing two runs on the same host
(perfbench's alternating A/B), never against a committed reference.

Each query is timed REPEATS times through the noop sink (the full
pipeline runs, nothing is collected to the driver), and its best run is
its time. stdout gets two JSON lines (see stdout_payloads): a full line
with the per-query map, then the short contract line, last.

A full-registry run also writes, next to this file:
  bench_timings.json        best-of-REPEATS per query, every run's time,
                            SGD iteration counts
  bench_timings_c{cpus}.json  the same payload, per core count
  rotation.json             the correctness-rotation state
A subset run (query names as arguments) writes none of them. Planned
shuffle counts are not measured here; tools/plan_report.py records
them in PLANS.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from mapreduce_code_spark import cache
from mapreduce_code_spark.operators import regression
from mapreduce_code_spark.registry import SHARED_BUILDS, SOURCE_FIXTURES, queries
from mapreduce_code_spark.session import get_spark, worker_pyspark

# timed runs per query; a query's time is the fastest of them, so one
# run hit by a noisy neighbour does not set it
REPEATS = 2

# registered SGD queries -> their sgd_fit link, for the sidecar's
# iteration-count field
SGD_LINKS = {
    "regression_sgd_linear": "linear",
    "regression_sgd_logistic": "logistic",
}


def stdout_payloads(
    timings: dict[str, float], sf, cpus: int, py_workers: str
) -> tuple[dict, dict]:
    """The two stdout JSON payloads, pure so tests can pin the
    protocol without a Spark run.

    A consumer may keep only a ~2000-char tail of the output, and the
    98-query map alone is ~3.4k chars, so the map cannot ride on the
    line such a consumer parses. The bench prints:

      line 1 (full): every short-line key plus "queries" ({name: this
        run's best-of-REPEATS seconds}) and "cpus", for consumers that
        read the whole output.
      line 2 (short, LAST): the contract line. Under any tail-window or
        last-line parsing the final line is a complete JSON object; a
        tail window sees at worst a fragment of line 1 (unparseable,
        skipped) followed by the whole short line.

    The full line only adds keys, so both lines carry the same
    headline."""
    short = {
        "metric": "engine_bench_total",
        "value": round(sum(timings.values()), 3),
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
    full["cpus"] = cpus
    return full, short


def rotation_payload(correctness_dir: Path) -> dict:
    """The rotation-legibility sidecar. A correctness sweep that
    verifies ~50 rows per round rotates disjoint subsets of the 98-query
    surface, so a diff of one round's CORRECTNESS file against the last
    reads the rotation as dropped and newly passing queries. This emits
    the rotation state as data: the must-check prefix the next sweep
    will verify, the full registered surface, and whether (newest
    CORRECTNESS rows) ∪ (must-check prefix) covers every registered
    query."""
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
    # Warm the WHOLE Python worker pool, not one worker: otherwise every
    # pandas-UDF query running at local[N] parallelism pays (N-1) worker
    # spawns plus per-worker pandas/pyarrow imports inside its first
    # timed run. 4N rows in ONE input partition, round-robined into N
    # partitions: a single round-robin stream deals rows to consecutive
    # output partitions (one pseudorandom starting offset, then a
    # modular sweep), so 4N consecutive rows land in every output
    # partition and every worker slot forks and imports. Several input
    # partitions would each start their sweep at their own offset, and
    # an output partition could stay cold.
    n_cpus = spark.sparkContext.defaultParallelism
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

    # Shared-build attribution: build the on-disk source fixtures and
    # every shared cache ONCE, untimed, before the sweep, then evict a
    # cache before each timed run of its OWNER query below. The owner
    # always pays its build (best-of-N is best-of-cold), every other
    # consumer always rides warm, and no time depends on sweep order.
    # A subset run prewarms only what its selected queries consume, so a
    # subset time stays comparable to the same query's full-sweep time.
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
        # the first consumer's timed run
        build(spark, sf_dir).count()
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    sgd_iters: dict[str, int | list[int]] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        per_run: list[float] = []
        iters_per_run: list[int] = []
        for _ in range(REPEATS):
            if name in cache_owner:
                # the owner pays its shared build EVERY run — evict so
                # best-of-N can't ride a prior run's (or another
                # query's) warm build. Scoped to THIS session, so a
                # concurrently live second session is never degraded.
                cache.evict(cache_owner[name], spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            per_run.append(round(time.perf_counter() - t0, 3))
            if name in SGD_LINKS:
                # read per run: a single post-loop read would report the
                # LAST run's count, not necessarily the fastest run's
                it = regression.LAST_FIT_ITERATIONS.get(SGD_LINKS[name])
                if it is not None:
                    iters_per_run.append(it)
        # (the owner's last timed run leaves its cache warm for later
        # consumers in the sweep)
        runs[name] = per_run
        timings[name] = min(per_run)
        if iters_per_run:
            # the SGD stop rule is trajectory-dependent, so a slow SGD
            # time must be attributable to convergence-path variance vs
            # a per-iteration regression. Scalar when all runs agree
            # (the fit is deterministic, so they should); the per-run
            # list otherwise.
            sgd_iters[name] = (
                iters_per_run[0]
                if len(set(iters_per_run)) == 1
                else iters_per_run
            )
        print(f"# {name}: {timings[name]}s", file=sys.stderr)

    here = Path(__file__).resolve().parent
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if not only:
        # subset runs write no sidecar: each file describes one
        # full-registry run
        sidecar_payload = json.dumps(
            {
                "fresh_total_sec": round(sum(timings.values()), 3),
                "sf": sf,
                "repeats": REPEATS,
                "queries": timings,
                "runs": runs,
                # int | list[int]: a scalar when every run's fit took the
                # same iteration count, the per-run list otherwise.
                # Normalize before arithmetic, e.g.
                #   its = v if isinstance(v, list) else [v]
                "sgd_iterations": sgd_iters,
            },
            indent=1,
            sort_keys=True,
        )
        (here / "bench_timings.json").write_text(sidecar_payload)
        # per-core-count copy: a second run at another core count
        # overwrites bench_timings.json but not this one
        (here / f"bench_timings_c{cpus}.json").write_text(sidecar_payload)
        (here / "rotation.json").write_text(
            json.dumps(rotation_payload(here), indent=1, sort_keys=True)
        )
    full, short = stdout_payloads(timings, sf, cpus, py_workers)
    # full line FIRST, short line LAST — see stdout_payloads' docstring
    # for why the order is load-bearing (tail-window parsing)
    print(json.dumps(full, separators=(",", ":")))
    print(json.dumps(short, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
