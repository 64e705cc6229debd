"""Benchmark for the registered spark-graft queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One process, one client, closed loop: the Spark driver submits one
registered query at a time to ``local[4]``. A run

1. sets up once, timed from process start as ``setup_s``: it writes the
   seeded inputs into a fresh directory, launches the JVM and starts a
   session, warms every Python worker and prewarms the registry's
   ``SOURCE_FIXTURES`` and ``SHARED_BUILDS``;
2. runs one cold pass over the workload's queries (``cold_pass_s``),
   collecting each result to the Spark driver, and checks every result
   outside the timed spans: against the registered DuckDB oracle, or by
   an order-insensitive hash that must repeat on every pass;
3. runs ``WARMUP_PASSES`` untimed pass, so that the passes measured next
   are past the steepest part of the JIT warm-up;
4. runs warm passes through the ``noop`` sink for ``--seconds`` seconds,
   at least ``MIN_WARM`` of them, and reports their median as
   ``warm_pass_s`` and input rows per second of it as ``rows_per_s``.

Before each run of a shared build's owner query its cache is evicted,
as ``bench.py`` does, so the owner pays the build on every pass.

With ``--trace 1`` one more warm pass runs traced and the per-layer
metrics come from it (see ``statustrace.py``); its tracing overhead is
its time over that of the untraced pass just before it. End-to-end
numbers come from untraced passes only. The last stdout line is the
result object; the line before it is the full report (host fingerprint,
input hash, set-up steps, per-pass and per-query times, checks,
end-to-end metrics).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import LAYERS, WORKLOADS, query_metric  # noqa: E402

WARMUP_PASSES = 1
MIN_WARM = 2
CPUS = 4
# shared builds and source fixtures the workloads prewarm, reported per
# layer as registry.build.<kind>_s / registry.fixture.<name>_s
BUILD_KINDS = ("transactions", "corpus_shingles")
FIXTURES = ("epoch_shards",)
_MB = 1024.0**2


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Point every scratch write (package scratch dirs, the SGD kernel
    build, JVM and Python temp files, shuffle files) into ``work`` and
    pin the session shape; must run before the package is imported."""
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # the launcher JVM spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_GRAFT_DISK_LOCAL"] = "1"
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.dont_write_bytecode = True
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    os.chdir(work)


def stop_jvm() -> None:
    """Stop the active session, then the JVM it runs on, and wait for
    the JVM process to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gw = SparkContext._gateway
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _sweep_stale(base: Path) -> None:
    """Remove work dirs of benchmark processes that no longer exist."""
    if not base.is_dir():
        return
    for d in base.iterdir():
        pid = d.name.removeprefix("run-")
        if pid.isdigit() and not Path(f"/proc/{pid}").exists():
            shutil.rmtree(d, ignore_errors=True)


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024**2, 1)
    return 0.0


def _fs_type(path: str) -> str:
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            mnt, fstype = line.split()[1:3]
            inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
            if inside and len(mnt) > len(best):
                best, kind = mnt, fstype
    return kind


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat, for the share of CPU time
    the hypervisor gave to other guests during the run."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


class Bench:
    def __init__(self, args, work: Path):
        from mapreduce_code_spark.registry import queries

        self.args = args
        self.work = work
        self.spark = None
        self.sf = None
        spec = WORKLOADS[args.workload]
        self.tables = spec["tables"]
        self.queries = spec["queries"]
        self.fns = queries()
        self.warmup_passes = WARMUP_PASSES
        self.min_warm = MIN_WARM
        self.attempted = 0
        # runs whose result was checked (or that raised); error_rate's
        # denominator, so a wrong result counts once per checked run
        self.checked = 0
        self.failed = 0
        self.errors: list[str] = []
        self.hashes: dict[str, str] = {}
        self.results: dict[str, object] = {}
        self.result_rows: dict[str, int] = {}
        self.build_s: dict[str, float] = {}
        # seconds from process start: imports, inputs, session, workers
        self.setup_steps: dict[str, float] = {}

    # ------------------------------------------------------------ setup
    def _conf(self) -> dict[str, str]:
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            # a heap fixed at its maximum: the full GC before each pass
            # must not shrink it, or the pass pays for growing it back
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
                f" -Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
            # keep every job, stage and execution for the trace
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": "100000",
        }

    def _setup(self) -> None:
        from mapreduce_code_spark.registry import SHARED_BUILDS, SOURCE_FIXTURES
        from mapreduce_code_spark.session import get_spark

        import inputs

        steps = self.setup_steps
        steps["imports"] = time.perf_counter() - T_START
        names = {q for q, _, _ in self.queries}
        self.sf = str(self.work / "inputs")
        self.input_rows = inputs.build(self.sf, self.args.seed, self.tables)
        self.input_hash = inputs.content_hash(self.sf, self.tables)
        self.input_mb = sum(
            os.path.getsize(os.path.join(self.sf, f"{t}.parquet"))
            for t in self.tables
        ) / _MB
        steps["inputs"] = time.perf_counter() - T_START - sum(steps.values())
        spark = self.spark = get_spark(app_name="perfbench", extra_conf=self._conf())
        steps["session"] = time.perf_counter() - T_START - sum(steps.values())
        # fork and import every Python worker once (bench.py's warm-up:
        # 4N rows in one partition, round-robined into N partitions)
        spark.range(0, 4 * CPUS, 1, 1).repartition(CPUS).mapInPandas(
            lambda it: it, schema="id long"
        ).write.mode("overwrite").format("noop").save()
        steps["workers"] = time.perf_counter() - T_START - sum(steps.values())
        for fixture, consumers in SOURCE_FIXTURES:
            if consumers & names:
                t0 = time.perf_counter()
                fixture(spark, self.sf)
                name = fixture.__name__.strip("_").removesuffix("_src")
                self.build_s[f"fixture.{name}"] = time.perf_counter() - t0
        for kind, (_, build, consumers) in SHARED_BUILDS.items():
            if consumers & names:
                t0 = time.perf_counter()
                build(spark, self.sf).count()
                self.build_s[f"build.{kind}"] = time.perf_counter() - t0

    # ------------------------------------------------------------ passes
    def _pass(self, owners, *, check=False, tracer=None):
        """One pass over the workload's queries. Returns per-query
        seconds and, when traced, (name, mark before, mark after,
        seconds) per query."""
        from mapreduce_code_spark.operators.dedup import release_persisted
        from mapreduce_code_spark.registry import evict_cached

        import checks

        gc.collect()
        self.spark._jvm.System.gc()
        spark = self.spark
        times: dict[str, float] = {}
        spans = []
        for name, _, how in self.queries:
            if name in owners:
                evict_cached(owners[name], spark)
                release_persisted()
            m0 = tracer.mark() if tracer else None
            t0 = time.perf_counter()
            pdf = None
            try:
                df = self.fns[name](spark, self.sf)
                if check:
                    pdf = df.toPandas()
                else:
                    df.write.mode("overwrite").format("noop").save()
                err = None
            except Exception as exc:  # counted, never fatal
                err = f"{name}: {type(exc).__name__}: {str(exc)[:300]}"
            dt = time.perf_counter() - t0
            if tracer:
                spans.append((name, m0, tracer.mark(), dt))
            self.attempted += 1
            if err:
                self.checked += 1
                self.failed += 1
                self.errors.append(err)
                continue
            times[name] = dt
            if how != "hash" and not check:
                continue
            if pdf is None:
                try:
                    pdf = df.toPandas()
                except Exception as exc:
                    self.checked += 1
                    self.failed += 1
                    self.errors.append(f"{name}: collect: {exc!r}"[:300])
                    continue
            if how == "hash":
                self.checked += 1
                h = checks.result_hash(pdf)
                if self.hashes.setdefault(name, h) != h:
                    self.failed += 1
                    self.errors.append(f"{name}: result hash {h} != {self.hashes[name]}")
            if check:
                self.result_rows[name] = len(pdf)
                if how == "oracle":
                    self.results[name] = checks.normalize(pdf)
        return times, spans

    def _check_oracles(self) -> dict[str, str]:
        from mapreduce_code_spark.registry import oracle_sql

        import checks

        oracles = oracle_sql()
        status = {}
        for name, got in self.results.items():
            self.checked += 1
            try:
                want = checks.oracle_frame(oracles[name], self.sf)
                status[name] = checks.frames_match(got, want)
            except Exception as exc:
                status[name] = f"oracle error {type(exc).__name__}: {str(exc)[:200]}"
            if status[name] != "OK":
                # the cold-pass run of this query gave a wrong result
                self.failed += 1
                self.errors.append(f"{name}: {status[name]}")
        return status

    def _traced_pass(self, owners):
        from mapreduce_code_spark.operators import regression

        import statustrace

        tracer = statustrace.Tracer(self.spark)
        listener = statustrace.streaming_listener()
        self.spark.streams.addListener(listener)
        sampler = statustrace.DirSampler(os.environ["TMPDIR"])
        sampler.start()
        regression.LAST_FIT_ITERATIONS.clear()
        with _timed_load_table() as load_s:
            times, spans = self._pass(owners, tracer=tracer)
        statustrace.wait_quiet(listener)
        self.spark.streams.removeListener(listener)
        extra = listener.snapshot()
        extra["scratch_peak_mb"] = sampler.stop()
        extra["load_table_s"] = load_s[0]
        extra["iterations"] = float(sum(regression.LAST_FIT_ITERATIONS.values()))
        layer_of = {q: lay for q, lay, _ in self.queries}
        per_q = {
            name: dict(
                tracer.collect(m0, m1, task_quantiles=layer_of[name] == "relational"),
                wall_s=dt,
            )
            for name, m0, m1, dt in spans
        }
        return times, per_q, extra

    # ------------------------------------------------------------ run
    def run(self) -> tuple[dict, dict]:
        from mapreduce_code_spark.operators import regression
        from mapreduce_code_spark.registry import SHARED_BUILDS

        steal0 = _cpu_jiffies()
        names = [q for q, _, _ in self.queries]
        missing = [q for q in names if q not in self.fns]
        if missing:
            raise SystemExit(f"queries not registered: {missing}")
        owners = {o: k for k, (o, _, _) in SHARED_BUILDS.items() if o in names}

        self._setup()
        setup_s = time.perf_counter() - T_START
        phases = {"setup": setup_s}

        t0 = time.perf_counter()
        cold, _ = self._pass(owners, check=True)
        oracle_status = self._check_oracles()
        phases["cold_and_check"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        warmup = [self._pass(owners)[0] for _ in range(self.warmup_passes)]
        phases["warmup"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        warm: list[dict[str, float]] = []
        while len(warm) < self.min_warm or time.perf_counter() - t0 < self.args.seconds:
            warm.append(self._pass(owners)[0])
        phases["warm"] = time.perf_counter() - t0
        traced = self._traced_pass(owners) if self.args.trace else None

        def total(times):
            return sum(times.values())

        warm_s = statistics.median(total(t) for t in warm)
        rows = sum(self.input_rows.values())
        steal1 = _cpu_jiffies()
        native = regression._NATIVE_SO
        fingerprint = {
            "cpus": os.cpu_count(),
            "cpus_usable": len(os.sched_getaffinity(0)),
            "session_cores": CPUS,
            "ram_gb": _mem_total_gb(),
            "spark": self.spark.version,
            "python": platform.python_version(),
            "java": self.spark._jvm.System.getProperty("java.version"),
            "driver_heap": self.spark.conf.get("spark.driver.memory"),
            "local_dir_fs": _fs_type(str(self.work)),
            "sgd_kernel": "not run" if native is None else ("native" if native else "python"),
        }
        e2e = {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (total(cold), "s"),
            "warm_pass_s": (warm_s, "s"),
            "rows_per_s": (rows / warm_s, "1/s"),
        }
        report = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "fingerprint": fingerprint,
            "steal_pct": round(
                100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), 2),
            "input_hash": self.input_hash,
            "input_rows": self.input_rows,
            "setup_steps_s": {k: round(v, 4) for k, v in self.setup_steps.items()},
            "build_s": {k: round(v, 4) for k, v in self.build_s.items()},
            "cold_s": {k: round(v, 4) for k, v in cold.items()},
            "warmup_pass_s": [round(total(t), 4) for t in warmup],
            "warm_pass_s": [round(total(t), 4) for t in warm],
            "warm_s": {q: round(statistics.median(t[q] for t in warm if q in t), 4)
                       for q in names if any(q in t for t in warm)},
            "phases_s": {k: round(v, 2) for k, v in phases.items()},
            "oracle": oracle_status,
            "result_hash": self.hashes,
            "errors": self.errors[:20],
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        }
        out = e2e
        if traced:
            out = self._per_layer(traced, warm, native, rows)
            report["traced_pass_s"] = round(total(traced[0]), 4)
        line = {
            "correct": self.failed == 0 and not self.errors,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
        }
        return report, line

    def _per_layer(self, traced, warm, native, rows):
        times, per_q, extra = traced
        layer_of = {q: lay for q, lay, _ in self.queries}

        def lsum(field, layer=None):
            return sum(
                rec.get(field, 0.0)
                for q, rec in per_q.items()
                if layer is None or layer_of[q] == layer
            )

        def lmax(field, layer):
            return max(
                (rec.get(field, 0.0) for q, rec in per_q.items() if layer_of[q] == layer),
                default=0.0,
            )

        m: dict[str, tuple[float, str]] = {}
        for f, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                        ("failed_tasks", "count"), ("executor_run_s", "s"),
                        ("executor_cpu_s", "s"), ("gc_s", "s")):
            m[f"session.{f}"] = (lsum(f), unit)
        # wall time outside every Spark job of the query
        m["session.driver_only_s"] = (
            sum(max(r["wall_s"] - r.get("job_span_s", 0.0), 0.0) for r in per_q.values()),
            "s",
        )
        pid = self.spark.sparkContext._gateway.proc.pid
        import statustrace

        m["session.jvm_peak_rss_mb"] = (statustrace.jvm_peak_rss_mb(pid), "MB")
        m["sources.input_rows"] = (float(rows), "count")
        m["sources.input_mb"] = (self.input_mb, "MB")
        m["sources.load_table_s"] = (extra["load_table_s"], "s")
        for key in [f"build.{k}" for k in BUILD_KINDS] + [f"fixture.{f}" for f in FIXTURES]:
            m[f"registry.{key}_s"] = (self.build_s.get(key, 0.0), "s")

        for lay in LAYERS:
            m[f"{lay}.query_s"] = (lsum("wall_s", lay), "s")
            m[f"{lay}.shuffle_write_mb"] = (lsum("shuffle_write_mb", lay), "MB")
        m["frequent.candidate_rows"] = (lsum("generate_rows", "frequent"), "count")

        fit_s = sum(r["wall_s"] for q, r in per_q.items() if q.startswith("regression_sgd_"))
        iters = extra["iterations"]
        m["regression.fit_s"] = (fit_s, "s")
        m["regression.iterations"] = (iters, "count")
        m["regression.s_per_iteration"] = (fit_s / iters if iters else 0.0, "s")
        m["regression.arrow_sent_mb"] = (lsum("arrow_sent_mb", "regression"), "MB")
        m["regression.arrow_recv_mb"] = (lsum("arrow_recv_mb", "regression"), "MB")
        m["regression.native_kernel"] = (1.0 if native else 0.0, "bool")

        for lay in ("dedup", "similarity"):
            cand = lsum("join_rows", lay)
            res = float(sum(n for q, n in self.result_rows.items() if layer_of[q] == lay))
            m[f"{lay}.spill_mb"] = (lsum("spill_mb", lay), "MB")
            m[f"{lay}.shingle_rows"] = (lsum("generate_rows", lay), "count")
            m[f"{lay}.candidate_pairs"] = (cand, "count")
            m[f"{lay}.result_pairs"] = (res, "count")
            m[f"{lay}.pair_yield"] = (res / cand if cand else 0.0, "ratio")

        out_mb = lsum("output_mb", "pipeline")
        in_mb = lsum("input_mb", "pipeline")
        m["pipeline.output_mb"] = (out_mb, "MB")
        m["pipeline.write_amplification"] = (out_mb / in_mb if in_mb else 0.0, "ratio")

        for f, unit in (("batches", "count"), ("add_batch_s", "s"), ("wal_commit_s", "s"),
                        ("planning_s", "s"), ("state_rows", "count"), ("state_mb", "MB")):
            m[f"streaming.{f}"] = (extra[f], unit)
        m["scratch.peak_mb"] = (extra["scratch_peak_mb"], "MB")

        m["relational.max_task_s"] = (lmax("max_task_s", "relational"), "s")
        m["relational.task_skew"] = (lmax("task_skew", "relational"), "ratio")
        m["relational.spill_mb"] = (lsum("spill_mb", "relational"), "MB")

        # against the untraced pass right before it, which has the same
        # JIT warmth
        m["trace.overhead"] = (sum(times.values()) / sum(warm[-1].values()), "ratio")
        m["error_rate"] = (self.failed / max(self.checked, 1), "ratio")

        # per-query medians over the untraced warm passes, for every
        # workload's queries (0 for queries this workload does not run)
        for wl in WORKLOADS.values():
            for q, lay, _ in wl["queries"]:
                vals = [t[q] for t in warm if q in t]
                m[query_metric(q, lay)] = (statistics.median(vals) if vals else 0.0, "s")
        return m


class _timed_load_table:
    """Wrap ``sources.io.load_table`` wherever the package bound it and
    total the seconds spent in it."""

    def __enter__(self):
        from mapreduce_code_spark.sources import io

        orig = self.orig = io.load_table
        total = self.total = [0.0]

        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                total[0] += time.perf_counter() - t0

        self.patched = [
            mod for mod in list(sys.modules.values())
            if getattr(mod, "__name__", "").startswith("mapreduce_code_spark")
            and getattr(mod, "load_table", None) is orig
        ]
        for mod in self.patched:
            mod.load_table = timed
        return total

    def __exit__(self, *exc):
        for mod in self.patched:
            mod.load_table = self.orig
        return False


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if not (ROOT / "mapreduce_code_spark" / "registry.py").is_file():
        print(f"package mapreduce_code_spark not found under {ROOT}", file=sys.stderr)
        return 2
    base = HERE / ".work"
    _sweep_stale(base)
    work = base / f"run-{os.getpid()}"
    prepare_env(work)
    try:
        report, line = Bench(args, work).run()
    finally:
        try:
            stop_jvm()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
