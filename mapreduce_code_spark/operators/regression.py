"""Iterative regression via partition-local SGD + snapshot averaging,
plus closed-form OLS as the SQL-expressible sibling.

Re-expresses ``/root/reference/logisticreg/logisticreg.java`` and
``/root/reference/multilinereg/multilinereg.java`` (structurally identical;
the single differing line is the sigmoid, ``logisticreg.java:79``).

Faithful semantics (verified against the source):

- Per record, in sequence within a task: ``h = link(x · θ)``; if
  ``|h − y| > accuracy`` update ``θ_j += α·(y−h)·x_j`` in place and emit a
  *snapshot* of θ with continue-flag true, else emit the unchanged θ with
  flag false (``logisticreg.java:76-97``). One emission per record.
- The single reducer element-wise sums ALL per-record snapshots, divides
  by the number of records, and ANDs the flags (``logisticreg.java:104-139``)
  — i.e. the next iterate is the **average of the per-record θ trajectory**
  (Polyak-style trajectory averaging over Zinkevich-style parallel SGD).
- The driver stops when the ANDed flag is false — i.e. when ANY record
  fell within accuracy — or at ``max_iter`` (``logisticreg.java:203``).
  Surprising, but it is what the reference computes; kept faithfully.

Spark-first execution:

- The mapper's per-JVM sequential sweep becomes an Arrow-batched
  ``mapInPandas`` job per iteration. Each of the ``n_partitions`` map
  splits is swept as its own trajectory, starting from the iteration's
  θ, but the splits ride on only ``min(n_partitions,
  defaultParallelism)`` tasks: every task receives a contiguous group of
  splits and sweeps them one after another, so an iteration is one wave
  of Python tasks instead of one task per split.
- The reference funnels one value PER RECORD to a single reducer
  (constant key "1", ``logisticreg.java:95-97``) — a scalability cliff at
  100 TB. Here each split pre-aggregates locally (sum of snapshots, AND
  of flags, count) and emits ONE partial row; the driver combines the
  ``n_partitions`` tiny rows. Mathematically identical to the
  reference's reduce, with shuffle volume O(splits · d) instead of
  O(rows · d).
- θ travels driver → executors inside the kernel closure per iteration
  (replacing the per-JVM HDFS theta-file read, ``logisticreg.java:67-75``);
  at d=4 doubles a broadcast per iteration would be pure churn.
- The per-record sweep itself runs as a compiled C kernel with the
  identical IEEE op sequence when a C compiler is available
  (``_NATIVE_SRC``), falling back to the bit-identical
  pure-Python loop otherwise; every partial records which one ran, and
  ``SGDResult.native`` is true only when every split ran native. Inputs
  cross the Arrow boundary as flat float64 columns so the native sweep
  reads them zero-copy.

Determinism: snapshot averaging depends on which rows form a split and
on their order. ``sgd_fit`` assigns each row a split id by exact integer
arithmetic over the ``row_id`` domain, so splits are contiguous row_id
ranges. A group of consecutive splits is placed on one task exactly
(hash-salt lookup — see ``_exact_partition_salts``) and the task sorts
by ``row_id``, which keeps each split contiguous and in split order; the
kernel resets θ wherever the split id changes, including inside an
Arrow batch. The driver fills each empty split with the zero partial
and sums the partials in split order, so θ is bit-reproducible for a
given ``n_partitions`` and input layout and does not depend on the task
count or the Arrow batch size (SURVEY §7.2). ``repartitionByRange`` is
not usable for the split assignment: its range boundaries come from
reservoir sampling seeded by the RDD id, which changes across actions in
one session. ``row_id`` itself (``monotonically_increasing_id`` over
the scan) is deterministic for a fixed file set and session conf, like
the reference's HDFS block splits are for a fixed cluster config.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass
from itertools import groupby
from operator import itemgetter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ALPHA = 0.03  # logisticreg.java:150
ACCURACY = 0.01  # logisticreg.java:151
MAX_ITER = 50  # logisticreg.java:147 (the conf "numIter"=2 at :152 is unused)

# one row per non-empty split; a task emits the partials of every split
# it holds, in split order
_PARTIAL_SCHEMA = (
    "split int, all_continue boolean, n long, theta_sum array<double>, "
    "native boolean"
)

# --------------------------------------------------------------- native
# The per-record sweep in C. Trajectory-averaged SGD is inherently
# SEQUENTIAL per split (theta mutates at almost every record), so it
# cannot vectorize through numpy, and the pure-Python loop dominates an
# iteration's executor time. The C body below executes the EXACT
# reference float sequence — h += x[j]*theta[j] (logisticreg.java:77),
# theta[j] += alpha*(err*x[j]) (:85's parenthesization), per-record
# snapshot sums — on IEEE doubles. Compiled with -ffp-contract=off so
# no FMA contraction can change a rounding, and without any
# fast-math/reassociation flag; glibc exp() is the same function
# CPython's math.exp wraps, so the sigmoid bits match the Python
# fallback on this platform. Bit-parity is enforced three ways: the
# pinned-theta golden oracle (sgd_theta_pinned), the DuckDB driver
# row, and tests/test_regression.py's native-vs-python equality test.
_NATIVE_SRC = r"""
#include <math.h>

void sweep(const double **xs, const double *ys, long long n, int d,
           double alpha, double accuracy, int logistic,
           double *theta, double *snap, long long *n_out,
           int *all_continue) {
    for (long long i = 0; i < n; i++) {
        double h = 0.0;
        for (int j = 0; j < d; j++)
            h += xs[j][i] * theta[j];               /* logisticreg.java:77 */
        if (logistic) {
            if (h < -709.0) h = 0.0;                /* exp clamp, as Python */
            else if (h > 709.0) h = 1.0;
            else h = 1.0 / (1.0 + exp(-h));
        }
        double y = ys[i];
        if (fabs(h - y) > accuracy) {
            double err = y - h;
            for (int j = 0; j < d; j++)
                theta[j] += alpha * (err * xs[j][i]); /* logisticreg.java:85 */
        } else {
            *all_continue = 0;                      /* this record's flag */
        }
        for (int j = 0; j < d; j++)
            snap[j] += theta[j];                    /* logisticreg.java:87,92 */
    }
    *n_out += n;
}
"""

# compiled-.so path cache: None = not tried, "" = tried and unavailable
_NATIVE_SO: str | None = None


def _native_kernel_path() -> str:
    """Compile the C sweep once per process into an exit-swept scratch
    dir and return the .so path, or "" when no working C compiler is
    available (the kernel closure then runs the bit-identical Python
    loop). Driver-side only: in local mode the workers share the
    filesystem, so shipping the path through the closure suffices; on
    a real cluster the workers won't see the file and every task falls
    back to the Python loop (same bits, slower) — deploys that want
    the native path there ship the .so via spark.files and it is found
    by basename."""
    global _NATIVE_SO
    if _NATIVE_SO is not None:
        return _NATIVE_SO
    import shutil as _shutil
    import subprocess

    from mapreduce_code_spark.scratch import scratch_dir

    cc = _shutil.which("cc") or _shutil.which("gcc")
    if cc is None:
        _NATIVE_SO = ""
        return _NATIVE_SO
    d = scratch_dir("sgd_native_")
    src = f"{d}/sweep.c"
    so = f"{d}/sweep.so"
    with open(src, "w") as f:
        f.write(_NATIVE_SRC)
    try:
        subprocess.run(
            [cc, "-O2", "-fPIC", "-shared", "-ffp-contract=off",
             "-o", so, src],
            check=True,
            capture_output=True,
            timeout=60,
        )
        _NATIVE_SO = so
    except (subprocess.SubprocessError, OSError):
        _NATIVE_SO = ""
    return _NATIVE_SO

# Most recent fit's iteration count per link, recorded by sgd_fit. A
# fit's wall time is iterations × per-iteration cost and the stop rule
# is data-dependent, so bench reports carry the count to tell a longer
# convergence path from a slower iteration.
LAST_FIT_ITERATIONS: dict[str, int] = {}


@dataclass
class SGDResult:
    theta: list[float]
    iterations: int
    converged: bool  # stopped via the reference's any-record-within-accuracy rule
    # how many splits actually held rows: with scan-derived sparse
    # row_ids the domain buckets track scan-block granularity, so this
    # can be < n_partitions (Hadoop's mappers ≤ input splits, kept
    # faithfully) — recorded so the collapse is observable, never silent
    n_splits_effective: int = 0
    # True only when every non-empty split of every iteration ran the C
    # sweep; an executor that cannot load the .so shows up here instead
    # of silently running the (bit-identical, slower) Python loop
    native: bool = False


def _partition_kernel(
    theta_in, alpha: float, accuracy: float, link: str, so_path: str = ""
):
    """``mapInPandas`` body for one SGD iteration. Input batches carry
    ``split int, y, x0..x{d-1}`` (flat float64 columns arrive as
    contiguous Arrow buffers that hand zero-copy pointers to the native
    sweep), sorted so each split's rows are contiguous. Every split
    starts from ``theta_in``, including one that begins inside a batch,
    and emits one ``_PARTIAL_SCHEMA`` row; a task with no rows emits
    nothing. ``theta_in`` is a plain tuple in the closure: a per-task
    copy of d doubles is cheaper than a broadcast per iteration."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from math import exp as _exp

        d = len(theta_in)
        rng_d = range(d)
        logistic = link == "logistic"
        lib = None
        if so_path:
            # any load failure (missing file on a remote executor, no
            # loader) falls back to the bit-identical Python loop below
            # and is reported through the partials' native flag
            try:
                import ctypes

                lib = ctypes.CDLL(so_path)
                c_dbl_p = ctypes.POINTER(ctypes.c_double)
                lib.sweep.argtypes = [
                    ctypes.POINTER(c_dbl_p), c_dbl_p,
                    ctypes.c_longlong, ctypes.c_int,
                    ctypes.c_double, ctypes.c_double, ctypes.c_int,
                    c_dbl_p, c_dbl_p,
                    ctypes.POINTER(ctypes.c_longlong),
                    ctypes.POINTER(ctypes.c_int),
                ]
                lib.sweep.restype = None
            except OSError:
                lib = None

        if lib is not None:

            def sweep_split(segments):
                theta = np.array(theta_in, dtype=np.float64)
                snap = np.zeros(d, dtype=np.float64)
                n = ctypes.c_longlong(0)
                cont = ctypes.c_int(1)
                for _, ys, cols in segments:
                    lib.sweep(
                        (c_dbl_p * d)(*[c.ctypes.data_as(c_dbl_p) for c in cols]),
                        ys.ctypes.data_as(c_dbl_p),
                        len(ys),
                        d,
                        alpha,
                        accuracy,
                        1 if logistic else 0,
                        theta.ctypes.data_as(c_dbl_p),
                        snap.ctypes.data_as(c_dbl_p),
                        ctypes.byref(n),
                        ctypes.byref(cont),
                    )
                return bool(cont.value), n.value, snap.tolist()

        else:

            def sweep_split(segments):
                # Pure-Python fallback — THE float-order reference: the
                # dot accumulates sequentially h += x[j]*theta[j]
                # (logisticreg.java:77 — numpy's `x @ theta` rounds
                # pairwise and diverges in the last ulp), and the
                # update scales as alpha * ((y-h) * x[j])
                # (logisticreg.java:85's parenthesization, not the
                # hoisted (alpha*(y-h)) * x[j]). math.exp wraps the same
                # libm exp the native sweep calls.
                theta = [float(t) for t in theta_in]
                snap_sum = [0.0] * d
                n = 0
                all_continue = True
                for _, ys, cols in segments:
                    ys = ys.tolist()
                    cols = [c.tolist() for c in cols]
                    for i in range(len(ys)):
                        y = ys[i]
                        h = 0.0
                        for j in rng_d:
                            h += cols[j][i] * theta[j]  # logisticreg.java:77
                        if logistic:
                            # clamp: math.exp overflows past ~709 (np.exp
                            # → inf); saturate h to 0/1 as inf would
                            if h < -709.0:
                                h = 0.0
                            elif h > 709.0:
                                h = 1.0
                            else:
                                h = 1.0 / (1.0 + _exp(-h))
                        if abs(h - y) > accuracy:
                            err = y - h
                            for j in rng_d:
                                # logisticreg.java:85
                                theta[j] += alpha * (err * cols[j][i])
                        else:
                            all_continue = False  # this record's flag is "false"
                        for j in rng_d:
                            snap_sum[j] += theta[j]  # snapshot, logisticreg.java:87,92
                    n += len(ys)
                return all_continue, n, snap_sum

        def segments():
            """``(split, y, [x_j])`` runs of rows sharing one split id."""
            for pdf in batches:
                ids = pdf["split"].to_numpy()
                if not len(ids):
                    continue
                ys = np.ascontiguousarray(pdf["y"].to_numpy(), dtype=np.float64)
                cols = [
                    np.ascontiguousarray(pdf[f"x{j}"].to_numpy(), dtype=np.float64)
                    for j in rng_d
                ]
                cuts = [0, *(np.flatnonzero(ids[1:] != ids[:-1]) + 1), len(ids)]
                for a, b in zip(cuts[:-1], cuts[1:]):
                    yield int(ids[a]), ys[a:b], [c[a:b] for c in cols]

        # each split's rows are contiguous, so one group is one whole split
        partials = [
            (split, *sweep_split(segs))
            for split, segs in groupby(segments(), key=itemgetter(0))
        ]
        if partials:
            split, cont, n, theta_sum = zip(*partials)
            yield pd.DataFrame(
                {
                    "split": split,
                    "all_continue": cont,
                    "n": n,
                    "theta_sum": theta_sum,
                    "native": lib is not None,
                }
            )

    return kernel


_SALT_CACHE: dict[int, list[int]] = {}


def _exact_partition_salts(spark, n_part: int) -> list[int]:
    """``salts[p]`` is a BIGINT whose Spark hash-partition slot at
    ``n_part`` partitions is exactly ``p`` — so
    ``repartition(n_part, salt_col)`` places split ``p`` on partition
    ``p`` alone, with no range-boundary sampling and no collisions.
    Computed by probing Spark's own ``hash()`` (murmur3) over a small
    ``range`` so the Python side never re-implements the JVM hash;
    cached per n_part — the mapping depends only on the (fixed) hash
    algorithm, never on the session, so a cached list stays correct
    across sessions. The probe is one tiny job per fit at worst —
    never per iteration — and 32·n_part candidates cover all residues
    with overwhelming probability (the loop widens if not)."""
    key = n_part
    if key not in _SALT_CACHE:
        found: dict[int, int] = {}
        m = 32 * n_part
        while len(found) < n_part:
            probe = spark.range(m).select(
                F.col("id"),
                F.pmod(F.hash(F.col("id")), F.lit(n_part)).alias("p"),
            )
            for r in probe.collect():
                found.setdefault(r["p"], r["id"])
            m *= 4
        _SALT_CACHE[key] = [found[p] for p in range(n_part)]
    return _SALT_CACHE[key]


def _iteration_input(points: DataFrame, n_part: int) -> tuple[DataFrame, int]:
    """The frame every iteration sweeps, and the feature width d.

    Rows are cut into ``n_part`` splits of equal row_id WIDTH, like the
    reference's map splits, and the splits are spread over
    ``min(n_part, defaultParallelism)`` partitions in contiguous groups,
    each partition sorted by ``row_id``. Columns: ``split int, y,
    x0..x{d-1}``."""
    spark = points.sparkSession
    n_task = min(n_part, spark.sparkContext.defaultParallelism)
    # one set-up job for the row_id bounds and d; min(size) is
    # deterministic over any row order, and a ragged frame (undefined
    # for the sweep) fails on its shortest row
    bounds = points.select(
        F.min("row_id").alias("lo"),
        F.max("row_id").alias("hi"),
        F.min(F.size("features")).alias("d"),
    ).first()
    if bounds["lo"] is None:
        raise ValueError(
            "sgd_fit: points frame is empty — nothing to fit "
            "(an empty partition sweep would divide by zero)"
        )
    lo, span = bounds["lo"], bounds["hi"] - bounds["lo"] + 1
    d = bounds["d"]
    # Equal-width buckets via one integer DIV: exact at any id magnitude
    # (a double-rounded floor could misassign boundary rows) and
    # overflow-free — ((row_id-lo)*n_part) can exceed BIGINT for
    # monotonically_increasing_id's sparse (scan_partition << 33)
    # layout, while (row_id-lo) DIV width never leaves [0, n_part).
    # With such sparse ids the buckets track SCAN-BLOCK granularity, not
    # row rank, so a scan with fewer blocks than n_part runs fewer
    # trajectories — Hadoop's own split semantics (mappers never
    # outnumber input splits), reported as SGDResult.n_splits_effective.
    width = -(-span // n_part)  # exact ceil(span / n_part)
    split = F.expr(f"CAST(((row_id - {lo}L) DIV {width}L) AS INT)")
    # split p goes to partition p * n_task // n_part: contiguous groups,
    # placed exactly by the salt whose hash slot is that partition
    salts = _exact_partition_salts(spark, n_task)
    pts = (
        points.withColumn(
            "__salt",
            # BIGINT cast is load-bearing: the salts were probed via
            # hash() over BIGINT ids, and Spark's murmur3 of an INT
            # differs from the same value as a LONG — an int literal
            # here would land splits on the wrong partitions
            F.element_at(
                F.array(
                    *[
                        F.lit(salts[p * n_task // n_part]).cast("bigint")
                        for p in range(n_part)
                    ]
                ),
                split + F.lit(1),
            ),
        )
        .repartition(n_task, "__salt")
        # splits are row_id ranges, so this keeps each split contiguous
        # and the splits in order inside a partition
        .sortWithinPartitions("row_id")
        # flat float64 columns cross the Arrow boundary as contiguous
        # buffers the native sweep reads zero-copy (an array<double>
        # column arrives as one ndarray object per row)
        .select(
            split.alias("split"),
            "y",
            *[F.col("features").getItem(j).alias(f"x{j}") for j in range(d)],
        )
    )
    return pts, d


def sgd_fit(
    points: DataFrame,
    link: str = "linear",
    alpha: float = ALPHA,
    accuracy: float = ACCURACY,
    max_iter: int = MAX_ITER,
    n_partitions: int | None = None,
) -> SGDResult:
    """Fit by the reference's iterate-average-until-stop loop.

    ``points``: ``(row_id bigint, y double, features array<double>)`` with
    bias pre-injected at ``features[0]``. ``link``: ``linear`` | ``logistic``.
    ``n_partitions`` is the number of map splits (default: the input's
    partition count); θ depends on it, not on the session's core count.
    """
    if link not in ("linear", "logistic"):
        raise ValueError(f"unknown link {link!r}")
    n_part = n_partitions or points.rdd.getNumPartitions()
    pts, d = _iteration_input(points, n_part)
    pts.persist()
    try:
        so_path = _native_kernel_path()
        theta = np.zeros(d)  # logisticreg.java:161-164
        # an empty split contributes what a sweep over no rows yields
        zero = (True, 0, np.zeros(d))
        converged = False
        it = 0
        # with max_iter <= 0 no sweep runs: zero theta, no split touched,
        # nothing ran native
        native = max_iter > 0
        by_split: dict[int, tuple] = {}
        for it in range(1, max_iter + 1):
            rows = pts.mapInPandas(
                _partition_kernel(
                    tuple(float(t) for t in theta),
                    alpha,
                    accuracy,
                    link,
                    so_path,
                ),
                schema=_PARTIAL_SCHEMA,
            ).collect()
            native = native and all(r["native"] for r in rows)
            by_split = {
                r["split"]: (r["all_continue"], r["n"], np.asarray(r["theta_sum"]))
                for r in rows
            }
            # the reducer sums in split order whatever the task count
            partials = [by_split.get(p, zero) for p in range(n_part)]
            total = sum(n for _, n, _ in partials)
            snap = np.sum([s for _, _, s in partials], axis=0)
            theta = snap / total  # reducer average, logisticreg.java:136-138
            if not all(c for c, _, _ in partials):
                converged = True  # stop rule, logisticreg.java:203
                break
        LAST_FIT_ITERATIONS[link] = it
        return SGDResult(
            theta=theta.tolist(),
            iterations=it,
            converged=converged,
            n_splits_effective=len(by_split),
            native=native,
        )
    finally:
        pts.unpersist()


def sgd_fit_df(points: DataFrame, link: str = "linear", **kw) -> DataFrame:
    """DataFrame wrapper for the driver contract: one row per coefficient
    ``(coef_idx int, theta double, iterations int, converged boolean)``.

    Built from pandas over Arrow, so it plans as a JVM ``LocalTableScan``;
    a list of tuples would become a Python RDD that reruns Python tasks
    on every action."""
    res = sgd_fit(points, link=link, **kw)
    k = len(res.theta)
    pdf = pd.DataFrame(
        {
            "coef_idx": np.arange(k, dtype=np.int32),
            "theta": np.asarray(res.theta, dtype=np.float64),
            "iterations": np.full(k, res.iterations, dtype=np.int32),
            "converged": np.full(k, res.converged, dtype=bool),
        }
    )
    return points.sparkSession.createDataFrame(
        pdf, "coef_idx int, theta double, iterations int, converged boolean"
    )


def ols_stats(points: DataFrame) -> DataFrame:
    """Sufficient statistics for the normal equations X'Xθ = X'y as one
    row of pure aggregations (SQL-expressible; the oracle-able sibling of
    the non-SQL-expressible SGD loop). Features fixed at d=4
    (bias + 3, FIXTURES.md §2.2)."""
    f = [F.col("features").getItem(i) for i in range(4)]
    aggs = []
    for i in range(4):
        for j in range(i, 4):
            aggs.append(F.sum(f[i] * f[j]).alias(f"xx_{i}{j}"))
    for i in range(4):
        aggs.append(F.sum(f[i] * F.col("y")).alias(f"xy_{i}"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    return points.agg(*aggs)


def ols_stats_exact(lineitem: DataFrame) -> DataFrame:
    """Decimal-exact OLS sufficient statistics straight from ``lineitem``
    (y = l_extendedprice; x = [1, l_quantity, l_discount, l_tax]).

    Double sums are summation-order-dependent, so a Spark result and a
    DuckDB oracle could differ in the last ulps. Casting every input to
    DECIMAL(14,4) first makes the aggregation exact and order-independent
    — bit-identical across engines — then the final cast back to double is
    deterministic. The cost (decimal arithmetic vs double) is irrelevant
    for a 14-value-per-row aggregate even at 100 TB; the pattern matters
    more than the cycles.
    """
    cols = [
        F.lit(1).cast("decimal(14,4)"),
        F.col("l_quantity").cast("decimal(14,4)"),
        F.col("l_discount").cast("decimal(14,4)"),
        F.col("l_tax").cast("decimal(14,4)"),
    ]
    y = F.col("l_extendedprice").cast("decimal(14,4)")
    aggs = []
    for i in range(4):
        for j in range(i, 4):
            aggs.append(
                F.sum(cols[i] * cols[j]).cast("double").alias(f"xx_{i}{j}")
            )
    for i in range(4):
        aggs.append(F.sum(cols[i] * y).cast("double").alias(f"xy_{i}"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    return lineitem.agg(*aggs)


def ols_stats_exact_sql() -> str:
    """The DuckDB twin of :func:`ols_stats_exact` (identical casts)."""
    cols = [
        "CAST(1 AS DECIMAL(14,4))",
        "CAST(l_quantity AS DECIMAL(14,4))",
        "CAST(l_discount AS DECIMAL(14,4))",
        "CAST(l_tax AS DECIMAL(14,4))",
    ]
    y = "CAST(l_extendedprice AS DECIMAL(14,4))"
    parts = []
    for i in range(4):
        for j in range(i, 4):
            parts.append(
                f"CAST(sum({cols[i]} * {cols[j]}) AS DOUBLE) AS xx_{i}{j}"
            )
    for i in range(4):
        parts.append(f"CAST(sum({cols[i]} * {y}) AS DOUBLE) AS xy_{i}")
    parts.append("count(*) AS n")
    return "SELECT " + ", ".join(parts) + " FROM lineitem"


def ols_solve(points: DataFrame) -> np.ndarray:
    """Closed-form OLS θ from the aggregated sufficient statistics."""
    row = ols_stats(points).first()
    d = 4
    xtx = np.zeros((d, d))
    xty = np.zeros(d)
    for i in range(d):
        for j in range(i, d):
            xtx[i, j] = xtx[j, i] = row[f"xx_{i}{j}"]
        xty[i] = row[f"xy_{i}"]
    return np.linalg.solve(xtx, xty)
