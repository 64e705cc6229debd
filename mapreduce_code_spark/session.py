"""SparkSession factory.

Centralizes the configs that matter at both test scale (local[32]) and
cluster scale (1000 executors / 100 TB):

- AQE on: runtime shuffle-partition coalescing, auto broadcast conversion,
  and skew-join splitting replace hand-tuning per query.
- ``spark.sql.shuffle.partitions`` defaults to ~cores locally; at cluster
  scale AQE's coalescing makes the initial number a ceiling, not a target.
- Arrow enabled: every pandas UDF / mapInPandas crossing is batched.
- Session timezone pinned UTC so DuckDB-oracle comparisons are stable.
- Local sessions start Python workers through ``graft_daemon`` (repository
  root), which imports pyspark from site-packages instead of Spark's
  ``pyspark.zip`` when both hold the same version, so no task pays for
  re-reading the zip's directory (``session_conf``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# process-wide spark.local.dir (shuffle/spill/broadcast scratch), created
# once — get_spark may be called many times but only the FIRST JVM
# creation reads the conf, and one dir per process keeps the exit sweep
# trivial
_LOCAL_DIR: str | None = None


def _tmpfs_local_dir() -> str | None:
    """RAM-backed ``spark.local.dir`` for this process, or None to keep
    Spark's default (disk) behavior.

    Invariant: no timed shuffle or spill write of a local session
    lands on the root disk, where any other writer's fsync/rename
    traffic can stall it. Shuffle blocks at bench scale (sf0.1) are
    single-digit MBs per query, so tmpfs holds them easily. On a real
    cluster this knob is moot: executors get dedicated local SSD/NVMe
    scratch, not a shared root disk.

    Honors ``SPARK_GRAFT_DISK_LOCAL=1`` (via ``scratch._ram_base``) for
    blowup-tier probes whose spill could pressure tmpfs, and returns
    None when /dev/shm is absent. NOTE: only effective on the FIRST
    SparkContext creation in a process — ``getOrCreate`` on a live
    session cannot move its local dirs."""
    global _LOCAL_DIR
    from mapreduce_code_spark.scratch import _ram_base, scratch_dir

    if _ram_base() is None:
        return None
    if _LOCAL_DIR is None:
        _LOCAL_DIR = scratch_dir("sparklocal_")
    return _LOCAL_DIR

# Broadcast caps for jobs over HIGH-DUPLICATION (highly-compressible)
# corpora — the regime every dedup job is in by definition. Both of
# Spark's automatic broadcast decisions estimate from COMPRESSED bytes:
# the static planner from parquet file sizes, AQE's SMJ->BHJ demotion
# from compressed shuffle bytes. Dictionary/RLE encodings compress a
# 99%-duplicate column ~100x, so either estimate can sit two orders of
# magnitude under the in-memory HashedRelation a broadcast must build.
# Measured at the sf10 probe tier: a 12-query run over a 100x verbatim-
# duplicated corpus died in BroadcastExchangeExec with
# notEnoughMemoryToBuildAndBroadcastTableError after a ~1 GiB single-
# allocation GC-locker retry — an AQE runtime conversion whose shuffle
# stats said "small". The 2m cap keeps worst-case in-heap expansion
# (~100x) near 200 MB. Explicit broadcast() hints are unaffected —
# hints bypass thresholds, and the engine only hints provably tiny dims.
HIGH_DUPLICATION_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "2m",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "2m",
}


def apply_high_duplication_confs(spark: SparkSession) -> dict[str, str | None]:
    """Cap automatic broadcasts for a high-duplication workload.

    Both confs are runtime-settable, so this works on a live session.
    Returns the previous values for ``restore_confs``. A value of
    ``None`` means the conf was NEVER EXPLICITLY SET on this session
    (``conf.get(k, None)`` returns the passed default, not the
    registered SQL default) — the common case for
    ``spark.sql.adaptive.autoBroadcastJoinThreshold``. Restoring such a
    key requires ``spark.conf.unset(k)``; ``conf.set(k, None)`` raises.
    Use ``restore_confs(spark, prev)``, which handles both cases.
    """
    prev = {}
    for k, v in HIGH_DUPLICATION_CONFS.items():
        prev[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    return prev


def restore_confs(spark: SparkSession, prev: dict[str, str | None]) -> None:
    """Restore confs saved by ``apply_high_duplication_confs``.

    ``None`` means the key was unset before the apply — unset it again
    so the session returns to the registered SQL default (the canonical
    session's registered plans/floors depend on defaults, so a scoped
    apply/restore cycle must be plan-transparent; pinned in
    tests/test_plan_shapes.py)."""
    for k, v in prev.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


# graft_daemon.py sits in the repository root, next to this package
_DAEMON_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def session_conf(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The conf ``get_spark`` builds its session with; ``extra_conf``
    entries win."""
    master = master or f"local[{DEFAULT_CPUS}]"
    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf = {
        "spark.master": master,
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type —
        # read as long and convert via exact integer division (sources.io)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    # Python workers start through graft_daemon. Invariant: a worker
    # imports pyspark from site-packages only when that copy's version
    # equals the one in Spark's pyspark.zip; the daemon checks this once
    # per start and otherwise keeps Spark's path. Only local masters
    # engage it, because only their workers share the driver's filesystem
    # and so see _DAEMON_DIR; a cluster keeps Spark's pyspark.daemon.
    if master.startswith("local"):
        conf["spark.python.daemon.module"] = "graft_daemon"
        conf["spark.executorEnv.PYTHONPATH"] = _DAEMON_DIR
    local_dir = _tmpfs_local_dir()
    if local_dir:
        conf["spark.local.dir"] = local_dir
    return {**conf, **(extra_conf or {})}


def get_spark(
    app_name: str = "mapreduce_code_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster the caller passes ``master=None`` and lets
    spark-submit decide; locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    builder = SparkSession.builder.appName(app_name)
    for k, v in session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def worker_pyspark(spark: SparkSession) -> tuple[str, list[str]]:
    """``pyspark.__file__`` in a Python worker of ``spark``, and the
    ``.zip``/``.jar`` entries on that worker's ``sys.path``. Runs one
    one-row ``mapInPandas`` task."""
    row = spark.range(0, 1, 1, 1).mapInPandas(
        _probe_worker, "pyspark string, archives array<string>"
    ).first()
    return row.pyspark, list(row.archives)


def _probe_worker(batches):
    import sys

    import pandas as pd
    import pyspark

    archives = [p for p in sys.path if p.endswith((".zip", ".jar"))]
    for _ in batches:
        yield pd.DataFrame({"pyspark": [pyspark.__file__], "archives": [archives]})
