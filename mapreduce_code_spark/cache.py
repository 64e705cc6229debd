"""Everything the package keeps between calls.

The reference passed state between its chained MapReduce jobs through
HBase tables and HDFS side files; here that state is Spark storage and
scratch dirs, and this module is its only owner. Three stores:

- per-query intermediates (:func:`persist` / :func:`release`): frames a
  kernel reads more than once within one query, e.g. the shingle-id
  sets. Spark's CacheManager keeps a cached plan until it is explicitly
  unpersisted — dropping the DataFrame handle frees nothing — and an
  eager unpersist inside the kernel would defeat the multi-use persist
  (the plans are lazy). So the registry calls :func:`release` as it
  builds each query (the previous query is consumed by then), and the
  store holds at most ``_INTERMEDIATE_CAP`` frames, so a caller that
  never releases leaks a constant number of cached plans.
- shared in-memory builds (:func:`shared`): one persisted frame per
  ``(kind, session, sf_dir)``, read by several registered queries
  (``registry.SHARED_BUILDS``), never rebuilt per consumer.
- shared on-disk builds (:func:`on_disk`): one scratch dir per
  ``(kind, sf_dir)`` holding a pure function of the corpus (a stream
  source split, written training shards, a completed streamed run).
  Scratch dirs belong to this process and carry no session.

:func:`evict` drops one kind from both shared stores, so a benchmark
can make the next consumer pay the build. Every drop here is safe
mid-use: an evicted persist or dir is recomputed, never read stale.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapreduce_code_spark.scratch import discard, scratch_dir

_INTERMEDIATES: list[DataFrame] = []
_INTERMEDIATES_LOCK = threading.Lock()
_INTERMEDIATE_CAP = 4

# (kind, id(session), sf_dir) -> persisted frame
_FRAMES: dict[tuple[str, int, str], DataFrame] = {}
_FRAME_CAP = 8

# (kind, sf_dir) -> (scratch base dir, built path under it). The base is
# stored, not re-derived from the path, so a drop always deletes the
# dir the build was given, however deep the build nests its output.
_DIRS: dict[tuple[str, str], tuple[str, str]] = {}


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # owning session already stopped


def persist(df: DataFrame) -> DataFrame:
    """Persist a per-query intermediate; beyond the cap the oldest one
    is unpersisted."""
    df.persist()
    with _INTERMEDIATES_LOCK:
        _INTERMEDIATES.append(df)
        n_over = max(0, len(_INTERMEDIATES) - _INTERMEDIATE_CAP)
        evicted = _INTERMEDIATES[:n_over]
        del _INTERMEDIATES[:n_over]
    for old in evicted:
        _unpersist(old)
    return df


def release() -> int:
    """Unpersist every intermediate; returns how many were released."""
    with _INTERMEDIATES_LOCK:
        drain, _INTERMEDIATES[:] = _INTERMEDIATES[:], []
    for df in drain:
        _unpersist(df)
    return len(drain)


def _stopped(session) -> bool:
    """True only when the session provably stopped. A session with no
    JVM handle to probe (Spark Connect) counts as live; a classic
    session whose probe raises counts as stopped."""
    jsc = getattr(session, "_jsc", None)
    if jsc is None:
        return False
    try:
        return jsc.sc().isStopped()
    except Exception:
        return True


def shared(
    kind: str, spark: SparkSession, sf_dir: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """The ``kind`` frame for (spark, sf_dir), persisted on first use.

    A cached frame is bound to the session that built it, so a hit must
    be that very session: ``id()`` is reused once a stopped session is
    collected, and the key alone cannot prove ownership. On a miss only
    provably stale entries go — this key's and those of stopped
    sessions. A concurrently live second session keeps its frames (an
    unpersist would degrade it mid-use), and this session keeps its other
    sf dirs warm. Connect sessions cannot be probed, so the store is
    also capped, dropping the oldest entry first."""
    key = (kind, id(spark), sf_dir)
    hit = _FRAMES.get(key)
    if hit is not None and hit.sparkSession is spark:
        return hit
    for k, df in list(_FRAMES.items()):
        if k == key or _stopped(df.sparkSession):
            _unpersist(df)
            del _FRAMES[k]
    while len(_FRAMES) >= _FRAME_CAP:
        k = next(iter(_FRAMES))
        _unpersist(_FRAMES.pop(k))
    _FRAMES[key] = build().persist()
    return _FRAMES[key]


def on_disk(
    kind: str,
    sf_dir: str,
    build: Callable[[str], str],
    complete: Callable[[str], bool],
) -> str:
    """The ``kind`` build for ``sf_dir``: ``build(base)`` writes under a
    fresh scratch dir and returns the path to hand out. Scratch is
    tmpfs-backed where the host allows (see scratch.py), so the small
    fsync'd files of these builds and of the streamed runs reading them
    never wait on the root disk. A hit is trusted only if
    ``complete(path)`` holds; a dir that was reaped, evicted or left
    half-written is deleted and built again."""
    key = (kind, sf_dir)
    hit = _DIRS.pop(key, None)
    if hit is not None:
        base, path = hit
        if complete(path):
            _DIRS[key] = hit
            return path
        discard(base)
    base = scratch_dir(f"spark_graft_{kind}_")
    path = build(base)
    _DIRS[key] = (base, path)
    return path


def evict(kind: str, spark: SparkSession | None = None) -> None:
    """Drop every shared ``kind`` build, then the intermediates.

    ``spark`` scopes the in-memory drop to frames that session owns, for
    the same reason :func:`shared` never touches a live second session;
    ``None`` drops them all. Scratch dirs are this process's own, so
    they always go."""
    for k, df in list(_FRAMES.items()):
        if k[0] == kind and (spark is None or df.sparkSession is spark):
            _unpersist(df)
            del _FRAMES[k]
    for k, (base, _path) in list(_DIRS.items()):
        if k[0] == kind:
            # discard, not rmtree: it keeps the dir on the exit re-sweep
            # list, since a just-terminated stream's state-store
            # maintenance can recreate files under it
            discard(base)
            del _DIRS[k]
    release()
