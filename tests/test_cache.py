"""The package's one store of state kept between calls (cache.py): the
intermediate cap, evict_all's reach, and on_disk's completion check."""

from __future__ import annotations

import os

from pyspark import StorageLevel

from mapreduce_code_spark import cache, registry


def _cached(df) -> bool:
    # storageLevel asks the session's CacheManager, not the handle
    return df.storageLevel != StorageLevel(False, False, False, False, 1)


def test_persist_beyond_the_cap_unpersists_the_oldest(spark):
    # the cap is 4: the fifth intermediate pushes out the first
    cache.release()
    frames = [spark.range(i + 1) for i in range(5)]
    try:
        for df in frames:
            assert cache.persist(df) is df
        assert not _cached(frames[0])
        assert all(_cached(df) for df in frames[1:])
        assert cache._INTERMEDIATES == frames[1:]
    finally:
        cache.release()
    assert not any(_cached(df) for df in frames)


def test_evict_all_leaves_no_frame_the_package_persisted(spark, sf_dir):
    for _, build, _ in registry.SHARED_BUILDS.values():
        build(spark, sf_dir)
    cache.persist(spark.range(7))
    frames = [df for k, df in cache._FRAMES.items() if k[1] == id(spark)]
    frames += cache._INTERMEDIATES
    kinds = {k[0] for k in cache._FRAMES if k[1] == id(spark)}
    # every in-memory shared kind is live, and an intermediate too
    assert kinds == set(registry.SHARED_BUILDS) - {"ingest_run"}
    assert cache._INTERMEDIATES and all(_cached(df) for df in frames)

    registry.evict_all(spark)

    assert not any(_cached(df) for df in frames)
    assert not any(k[1] == id(spark) for k in cache._FRAMES)
    assert not cache._INTERMEDIATES
    assert not any(k[0] in registry.SHARED_BUILDS for k in cache._DIRS)


def test_on_disk_rebuilds_an_incomplete_entry_and_evict_deletes_it():
    bases: list[str] = []

    def build(base: str) -> str:
        bases.append(base)
        out = os.path.join(base, "out")
        os.makedirs(out)
        open(os.path.join(out, "done"), "w").close()
        return out

    def complete(out: str) -> bool:
        return os.path.exists(os.path.join(out, "done"))

    kind, sf = "test_on_disk", "/nonexistent/sf"
    try:
        first = cache.on_disk(kind, sf, build, complete)
        assert cache.on_disk(kind, sf, build, complete) == first
        assert len(bases) == 1  # a complete hit is not rebuilt

        os.remove(os.path.join(first, "done"))  # left half-written
        second = cache.on_disk(kind, sf, build, complete)
        assert len(bases) == 2 and second != first and complete(second)
        assert not os.path.exists(bases[0])  # the stale base is deleted
        assert cache._DIRS[(kind, sf)] == (bases[1], second)

        cache.evict(kind)
        assert (kind, sf) not in cache._DIRS
        assert not os.path.exists(bases[1])
    finally:
        cache.evict(kind)
