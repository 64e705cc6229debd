"""Pins the RAM-backed scratch-dir contract.

The streamed rows' checkpoints/state/staging live in /dev/shm-backed
scratch dirs, not on /tmp (disk, whose small fsync'd commits make their
times track other writers on the host; receipt:
probe_streamed_window.json), and the dirs are tracked and removed at
process exit. These tests pin the placement, the freshness-per-call
invariant the streaming file source requires, the cleanup hooks, and
that the bounded memory-sink runner leaves no checkpoint behind."""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mapreduce_code_spark import scratch as SC


def test_scratch_dir_prefers_dev_shm_when_available():
    d = SC.scratch_dir("sg_test_")
    try:
        if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
            assert d.startswith("/dev/shm/"), d
        assert os.path.isdir(d)
        assert Path(d).name.startswith("sg_test_")
    finally:
        SC.discard(d)


def test_scratch_dir_fresh_per_call():
    """A streaming file source remembers processed files in its
    checkpoint, so two runs must never share a scratch dir."""
    a, b = SC.scratch_dir("sg_fresh_"), SC.scratch_dir("sg_fresh_")
    try:
        assert a != b
    finally:
        SC.discard(a)
        SC.discard(b)


def test_discard_removes_and_untracks():
    d = SC.scratch_dir("sg_disc_")
    (Path(d) / "x").write_text("1")
    SC.discard(d)
    assert not os.path.exists(d)
    assert d not in SC._CREATED
    SC.discard(d)  # idempotent


def test_exit_cleanup_sweeps_tracked_dirs(monkeypatch):
    """Exercises _cleanup against an ISOLATED tracked list: since the
    r17 spark.local.dir move, _CREATED also holds the live session's
    shuffle-scratch dir, and calling the real exit sweep mid-suite
    deleted it out from under the JVM — every later shuffle write in
    the shared session failed with FileNotFoundException (found when
    this test ran after session-creating suites)."""
    d = SC.scratch_dir("sg_exit_")
    (Path(d) / "x").write_text("1")
    SC._CREATED.remove(d)
    monkeypatch.setattr(SC, "_CREATED", [d])
    monkeypatch.setattr(SC, "_DISCARDED", [])
    SC._cleanup()
    assert not os.path.exists(d)
    assert SC._CREATED == []


def test_exit_cleanup_resweeps_discarded_dirs(monkeypatch):
    """r16 advisor (low): Spark's state-store maintenance thread can
    recreate files under a checkpoint dir shortly AFTER the bounded
    query terminates — so a dir removed early by discard() must be
    swept AGAIN at exit, or the recreated tmpfs files hold RAM until
    process death. Runs against isolated lists for the same
    live-session reason as the sweep test above."""
    d = SC.scratch_dir("sg_resweep_")
    SC.discard(d)
    assert d in SC._DISCARDED
    SC._DISCARDED.remove(d)
    monkeypatch.setattr(SC, "_CREATED", [])
    monkeypatch.setattr(SC, "_DISCARDED", [d])
    # model the maintenance thread recreating the dir post-discard
    os.makedirs(d, exist_ok=True)
    (Path(d) / "late_state").write_text("1")
    SC._cleanup()
    assert not os.path.exists(d)
    assert SC._DISCARDED == []


def test_first_scratch_dir_sweeps_dirs_of_dead_processes(
    monkeypatch, tmp_path
):
    """A process killed before its exit hook (SIGKILL) leaves its scratch
    dirs behind; their names carry the dead creator's PID, so the next
    process's first scratch_dir call under the same base removes them —
    and only them: a dir tagged with a live PID survives, as does a dir
    without the tag."""
    import subprocess

    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()
    dead = tmp_path / f"sg_dead_abc.sgpid{child.pid}"
    live = tmp_path / f"sg_live_abc.sgpid{os.getpid()}"
    other = tmp_path / "not_a_scratch_dir"
    for d in (dead, live, other):
        d.mkdir()
        (d / "x").write_text("1")
    monkeypatch.setattr(SC, "_ram_base", lambda: str(tmp_path))
    monkeypatch.setattr(SC, "_SWEPT", set())
    d = SC.scratch_dir("sg_sweep_")
    try:
        assert d.endswith(f".sgpid{os.getpid()}"), d
        assert Path(d).name.startswith("sg_sweep_")
        assert not dead.exists()
        assert live.is_dir() and other.is_dir()
    finally:
        SC.discard(d)


def test_disk_local_env_forces_disk_scratch(monkeypatch):
    """SPARK_GRAFT_DISK_LOCAL=1 is the blowup-tier / probe-pre-leg knob
    (r16 verdict #1): every scratch dir must land on the default disk
    temp root, never tmpfs."""
    monkeypatch.setenv("SPARK_GRAFT_DISK_LOCAL", "1")
    assert SC._ram_base() is None
    d = SC.scratch_dir("sg_disk_")
    try:
        assert not d.startswith("/dev/shm/"), d
    finally:
        SC.discard(d)


def test_low_tmpfs_headroom_falls_back_to_disk(monkeypatch):
    """Capacity guard (r17 verdict #2): when /dev/shm's free space is
    below the headroom floor, a NEW scratch dir must land on the disk
    temp root automatically — the opt-out must not be manual."""
    real_statvfs = os.statvfs

    class _Full:
        def __init__(self, st):
            self.f_bavail = 16  # 16 frags free -> way under any floor
            self.f_frsize = st.f_frsize

    monkeypatch.setattr(
        os, "statvfs", lambda p: _Full(real_statvfs(p))
    )
    assert SC._ram_base() is None
    d = SC.scratch_dir("sg_full_")
    try:
        assert not d.startswith("/dev/shm/"), d
    finally:
        SC.discard(d)


def test_tmpfs_headroom_floor_env_override(monkeypatch):
    """SPARK_GRAFT_TMPFS_MIN_FREE_GB tunes the guard; an absurdly high
    floor must push allocation to disk even on a healthy tmpfs, and 0
    must re-admit it (the statvfs path stays exercised either way)."""
    if SC._ram_base() is None:
        import pytest

        pytest.skip("host has no usable /dev/shm to guard")
    monkeypatch.setenv("SPARK_GRAFT_TMPFS_MIN_FREE_GB", "1048576")
    assert SC._ram_base() is None
    monkeypatch.setenv("SPARK_GRAFT_TMPFS_MIN_FREE_GB", "0")
    assert SC._ram_base() == "/dev/shm"


def test_run_available_now_cleans_its_checkpoint(spark, tmp_path):
    """The bounded memory-sink runner checkpoints to a scratch dir and
    discards it as soon as the query terminates — the sink rows live in
    the JVM, and a leaked tmpfs checkpoint would hold RAM until exit."""
    import pyspark.sql.functions as F

    from mapreduce_code_spark.streaming import windows as W

    src = tmp_path / "src"
    spark.range(10).select(
        F.col("id"), (F.col("id") % 3).alias("k")
    ).write.parquet(str(src))
    stream = spark.readStream.schema("id long, k long").parquet(str(src))
    before = set(SC._CREATED)
    out = W.run_available_now(
        stream.groupBy("k").count(), "scratch_ckpt_probe", "complete"
    )
    assert out.count() == 3
    leaked = [d for d in SC._CREATED if d not in before]
    assert leaked == [], f"checkpoint scratch not discarded: {leaked}"
