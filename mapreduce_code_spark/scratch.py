"""RAM-backed scratch directories for bounded streaming runs.

The registered streamed queries are CORRECTNESS vehicles: availableNow
/ foreachBatch runs whose checkpoints, state stores, and staging sinks
exist only to drive the real streaming engine through a bounded input —
the durable-checkpoint contract they exercise belongs, in production,
to a distributed filesystem, not to this host's root disk. Placing
them under /tmp (disk-backed) puts dozens of small synchronous
create/fsync/rename commits inside the timed path of exactly those
queries, so their times track whatever else the host is fsyncing: a
single concurrent small-file fsync writer inflated memory-sink streams
2.0-2.4x and the foreachBatch stream 1.5x, batch controls <=1.3x
(receipt: `probe_streamed_window.json`). Scratch space therefore lives
on /dev/shm (tmpfs) when available, so scaffold commits are
memory-speed and immune to other writers; /tmp remains the fallback.

Every directory handed out here is recorded and removed at process
exit (tmpfs pages are RAM — a leaked dir holds memory until reboot).
Callers whose results are consumed lazily (a returned DataFrame
reading a scratch parquet sink) rely on exactly this exit-time
cleanup; callers done with a dir sooner should `discard()` it. A
process killed outright (SIGKILL, e.g. ``timeout -k``) runs no exit
hook, so each dir's name also carries its creator's PID: the first
`scratch_dir` call of every later process removes the dirs under its
base whose creator no longer exists. A live PID keeps its dirs, even if
the PID was reused — a leak is recoverable, deleting a running
stream's checkpoint is not. The PID test assumes the creators share
this process's PID namespace, as processes of one host or container do.

``SPARK_GRAFT_DISK_LOCAL=1`` forces every scratch dir (and, via
``session.py``, ``spark.local.dir``) back onto the default disk temp
root — the knob for (a) blowup-tier probes whose staging/shuffle bytes
could pressure a 50%-of-RAM tmpfs, and (b) the A-leg of pre/post
probes reproducing the root-disk I/O mechanism this module exists to
remove.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile

_CREATED: list[str] = []
# dirs discard()ed early — re-swept at exit because Spark's state-store
# maintenance thread can recreate files under a checkpoint dir shortly
# AFTER a stateful availableNow query terminates (r16 advisor, low):
# anything recreated on tmpfs after the eager rmtree would otherwise be
# untracked RAM until process death.
_DISCARDED: list[str] = []


#: Minimum free bytes /dev/shm must have for a NEW scratch dir to land
#: on it (r17 verdict #2: the tmpfs default was a local-mode assumption
#: with no capacity guard — a blowup-tier run that forgot
#: SPARK_GRAFT_DISK_LOCAL=1 would spill shuffle bytes into RAM until
#: the host OOMed, because tmpfs pages ARE RAM). 8 GiB default,
#: overridable via SPARK_GRAFT_TMPFS_MIN_FREE_GB.
_DEFAULT_MIN_FREE_BYTES = 8 * 1024**3


def _min_free_bytes() -> int:
    gb = os.environ.get("SPARK_GRAFT_TMPFS_MIN_FREE_GB")
    if gb:
        try:
            return int(float(gb) * 1024**3)
        except ValueError:
            pass
    return _DEFAULT_MIN_FREE_BYTES


def _ram_base() -> str | None:
    if os.environ.get("SPARK_GRAFT_DISK_LOCAL"):
        return None
    base = "/dev/shm"
    if not (os.path.isdir(base) and os.access(base, os.W_OK)):
        return None
    # Capacity guard (r17 verdict #2): admission check at ALLOCATION
    # time — a new scratch dir only lands on tmpfs when the filesystem
    # still has headroom, otherwise it falls back to the default disk
    # temp root automatically (no manual opt-out needed). This is an
    # admission check, not a mid-run migration: a dir already handed
    # out (notably spark.local.dir, fixed at JVM start) stays where it
    # is, and a job whose spill GROWS past the headroom after admission
    # still fails with ENOSPC on tmpfs rather than OOMing the host —
    # tmpfs is capped at 50% of RAM by default, which is the actual
    # backstop. The guard's job is the common failure: STARTING a
    # large-scale run against an already-pressured tmpfs.
    try:
        st = os.statvfs(base)
    except OSError:
        return None
    if st.f_bavail * st.f_frsize < _min_free_bytes():
        return None
    return base


# A scratch dir's name ends in ".sgpid<creator pid>"; only names of this
# exact shape are ever swept.
_PID_TAG = re.compile(r"\.sgpid(\d+)$")
_SWEPT: set[str] = set()


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by another user
    return True


def _sweep_dead(base: str) -> None:
    """Remove the scratch dirs under ``base`` whose creating process no
    longer exists (it was killed before its exit hook ran)."""
    try:
        names = os.listdir(base)
    except OSError:
        return
    for name in names:
        m = _PID_TAG.search(name)
        path = os.path.join(base, name)
        if (
            m
            and not _pid_alive(int(m.group(1)))
            and os.path.isdir(path)
            and not os.path.islink(path)
        ):
            shutil.rmtree(path, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A fresh private scratch directory — tmpfs-backed when the host
    has /dev/shm, else the default temp root — removed at process
    exit. Fresh per call: streaming file sources remember processed
    files in their checkpoint, so a REUSED checkpoint would make a
    second bounded run read "no new data" and return empty. The first
    call per base dir first removes the dirs dead processes left there.
    """
    base = _ram_base() or tempfile.gettempdir()
    if base not in _SWEPT:
        _SWEPT.add(base)
        _sweep_dead(base)
    d = tempfile.mkdtemp(prefix=prefix, suffix=f".sgpid{os.getpid()}", dir=base)
    _CREATED.append(d)
    return d


def discard(path: str) -> None:
    """Remove one scratch dir now (idempotent) — for callers that know
    the dir is dead before exit, e.g. a runner deleting its checkpoint
    as soon as the bounded query terminates. The path stays on the
    exit re-sweep list: state-store maintenance can recreate files
    under a just-terminated stream's checkpoint after this rmtree."""
    shutil.rmtree(path, ignore_errors=True)
    try:
        _CREATED.remove(path)
    except ValueError:
        pass
    else:
        _DISCARDED.append(path)


@atexit.register
def _cleanup() -> None:
    for d in (*_CREATED, *_DISCARDED):
        shutil.rmtree(d, ignore_errors=True)
    _CREATED.clear()
    _DISCARDED.clear()
