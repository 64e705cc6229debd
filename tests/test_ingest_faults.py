"""Fault injection on the streamed-ingest chain (r10 verdict #4).

`ingest_training_set` + `compact_hash_log` carry the engine's most
safety-critical logic — the resume guards (stale-staging, contiguity,
hash-ledger coverage, gutted-dir: `plans/pipeline.py`) and the
write-then-delete compaction ordering. The *guard-refusal* matrix is
pinned by `test_scale_patterns.py::test_ingest_refuses_stale_staging_
with_fresh_checkpoint` / `test_ingest_resume_guard_requires_contiguous_
staged_batches`; this module injects the FAULTS those guards exist for
and asserts the recovery behavior end-to-end:

1. the stream killed BETWEEN micro-batches (batch N-1 committed, batch N
   never started) — resume must complete and land the byte-identical
   output an uninterrupted run lands;
2. a crash MID-batch after the hash log landed but before the chunk
   write (the half-written-staging state Structured Streaming replays)
   — the replay must not anti-join against its own half-written log,
   and the resumed run must equal the uninterrupted reference;
3. a compaction crash between the compacted write and the source
   deletes (the documented duplicate-ledger crash state,
   `compact_hash_log`'s docstring) — resume is allowed, planted
   duplicates are STILL dropped, and the next compaction folds the
   debris away;
4. a TRUNCATED ledger part-file (corrupt parquet under a surviving dir
   name — the one state name/data-file coverage cannot see) — the
   resume must fail LOUDLY at the history scan instead of silently
   re-admitting previously-seen documents;
5. a batch AND its concurrent hash-log fold both failing — both
   exceptions must reach the caller, chained.

Reference provenance: the reference has no restartable ingest (each
Hadoop job is one-shot, `apriori_raw.java:491-601` re-reads everything);
this chain is the 100 TB-scale replacement, so its crash states are
covered here instead of by reference parity.
"""

from __future__ import annotations

import glob
import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mapreduce_code_spark.plans import pipeline as pl
from mapreduce_code_spark.sources.io import load_table


def _split_source(
    spark, sf_dir, tmp_path, dup_of_first=False, n_rows=40, n_files=2
):
    """Write an ``n_files``-file (+1 with ``dup_of_first``) ordered
    stream source of ``n_rows`` documents; file i arrives as
    micro-batch i (mtime-pinned order). The optional extra file carries
    ONE duplicate (same text, fresh doc_id) of a file-0 document, so
    the history anti-join path is exercised on resume. Returns
    (src_dir, schema, planted_dup_doc_id | None, per-file doc_id sets).
    The ONE source builder for every fault scenario — a fix to the
    construction (schema plumbing, mtime ordering) lands everywhere."""
    base = load_table(spark, sf_dir, "documents").limit(n_rows).toPandas()
    cut = len(base) // n_files
    files = [
        base.iloc[i * cut : (i + 1) * cut if i < n_files - 1 else len(base)]
        for i in range(n_files)
    ]
    dup_id = None
    if dup_of_first:
        donor = base.iloc[0]
        dup_id = int(base["doc_id"].max()) + 1
        files.append(
            pd.DataFrame(
                [
                    {
                        "doc_id": dup_id,
                        "text": donor["text"],
                        "lang": donor["lang"],
                        "source": donor["source"],
                        "n_chars": donor["n_chars"],
                    }
                ]
            )
        )
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    for i, pdf in enumerate(files):
        f = src / f"f{i}.parquet"
        pdf.to_parquet(f, index=False)
        # the file source orders by modification time: pin strict order
        step = now - 60 * len(files) + 60 * i
        os.utime(f, (step, step))
    schema = load_table(spark, sf_dir, "documents").schema
    file_ids = [set(int(d) for d in pdf["doc_id"]) for pdf in files]
    return str(src), schema, dup_id, file_ids


def _stream(spark, schema, src):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _shard_contents(path):
    """{shard dir -> row tuples in file order} — write_shuffled is
    deterministic (keyed hash + salt), so a resumed run must reproduce
    the uninterrupted run's exact shard layout, not just its row set."""
    out = {}
    for d in sorted(glob.glob(os.path.join(path, "shard=*"))):
        pdf = pd.read_parquet(d)
        out[os.path.basename(d)] = list(
            zip(pdf["doc_id"], pdf["chunk_id"], pdf["chunk_text"])
        )
    return out


def _committed(ckpt):
    return sorted(
        int(os.path.basename(p))
        for p in glob.glob(f"{ckpt}/commits/[0-9]*")
        if os.path.basename(p).isdigit()
    )


def _reference_run(spark, schema, src, tmp_path):
    """The uninterrupted streamed run every fault scenario must
    converge back to (same code path, no injected fault)."""
    out = str(tmp_path / "out_ref")
    pl.ingest_training_set(
        _stream(spark, schema, src),
        out,
        str(tmp_path / "staging_ref"),
        str(tmp_path / "ckpt_ref"),
    )
    ref = _shard_contents(out)
    assert any(rows for rows in ref.values()), "vacuous: reference empty"
    return ref


def test_stream_killed_between_batches_resumes_to_reference_output(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Kill the stream BETWEEN micro-batches: batch 0 commits, batch 1
    dies before writing anything. The checkpoint + per-batch staging
    make resume exact — the re-run must process exactly batch 1 onward
    and land the uninterrupted run's byte-identical shard layout."""
    src, schema, _, _ = _split_source(spark, sf_dir, tmp_path)
    ref = _reference_run(spark, schema, src, tmp_path)

    out = str(tmp_path / "out")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    real = pl._ingest_batch

    def bomb(batch, batch_id, *args):
        if batch_id >= 1:
            raise RuntimeError("injected-kill-between-batches")
        return real(batch, batch_id, *args)

    monkeypatch.setattr(pl, "_ingest_batch", bomb)
    with pytest.raises(Exception, match="injected-kill-between-batches"):
        pl.ingest_training_set(_stream(spark, schema, src), out, staging, ckpt)
    # the kill landed where intended: batch 0 committed, batch 1 left
    # NO debris (it died before its first staging write), and the final
    # layout was never written
    assert _committed(ckpt) == [0]
    assert glob.glob(f"{staging}/chunks/batch_id=*") == [
        f"{staging}/chunks/batch_id=0"
    ]
    assert not os.path.exists(out)

    monkeypatch.setattr(pl, "_ingest_batch", real)
    pl.ingest_training_set(_stream(spark, schema, src), out, staging, ckpt)
    assert _committed(ckpt) == [0, 1]
    assert _shard_contents(out) == ref


def test_crash_after_hash_log_before_chunk_write_replays_cleanly(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash MID-batch, after the hash log landed but before the chunk
    write: batch 1's hash dir exists, its chunk dir does not, and the
    checkpoint never committed it. Resume must REPLAY batch 1 — and the
    replay must not anti-join against its own half-written hash log and
    erase itself (the `_dedup_against_history` `batch_id <` contract) —
    then converge to the reference layout."""
    src, schema, _, _ = _split_source(spark, sf_dir, tmp_path)
    ref = _reference_run(spark, schema, src, tmp_path)

    out = str(tmp_path / "out")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    real = pl._ingest_batch

    def bomb(batch, batch_id, *args):
        real(batch, batch_id, *args)
        if batch_id == 1:
            # reproduce the exact crash state: _ingest_batch writes
            # hashes THEN chunks, so dying between the two leaves the
            # hash dir and no chunk dir
            import shutil

            shutil.rmtree(f"{staging}/chunks/batch_id=1")
            raise RuntimeError("injected-kill-mid-batch")

    monkeypatch.setattr(pl, "_ingest_batch", bomb)
    with pytest.raises(Exception, match="injected-kill-mid-batch"):
        pl.ingest_training_set(_stream(spark, schema, src), out, staging, ckpt)
    assert _committed(ckpt) == [0]
    hash_dirs = {
        os.path.basename(d)
        for d in glob.glob(f"{staging}/hashes/batch_id=*")
    }
    assert hash_dirs == {"batch_id=0", "batch_id=1"}  # half-written state
    assert glob.glob(f"{staging}/chunks/batch_id=*") == [
        f"{staging}/chunks/batch_id=0"
    ]

    monkeypatch.setattr(pl, "_ingest_batch", real)
    pl.ingest_training_set(_stream(spark, schema, src), out, staging, ckpt)
    assert _committed(ckpt) == [0, 1]
    assert len(glob.glob(f"{staging}/chunks/batch_id=*")) == 2
    assert _shard_contents(out) == ref


def test_compaction_crash_state_keeps_dedup_and_refolds(
    spark, sf_dir, tmp_path
):
    """A compaction killed between the compacted write and the source
    deletes leaves DUPLICATE hash rows across old + new dirs — the
    documented crash state (`compact_hash_log` docstring: harmless to a
    left-anti/left-semi probe; missing hashes cannot occur). Construct
    that state after a 2-batch run, then resume with a third file
    carrying a duplicate of a batch-0 document: resume must be ALLOWED,
    the duplicate must STILL be dropped, and re-running compaction must
    fold the debris (originals + stale fold) into one partition."""
    src, schema, dup_id, _ = _split_source(
        spark, sf_dir, tmp_path, dup_of_first=True
    )
    out = str(tmp_path / "out")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    # drive only the first two files, then stop: mtime-ordered source +
    # availableNow consumes all three, so stage files 0/1 first in a
    # sibling dir and move file 2 in afterwards
    f2 = f"{src}/f2.parquet"
    parked = str(tmp_path / "parked.parquet")
    os.replace(f2, parked)
    pl.ingest_training_set(_stream(spark, schema, src), out, staging, ckpt)
    assert _committed(ckpt) == [0, 1]

    # the crash state: compacted partition written, originals NOT yet
    # deleted (write-then-delete ordering, killed between the two)
    hashes = f"{staging}/hashes"
    (
        spark.read.parquet(hashes)
        .filter(F.col("batch_id") < 2)
        .select("content_hash")
        .distinct()
        .write.parquet(f"{hashes}/batch_id=-2")
    )
    dirs = {os.path.basename(d) for d in glob.glob(f"{hashes}/batch_id=*")}
    assert dirs == {"batch_id=0", "batch_id=1", "batch_id=-2"}

    os.replace(parked, f2)
    pl.ingest_training_set(_stream(spark, schema, src), out, staging, ckpt)
    assert _committed(ckpt) == [0, 1, 2]
    # the planted duplicate was dropped despite the duplicated ledger
    landed = {
        doc for rows in _shard_contents(out).values() for doc, _, _ in rows
    }
    assert landed and dup_id not in landed
    # and a re-run of compaction folds originals + stale fold into ONE
    # partition, idempotently
    pl.compact_hash_log(spark, staging, before_batch_id=3)
    dirs = {os.path.basename(d) for d in glob.glob(f"{hashes}/batch_id=*")}
    assert dirs == {"batch_id=-3"}
    pl.compact_hash_log(spark, staging, before_batch_id=3)  # no-op
    assert {
        os.path.basename(d) for d in glob.glob(f"{hashes}/batch_id=*")
    } == {"batch_id=-3"}


def test_truncated_ledger_part_file_fails_loudly_not_silently(
    spark, sf_dir, tmp_path
):
    """Truncate a ledger part-file to half its bytes (corrupt footer)
    under a SURVIVING dir name — the one amputation the name-coverage
    and data-file guards cannot see. The designed behavior is fail
    LOUD: the resumed batch's history scan must raise on the corrupt
    parquet, and the run must stop before laying out a final training
    set (the silent alternative — an empty-scan anti-join re-admitting
    the planted duplicate — is the failure this pins against)."""
    src, schema, dup_id, _ = _split_source(
        spark, sf_dir, tmp_path, dup_of_first=True
    )
    out = str(tmp_path / "out")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    f2 = f"{src}/f2.parquet"
    parked = str(tmp_path / "parked.parquet")
    os.replace(f2, parked)
    pl.ingest_training_set(_stream(spark, schema, src), out, staging, ckpt)
    assert _committed(ckpt) == [0, 1]
    # the first (healthy) run laid out batches 0-1; the failed resume
    # below must leave this layout byte-identical
    before = _shard_contents(out)

    parts = glob.glob(f"{staging}/hashes/batch_id=0/part-*.parquet")
    assert parts, "vacuous: no ledger part file to truncate"
    for p in parts:
        data = open(p, "rb").read()
        with open(p, "wb") as fh:
            fh.write(data[: max(len(data) // 2, 8)])

    os.replace(parked, f2)
    with pytest.raises(Exception, match="[Pp]arquet"):
        pl.ingest_training_set(_stream(spark, schema, src), out, staging, ckpt)
    # batch 2 never committed and the final layout was never rewritten
    # (it still holds exactly the healthy run's batches 0-1, dup-free)
    # — nothing silently advanced past the corrupt ledger
    assert _committed(ckpt) == [0, 1]
    assert _shard_contents(out) == before
    landed = {doc for rows in before.values() for doc, _, _ in rows}
    assert landed and dup_id not in landed


def test_dir_has_data_path_classification(tmp_path):
    """_dir_has_data feeds the gutted-dir guard, so its local-vs-URI
    sniff is safety-critical: a RELATIVE local path whose first segment
    contains a colon (r10 advisor low) must stay on the os.scandir
    branch — the old split-on-'/' sniff routed it to the Hadoop FS API,
    which raises on the unknown scheme instead of answering the
    data-file question. spark=None proves the local branch never
    touches the JVM."""
    import os

    d = tmp_path / "run:3" / "out"
    d.mkdir(parents=True)
    (d / "part-00000.parquet").write_bytes(b"x")
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-00000.parquet.crc").write_bytes(b"y")
    # absolute local path, no scheme
    assert pl._dir_has_data(None, str(d))
    # relative local path with a colon in the first segment
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        assert pl._dir_has_data(None, "run:3/out")
        assert not pl._dir_has_data(None, "run:3/missing")
    finally:
        os.chdir(cwd)
    # file: URIs stay local (both spellings)
    assert pl._dir_has_data(None, f"file://{d}")
    assert pl._dir_has_data(None, f"file:{d}")
    # markers and .crc shadows alone are not data
    empty = tmp_path / "markers_only"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    (empty / ".x.crc").write_bytes(b"")
    assert not pl._dir_has_data(None, str(empty))
    assert not pl._dir_has_data(None, str(tmp_path / "nope"))


def _thirds_source(spark, sf_dir, tmp_path):
    """3-file ordered source where file 2 carries FRESH documents (the
    2-file `_split_source` puts only a planted dup in file 2, so a
    batch-2 self-erasure there would be invisible — the dup SHOULD
    vanish). Returns (src, schema, set of file-2 doc_ids)."""
    src, schema, _, file_ids = _split_source(
        spark, sf_dir, tmp_path, n_rows=45, n_files=3
    )
    return src, schema, file_ids[2]


def _half_written_batch2(spark, schema, src, tmp_path, tag, monkeypatch):
    """Drive the stream to the replayable crash state: batches 0-1
    committed, batch 2's hash log WRITTEN but uncommitted (chunks dir
    removed) — the state a compaction race must not fold. Returns
    (out, staging, ckpt)."""
    out = str(tmp_path / f"out_{tag}")
    staging = str(tmp_path / f"staging_{tag}")
    ckpt = str(tmp_path / f"ckpt_{tag}")
    real = pl._ingest_batch

    def bomb(batch, batch_id, *args):
        real(batch, batch_id, *args)
        if batch_id == 2:
            import shutil

            shutil.rmtree(f"{staging}/chunks/batch_id=2")
            raise RuntimeError("injected-kill-mid-batch-2")

    monkeypatch.setattr(pl, "_ingest_batch", bomb)
    with pytest.raises(Exception, match="injected-kill-mid-batch-2"):
        pl.ingest_training_set(_stream(spark, schema, src), out, staging, ckpt)
    monkeypatch.setattr(pl, "_ingest_batch", real)
    assert _committed(ckpt) == [0, 1]
    hash_dirs = {
        os.path.basename(d) for d in glob.glob(f"{staging}/hashes/batch_id=*")
    }
    assert hash_dirs == {"batch_id=0", "batch_id=1", "batch_id=2"}
    return out, staging, ckpt


def test_unguarded_compaction_of_uncommitted_batch_self_erases(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The CORRUPTION the r12 frontier guard exists for, demonstrated
    end-to-end on the legacy (checkpoint-less) compaction path: batch
    2's hash log is half-written and uncommitted; an external
    `compact_hash_log(before_batch_id=3)` folds it to batch_id=-3;
    the resumed run REPLAYS batch 2, whose `batch_id < 2` history
    anti-join now sees its own hashes inside the fold — and erases
    every file-2 document from the final training set while the
    checkpoint reports the batch committed. Silent data loss, by
    construction; this test pins that the failure is real (so the
    guard is load-bearing, not theater)."""
    src, schema, f2_docs = _thirds_source(spark, sf_dir, tmp_path)
    out, staging, ckpt = _half_written_batch2(
        spark, schema, src, tmp_path, "race", monkeypatch
    )
    # the racing external fold — precondition violated, no checkpoint
    # given so nothing can catch it
    pl.compact_hash_log(spark, staging, before_batch_id=3)
    dirs = {
        os.path.basename(d) for d in glob.glob(f"{staging}/hashes/batch_id=*")
    }
    assert dirs == {"batch_id=-3"}
    pl.ingest_training_set(_stream(spark, schema, src), out, staging, ckpt)
    assert _committed(ckpt) == [0, 1, 2]  # the checkpoint LIES now
    landed = {
        doc for rows in _shard_contents(out).values() for doc, _, _ in rows
    }
    assert landed, "vacuous: nothing landed"
    # every file-2 document that survived curation in batches 0-1's
    # world is GONE: the replayed batch anti-joined against itself
    assert not (landed & f2_docs), (
        "expected self-erasure did not occur — if this fails the race "
        "is benign and the frontier guard should be reconsidered"
    )


def test_checkpoint_aware_compaction_refuses_fold_past_commit_frontier(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Same race, guarded: with `checkpoint_dir` passed, the external
    fold that would cross the commit frontier refuses LOUDLY and
    touches nothing; a fold AT the frontier (exactly what auto-compact
    produces) is allowed mid-race, and the subsequent resume converges
    to the uninterrupted reference layout over the fold."""
    src, schema, f2_docs = _thirds_source(spark, sf_dir, tmp_path)
    ref = _reference_run(spark, schema, src, tmp_path)
    out, staging, ckpt = _half_written_batch2(
        spark, schema, src, tmp_path, "guard", monkeypatch
    )
    with pytest.raises(ValueError, match="NOT committed.*frontier 2"):
        pl.compact_hash_log(
            spark, staging, before_batch_id=3, checkpoint_dir=ckpt
        )
    # refusal touched nothing: all three log dirs still in place
    dirs = {
        os.path.basename(d) for d in glob.glob(f"{staging}/hashes/batch_id=*")
    }
    assert dirs == {"batch_id=0", "batch_id=1", "batch_id=2"}
    # the SAFE fold — at the frontier, only committed batches 0-1 —
    # is allowed while batch 2 is still pending replay
    pl.compact_hash_log(spark, staging, before_batch_id=2, checkpoint_dir=ckpt)
    dirs = {
        os.path.basename(d) for d in glob.glob(f"{staging}/hashes/batch_id=*")
    }
    assert dirs == {"batch_id=-2", "batch_id=2"}
    pl.ingest_training_set(_stream(spark, schema, src), out, staging, ckpt)
    assert _committed(ckpt) == [0, 1, 2]
    assert _shard_contents(out) == ref
    landed = {
        doc for rows in _shard_contents(out).values() for doc, _, _ in rows
    }
    assert landed & f2_docs, "file-2 documents must survive the safe fold"


def test_two_concurrent_resumes_of_one_pair_refuse_loudly(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Two resumes racing one (staging_dir, checkpoint_dir) pair — the
    other half of the single-writer contract. Spark's SAME-SESSION
    semantic (discovered by this test's first draft deadlocking both
    runs): `spark.sql.streaming.stopActiveRunOnRestart` defaults true,
    so a second start of the same checkpoint's query id STOPS the live
    run and takes over — serialized, never two concurrent writers, but
    a surprise to an operator expecting a refusal. With the conf FALSE
    the second start refuses loudly before touching state — the mode an
    ingest deployment should pin, and what this test pins: run 1 parked
    INSIDE batch 1 (batch 0 committed, handler blocked on an event);
    (a) a second resume of the SAME pair raises at query start; (b) a
    resume of the same STAGING under a FRESH checkpoint hits the
    stale-staging guard. Run 1 then resumes unharmed and lands the
    uninterrupted reference layout. Cross-JVM, neither mechanism
    applies — that residue is the documented caller-owned contract."""
    import threading

    src, schema, _, _ = _split_source(spark, sf_dir, tmp_path)
    ref = _reference_run(spark, schema, src, tmp_path)
    out = str(tmp_path / "out")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    real = pl._ingest_batch
    entered = threading.Event()
    release = threading.Event()
    errors: list[BaseException] = []

    def parked(batch, batch_id, *args):
        if batch_id == 1:
            entered.set()
            assert release.wait(timeout=120), "release never arrived"
        return real(batch, batch_id, *args)

    def run1():
        try:
            pl.ingest_training_set(
                _stream(spark, schema, src), out, staging, ckpt
            )
        except BaseException as e:  # surfaced after join
            errors.append(e)

    key = "spark.sql.streaming.stopActiveRunOnRestart"
    prior = spark.conf.get(key)
    monkeypatch.setattr(pl, "_ingest_batch", parked)
    t = threading.Thread(target=run1, daemon=True)
    try:
        spark.conf.set(key, "false")
        t.start()
        assert entered.wait(timeout=120), "run 1 never reached batch 1"
        # (a) same pair, second resume: refused at query start (before
        # any staging/checkpoint write). With stopActiveRunOnRestart
        # true this would instead STOP run 1 and replay batch 1 in the
        # new query — still single-writer, but the parked handler would
        # deadlock both; the refusal mode is the deployment-safe one.
        with pytest.raises(
            Exception, match="(?i)concurrent|already active|same id"
        ):
            pl.ingest_training_set(
                _stream(spark, schema, src), out, staging, ckpt
            )
        # (b) same staging, FRESH checkpoint: the stale-staging guard
        with pytest.raises(ValueError, match="already holds staged batches"):
            pl.ingest_training_set(
                _stream(spark, schema, src),
                str(tmp_path / "out2"),
                staging,
                str(tmp_path / "ckpt_fresh"),
            )
    finally:
        release.set()
        t.join(timeout=300)
        spark.conf.set(key, prior)
    assert not t.is_alive(), "run 1 wedged"
    assert not errors, f"run 1 failed: {errors}"
    assert _committed(ckpt) == [0, 1]
    assert _shard_contents(out) == ref


def test_batch_and_fold_failures_both_reach_the_caller(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A micro-batch fails while its concurrent hash-log fold fails too:
    the fold's exception propagates with the batch's own as its explicit
    ``__cause__``, so neither failure is lost. Drives the real per-batch
    handler, captured from ingest_training_set, so the exception objects
    themselves are inspected rather than the stream's stringified
    error."""
    from mapreduce_code_spark.streaming import windows

    handlers = []
    monkeypatch.setattr(
        windows,
        "_drive_foreach_batch",
        lambda stream, handle, ckpt: handlers.append(handle),
    )

    def batch_fails(batch, batch_id, *args):
        raise RuntimeError("injected-batch-failure")

    def fold_fails(*args):
        raise OSError("injected-fold-failure")

    monkeypatch.setattr(pl, "_ingest_batch", batch_fails)
    monkeypatch.setattr(pl, "compact_hash_log", fold_fails)
    src, schema, _, _ = _split_source(spark, sf_dir, tmp_path)
    pl.ingest_training_set(
        _stream(spark, schema, src),
        str(tmp_path / "out"),
        str(tmp_path / "staging"),
        str(tmp_path / "ckpt"),
        compact_every=1,
    )
    (handle,) = handlers
    with pytest.raises(OSError, match="injected-fold-failure") as info:
        handle(None, 1)  # batch 1 folds batch 0's hash log
    cause = info.value.__cause__
    assert isinstance(cause, RuntimeError), info.value.__cause__
    assert "injected-batch-failure" in str(cause)

