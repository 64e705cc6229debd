"""End-to-end training-data curation pipeline — the operators composed
the way a real corpus build uses them: exact-dedup → quality gate →
language ID → stats, in ONE lazy plan.

This is the "switch to this repo" story: every stage is the same
expression code the standalone operators use (`operators/dedup.py`,
`functions/text.py`), composed into ONE scan + one dedup-window shuffle
— filters push down, and no intermediate corpus is materialized unless
the caller persists it. The whole composition stays SQL-expressible, so
the pipeline has a full DuckDB oracle (not just its stages).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_code_spark.functions import text as TXT

MIN_QUALITY = 0.75
# One source of truth for the training-set layout parameters: the write
# path (materialize/ingest), the manifest contracts, and the DuckDB
# oracle must agree on these or the (shard, pos) permutation silently
# desynchronizes from the bytes on disk.
TRAIN_SALT = "epoch0"
TRAIN_SHARDS = 8


def curated_corpus(documents: DataFrame, min_quality: float = MIN_QUALITY) -> DataFrame:
    """Surviving docs with their curation metadata:
    ``(doc_id, quality, pred_lang, n_words)`` — exact-dup losers removed,
    low-quality docs gated out.

    ONE corpus scan (round 5 — was four): every stage except the dedup
    keeper decision is a row-level expression over ``text``
    (``TXT._quality_parts`` / ``TXT._lang_parts``), so they all ride the
    same projection; the keeper flag is the one window (sha2-keyed
    shuffle) and the gates collapse to a single filter. Same rows, same
    values, same oracle as the four-branch join formulation — the
    expressions are built by the same code in the same textual order."""
    from pyspark.sql import Window

    w = Window.partitionBy("content_hash")
    enriched = documents.select(
        "doc_id", *_curation_columns()
    ).withColumn("keeper_id", F.min("doc_id").over(w))
    return enriched.filter(
        (F.col("doc_id") == F.col("keeper_id"))
        & (F.col("quality") >= min_quality)
    ).select("doc_id", "quality", "pred_lang", "n_words")


def _curation_columns() -> list:
    """The per-document curation expressions over ``text`` —
    (content_hash, quality, pred_lang, n_words) — shared by the batch
    curation above and the incremental ingest's per-micro-batch
    curation so the two paths can never score a document differently."""
    _, _, _, _, quality = TXT._quality_parts()
    _, _, pred_lang = TXT._lang_parts()
    return [
        F.sha2(F.col("text"), 256).alias("content_hash"),
        quality.alias("quality"),
        pred_lang.alias("pred_lang"),
        F.size(F.split(F.col("text"), " ")).alias("n_words"),
    ]


def curated_corpus_sql(min_quality: float = MIN_QUALITY) -> str:
    return f"""
WITH keep AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           doc_id = min(doc_id) OVER (PARTITION BY sha256(text)) AS is_keeper
    FROM documents) WHERE is_keeper
),
q AS (
  SELECT doc_id, quality FROM ({TXT.quality_score_sql()})
  WHERE quality >= {min_quality}
),
l AS (SELECT doc_id, pred_lang FROM ({TXT.lang_id_sql()})),
s AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words FROM documents)
SELECT doc_id, q.quality, l.pred_lang, s.n_words
FROM keep JOIN q USING (doc_id) JOIN l USING (doc_id) JOIN s USING (doc_id)
"""


def curated_chunks(
    documents: DataFrame,
    min_quality: float = MIN_QUALITY,
    chunk_size: int = 32,
    chunk_stride: int = 24,
) -> DataFrame:
    """The shared curate→chunk composition under both
    :func:`materialize_training_set` (which writes it) and
    :func:`training_manifest` (which ranks and fingerprints it):
    surviving documents' overlapping context-window chunks, each keyed
    by the ``doc_id:chunk_id`` string that identifies a CHUNK in the
    training-order shuffle.

    Chunks the RAW corpus (a narrow map — no shuffle) and prunes with a
    single doc_id join against the curated frame, which also carries
    pred_lang onto the chunk rows. Catalyst does not de-duplicate
    common subplans across joins, so referencing the curated frame (or
    a documents-join-curated frame) twice would execute the whole
    curation subtree — dedup window included — twice; chunking a few
    percent of doomed docs costs far less than a second curation
    pass."""
    curated = curated_corpus(documents, min_quality=min_quality)
    return _keyed_chunks(documents, curated, chunk_size, chunk_stride)


def _keyed_chunks(
    documents: DataFrame,
    curated: DataFrame,
    chunk_size: int,
    chunk_stride: int,
) -> DataFrame:
    """Chunk ``documents`` and keep rows whose doc_id survives in
    ``curated`` (carrying pred_lang over), keyed by the
    ``doc_id:chunk_id`` chunk identity — shared by the batch
    composition above and the incremental ingest path so chunk geometry
    and key derivation cannot drift apart."""
    from mapreduce_code_spark.operators.sampling import chunk_documents

    chunks = chunk_documents(
        documents.select("doc_id", "text"),
        size=chunk_size,
        stride=chunk_stride,
    ).join(curated.select("doc_id", "pred_lang"), "doc_id")
    return chunks.withColumn("chunk_key", _chunk_key())


def _chunk_key():
    """The ``doc_id:chunk_id`` chunk-identity expression — ONE builder
    shared by the curate→chunk path and :func:`epoch_manifest`'s
    rebuild-from-shards path, so the permutation key can never drift
    between what was written and what a later epoch re-ranks."""
    return F.concat_ws(":", F.col("doc_id"), F.col("chunk_id"))


def materialize_training_set(
    documents: DataFrame,
    path: str,
    min_quality: float = MIN_QUALITY,
    chunk_size: int = 32,
    chunk_stride: int = 24,
    n_shards: int = TRAIN_SHARDS,
    salt: str = TRAIN_SALT,
) -> None:
    """The full corpus-build composed to BYTES ON DISK: curate
    (exact-dedup + quality gate + language ID), chunk into overlapping
    context windows, and write in the deterministic global training
    order (`sources/bucketing.write_shuffled`) keyed by
    ``(doc_id, chunk_id)`` — so two runs of this function produce
    byte-identical training shards, a loader reads one reproducible
    source-interleaved permutation of chunks, and ``salt`` reshuffles
    per epoch without re-curating.

    Everything up to the write is ONE lazy Catalyst plan (the
    single-scan curation projection + a narrow chunk explode); the only
    shuffles are the dedup keeper window, the chunk↔curated doc_id
    join, and the final shard exchange aligned with the output layout.
    At 100 TB nothing here materializes an intermediate corpus."""
    from mapreduce_code_spark.sources.bucketing import write_shuffled

    # the shuffle key must identify a CHUNK (doc_id alone would glue a
    # document's chunks together — the opposite of a shuffle); it is
    # derived, so the writer drops it after sorting
    keyed = curated_chunks(
        documents,
        min_quality=min_quality,
        chunk_size=chunk_size,
        chunk_stride=chunk_stride,
    )
    write_shuffled(
        keyed,
        path,
        n_shards=n_shards,
        key="chunk_key",
        salt=salt,
        drop_key=True,
    )


def training_manifest(
    documents: DataFrame,
    min_quality: float = MIN_QUALITY,
    chunk_size: int = 32,
    chunk_stride: int = 24,
    n_shards: int = TRAIN_SHARDS,
    salt: str = TRAIN_SALT,
) -> DataFrame:
    """The deterministic manifest of what :func:`materialize_training_set`
    lays on disk — WITHOUT writing it: one row per surviving chunk with
    ``(shard, pos, doc_id, chunk_id, chunk_md5, pred_lang)``, where
    (shard, pos) is the chunk's place in the global training-order
    permutation and ``chunk_md5`` fingerprints its text. Because every
    stage (curate → chunk → shuffle_order) is a pure function of the
    corpus and ``salt``, this frame is THE contract for the written
    shards: byte-identical runs produce identical manifests, and the
    whole chain — dedup keeper window, quality gate, language ID,
    chunk geometry, md5 training order — is oracled in one row set.

    Scale shape: the same shuffles as the write path (dedup window,
    chunk↔curated join, one shard-keyed rank exchange) minus the write
    itself; the manifest is ~1 row per chunk with no text column."""
    keyed = curated_chunks(
        documents,
        min_quality=min_quality,
        chunk_size=chunk_size,
        chunk_stride=chunk_stride,
    )
    return _manifest_rows(keyed, salt=salt, n_shards=n_shards)


def _manifest_rows(keyed: DataFrame, salt: str, n_shards: int) -> DataFrame:
    """Rank keyed chunks into the global training order and project the
    manifest contract columns — the ONE projection both the batch
    manifest above and the streamed :func:`ingest_manifest` return, so
    the two rows can never drift apart in column set or fingerprint."""
    from mapreduce_code_spark.operators.sampling import shuffle_order

    ordered = shuffle_order(keyed, key="chunk_key", salt=salt, n_shards=n_shards)
    return ordered.select(
        "shard",
        "pos",
        "doc_id",
        "chunk_id",
        F.md5("chunk_text").alias("chunk_md5"),
        "pred_lang",
    )


def training_manifest_sql(
    min_quality: float = MIN_QUALITY,
    chunk_size: int = 32,
    chunk_stride: int = 24,
    n_shards: int = TRAIN_SHARDS,
    salt: str = TRAIN_SALT,
) -> str:
    """DuckDB twin of :func:`training_manifest` — curated_corpus and
    chunk_documents twins composed, then the shuffle_order hash/shard/
    rank algebra inlined over the ``doc_id:chunk_id`` chunk key."""
    from mapreduce_code_spark.operators.sampling import (
        ORD_BITS,
        chunk_documents_sql,
    )

    step = ((1 << ORD_BITS) + n_shards - 1) // n_shards
    h = (
        f"('0x' || substr(md5('shuffle|{salt}|' || chunk_key), 1, 15))"
        "::BIGINT"
    )
    return f"""
WITH curated AS ({curated_corpus_sql(min_quality)}),
chunks AS ({chunk_documents_sql(size=chunk_size, stride=chunk_stride)}),
keyed AS (
  SELECT c.doc_id, c.chunk_id, c.chunk_text, cu.pred_lang,
         CAST(c.doc_id AS VARCHAR) || ':' || CAST(c.chunk_id AS VARCHAR)
           AS chunk_key
  FROM chunks c JOIN curated cu ON c.doc_id = cu.doc_id
),
h AS (SELECT *, {h} AS ord_key FROM keyed)
SELECT ord_key // {step} AS shard,
       row_number() OVER (PARTITION BY ord_key // {step}
                          ORDER BY ord_key, chunk_key) AS pos,
       doc_id, chunk_id, md5(chunk_text) AS chunk_md5, pred_lang
FROM h
"""


def ingest_training_set(
    docs_stream: DataFrame,
    path: str,
    staging_dir: str,
    checkpoint_dir: str,
    min_quality: float = MIN_QUALITY,
    chunk_size: int = 32,
    chunk_stride: int = 24,
    n_shards: int = TRAIN_SHARDS,
    salt: str = TRAIN_SALT,
    compact_every: int = 0,
) -> None:
    """Incremental (streamed) corpus build — the 100 TB reality where
    documents arrive shard by shard: a file STREAM of documents driven
    through the SAME curate → chunk chain via ``foreachBatch``
    (availableNow / maxFilesPerTrigger pacing), staging surviving
    chunks per micro-batch, then writing the identical deterministic
    shuffled layout :func:`materialize_training_set` produces in one
    shot. Restartable by construction: the stream checkpoint tracks
    consumed files, each batch OVERWRITES its own ``batch_id=N``
    staging subdirs, and the seen-hash anti-join reads only EARLIER
    batches' hash logs — so a batch replayed after a crash between its
    staging writes and the checkpoint commit rewrites the same rows
    instead of duplicating them or (the subtle failure) anti-joining
    against its OWN half-written hash log and erasing itself; pinned by
    the replay test.

    Per micro-batch: score the batch's docs with the shared curation
    expressions (:func:`_curation_columns` — row-local, so batch
    boundaries can't change them), pick within-batch exact-dup keepers
    (min doc_id per content hash), drop docs whose hash was ALREADY
    seen in an earlier batch (anti-join against the staged hash log —
    the incremental half of the keeper window), log every NEW keeper
    hash (quality-gated or not: a low-quality first-arrival shadows its
    later dups exactly like the batch window does), and stage the
    quality-surviving docs' keyed chunks.

    Batching-invariance contract: if files arrive in ascending doc_id
    order (the natural ordered-ingest layout), the staged chunk SET —
    and therefore the final written permutation, which is a pure
    function of (salt, chunk_key) — is identical for ANY micro-batch
    slicing, 1-batch included; pinned by
    tests/test_scale_patterns.py::test_ingest_training_set_batching_invariant.
    Out-of-order arrival degrades gracefully to first-arrival-wins
    dedup (the standard streaming-ingest semantic).

    Scale shape per batch: one narrow scoring projection, a keeper
    window + anti-join over METADATA ONLY (doc_id/hash/scores — the
    document text never enters the hash exchange or the checkpointed
    keeper frame; at 100 TB the hash log is the Bloom/broadcast-sized
    side), then one narrow chunk explode over the in-batch text joined
    back by doc_id. The final write is the same single shard-keyed
    exchange as the batch path, over staged chunks that never re-touch
    document text.

    ``compact_every=K`` (0 = never) folds the committed hash-log
    partitions into one distinct sorted partition every K batches at
    batch start (:func:`compact_hash_log` — replay-safe there by
    construction), bounding the history scan by the distinct corpus
    instead of the number of micro-batches ever run.

    SINGLE-WRITER ASSUMPTION (r11 explicit; r12 verified at the edges):
    every guard above — and Structured Streaming's own checkpoint
    protocol — presumes at most ONE driver owns a (staging_dir,
    checkpoint_dir) pair at a time. The two concrete races are now
    fault-injected (tests/test_ingest_faults.py): (a) two concurrent
    resumes of the same pair in one session refuse loudly at query
    start (Spark rejects a second active query with the checkpoint's
    query id; a second resume under a FRESH checkpoint hits the
    stale-staging guard above), and (b) an external
    :func:`compact_hash_log` racing a run refuses loudly when given
    ``checkpoint_dir`` and its fold would cross the commit frontier —
    the corrupting interleaving (self-erasure on replay) is pinned by
    test as the reason. Cross-process coordination beyond those checks
    remains the caller's job — run-level mutual exclusion is
    deliberately NOT implemented (a lock file would add a stale-lock
    failure mode worse than the documented rule; start-time validation
    is stateless and exact)."""
    from mapreduce_code_spark.sources.bucketing import write_shuffled
    from mapreduce_code_spark.streaming.windows import (
        _dir_exists,
        _drive_foreach_batch,
    )

    spark = docs_stream.sparkSession
    chunks_dir = f"{staging_dir}/chunks"

    # A FRESH checkpoint restarts batch ids at 0, and each batch only
    # overwrites its OWN batch_id=N staging subdir — so staging content
    # left by a PRIOR run (different checkpoint, different corpus or
    # params) would silently merge its stale higher-numbered batch dirs
    # into the final shuffled write. Staging reuse is only safe when the
    # checkpoint that produced it is the one resuming (round-6 advisor
    # item).
    if not _dir_exists(spark, checkpoint_dir) and (
        _dir_exists(spark, chunks_dir)
        or _dir_exists(spark, f"{staging_dir}/hashes")
    ):
        raise ValueError(
            f"ingest_training_set: staging_dir {staging_dir!r} already "
            f"holds staged batches but checkpoint_dir {checkpoint_dir!r} "
            "is fresh — batch ids would restart at 0 and stale batch "
            "dirs from the prior run would merge into the final write. "
            "Point at the original checkpoint to resume, or clear the "
            "staging dir to start over."
        )
    # The converse guard (round-7 advisor item): a RESUME (checkpoint
    # exists) whose staging was cleared or partially lost would skip the
    # already-committed batches (the checkpoint says they ran) and write
    # a final training set silently missing their chunks. Every committed
    # batch overwrote its own chunks batch_id dir — even a batch with
    # zero survivors leaves an (empty) parquet dir — so the staged chunk
    # ids must be contiguous from 0 through the last committed batch.
    committed = [
        int(n)
        for n in _fs_names(spark, f"{checkpoint_dir}/commits")
        if n.isdigit()
    ]
    if committed:
        staged_ids = set()
        for n in _fs_names(spark, chunks_dir):
            if n.startswith("batch_id="):
                try:
                    staged_ids.add(int(n.split("=", 1)[1]))
                except ValueError:
                    pass
        missing = sorted(set(range(max(committed) + 1)) - staged_ids)
        if missing:
            raise ValueError(
                f"ingest_training_set: checkpoint_dir {checkpoint_dir!r} "
                f"has committed batches through {max(committed)} but "
                f"staging_dir {staging_dir!r} is missing chunk dirs for "
                f"batches {missing} — resuming would write a final "
                "training set silently missing those batches' chunks. "
                "Restore the staging dir that belongs to this "
                "checkpoint, or clear BOTH to start over."
            )
        # The hashes ledger needs the same coverage check (round-8
        # advisor item): if staging/hashes alone was cleared or partially
        # lost, resumed batches' history anti-join would see no ledger
        # and silently re-admit previously-seen documents. Every
        # committed batch wrote its own batch_id=N hash dir (empty dirs
        # included), and compaction replaces dirs 0..M-1 with ONE
        # batch_id=-M partition — so id N must be present either
        # directly or subsumed by a negative id -M with M > N.
        hash_ids = set()
        for n in _fs_names(spark, f"{staging_dir}/hashes"):
            if n.startswith("batch_id="):
                try:
                    hash_ids.add(int(n.split("=", 1)[1]))
                except ValueError:
                    pass
        subsumed_below = max((-i for i in hash_ids if i < 0), default=0)
        missing_h = sorted(
            n
            for n in range(max(committed) + 1)
            if n not in hash_ids and n >= subsumed_below
        )
        if missing_h:
            raise ValueError(
                f"ingest_training_set: checkpoint_dir {checkpoint_dir!r} "
                f"has committed batches through {max(committed)} but the "
                f"hash ledger under {staging_dir!r}/hashes covers "
                f"neither (batch_id=N nor a compacted batch_id=-M, M>N) "
                f"batches {missing_h} — resuming would anti-join against "
                "an amputated ledger and re-admit previously-seen "
                "documents as duplicate chunks. Restore the staging dir "
                "that belongs to this checkpoint, or clear BOTH to "
                "start over."
            )
        # Name coverage alone can be fooled (r9 advisor, low): a
        # batch_id dir whose parquet files were deleted but whose name
        # survives passes both checks above, and resume would silently
        # read an empty partition where committed data should be. So
        # every dir that PROVIDES coverage must still hold at least one
        # data file — Spark writes >= 1 part file even for an empty
        # frame (SPARK-23271), so a zero-survivor batch still passes
        # while a gutted dir cannot. Covering negatives are ONLY the
        # newest compacted partition (-subsumed_below): an older
        # negative remnant emptied by an interrupted post-fold delete
        # is fully subsumed by the newer fold, and refusing on it would
        # break compact_hash_log's documented crash-safety (resume and
        # re-fold, never hand-repair) — review finding.
        covering_h = sorted(
            i for i in hash_ids if subsumed_below <= i <= max(committed)
        )
        if subsumed_below:
            covering_h.insert(0, -subsumed_below)
        gutted = sorted(
            f"{sub}/batch_id={i}"
            for sub, ids in (
                ("chunks", range(max(committed) + 1)),
                ("hashes", covering_h),
            )
            for i in ids
            if not _dir_has_data(spark, f"{staging_dir}/{sub}/batch_id={i}")
        )
        if gutted:
            raise ValueError(
                f"ingest_training_set: staging dirs {gutted} under "
                f"{staging_dir!r} exist but hold no data files — the "
                "staged parquet was deleted out from under the "
                "checkpoint; resuming would silently treat committed "
                "batches as empty. Restore the staging dir that belongs "
                "to this checkpoint, or clear BOTH to start over."
            )

    def handle(batch: DataFrame, batch_id: int) -> None:
        # Compacting at BATCH START is replay-safe by construction:
        # foreachBatch only invokes batch N after batch N-1 committed,
        # so every id below the current one can never replay — exactly
        # compact_hash_log's precondition. The current batch's own log
        # (written later this invocation) is never touched.
        #
        # The fold runs CONCURRENTLY with the batch's keeper window
        # (guide §2.6): the window and its localCheckpoint read
        # only the batch's own metadata, never the hash log, and the
        # first log reader — the history anti-join — waits on the fold
        # via the barrier below, so every ordering guarantee above is
        # preserved while the fold's job overlaps the window's.
        compact_fut = None
        pool = None
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            from concurrent.futures import ThreadPoolExecutor

            pool = ThreadPoolExecutor(max_workers=1)
            compact_fut = pool.submit(
                compact_hash_log,
                spark,
                staging_dir,
                batch_id,
                # defense-in-depth: the construction argument above
                # is also VERIFIED against the commit log
                checkpoint_dir,
            )

        def fold_error() -> BaseException | None:
            # waits for the fold, so its failure surfaces even when the
            # batch raised first
            if pool is None:
                return None
            pool.shutdown(wait=True)
            return compact_fut.exception()

        try:
            _ingest_batch(
                batch, batch_id, staging_dir, min_quality, chunk_size,
                chunk_stride,
                # positional: fault-injection tests stub this function
                # with (batch, batch_id, *args) signatures
                compact_fut.result if compact_fut is not None else None,
            )
        except BaseException as batch_exc:
            fold_exc = fold_error()
            if fold_exc is None or fold_exc is batch_exc:
                raise
            # both failed: the fold's failure propagates with the batch's
            # own as its explicit cause, so neither is lost
            raise fold_exc from batch_exc
        fold_exc = fold_error()
        if fold_exc is not None:
            raise fold_exc

    _drive_foreach_batch(docs_stream, handle, checkpoint_dir)
    if not _dir_exists(spark, chunks_dir):
        return  # zero micro-batches: nothing to lay out
    staged = spark.read.parquet(chunks_dir).drop("batch_id")
    write_shuffled(
        staged,
        path,
        n_shards=n_shards,
        key="chunk_key",
        salt=salt,
        drop_key=True,
    )


def _ingest_batch(
    batch: DataFrame,
    batch_id: int,
    staging_dir: str,
    min_quality: float,
    chunk_size: int,
    chunk_stride: int,
    history_barrier=None,
) -> None:
    """One micro-batch of :func:`ingest_training_set` — module-level so
    the crash-replay test can re-invoke a batch directly and assert the
    staging dirs come out identical. Idempotent per (batch data,
    batch_id): the anti-join reads only hash logs with batch_id < this
    one (a replay must not see its own half-written log), and both
    staging writes overwrite their own batch_id subdir.

    ``history_barrier`` (r18): optional zero-arg callable invoked after
    the keeper window's checkpoint but BEFORE the first hash-log read —
    the join point for a caller that overlapped a log fold with the
    window (the window reads only batch metadata, never the log).

    The two staging writes run CONCURRENTLY (r18, guide §2.6 — overlap
    independent jobs): both read only the pinned ``keep``/``hits``
    frames plus their own sources (the hash write scans nothing else;
    the chunk write rescans the batch file for text), they target
    disjoint subdirs, and replay safety is unchanged — a crash after
    either write but before the checkpoint commit replays the batch,
    which overwrites BOTH batch_id subdirs with identical rows, so the
    write ORDER between them was never load-bearing. At bench scale
    this removes one of the four per-batch job latencies (~0.8-1.0 s
    across the 3-batch run — probe_ingest_knobs_r18.json); at cluster
    scale the second job's tasks back-fill executors idled by the
    first job's tail, which is exactly guide §2.6's point."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Window

    hashes_dir = f"{staging_dir}/hashes"
    chunks_dir = f"{staging_dir}/chunks"
    w = Window.partitionBy("content_hash")
    # metadata only — text stays out of the window exchange and the
    # checkpointed keeper frame; checkpointed BEFORE the history
    # anti-join so the window runs once and its hashes can broadcast
    # into the semi-reduce
    meta = batch.select("doc_id", *_curation_columns()).withColumn(
        "keeper_id", F.min("doc_id").over(w)
    )
    keep = meta.filter(F.col("doc_id") == F.col("keeper_id")).localCheckpoint()
    if history_barrier is not None:
        # wait for a concurrently-running hash-log fold (see
        # ingest_training_set.handle) before the FIRST log read below —
        # the window/checkpoint above never touches the log, so it
        # safely overlapped the fold
        history_barrier()
    keep = _dedup_against_history(keep, hashes_dir, batch_id)

    def _write_hashes() -> None:
        keep.select("content_hash").write.mode("overwrite").parquet(
            f"{hashes_dir}/batch_id={batch_id}"
        )

    def _write_chunks() -> None:
        surv = keep.filter(F.col("quality") >= min_quality)
        _keyed_chunks(
            batch.select("doc_id", "text"), surv, chunk_size, chunk_stride
        ).write.mode("overwrite").parquet(f"{chunks_dir}/batch_id={batch_id}")

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(_write_hashes), pool.submit(_write_chunks)]
        for f in futures:
            f.result()  # re-raise either failure -> the batch never commits


def _dedup_against_history(keep: DataFrame, hashes_dir: str, batch_id: int) -> DataFrame:
    """Drop keepers whose content hash was logged by an EARLIER batch —
    the incremental half of the dedup keeper window — without ever
    shuffling the hash log (r6 verdict #6: the log grows with corpus
    history, and a plain anti-join exchanged the WHOLE history on
    content_hash every batch). Semi-reduce instead: broadcast the
    batch's (bounded, batch-sized) keeper hashes through the log scan —
    a map-side left-semi that prunes the history to at most batch-many
    hits before anything moves — then broadcast those hits into the
    anti-join. Net exchanges over the history: zero; the log side costs
    one scan of hash-only rows, filtered at the scanner. ``keep`` must
    already be pinned (localCheckpoint) — its hashes feed two plans
    (the broadcast probe and the anti-join), and the hits frame is
    pinned here so neither downstream action rescans the log.

    The anti-join reads only logs with ``batch_id <`` the current one: a
    replay must not see its own half-written log and erase itself
    (pinned by the replay test)."""
    from mapreduce_code_spark.streaming.windows import _dir_exists

    spark = keep.sparkSession
    if not _dir_exists(spark, hashes_dir):
        return keep
    hits = _history_hits(keep, hashes_dir, batch_id).localCheckpoint()
    return keep.join(F.broadcast(hits), "content_hash", "left_anti")


def _history_hits(keep: DataFrame, hashes_dir: str, batch_id: int) -> DataFrame:
    """The (≤ batch-sized) subset of earlier batches' logged hashes that
    collide with this batch's keepers — the log side of
    :func:`_dedup_against_history`, separate so the zero-shuffle claim
    on the HISTORY scan is plan-testable before the checkpoint pin."""
    seen = (
        keep.sparkSession.read.parquet(hashes_dir)
        .filter(F.col("batch_id") < batch_id)
        .select("content_hash")
    )
    return seen.join(
        F.broadcast(keep.select("content_hash")), "content_hash", "left_semi"
    )


def _dir_has_data(spark, path: str) -> bool:
    """True iff ``path`` holds at least one non-underscore (data) entry.
    Local paths — every harness here, and the common single-node deploy
    — scan with ``os.scandir``: ZERO py4j round-trips, so the resume
    guard's per-committed-batch check stays O(µs) per dir even at
    thousands of batches (review finding: one listStatus py4j call per
    dir re-creates the r9-discovered driver round-trip pathology).
    Non-local URIs fall back to the Hadoop FS API — one metadata call
    per covering dir on a rare resume, cheap at the NameNode."""
    import os
    import re

    # A path is a URI only when it starts with a syntactically valid
    # scheme (RFC 3986: ALPHA then ALPHA/DIGIT/+/-/.) followed by ":/"
    # — requiring the slash keeps a RELATIVE local path whose first
    # segment happens to contain a colon ("run:3/out") local instead of
    # routing it to the Hadoop FS API, which would raise on the unknown
    # scheme rather than answer the data-file question (r10 advisor).
    if not re.match(r"[A-Za-z][A-Za-z0-9+.\-]*:/", path):
        p = path  # no scheme: a plain local path
    elif path.startswith("file:"):  # file:///x, file:/x both → /x
        p = "/" + path[len("file:"):].lstrip("/")
    else:  # non-local filesystem
        return any(not n.startswith("_") for n in _fs_names(spark, path))
    try:
        with os.scandir(p) as it:
            # Hadoop hidden-file convention: "_" (markers like _SUCCESS)
            # AND "." (the local RawFS's .crc checksum shadows, which
            # the Hadoop listStatus fallback below never surfaces but a
            # raw scandir does) are not data.
            return any(not e.name.startswith(("_", ".")) for e in it)
    except (FileNotFoundError, NotADirectoryError):
        return False


def _fs_names(spark, path: str) -> list:
    """Child names of ``path`` via the Hadoop FS API — metadata-only (no
    row scan), empty list when the dir doesn't exist. Shared by the
    resume guard (checkpoint commit files, staged chunk dirs) and
    :func:`compact_hash_log` (log partitions, where seeing EMPTY batch
    dirs matters — a row-derived listing never would)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def compact_hash_log(
    spark,
    staging_dir: str,
    before_batch_id: int,
    checkpoint_dir: str | None = None,
) -> None:
    """Fold every hash-log partition with ``batch_id < before_batch_id``
    into ONE deduplicated, content_hash-sorted partition — the
    maintenance op that keeps the per-batch history scan bounded by the
    DISTINCT corpus instead of the sum of per-batch logs (a long-running
    ingest writes one log dir per micro-batch; their union carries no
    information the distinct hash set doesn't).

    PRECONDITION: every batch below ``before_batch_id`` has COMMITTED
    (it can never replay). :func:`ingest_training_set` guarantees this
    when it auto-compacts at batch start — foreachBatch only invokes
    batch N after N-1 committed. Compacting a batch that may still
    replay would put its hashes below its own id and re-introduce the
    self-erasure failure the replay test pins.

    ``checkpoint_dir`` (r12, the concurrent-race hardening): when the
    caller passes the owning stream's checkpoint, the precondition is
    VERIFIED against its commit log instead of trusted — an external
    fold racing a live/crashed run whose newest batch has NOT committed
    (its half-written ``batch_id=N`` log is exactly what a replay's
    ``batch_id < N`` anti-join must not see folded below N) refuses
    loudly before touching anything. The corrupting interleaving and
    the refusal are both pinned by tests/test_ingest_faults.py. Legacy
    ``checkpoint_dir=None`` keeps the documented caller-owned
    precondition (some maintenance callers fold a retired staging dir
    whose checkpoint is gone). This is deliberately validation, not a
    lock file: a stale lock after a crashed compactor would wedge every
    future resume, while validation is stateless and exact.

    Crash-safe by write-then-delete ordering: the compacted rows land
    first in a fresh ``batch_id=-{before_batch_id}`` partition (negative
    ids sort below every real batch, so every future anti-join sees
    them, and ``-before_batch_id`` strictly decreases across compactions
    so it never collides with a prior compaction or a source being
    read), and only then are the source partitions deleted. A crash
    between the two leaves DUPLICATE hash rows across old + new dirs —
    harmless to a left-anti/left-semi probe — and the next compaction
    folds them again. MISSING hashes, the only dangerous state, cannot
    occur. Idempotent: re-running with the same argument is a no-op
    once only the compacted dir remains."""
    from mapreduce_code_spark.streaming.windows import _dir_exists

    hashes_dir = f"{staging_dir}/hashes"
    if not _dir_exists(spark, hashes_dir):
        return
    # enumerate source partitions from the DIRECTORY LISTING, not a
    # row scan: metadata-only (no second pass over the log), and it
    # sees EMPTY batch dirs too — a micro-batch whose keepers were all
    # history-dups logs zero rows, and a row-derived id list would
    # never fold or delete that dir (review finding: the dirs would
    # accumulate unboundedly)
    old_ids = []
    for name in _fs_names(spark, hashes_dir):
        if not name.startswith("batch_id="):
            continue
        try:
            i = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if i < before_batch_id:
            old_ids.append(i)
    if len(old_ids) <= 1:
        return  # nothing to fold
    if checkpoint_dir is not None:
        # verified precondition (r12): every REAL id about to be folded
        # must have committed. Negative ids are prior compactions of
        # committed batches, so the frontier check over real ids covers
        # everything. A fold at/below the commit frontier is exactly
        # what the auto-compact path produces; anything above it folds
        # a log that a replay's `batch_id <` anti-join must still see
        # EXCLUDED — the self-erasure race.
        committed = [
            int(n)
            for n in _fs_names(spark, f"{checkpoint_dir}/commits")
            if n.isdigit()
        ]
        frontier = (max(committed) + 1) if committed else 0
        unsafe = sorted(i for i in old_ids if i >= frontier)
        if unsafe:
            raise ValueError(
                f"compact_hash_log: batches {unsafe} under "
                f"{staging_dir!r}/hashes have NOT committed in "
                f"{checkpoint_dir!r} (commit frontier {frontier}) — "
                "folding a log that may still replay would put its "
                "hashes below its own batch_id, and the replay's "
                "history anti-join would erase the batch's own "
                "documents. Compact at or below the frontier, or let "
                "the owning run's auto-compaction do it."
            )
    log = spark.read.parquet(hashes_dir)
    target = f"{hashes_dir}/batch_id=-{before_batch_id}"
    # pin BEFORE writing: the compacted frame reads from hashes_dir and
    # the target is a child of it — a lazy write would read the tree it
    # is inserting into; the checkpoint also means the deletes below
    # can't invalidate anything still lazy. Sorting by content_hash
    # range-partitions the output, so each compacted file owns a
    # disjoint hash range (tight parquet footer stats).
    compacted = (
        log.filter(F.col("batch_id") < before_batch_id)
        .select("content_hash")
        .distinct()
        .sort("content_hash")
        .localCheckpoint()
    )
    compacted.write.mode("overwrite").parquet(target)
    jroot = spark._jvm.org.apache.hadoop.fs.Path(hashes_dir)
    fs = jroot.getFileSystem(spark._jsc.hadoopConfiguration())
    for i in old_ids:
        if i == -before_batch_id:
            continue  # the dir just written (re-run after a crash)
        fs.delete(
            spark._jvm.org.apache.hadoop.fs.Path(
                f"{hashes_dir}/batch_id={i}"
            ),
            True,
        )


def write_ingest_split(
    documents: DataFrame, src: str, n_files: int = 2
) -> None:
    """Write ``documents`` as the ``n_files``-file stream source
    :func:`ingest_manifest` / :func:`ingest_hash_log` consume:
    ascending-doc_id slices (the natural ordered-ingest layout), each
    file given a strictly older mtime than the next so the file source
    replays them in order. The split is a pure function of the table's
    CONTENT — slice membership is an equal-width doc_id-range predicate
    with edges derived from min/max (for ``n_files=2`` identical to the
    historical midpoint split, so existing cached splits stay valid),
    and intra-file row order is immaterial downstream (every keeper
    window and rank key is a deterministic expression) — so callers may
    build it once per corpus and reuse it across invocations and
    sessions."""
    import glob
    import os
    import shutil
    import time

    os.makedirs(src, exist_ok=True)
    lo, hi = documents.agg(F.min("doc_id"), F.max("doc_id")).first()
    lo, hi = int(lo), int(hi)
    edges = [lo + (hi - lo) * (i + 1) // n_files for i in range(n_files - 1)]
    bounds = [None, *edges, None]
    preds = []
    for i in range(n_files):
        p = F.lit(True)
        if bounds[i] is not None:
            p = F.col("doc_id") > bounds[i]
        if bounds[i + 1] is not None:
            p = p & (F.col("doc_id") <= bounds[i + 1])
        preds.append(p)
    now = time.time()
    for i, pred in enumerate(preds):
        # leading "_" keeps the scratch dir invisible to file listings
        part_dir = f"{src}/_split{i}"
        documents.filter(pred).coalesce(1).write.parquet(part_dir)
        part = glob.glob(f"{part_dir}/part-*.parquet")
        assert len(part) == 1, part
        dst = f"{src}/f{i}.parquet"
        shutil.move(part[0], dst)
        shutil.rmtree(part_dir)
        # the file source orders by modification time: f0 strictly first.
        # Anchor the series so the NEWEST file lands at `now` — a
        # future-stamped mtime is fragile against maxFileAge /
        # latestFirst semantics and clock checks (round-7 advisor item)
        mt = now - 60 * (n_files - 1) + 60 * i
        os.utime(dst, (mt, mt))


def ingest_manifest(
    documents: DataFrame, work_dir: str, src: str | None = None
) -> DataFrame:
    """The :func:`training_manifest` contract produced through the
    ACTUAL incremental path: split ``documents`` into three files in
    ascending doc_id order (:func:`write_ingest_split`), drive
    them as three real micro-batches WITH ``compact_every=1`` through
    :func:`ingest_training_set`'s checkpointed ``foreachBatch`` chain —
    staging writes, hash-log semi-reduce + anti-join, the batch-2 fold
    of batches 0-1's committed logs (:func:`compact_hash_log`; three
    batches is the minimum where a fold genuinely happens), and the
    final shuffled shard write — then rank the STAGED chunks with the
    same :func:`operators.sampling.shuffle_order` algebra the write
    path sorts by. By the batching-invariance contract (the streamed ≡
    1-batch byte-equal-shard test, itself run with compaction active)
    the result equals the one-shot batch manifest row-for-row, so the
    streamed path shares :func:`training_manifest_sql`'s oracle — and a
    hash match pins that mid-ingest compaction left the chunk set
    untouched (round-7 verdict #7).

    ``src``: optional pre-built split directory (see
    :func:`write_ingest_split`) — the checkpoint, staging, and shard
    writes under ``work_dir`` stay per-call fresh either way; only the
    read-only source files are shareable.

    The returned frame is pinned (localCheckpoint — it is manifest-
    sized: one metadata row per chunk, no text) so ``work_dir`` holds no
    live dependencies afterwards and the caller may delete it."""
    staging = _stream_ingest(
        documents, work_dir, src, n_files=3, compact_every=1
    )
    return manifest_from_staging(documents.sparkSession, staging)


def manifest_from_staging(spark, staging: str) -> DataFrame:
    """The manifest half of :func:`ingest_manifest`, reading a COMPLETED
    streamed-ingest staging dir (:func:`_stream_ingest`'s return): rank
    the staged chunks with the write path's own ``shuffle_order``
    algebra. Split out so one streamed run can serve both driver rows
    (r9 verdict #3 — `pipeline_ingest_manifest` and
    `pipeline_ingest_hash_log` drove byte-identical 3-batch
    compact_every=1 runs; the registry now shares the run and each row
    keeps its full end-to-end oracle over the run's output)."""
    staged = spark.read.parquet(f"{staging}/chunks").drop("batch_id")
    return _manifest_rows(
        staged, salt=TRAIN_SALT, n_shards=TRAIN_SHARDS
    ).localCheckpoint()


def _stream_ingest(
    documents: DataFrame,
    work_dir: str,
    src: str | None,
    n_files: int = 2,
    compact_every: int = 0,
) -> str:
    """Drive ``documents`` as ``n_files`` REAL micro-batches through
    :func:`ingest_training_set`'s checkpointed ``foreachBatch`` chain
    under ``work_dir`` and return the staging dir — the stream-setup
    half shared by :func:`ingest_manifest` and :func:`ingest_hash_log`
    so the two driver surfaces exercise the identical streamed path.
    Refuses to pass if fewer than ``n_files`` batches actually staged
    (the streamed path must really stream)."""
    import glob

    spark = documents.sparkSession
    if src is None:
        src = f"{work_dir}/src"
        write_ingest_split(documents, src, n_files=n_files)
    stream = (
        spark.readStream.schema(documents.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    staging = f"{work_dir}/staging"
    ingest_training_set(
        stream,
        f"{work_dir}/shards",
        staging,
        f"{work_dir}/ckpt",
        compact_every=compact_every,
    )
    batches = glob.glob(f"{staging}/chunks/batch_id=*")
    if len(batches) < n_files:
        raise RuntimeError(
            f"_stream_ingest: expected >= {n_files} micro-batches, "
            f"staged {batches} — the streamed path did not actually "
            "stream"
        )
    return staging


def ingest_hash_log(
    documents: DataFrame, work_dir: str, src: str | None = None
) -> DataFrame:
    """The seen-hash ledger the streamed ingest maintains, produced
    through the ACTUAL path WITH compaction active: drive the corpus as
    THREE real micro-batches (three ascending-doc_id files) with
    ``compact_every=1``, so batch 2's start genuinely folds batches
    0-1's committed logs into a ``batch_id=-2`` partition
    (:func:`compact_hash_log`), then read the ledger back. Guards that
    the fold really happened (a negative-id partition must exist —
    otherwise the row would silently stop exercising compaction).

    Over any complete run the ledger's content is exactly the DISTINCT
    ``sha256(text)`` of the corpus: the within-batch keeper window logs
    each new hash once, the cross-batch anti-join refuses re-logs,
    low-quality first-arrivals are logged too (quality shadowing — a
    later duplicate of a rejected doc must not resurrect it), and
    compaction folds partitions without changing the set. That makes
    the WHOLE bookkeeping chain — window, semi-reduce, anti-join,
    quality shadowing, fold — SQL-oracle-able in one line
    (:func:`ingest_hash_log_sql`); a hash mismatch would catch a
    dropped first-arrival, a duplicate log row, or a compaction that
    lost or resurrected a hash.

    The returned frame is pinned (localCheckpoint — hash rows only) so
    the caller may delete ``work_dir``."""
    staging = _stream_ingest(
        documents, work_dir, src, n_files=3, compact_every=1
    )
    return hash_log_from_staging(documents.sparkSession, staging)


def hash_log_from_staging(spark, staging: str) -> DataFrame:
    """The ledger half of :func:`ingest_hash_log`, reading a COMPLETED
    streamed-ingest staging dir. The compaction guard lives HERE, at the
    read, so EVERY consumer of a (possibly shared — r9 verdict #3) run
    re-proves the fold happened rather than trusting the run builder."""
    import glob

    parts = glob.glob(f"{staging}/hashes/batch_id=*")
    if not any("batch_id=-" in p for p in parts):
        raise RuntimeError(
            f"ingest_hash_log: no compacted (negative batch_id) "
            f"partition in {parts} — compaction never ran; the row "
            "would stop pinning compact_hash_log"
        )
    return (
        spark.read.parquet(f"{staging}/hashes")
        .select("content_hash")
        .localCheckpoint()
    )


def ingest_hash_log_sql() -> str:
    """DuckDB twin of :func:`ingest_hash_log`'s contract: the ledger of
    a complete ingest holds each distinct corpus content hash exactly
    once, low-quality first-arrivals included."""
    return "SELECT DISTINCT sha256(text) AS content_hash FROM documents"


def quality_filter_features(documents: DataFrame, label=None) -> DataFrame:
    """Continuous text-shape features for MODEL-BASED quality filtering
    (the fastText-classifier pattern of CCNet / LLaMA data pipelines,
    public) — the learned sibling of ``TXT.quality_score``'s fixed
    gates. Returns ``(row_id, features array<double>)`` with the bias
    pre-injected at ``features[0]`` — the shape
    :func:`operators.regression.sgd_fit` consumes. Features are bounded
    ratios of the same integer counts the heuristic gates use (word
    count capped/scaled, chars-per-word, stopword density, vocabulary
    diversity — `TXT._shape_counts`, the one shared builder); a narrow
    per-row map, no shuffle, no Python.

    ``label``: optional row-local Column over ``documents`` (e.g. a
    bootstrap gate verdict) emitted as ``y`` in the SAME projection —
    labels that are expressions over the corpus need no join at all,
    unlike the annotated-sample path in :func:`fit_quality_filter`."""
    _, n_words, n_stop, n_uniq = TXT._shape_counts()
    d = F.greatest(n_words, F.lit(1)).cast("double")
    cols = [
        F.col("doc_id").alias("row_id"),
        F.array(
            F.lit(1.0),
            F.least(n_words, F.lit(2000)) / 2000.0,
            F.least(F.length("text") / d, F.lit(20.0)) / 20.0,
            n_stop / d,
            n_uniq / d,
        ).cast("array<double>").alias("features"),
    ]
    if label is not None:
        cols.append(label.cast("double").alias("y"))
    return documents.select(*cols)


# feature arity of quality_filter_features (bias + 4 shape ratios):
# score_quality_filter validates theta against it because zip_with pads
# a shorter array with NULL — a stale theta would silently null every
# margin instead of erroring
N_QUALITY_FEATURES = 5


def fit_quality_filter(documents: DataFrame, labels: DataFrame, **kw):
    """Train the quality filter: join ``labels`` (``doc_id, y`` with y
    in {0.0, 1.0}) onto :func:`quality_filter_features` and fit logistic
    SGD by the reference's iterate-average loop
    (`logisticreg.java:144-220` semantics via
    :func:`operators.regression.sgd_fit`). Returns the
    :class:`SGDResult` whose ``theta`` feeds
    :func:`score_quality_filter`. Labels are the small side at scale
    (human/LLM-annotated sample) — broadcast-joined so the corpus never
    shuffles for the label attach."""
    from mapreduce_code_spark.operators.regression import sgd_fit

    pts = quality_filter_features(documents).join(
        F.broadcast(labels.select(F.col("doc_id").alias("row_id"), "y")),
        "row_id",
    )
    return sgd_fit(pts, link="logistic", **kw)


def epoch_manifest(
    spark,
    shards_path: str,
    salt: str,
    n_shards: int = TRAIN_SHARDS,
) -> DataFrame:
    """Re-rank an ALREADY MATERIALIZED training set for a new epoch
    WITHOUT re-curating: read the written shards, rebuild the chunk key
    (:func:`_chunk_key` — the same expression the write path keyed by),
    and rank with the new ``salt``. Because the permutation is a pure
    function of (salt, chunk_key), the result equals
    :func:`training_manifest` of the original corpus at that salt — the
    epoch-N loading order — while the expensive half of the pipeline
    (dedup window, quality gate, language ID, chunk explode) never
    re-runs; test-pinned against the from-scratch manifest.

    Scale shape: ONE scan of the curated shards (already deduped and
    quality-gated — a fraction of the raw corpus) + the one shard-keyed
    rank exchange. At 100 TB this is the difference between an epoch
    flip costing a full curation pass and costing one shuffle of the
    surviving chunks; feed it to ``write_shuffled(salt=...)`` to
    materialize the epoch instead of just describing it. No registered
    row returns it; tests/test_scale_patterns.py checks written bytes
    against it."""
    rows = spark.read.parquet(shards_path).select(
        "doc_id", "chunk_id", "chunk_text", "pred_lang"
    )
    return _manifest_rows(
        rows.withColumn("chunk_key", _chunk_key()),
        salt=salt,
        n_shards=n_shards,
    )


def materialize_epoch(
    spark,
    shards_path: str,
    out_path: str,
    salt: str,
    n_shards: int = TRAIN_SHARDS,
) -> None:
    """Close the epoch flip to BYTES ON DISK (r7 verdict #6): read the
    already-materialized epoch's shards, rebuild the chunk key
    (:func:`_chunk_key` — the same expression every writer keys by),
    and write the ``salt`` epoch's shards through the SAME
    ``write_shuffled`` path epoch 0 used — so the rewritten layout
    obeys :func:`epoch_manifest`'s description row-for-row (pinned by
    the epoch-1 edition of the manifest≡written-contract test) and a
    loader flips epochs by swapping directories. One scan of the
    curated shards plus the one shard-keyed exchange; the expensive
    curation pipeline never re-runs — the measured 41.6x-at-100x gap
    between a flip and a re-curation (SURVEY §9)."""
    from mapreduce_code_spark.sources.bucketing import write_shuffled

    rows = (
        spark.read.parquet(shards_path)
        .select("doc_id", "chunk_id", "chunk_text", "pred_lang")
        .withColumn("chunk_key", _chunk_key())
    )
    write_shuffled(
        rows,
        out_path,
        n_shards=n_shards,
        key="chunk_key",
        salt=salt,
        drop_key=True,
    )


def epoch_layout_manifest(
    spark,
    epoch_path: str,
    salt: str,
) -> DataFrame:
    """The manifest read off a WRITTEN epoch's PHYSICAL layout: ``shard``
    comes from the hive partition column (where the bytes actually
    landed — never recomputed), ``pos`` from re-deriving the permutation
    rank (:func:`~mapreduce_code_spark.operators.sampling.shuffle_ord_key`
    over the rebuilt :func:`_chunk_key`) WITHIN each physical shard, and
    ``chunk_md5`` fingerprints the written text. Hash-matching this
    against ``training_manifest_sql(salt=...)`` — which recomputes the
    whole curate → chunk → shuffle chain from the RAW documents —
    therefore pins the physical bytes themselves: a chunk written to the
    wrong shard shifts both its ``shard`` value and every rank in the
    two affected shards; lost/invented/corrupted chunk text breaks the
    md5 rows. (Within-file byte ORDER is the one property a distributed
    parquet read can't observe; that half of the contract is pinned by
    the manifest≡written tests in test_scale_patterns.py.)

    Scale shape: one scan of the epoch shards + the one rank window,
    partitioned by the layout's own shard column — auditing a written
    100 TB epoch against its contract costs a single pass, no text ever
    leaves the executor (md5 reduces it in place)."""
    from pyspark.sql import Window

    from mapreduce_code_spark.operators.sampling import shuffle_ord_key

    rows = (
        spark.read.parquet(epoch_path)
        .select(
            F.col("shard").cast("bigint").alias("shard"),
            "doc_id",
            "chunk_id",
            "chunk_text",
            "pred_lang",
        )
        .withColumn("chunk_key", _chunk_key())
        .withColumn("ord_key", shuffle_ord_key("chunk_key", salt))
    )
    w = Window.partitionBy("shard").orderBy("ord_key", "chunk_key")
    return rows.select(
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
        "doc_id",
        "chunk_id",
        F.md5("chunk_text").alias("chunk_md5"),
        "pred_lang",
    )


def epoch_transfer_plan(
    spark,
    shards_path: str,
    salt: str,
    n_shards: int = TRAIN_SHARDS,
) -> DataFrame:
    """The epoch flip's SHUFFLE PLAN: one row per (shard_from, shard_to)
    with how many chunks (and characters) move from each written epoch
    shard to each shard of the ``salt`` epoch — the transfer matrix
    ``write_shuffled(salt=...)`` would physically execute. ``shard_from``
    is the hive partition column read straight off the layout (free —
    no hash recompute); ``shard_to`` is :func:`~mapreduce_code_spark.operators.sampling.shuffle_order`'s
    hash algebra on the rebuilt chunk key (:func:`_chunk_key`, the same
    expression the write path keyed by). The rank window's ``pos`` is
    never referenced, so Catalyst PRUNES the window entirely
    (test-pinned): the whole plan is one scan of the curated shards plus
    one n_shards²-row aggregate exchange — at 100 TB, pricing an epoch
    flip (which shards pull how much from where, for scheduling and
    network budgeting) costs a single pass, not the flip itself."""
    from mapreduce_code_spark.operators.sampling import shuffle_order

    rows = (
        spark.read.parquet(shards_path)
        .select(
            F.col("shard").alias("shard_from"),
            "doc_id",
            "chunk_id",
            "chunk_text",
        )
        .withColumn("chunk_key", _chunk_key())
    )
    ranked = shuffle_order(rows, key="chunk_key", salt=salt, n_shards=n_shards)
    return (
        ranked.groupBy(
            "shard_from", F.col("shard").alias("shard_to")
        )
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.length("chunk_text")).alias("n_chars"),
        )
    )


def epoch_transfer_plan_sql(
    salt: str,
    min_quality: float = MIN_QUALITY,
    chunk_size: int = 32,
    chunk_stride: int = 24,
    n_shards: int = TRAIN_SHARDS,
    salt_from: str = TRAIN_SALT,
) -> str:
    """DuckDB twin of :func:`epoch_transfer_plan` — recomputed FROM THE
    RAW DOCUMENTS (curate → chunk → both epochs' shard hashes), so a
    hash match against the shards-reading Spark side pins layout
    fidelity and flip algebra together, exactly like
    :func:`training_manifest_sql` does for ``epoch_manifest``. Counts
    and character sums are integral (``SUM`` cast back to BIGINT from
    DuckDB's HUGEINT) — cross-engine exact."""
    from mapreduce_code_spark.operators.sampling import (
        ORD_BITS,
        chunk_documents_sql,
    )

    step = ((1 << ORD_BITS) + n_shards - 1) // n_shards

    def h(s: str) -> str:
        return (
            f"('0x' || substr(md5('shuffle|{s}|' || chunk_key), 1, 15))"
            "::BIGINT"
        )

    return f"""
WITH curated AS ({curated_corpus_sql(min_quality)}),
chunks AS ({chunk_documents_sql(size=chunk_size, stride=chunk_stride)}),
keyed AS (
  SELECT c.chunk_text,
         CAST(c.doc_id AS VARCHAR) || ':' || CAST(c.chunk_id AS VARCHAR)
           AS chunk_key
  FROM chunks c JOIN curated cu ON c.doc_id = cu.doc_id
),
h AS (SELECT chunk_text, {h(salt_from)} AS ord_from, {h(salt)} AS ord_to
      FROM keyed)
SELECT ord_from // {step} AS shard_from,
       ord_to // {step} AS shard_to,
       COUNT(*) AS n_chunks,
       CAST(SUM(length(chunk_text)) AS BIGINT) AS n_chars
FROM h
GROUP BY shard_from, shard_to
"""


def derive_quality_theta(documents: DataFrame, max_iter: int = 60) -> list:
    """The executable recipe behind ``QUALITY_THETA``: distill the
    heuristic quality gate into the learned filter (label every doc
    with the gate's own verdict — the CCNet-style bootstrap when no
    human labels exist), fit the reference-faithful logistic SGD, and
    round each coefficient to the nearest 1/16 so the pinned literals
    are dyadic — DECIMAL→DOUBLE-exact in both engines.

    The gate verdict is a ROW-LOCAL expression, so the labels ride the
    same feature projection — no label join, no broadcast of a
    corpus-sized frame (``fit_quality_filter``'s broadcast-label path
    is for genuinely small annotated samples, not bootstrap labels).
    ``n_partitions=1`` pins the trajectory to the single sequential
    row_id-ordered sweep — the one layout that cannot vary with the
    host's input-split planning (with k>1 splits the row_id DOMAIN
    itself — monotonically_increasing_id over the scan — shifts when
    the host plans different input splits, even though sgd_fit's split
    assignment is exact since r11), so the recipe reproduces
    bit-for-bit anywhere; it is also the reference's own single-reducer
    shape (`logisticreg.java:136-138`)."""
    from mapreduce_code_spark.operators.regression import sgd_fit

    _, _, _, _, quality = TXT._quality_parts()
    pts = quality_filter_features(
        documents, label=(quality >= MIN_QUALITY)
    )
    res = sgd_fit(
        pts, link="logistic", max_iter=max_iter, n_partitions=1
    )
    return [round(t * 16) / 16 for t in res.theta]


# Pinned coefficient vector for the REGISTERED scoring row (r6 verdict
# #7): fit_quality_filter is rows-only by nature (SGD), but applying a
# FIXED theta is pure column algebra and fully oracle-able. This is
# `derive_quality_theta(documents)` run at sf0.01 (heuristic-gate
# bootstrap labels riding the feature projection, 60 SGD iterations on
# the single sequential row_id-ordered partition — host-independent by
# construction), rounded to dyadic sixteenths so the literals parse
# to identical doubles in both engines. Feature order:
# (bias, word-count, chars-per-word, stopword-density, vocab-diversity)
# per quality_filter_features.
QUALITY_THETA = (0.375, -0.125, -0.25, 3.3125, 1.625)


def score_quality_filter_sql(theta=QUALITY_THETA) -> str:
    """DuckDB twin of :func:`score_quality_filter` with a fixed
    ``theta``: the same shape counts (`TXT._shape_counts` semantics),
    the same bounded-ratio features in the same textual order, and the
    same left-associated fold ``((((0 + x0*t0) + x1*t1) + ...)`` — only
    IEEE +,-,*,/ with every numeric literal CAST to DOUBLE (bare
    decimals are DECIMAL-typed in DuckDB and would diverge from
    Spark's double arithmetic)."""
    from mapreduce_code_spark.functions.text import STOPWORDS_EN

    theta = [float(t) for t in theta]
    if len(theta) != N_QUALITY_FEATURES:
        raise ValueError(
            f"score_quality_filter_sql: theta has {len(theta)} "
            f"coefficients, features have {N_QUALITY_FEATURES}"
        )
    stop = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    t = [f"CAST({c!r} AS DOUBLE)" for c in theta]
    return f"""
WITH s AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         len(list_filter(string_split(text, ' '), w -> w IN ({stop}))) AS n_stop,
         len(list_distinct(string_split(text, ' '))) AS n_uniq,
         length(text) AS n_chars
  FROM documents
), f AS (
  SELECT doc_id,
         CAST(greatest(n_words, 1) AS DOUBLE) AS d,
         n_words, n_stop, n_uniq, n_chars
  FROM s
)
SELECT doc_id,
       CAST(0 AS DOUBLE)
       + (CAST(1 AS DOUBLE) * {t[0]})
       + ((least(n_words, 2000) / CAST(2000 AS DOUBLE)) * {t[1]})
       + ((least(n_chars / d, CAST(20 AS DOUBLE)) / CAST(20 AS DOUBLE)) * {t[2]})
       + ((n_stop / d) * {t[3]})
       + ((n_uniq / d) * {t[4]}) AS margin
FROM f
"""


def score_quality_filter(documents: DataFrame, theta) -> DataFrame:
    """Apply a trained filter to the whole corpus:
    ``(doc_id, margin)`` where ``margin = θ·x`` — the logit, monotone in
    the keep-probability, so thresholding margin IS thresholding the
    sigmoid without evaluating it (no libm in the scoring path). The
    coefficient vector rides in as one array literal; scoring is a
    single zip-multiply-sum projection over the feature map — one
    corpus scan, zero shuffles."""
    theta = [float(t) for t in theta]
    if len(theta) != N_QUALITY_FEATURES:
        raise ValueError(
            f"score_quality_filter: theta has {len(theta)} coefficients, "
            f"features have {N_QUALITY_FEATURES} — a mismatched fold "
            "would NULL every margin"
        )
    feats = quality_filter_features(documents)
    th = F.array(*[F.lit(t) for t in theta])
    margin = F.aggregate(
        F.zip_with(F.col("features"), th, lambda x, t: x * t),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return feats.select(
        F.col("row_id").alias("doc_id"), margin.alias("margin")
    )
