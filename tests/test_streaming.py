"""Structured Streaming tests: batch parity through the SAME plan
builders, streaming dedup, and watermark late-data drop semantics."""

from __future__ import annotations

import os
import time
from datetime import datetime

import pytest

from mapreduce_code_spark.sources.io import load_table
from mapreduce_code_spark.streaming import windows as W


def _norm(df):
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def test_stream_shuffle_partitions_override(spark, sf_dir, monkeypatch):
    """The streamed runners' state-partition override (r9 plumbing for
    the r10 flip — SURVEY §9's measured 2× on the stream-stream join):
    with STREAM_SHUFFLE_PARTITIONS set, a streamed run produces
    row-identical results and RESTORES the session conf afterwards —
    the partition count is physical layout, never semantics. Default
    None must leave the conf untouched for the whole run."""
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)

    baseline = _norm(
        W.streamed_tumbling_counts(spark, sf_dir)
    )
    assert spark.conf.get(key) == prior  # default None: conf untouched

    monkeypatch.setattr(W, "STREAM_SHUFFLE_PARTITIONS", 4)
    seen: dict[str, str] = {}
    orig = W._stream_shuffle_conf

    def spying(s):
        cm = orig(s)

        class _Spy:
            def __enter__(self):
                r = cm.__enter__()
                seen["during"] = s.conf.get(key)
                return r

            def __exit__(self, *a):
                return cm.__exit__(*a)

        return _Spy()

    monkeypatch.setattr(W, "_stream_shuffle_conf", spying)
    tuned = _norm(W.streamed_tumbling_counts(spark, sf_dir))
    assert seen["during"] == "4"  # the override really reached the run
    assert spark.conf.get(key) == prior  # and was restored
    assert tuned.equals(baseline)  # identical rows either way

    # the per-query scoping hook restores the module constant even when
    # the block raises (the r10 flip wraps individual runner calls)
    monkeypatch.setattr(W, "STREAM_SHUFFLE_PARTITIONS", None)
    with W.stream_partitions(8):
        assert W.STREAM_SHUFFLE_PARTITIONS == 8
    assert W.STREAM_SHUFFLE_PARTITIONS is None
    with pytest.raises(RuntimeError):
        with W.stream_partitions(8):
            raise RuntimeError("boom")
    assert W.STREAM_SHUFFLE_PARTITIONS is None


def test_tumbling_batch_parity(spark, sf_dir):
    """The same tumbling plan over readStream == batch result."""
    batch = W.tumbling_counts(load_table(spark, sf_dir, "events"))
    stream = W.tumbling_counts(W.stream_events(spark, sf_dir))
    q = W.run_to_memory(stream, "t_parity", output_mode="complete")
    try:
        got = _norm(spark.table("t_parity"))
        want = _norm(batch)
        assert got.equals(want)
    finally:
        q.stop()


def test_streaming_dedup(spark, sf_dir, tmp_path):
    """Duplicated input events collapse to the original count."""
    ev = load_table(spark, sf_dir, "events").limit(200)
    dup_dir = str(tmp_path / "dup_events")
    ev.union(ev).write.parquet(dup_dir)

    from pyspark.sql import types as T

    schema = spark.read.parquet(dup_dir).schema
    stream = spark.readStream.schema(schema).parquet(dup_dir)
    q = W.run_to_memory(W.streaming_dedup(stream), "dedup_out")
    try:
        assert spark.table("dedup_out").count() == 200
    finally:
        q.stop()


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    df.coalesce(1).write.mode("append").parquet(path)


def test_watermark_append_finalization(spark, tmp_path):
    """Observable watermark contract in append mode (verified against this
    Spark build's actual behavior):

    - a window is emitted exactly once, in the first micro-batch whose
      starting watermark has passed the window end;
    - once emitted, the window is immutable — a 2h-late event does NOT
      update it; the late event surfaces as its own (already-past) window
      in a later batch rather than silently mutating history.

    (This build does not pre-filter late rows into fresh window keys —
    numRowsDroppedByWatermark stays 0; eviction still respects the
    watermark, which is the property that bounds state at scale.)
    """
    src = str(tmp_path / "late_events")
    ts = lambda h, m: datetime(2024, 1, 1, h, m)
    _write_batch(spark, src, [(1, ts(10, 0), 1, "a", 1.0), (2, ts(10, 20), 1, "a", 1.0)])
    time.sleep(1.1)  # distinct mtimes → deterministic batch order
    _write_batch(spark, src, [(3, ts(8, 0), 1, "a", 1.0), (4, ts(10, 30), 1, "a", 1.0)])

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    agg = W.tumbling_counts(W.with_watermark(stream, "5 minutes"), width="10 minutes")
    q = W.run_to_memory(agg, "late_out", output_mode="append")
    try:
        rows = [
            ((r["window_start"].hour, r["window_start"].minute), r["n"])
            for r in spark.table("late_out").collect()
        ]
        # finalized on watermark passage, exactly once, with only its event
        assert rows.count(((10, 0), 1)) == 1
        # the very late event emitted as its own past window, not merged
        assert rows.count(((8, 0), 1)) == 1
        # open windows (>= watermark) not yet emitted
        assert all(w != (10, 30) for w, _ in rows)
    finally:
        q.stop()


def test_streamed_session_merge_across_batches(spark, tmp_path):
    """The streaming session-state MERGE path: batch 1 lands two events
    30+ minutes apart (two separate sessions); batch 2 lands a bridging
    event between them — the stream must collapse all three into ONE
    session. This is the behavior that distinguishes session windows
    from tumbling state, and it only happens on the streaming path."""
    src = str(tmp_path / "bridge_events")
    ts = lambda h, m: datetime(2024, 1, 1, h, m)
    _write_batch(spark, src, [(1, ts(10, 0), 1, "a", 1.0), (2, ts(10, 50), 1, "a", 1.0)])
    time.sleep(1.1)  # distinct mtimes → deterministic batch order
    _write_batch(spark, src, [(3, ts(10, 25), 1, "a", 1.0)])

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = W.run_to_memory(
        W.session_windows(stream, gap="30 minutes"),
        "session_merge_out",
        output_mode="complete",
    )
    try:
        rows = spark.table("session_merge_out").collect()
        assert len(rows) == 1  # two sessions + bridge → one merged session
        r = rows[0]
        assert r["user_id"] == 1 and r["n"] == 3
        assert (r["session_start"].hour, r["session_start"].minute) == (10, 0)
        assert (r["session_end"].hour, r["session_end"].minute) == (11, 20)
    finally:
        q.stop()


def test_session_window_batch_matches_gaps_and_islands(spark, sf_dir):
    """Native session_window == explicit lag/cumsum sessionization on the
    same Spark data (independent of the DuckDB oracle)."""
    from pyspark.sql import Window as Win
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    native = W.session_windows(ev)

    w = Win.partitionBy("user_id").orderBy("ts")
    manual = (
        ev.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            (
                F.col("prev").isNull()
                | (F.col("ts").cast("long") - F.col("prev").cast("long") > 1800)
            ).cast("int"),
        )
        .withColumn("session_no", F.sum("new_s").over(w.rowsBetween(Win.unboundedPreceding, 0)))
        .groupBy("user_id", "session_no")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n").alias("n_events"))
    )
    native_per_user = native.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"), F.sum("n").alias("n_events")
    )
    assert _norm(native_per_user).equals(_norm(manual))


def test_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Stop/restart with a checkpoint: the restarted query resumes from
    committed offsets — no reprocessing, no loss (the fault-tolerance
    contract a 100 TB pipeline relies on)."""
    from mapreduce_code_spark.sources.io import load_table

    src = str(tmp_path / "ckpt_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "ckpt_out")
    ev = load_table(spark, sf_dir, "events").limit(300).persist()
    parts = ev.randomSplit([1.0, 1.0, 1.0], seed=11)
    parts[0].coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    parts[1].coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.select("event_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        return q

    q = start()
    q.stop()
    n_first = spark.read.parquet(out).count()
    assert n_first == parts[0].count() + parts[1].count()

    # late-arriving file, then restart from the checkpoint
    time.sleep(1.1)
    parts[2].coalesce(1).write.mode("append").parquet(src)
    q2 = start()
    q2.stop()
    got = spark.read.parquet(out)
    assert got.count() == ev.count()  # nothing lost, nothing duplicated
    assert got.distinct().count() == ev.count()
    ev.unpersist()


def test_stream_stream_join_batch_parity(spark, sf_dir, tmp_path):
    """Watermarked stream-stream join == the batch inequality join on the
    same finite input (views → purchases within 10 minutes)."""
    from mapreduce_code_spark.streaming.joins import view_then_purchase

    ev = load_table(spark, sf_dir, "events")
    views_b = ev.filter(ev.event_type == "view")
    purch_b = ev.filter(ev.event_type == "purchase")
    want = sorted(
        map(
            tuple,
            view_then_purchase(views_b, purch_b, watermark=None)
            .select("user_id", "view_id", "purchase_id", "gap_us")
            .collect(),
        )
    )

    vdir, pdir = str(tmp_path / "views"), str(tmp_path / "purch")
    views_b.write.parquet(vdir)
    purch_b.write.parquet(pdir)
    vs = spark.readStream.schema(views_b.schema).parquet(vdir)
    ps = spark.readStream.schema(purch_b.schema).parquet(pdir)
    q = W.run_to_memory(view_then_purchase(vs, ps), "ssj_out")
    try:
        got = sorted(
            map(
                tuple,
                spark.table("ssj_out")
                .select("user_id", "view_id", "purchase_id", "gap_us")
                .collect(),
            )
        )
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_foreach_batch_upsert_sink(spark, sf_dir, tmp_path):
    """Streaming upsert: later batches overwrite same-key rows in the
    parquet snapshot, new keys append (streaming twin of kv_upsert)."""
    src = str(tmp_path / "upsert_src")
    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "upsert_ckpt")

    ts = lambda m: datetime(2024, 1, 1, 10, m)
    _write_batch(spark, src, [(1, ts(0), 1, "a", 1.0), (2, ts(1), 2, "a", 1.0)])
    time.sleep(1.1)
    _write_batch(spark, src, [(1, ts(2), 1, "b", 9.0), (3, ts(3), 3, "a", 1.0)])

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    from mapreduce_code_spark.streaming.windows import run_upsert_sink

    q = run_upsert_sink(stream, snap, "event_id", ckpt)
    try:
        rows = {
            r["event_id"]: r["event_type"]
            for r in spark.read.parquet(snap).collect()
        }
        assert rows == {1: "b", 2: "a", 3: "a"}  # key 1 upserted, 3 appended
    finally:
        q.stop()


def test_batch_transform_multi_batch_invariance(spark, tmp_path):
    """run_batch_transform over a 2-file source with maxFilesPerTrigger=1
    processes two real micro-batches, and the accumulated sink equals the
    one-shot batch operator over the union — batching-invariance of the
    foreachBatch incremental-dedup shape. The streamed side reads the
    corpus through precomputed ``corpus_sets`` (as the registered
    streamed row does), the batch side derives them inline."""
    from mapreduce_code_spark.operators import dedup
    from mapreduce_code_spark.streaming.windows import run_batch_transform

    mk = "doc_id long, text string, lang string, source string, n_chars long"
    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from the warm window sill today")
    near = base.replace("lazy", "sleepy")
    far = ("completely different words about distributed shuffle "
           "partitioning strategies for large scale engines")
    corpus = spark.createDataFrame(
        [(0, base, "en", "s", len(base)), (2, far, "en", "s", len(far))], mk
    )
    # two new-doc files → two micro-batches
    src = str(tmp_path / "new_src")
    spark.createDataFrame([(1, near, "en", "s", len(near))], mk).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame([(3, base, "en", "s", len(base))], mk).write.mode(
        "append"
    ).parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    corpus_sets = dedup.doc_shingle_sets(corpus)
    streamed = run_batch_transform(
        stream,
        lambda b: dedup.incremental_near_dups(
            b, corpus, corpus_sets=corpus_sets
        ),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    batch = dedup.incremental_near_dups(spark.read.parquet(src), corpus)
    key = lambda r: (r["new_doc"], r["corpus_doc"])
    got = {key(r): r["jaccard"] for r in streamed.collect()}
    want = {key(r): r["jaccard"] for r in batch.collect()}
    assert got == want and len(want) >= 2  # both new docs matched doc 0


def test_streamed_distinct_state_multi_batch(spark, tmp_path):
    """run_streamed_distinct over a 2-file source with overlapping keys:
    the anti-join append keeps the state exactly-distinct across
    micro-batch boundaries, and the HLL finalize over the state equals
    the batch query over the union."""
    from mapreduce_code_spark.operators import relational as R
    from mapreduce_code_spark.streaming.windows import run_streamed_distinct

    src = str(tmp_path / "li_src")
    mk = "l_returnflag string, l_orderkey long"
    b1 = spark.createDataFrame([("A", 1), ("A", 2), ("B", 1)], mk)
    b2 = spark.createDataFrame([("A", 2), ("A", 3), ("B", 1)], mk)  # overlaps
    b1.write.mode("append").parquet(src)
    b2.write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = run_streamed_distinct(
        stream,
        ["l_returnflag", "l_orderkey"],
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    got_pairs = sorted(map(tuple, state.collect()))
    assert got_pairs == [("A", 1), ("A", 2), ("A", 3), ("B", 1)]
    want = {
        (r["l_returnflag"], r["approx_orders"], r["exact_orders"])
        for r in R.hll_distinct_orders_portable(
            spark.read.parquet(src)
        ).collect()
    }
    got = {
        (r["l_returnflag"], r["approx_orders"], r["exact_orders"])
        for r in R.hll_from_pairs(state).collect()
    }
    assert got == want and {r[0] for r in got} == {"A", "B"}


def test_streamed_distinct_replay_is_idempotent(spark, tmp_path):
    """Replaying every batch into an EXISTING state dir (fresh
    checkpoint, same data) leaves the state unchanged — the exactly-once
    convergence claim for crash-replay, pinned directly."""
    from mapreduce_code_spark.streaming.windows import run_streamed_distinct

    src = str(tmp_path / "src")
    mk = "l_returnflag string, l_orderkey long"
    spark.createDataFrame([("A", 1), ("B", 2)], mk).write.mode(
        "append"
    ).parquet(src)
    schema = spark.read.parquet(src).schema

    def run(ckpt: str):
        return run_streamed_distinct(
            spark.readStream.schema(schema).parquet(src),
            ["l_returnflag", "l_orderkey"],
            str(tmp_path / "state"),
            str(tmp_path / ckpt),
        )

    first = sorted(map(tuple, run("ckpt1").collect()))
    again = sorted(map(tuple, run("ckpt2").collect()))  # full replay
    assert first == again == [("A", 1), ("B", 2)]


def test_foreach_batch_helpers_empty_source(spark, tmp_path):
    """A source directory with no files yields zero micro-batches; both
    foreachBatch helpers must return an EMPTY frame with the right
    schema, not a path-does-not-exist error."""
    from pyspark.sql import functions as F2

    from mapreduce_code_spark.streaming.windows import (
        run_batch_transform,
        run_streamed_distinct,
    )

    src = tmp_path / "empty_src"
    src.mkdir()
    schema = "l_returnflag string, l_orderkey long"
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = run_batch_transform(
        stream,
        lambda b: b.groupBy("l_returnflag").agg(
            F2.count(F2.lit(1)).alias("n")
        ),
        str(tmp_path / "out"),
        str(tmp_path / "ck1"),
    )
    assert out.columns == ["l_returnflag", "n"] and out.count() == 0
    state = run_streamed_distinct(
        spark.readStream.schema(schema).parquet(str(src)),
        ["l_returnflag", "l_orderkey"],
        str(tmp_path / "state"),
        str(tmp_path / "ck2"),
    )
    assert state.columns == ["l_returnflag", "l_orderkey"]
    assert state.count() == 0


def test_stream_declares_against_empty_dir(spark, tmp_path):
    """A stream may legitimately be DECLARED before any data lands in the
    monitored directory (ADVICE r4 item 2): the events ts-type probe is a
    batch footer read that cannot succeed yet, so it must fall back to
    the long-nanos default instead of refusing to define the stream —
    and the declared frame must be a real streaming DataFrame with the
    table schema."""
    from pyspark.sql import types as T

    from mapreduce_code_spark.sources.io import load_table_stream

    empty = tmp_path / "not_yet_landed"
    empty.mkdir()
    df = load_table_stream(spark, str(empty), "events")
    assert df.isStreaming
    # fallback declares long-nanos, then the shared normalization still
    # lands the same canonical ts type the batch reader produces
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    # non-probed tables declare against an empty dir too
    assert load_table_stream(spark, str(empty), "documents").isStreaming
