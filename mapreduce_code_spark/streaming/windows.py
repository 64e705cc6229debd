"""Windowed event aggregation — batch and streaming share ONE plan
builder, so batch-parity is verified by construction plus tests.

The reference has no streaming at all (SURVEY §2.10); these are the
north-star extensions: tumbling / sliding / session windows, watermarked
late-data handling, and at-least-once streaming dedup.

Design:
- Each aggregation is a function of a DataFrame — pass a batch DF and it
  is a batch query (registered + DuckDB-oracled); pass ``readStream`` and
  the SAME code is the streaming query (tested via memory sink with
  ``processAllAvailable``).
- ``value`` sums are integer-quantized (``floor(v·1e6 + 0.5)``, exact
  IEEE ops — see operators.similarity) so batch, streaming, and the
  DuckDB oracle agree bit-for-bit; the true-double sum would be
  summation-order-dependent.
- At scale: windowed aggs shuffle once on (window, key) with map-side
  partial aggregation; watermarks bound state size — without one, a
  100 TB stream's window state grows forever.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

VALUE_SCALE = 1_000_000.0


def _qvalue():
    # exact-IEEE quantization of `value` to micro-units (see similarity._q)
    return F.floor(F.col("value") * F.lit(VALUE_SCALE) + F.lit(0.5)).cast("long")


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Per-type tumbling-window counts and micro-unit value sums:
    ``(window_start, window_end, event_type, n, sum_value_micro)``."""
    return (
        events.groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_qvalue()).alias("sum_value_micro"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value_micro",
        )
    )


def tumbling_counts_sql(width_minutes: int = 60) -> str:
    return f"""
WITH ev AS (SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events)
SELECT time_bucket(INTERVAL {width_minutes} MINUTE, ts) AS window_start,
       time_bucket(INTERVAL {width_minutes} MINUTE, ts)
           + INTERVAL {width_minutes} MINUTE AS window_end,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_value_micro
FROM ev
GROUP BY 1, 2, 3
"""


def sliding_counts(
    events: DataFrame, width: str = "1 hour", slide: str = "15 minutes"
) -> DataFrame:
    """Sliding-window totals: ``(window_start, window_end, n,
    sum_value_micro)`` — each event lands in width/slide windows."""
    return (
        events.groupBy(F.window("ts", width, slide))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_qvalue()).alias("sum_value_micro"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n",
            "sum_value_micro",
        )
    )


def sliding_counts_sql(width_minutes: int = 60, slide_minutes: int = 15) -> str:
    n_offsets = width_minutes // slide_minutes
    return f"""
WITH ev AS (SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events),
assigned AS (
  SELECT ts, value,
         time_bucket(INTERVAL {slide_minutes} MINUTE, ts)
             - unnest(range({n_offsets})) * INTERVAL {slide_minutes} MINUTE
             AS window_start
  FROM ev
)
SELECT window_start,
       window_start + INTERVAL {width_minutes} MINUTE AS window_end,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_value_micro
FROM assigned
GROUP BY 1, 2
"""


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (gap-based): ``(user_id, session_start,
    session_end, n, sum_value_micro)``.

    Uses Spark's native ``session_window`` — in streaming this is stateful
    with watermark-bounded state; in batch it compiles to the same
    gaps-and-islands result the SQL twin computes with ``lag`` + running
    sum. ``session_end`` = last event + gap (Spark's convention).
    """
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_qvalue()).alias("sum_value_micro"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n",
            "sum_value_micro",
        )
    )


def session_windows_sql(gap_minutes: int = 30) -> str:
    return f"""
WITH ev AS (SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events),
ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL {gap_minutes} MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM ev
),
numbered AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM ordered
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL {gap_minutes} MINUTE AS session_end,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_value_micro
FROM numbered
GROUP BY user_id, session_no
"""


def json_props(events: DataFrame) -> DataFrame:
    """JSON extraction from the ``props`` column (SURVEY §2 F8 north-star):
    ``(event_id, event_type, k)``."""
    return events.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


def json_props_sql() -> str:
    return """
SELECT event_id, event_type, CAST(props->>'k' AS BIGINT) AS k
FROM events
"""


# ------------------------------------------------------------ streaming

def stream_events(spark, sf_dir: str, max_files_per_trigger: int | None = None):
    """``readStream`` over the events parquet — the streaming twin of
    ``load_table`` (delegates to the generic ``load_table_stream``,
    which sets the nanos/UTC confs at the read site and applies the
    exact nanos→micros conversion)."""
    from mapreduce_code_spark.sources.io import load_table_stream

    return load_table_stream(
        spark, sf_dir, "events", max_files_per_trigger=max_files_per_trigger
    )


# State-partition count for the bounded streamed runners, applied (set
# around .start(), restored after the run) by every runner below when
# not None. Stateful micro-batch cost is dominated by PER-PARTITION
# state-store commit overhead at test-corpus keyspaces — the r9 probe
# measured the view→purchase stream-stream join at 2.45 s with 4 state
# partitions vs 5.3 s at the session's 32 (identical rows), and the
# availableNow finalize batch (0 input rows) alone cost 2.8 s of state
# commits at 32. None = inherit the session conf — still the module
# default; since r10 the registered streamed queries flip it
# SELECTIVELY per query via stream_partitions(), every value picked by
# A/B: JVM-stateful runs and per-micro-batch re-planned joins at 4-8,
# the Python-stateful operator and the no-shuffle stateless filter at
# the session conf — see each registry docstring for its measurement.
# Production sizes this to keyspace, not to a constant.
STREAM_SHUFFLE_PARTITIONS: int | None = None


@contextmanager
def stream_partitions(n: int | None):
    """Scope :data:`STREAM_SHUFFLE_PARTITIONS` to a block — the r10
    flip's per-query hook, because the A/B measurement says the
    override must be SELECTIVE: JVM-stateful runs (stream-stream join,
    windowed aggs, dedup state) win at few partitions, while
    applyInPandasWithState loses parallel Arrow state workers and
    `write_shuffled`-backed foreachBatch paths need partitions ≥
    n_shards (ADVICE r9). A registered query wraps its runner call:
    ``with stream_partitions(4): return run_available_now(...)``."""
    global STREAM_SHUFFLE_PARTITIONS
    prior = STREAM_SHUFFLE_PARTITIONS
    STREAM_SHUFFLE_PARTITIONS = n
    try:
        yield
    finally:
        STREAM_SHUFFLE_PARTITIONS = prior


@contextmanager
def _stream_shuffle_conf(spark):
    """Set/restore ``spark.sql.shuffle.partitions`` around a streaming
    run when :data:`STREAM_SHUFFLE_PARTITIONS` is set — streaming
    queries capture the conf at ``.start()``, and the runners here are
    synchronous, so the session value is always restored before any
    other query can observe it.

    SINGLE-THREADED ASSUMPTION (r9 advisor, low): the override mutates
    the SESSION conf for the duration of the synchronous run, so a
    query started concurrently on the same session from another thread
    during that window would silently capture it. Every harness here
    (driver, bench, tests) drives queries sequentially; if concurrent
    runners ever appear, scope the conf per query instead (e.g.
    ``df.writeStream.option("spark.sql.shuffle.partitions", n)`` /
    RuntimeConfig isolation via separate sessions)."""
    if STREAM_SHUFFLE_PARTITIONS is None:
        yield
        return
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    spark.conf.set(key, str(STREAM_SHUFFLE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set(key, prior)


def run_available_now(stream_df: DataFrame, name: str, output_mode: str):
    """Drive a stream through ``writeStream`` with the ``availableNow``
    trigger (process everything already on disk, then stop) into a
    memory sink; returns the materialized sink table. The synchronous
    bounded runner behind every oracled streaming query.

    The checkpoint (offset log, commit log, state stores — for the
    stream-stream join rows, 4 stores per state partition committing
    every micro-batch) goes to an explicit RAM-backed scratch dir
    instead of Spark's implicit temp checkpoint under /tmp: those
    small synchronous commits on the root disk make the run's time
    track other writers on the host (see ``scratch.py``'s module
    docstring and the ``probe_streamed_window.json`` receipt). Fresh per
    run (a reused checkpoint would mark the source files already
    processed) and removed as soon as the bounded query terminates —
    the memory sink's rows live in the JVM, not the checkpoint."""
    from mapreduce_code_spark.scratch import discard, scratch_dir

    spark = stream_df.sparkSession
    ckpt = scratch_dir(f"ck_{name}_")
    with _stream_shuffle_conf(spark):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    discard(ckpt)
    return spark.table(name)


def streamed_tumbling_counts(
    spark, sf_dir: str, width: str = "1 hour"
) -> DataFrame:
    """:func:`tumbling_counts` driven through an ACTUAL ``writeStream`` —
    file stream source → windowed aggregation → memory sink in complete
    mode, ``availableNow`` trigger (process everything already on disk,
    then stop). Returns the materialized sink table, so the streaming
    execution path itself — micro-batch planner, stateful aggregation,
    sink commit — produces the compared rows, not a batch twin. The
    result equals the batch/DuckDB oracle because complete-mode output
    after the final micro-batch IS the full aggregation.

    At scale this is the standing dashboard query: the same code with a
    continuous trigger and a real sink; ``availableNow`` here bounds it
    for a synchronous correctness check."""
    return run_available_now(
        tumbling_counts(stream_events(spark, sf_dir), width),
        "events_streamed_tumbling_sink",
        output_mode="complete",
    )


def streamed_session_windows(
    spark, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """:func:`session_windows` driven through an ACTUAL ``writeStream`` —
    the hardest stateful windowing mode: unlike tumbling windows, session
    windows MERGE as events arrive (two separate sessions collapse when a
    bridging event lands in a later micro-batch), so this exercises the
    streaming session-state merge path end to end. Complete mode +
    ``availableNow``: after the final micro-batch the sink holds the
    fully-merged sessions, which equal the batch/DuckDB gaps-and-islands
    oracle. At scale: same code with a processing-time trigger +
    watermark in APPEND mode is the live sessionization pipeline
    (sessions emit once finalized past the watermark; state is bounded
    by the horizon). Note update mode is NOT supported for session-
    window aggregations on this Spark build — append is the streaming
    production mode, complete the bounded-verification mode used here.
    """
    return run_available_now(
        session_windows(stream_events(spark, sf_dir), gap),
        "events_streamed_session_sink",
        output_mode="complete",
    )


def with_watermark(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Watermark for late-data bounds; required for append-mode windowed
    aggregation and state eviction."""
    return events.withWatermark("ts", delay)


def streaming_dedup(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """At-least-once → effectively-once dedup on event_id within the
    watermark horizon.

    ``dropDuplicatesWithinWatermark`` (not plain ``dropDuplicates``) is
    what makes the watermark actually EVICT dedup state: with a plain
    subset-based dropDuplicates that omits the event-time column, Spark
    keeps every key seen forever and a long-running stream's state store
    grows without bound."""
    return with_watermark(events, delay).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming query to completion against a memory sink
    (synchronous — for tests and parity checks). Returns the query;
    caller reads ``spark.table(name)`` and stops it."""
    with _stream_shuffle_conf(stream_df.sparkSession):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
    return q


def _dir_exists(spark, path: str) -> bool:
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(jvm_path)


def _drive_foreach_batch(stream_df: DataFrame, handle, checkpoint_dir: str):
    """Shared scaffold: foreachBatch + checkpoint + availableNow, run to
    completion."""
    with _stream_shuffle_conf(stream_df.sparkSession):
        q = (
            stream_df.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def run_batch_transform(
    stream_df: DataFrame,
    batch_fn,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drive a stream through ``foreachBatch`` with the ``availableNow``
    trigger, mapping every micro-batch through an arbitrary BATCH
    transformation into a parquet sink; returns the read-back result
    frame.

    This is the streaming escape hatch for operators a continuous query
    can't express declaratively (multi-join + multi-aggregate pipelines
    like LSH dedup): inside foreachBatch the micro-batch is a plain
    DataFrame, so the full batch operator library applies unchanged.
    Exactly-once per batch holds because each batch OVERWRITES its own
    ``batch_id=N`` subdirectory — a crash between the write and the
    checkpoint commit replays the batch, which rewrites the same subdir
    with the same rows instead of appending duplicates. ``batch_fn``
    must be deterministic and per-row independent across batches (each
    output row derived from one input row's batch) for the result to be
    batching-invariant. A source that yields zero batches returns an
    empty frame with ``batch_fn``'s output schema.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_fn(batch_df).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    _drive_foreach_batch(stream_df, handle, checkpoint_dir)
    spark = stream_df.sparkSession
    if not _dir_exists(spark, out_dir):
        # zero micro-batches: an empty result with the right schema, not
        # a path-does-not-exist error (batch_fn over the empty stream
        # schema is a plan, never executed)
        return batch_fn(
            spark.createDataFrame([], stream_df.schema)
        ).limit(0)
    # the hive layout adds the synthetic batch_id partition column —
    # strip it so the result schema equals batch_fn's output schema
    return spark.read.parquet(out_dir).drop("batch_id")


def run_streamed_distinct(
    stream_df: DataFrame,
    keys: list[str],
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Maintain a DISTINCT-key state table across micro-batches: each
    batch's new key tuples (anti-joined against the accumulated state)
    append to a parquet state dir; returns the final state frame. The
    incremental half of any mergeable-sketch pipeline — accumulate the
    distinct pairs as the stream runs, finalize (registers, estimates)
    from the state whenever asked.

    Idempotent under replay BY CONSTRUCTION: a crash between a batch's
    append and its checkpoint commit replays the batch, whose keys now
    anti-join away against the state they already joined — so the
    append-only sink still converges to exactly-once key semantics.
    State grows with DISTINCT keys only (the same bound as any
    streaming dropDuplicates state, here spilled to storage instead of
    the state store so it survives restarts and is directly queryable).
    A source that yields zero batches returns an empty keys frame.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new = batch_df.select(*keys).distinct()
        if _dir_exists(spark, state_dir):
            new = new.join(spark.read.parquet(state_dir), keys, "left_anti")
        new.write.mode("append").parquet(state_dir)

    _drive_foreach_batch(stream_df, handle, checkpoint_dir)
    spark = stream_df.sparkSession
    if not _dir_exists(spark, state_dir):
        return spark.createDataFrame([], stream_df.select(*keys).schema)
    return spark.read.parquet(state_dir)


def run_upsert_sink(
    stream_df: DataFrame,
    snapshot_dir: str,
    key: str,
    checkpoint_dir: str,
):
    """Streaming upsert sink via ``foreachBatch``: each micro-batch is
    last-writer-wins-merged into a parquet snapshot (the streaming twin of
    ``operators.relational.kv_upsert``).

    foreachBatch + checkpoint gives exactly-once-per-batch semantics: a
    replayed batch re-merges the same rows, and the upsert is idempotent,
    so the snapshot converges even across restarts. The snapshot rewrite
    is a full overwrite here; at 100 TB the same pattern targets a
    partition-pruned overwrite or a Delta-style MERGE instead.
    """
    from mapreduce_code_spark.operators.relational import kv_upsert

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path
        snap = jvm_path(snapshot_dir)
        nxt = jvm_path(snapshot_dir + ".next")
        bak = jvm_path(snapshot_dir + ".bak")
        fs = snap.getFileSystem(spark._jsc.hadoopConfiguration())
        # heal crash residue: an orphaned .bak means a prior swap died
        # between the two renames — restore it rather than treating the
        # accumulated state as missing (which would silently reset to
        # just the replayed batch's rows)
        if fs.exists(bak) and not fs.exists(snap):
            if not fs.rename(bak, snap):
                raise IOError(f"could not restore {snapshot_dir} from .bak")
        exists = fs.exists(snap)  # explicit check, not a blanket except —
        # a transient read error must fail the batch, not reset the state
        current = spark.read.parquet(snapshot_dir) if exists else None
        updates = batch_df.dropDuplicates([key])
        merged = kv_upsert(current, updates, key) if exists else updates
        merged.persist()
        merged.count()
        merged.write.mode("overwrite").parquet(snapshot_dir + ".next")
        merged.unpersist()
        # rename-aside swap (same discipline as bucketing.compact): the
        # old snapshot survives as .bak until the new one is in place, and
        # every rename's boolean result is checked — Hadoop signals
        # failure by returning false, not raising
        fs.delete(bak, True)
        if exists and not fs.rename(snap, bak):
            raise IOError(f"could not move {snapshot_dir} aside")
        if not fs.rename(nxt, snap):
            raise IOError(f"could not promote {snapshot_dir}.next")
        fs.delete(bak, True)

    with _stream_shuffle_conf(stream_df.sparkSession):
        q = (
            stream_df.writeStream.foreachBatch(merge)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
        q.processAllAvailable()
    return q
