"""Data-quality monitoring operators over the events stream: statistical
anomaly detection (z-score outliers) and distribution-drift detection
(chi-square between a reference and a current period).

A 100 TB ingest pipeline needs continuous monitoring of what it ingests
— value outliers (broken sensors, fat-finger amounts, unit mismatches)
and event-mix drift (a source changing its type distribution silently).
Both are classic streaming-warehouse checks; both are implemented here
with the repo's exactness discipline so they hash-match a DuckDB twin:

- Sufficient statistics are EXACT integers: the ``value`` column is
  quantized to cents (``floor(v·100 + 0.5)`` — float→double widening,
  IEEE multiply/add, exact floor; the synthetic values are 2-decimal so
  this is lossless), and per-group ``(n, Σv, Σv²)`` are integer sums in
  decimal(38,0)/HUGEINT space — order-independent, overflow-safe at any
  scale (Σv² at 1e12 rows of 5-digit cents stays under 1e22 ≪ 1e38).
- The float transform (mean, σ, z, χ²) is a FIXED sequence of IEEE
  double ops (+,-,·,/,sqrt — all correctly rounded, no libm
  transcendentals), identical expression-for-expression in the SQL twin.

Scale shape: each operator aggregates the fact table once with map-side
partial aggregation into a group-count-sized frame (5 event types), then
re-touches facts only through a BROADCAST join — the fact table itself
is never shuffled. The z-score scorer doubles as a stream-static join
under ``readStream`` (score-online / train-offline), registered as an
actual writeStream query sharing the batch oracle.

Reference parity: beyond-reference surface (the reference engine has no
monitoring operators); part of the large-scale-pipeline family alongside
dedup/sampling/text-quality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

Z_THRESHOLD = "3.0"  # |v - mean| > 3σ flags an anomaly


def _cents(col: F.Column) -> F.Column:
    """Exact 2-decimal quantization (house device, cf. similarity._q)."""
    return F.floor(col.cast("double") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )


def value_stats(events: DataFrame) -> DataFrame:
    """Per-event-type exact sufficient statistics of the cent-quantized
    value: ``(event_type, n, s, ss)`` with ``s``/``ss`` as decimal(38,0)
    integer sums. One map-side-combined aggregation; output is
    group-cardinality-sized."""
    v = _cents(F.col("value")).cast("decimal(38,0)")
    # square AFTER widening to decimal: an int64 vq*vq overflows (and
    # under ANSI mode crashes) at vq ~3e9 — exactly the fat-finger
    # magnitudes the monitor exists to flag
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s"),
        F.sum((v * v).cast("decimal(38,0)")).alias("ss"),
    )


# The z computation as ONE shared textual expression: mean and variance
# from the exact sums, population σ, z per row. Both engines evaluate
# this exact op sequence on identical integer inputs. Two totality
# guards, identical cross-engine: catastrophic cancellation can round a
# tiny true variance to a NEGATIVE double (Spark sqrt→NaN, DuckDB
# sqrt→error) — clamp at 0; and a constant-valued group has σ = 0
# (Spark ANSI divide→crash) — nullif makes z NULL there, and a NULL
# comparison is falsy in both engines, so constant groups simply flag
# nothing instead of crashing or diverging.
_MEAN = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
_VAR = (
    "((CAST(ss AS DOUBLE) / CAST(n AS DOUBLE))"
    f" - {_MEAN} * {_MEAN})"
)
_SIGMA = f"sqrt(greatest({_VAR}, 0.0))"
_Z = f"((CAST(vq AS DOUBLE) - {_MEAN}) / nullif({_SIGMA}, 0.0))"


def anomaly_zscore(events: DataFrame) -> DataFrame:
    """Events whose value deviates more than 3σ from their type's mean:
    ``(event_id, event_type, value_cents, z)``. Stats via
    :func:`value_stats` (tiny), joined back by broadcast — the fact scan
    is shuffle-free, so the same plan runs as a stream-static join under
    ``readStream`` (:func:`anomaly_zscore_streamed` registration)."""
    return score_zscore(events, value_stats(events))


def score_zscore(events: DataFrame, stats: DataFrame) -> DataFrame:
    """Score ``events`` against precomputed reference ``stats`` (the
    train-offline/score-online split): a stateless broadcast join +
    filter, so the identical code path runs over a ``readStream`` as a
    stream-static join (``events_streamed_anomaly``)."""
    return (
        events.select(
            "event_id", "event_type", _cents(F.col("value")).alias("vq")
        )
        .join(F.broadcast(stats), "event_type")
        .where(F.expr(f"abs({_Z}) > {Z_THRESHOLD}"))
        .select(
            "event_id",
            "event_type",
            F.col("vq").alias("value_cents"),
            F.expr(_Z).alias("z"),
        )
    )


def anomaly_zscore_sql() -> str:
    return f"""
WITH q AS (
  SELECT event_id, event_type,
         CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS vq
  FROM events
),
stats AS (
  SELECT event_type, count(*) AS n,
         sum(CAST(vq AS HUGEINT)) AS s,
         sum(CAST(vq AS HUGEINT) * CAST(vq AS HUGEINT)) AS ss
  FROM q GROUP BY event_type
)
SELECT q.event_id, q.event_type, q.vq AS value_cents, {_Z} AS z
FROM q JOIN stats USING (event_type)
WHERE abs({_Z}) > {Z_THRESHOLD}
"""


def drift_chisq(events: DataFrame) -> DataFrame:
    """Chi-square drift between the first and second half of the stream
    (split at the midpoint event_id — an exact integer boundary):
    ``(event_type, n_ref, n_cur, chisq)`` where ``chisq`` is the type's
    two-cell contribution ``Σ (o-e)²/e`` with expectations from the
    contingency margins. Counts are exact integers; the χ² transform is
    a fixed IEEE sequence. Two map-side-combined aggregations over one
    scan shape; the midpoint is a single-row broadcast aggregate."""
    # midpoint of the OBSERVED id range — (max+1) div 2 alone would dump
    # every row into one half (t_ref = 0 → χ² division by zero) whenever
    # ids don't start near 0 (snowflake ids, filtered slices)
    # overflow-free midpoint: min + (span+1) div 2 equals
    # (min+max+1) div 2 exactly (2·min + r divided by 2) but cannot
    # exceed int64 even for ids near the top of the range
    mid = events.agg(
        F.expr(
            "min(event_id)"
            " + (max(event_id) - min(event_id) + 1) div 2"
        ).alias("mid")
    )
    counts = (
        events.crossJoin(F.broadcast(mid))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("event_id") < F.col("mid"), 1).otherwise(0)
            ).alias("n_ref"),
            F.sum(
                F.when(F.col("event_id") >= F.col("mid"), 1).otherwise(0)
            ).alias("n_cur"),
        )
    )
    totals = counts.agg(
        F.sum("n_ref").alias("t_ref"),
        F.sum("n_cur").alias("t_cur"),
    )
    # nullif guards the degenerate one-sided split (single distinct id):
    # chisq is NULL there in BOTH engines instead of an ANSI crash
    chisq = (
        "(CAST(n_ref AS DOUBLE) - e_ref) * (CAST(n_ref AS DOUBLE) - e_ref)"
        " / nullif(e_ref, 0.0)"
        " + (CAST(n_cur AS DOUBLE) - e_cur) * (CAST(n_cur AS DOUBLE) - e_cur)"
        " / nullif(e_cur, 0.0)"
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .withColumn(
            "e_ref",
            F.expr(
                "CAST(n_ref + n_cur AS DOUBLE) * CAST(t_ref AS DOUBLE)"
                " / CAST(t_ref + t_cur AS DOUBLE)"
            ),
        )
        .withColumn(
            "e_cur",
            F.expr(
                "CAST(n_ref + n_cur AS DOUBLE) * CAST(t_cur AS DOUBLE)"
                " / CAST(t_ref + t_cur AS DOUBLE)"
            ),
        )
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            F.expr(chisq).alias("chisq"),
        )
    )


def drift_chisq_sql() -> str:
    return """
WITH mid AS (
  SELECT min(event_id)
         + (max(event_id) - min(event_id) + 1) // 2 AS mid
  FROM events
),
counts AS (
  SELECT event_type,
         sum(CASE WHEN event_id < (SELECT mid FROM mid) THEN 1 ELSE 0 END)
           AS n_ref,
         sum(CASE WHEN event_id >= (SELECT mid FROM mid) THEN 1 ELSE 0 END)
           AS n_cur
  FROM events GROUP BY event_type
),
totals AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM counts),
expect AS (
  SELECT c.event_type, CAST(c.n_ref AS BIGINT) AS n_ref,
         CAST(c.n_cur AS BIGINT) AS n_cur,
         CAST(c.n_ref + c.n_cur AS DOUBLE) * CAST(t.t_ref AS DOUBLE)
           / CAST(t.t_ref + t.t_cur AS DOUBLE) AS e_ref,
         CAST(c.n_ref + c.n_cur AS DOUBLE) * CAST(t.t_cur AS DOUBLE)
           / CAST(t.t_ref + t.t_cur AS DOUBLE) AS e_cur
  FROM counts c, totals t
)
SELECT event_type, n_ref, n_cur,
       (CAST(n_ref AS DOUBLE) - e_ref) * (CAST(n_ref AS DOUBLE) - e_ref)
         / nullif(e_ref, 0.0)
       + (CAST(n_cur AS DOUBLE) - e_cur) * (CAST(n_cur AS DOUBLE) - e_cur)
         / nullif(e_cur, 0.0) AS chisq
FROM expect
"""


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active day, then
    for each day offset the number of distinct users active again —
    ``(cohort_day, day_offset, n_users)`` with days as exact epoch-day
    integers (``unix_micros div 86400e6`` — identical integer arithmetic
    in the DuckDB twin, no calendar/timezone functions involved).

    Scale shape: everything is keyed by ``user_id`` — the distinct
    (user, day) reduction, the first-day aggregate, and the join are
    co-partitionable on one exchange of the deduplicated (user, day)
    frame (orders of magnitude smaller than the event log; the dedup
    itself is map-side combined); the final cohort-cell aggregate is
    cohort×offset-sized. The fact table is scanned once."""
    d = events.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).distinct()
    first = d.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        d.join(first, "user_id")
        .select(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def retention_cohorts_sql() -> str:
    # No ev0 microsecond-truncation CTE here, deliberately: every other
    # ts-sensitive twin truncates ns→us before comparing, but this query
    # only ever uses ts through integer DAY division (86400000000 us),
    # and flooring nanos to micros cannot move an epoch-day boundary —
    # floor(floor(ns/1000)/86400e6) == floor(ns/86400e9) for ns >= 0.
    return """
WITH d AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
SELECT f.cohort_day, d.day - f.cohort_day AS day_offset,
       count(*) AS n_users
FROM d JOIN f USING (user_id)
GROUP BY 1, 2
"""


def attribution_last_touch(
    events: DataFrame, window_minutes: int = 30
) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the page of
    the most recent preceding 'view' by the same user within
    ``window_minutes`` — ``(page, n_purchases, revenue_cents)``.

    One pass: a per-user ordered window carries the last view's page and
    timestamp forward (two ``last(..., ignorenulls=True)`` columns over
    the same frame necessarily agree — they null out on the same rows);
    the gap test is pure integer micros. Revenue is the exact cent sum.
    Scale shape: one window shuffle keyed by user_id plus the tiny
    page-level aggregate; the fact table is scanned once.

    Beyond-reference surface (attribution joins funnel/retention in the
    product-analytics family). The registered row runs the stateful
    stream instead; this batch pass is the reference the stateful,
    monitoring and property tests compare that stream against."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    page = F.get_json_object("props", "$.k").cast("bigint")
    ev = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        page.alias("page"),
        _cents(F.col("value")).alias("cents"),
        F.expr("unix_micros(ts)").alias("us"),
    )
    # a view whose page failed to parse (props null / no k) must refresh
    # NEITHER column: guarding only the page would let the null-page view
    # refresh the clock and credit a long-stale page inside the horizon
    is_view = (F.col("event_type") == "view") & F.col("page").isNotNull()
    attr = ev.withColumn(
        "lv_page",
        F.last(F.when(is_view, F.col("page")), ignorenulls=True).over(w),
    ).withColumn(
        "lv_us",
        F.last(F.when(is_view, F.col("us")), ignorenulls=True).over(w),
    )
    horizon = window_minutes * 60 * 1_000_000
    return (
        attr.where(
            (F.col("event_type") == "purchase")
            & F.col("lv_page").isNotNull()
            & (F.col("us") - F.col("lv_us") <= horizon)
        )
        .groupBy(F.col("lv_page").alias("page"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


def attribution_last_touch_sql(window_minutes: int = 30) -> str:
    horizon = window_minutes * 60 * 1_000_000
    frame = (
        "OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return f"""
WITH ev0 AS (
  SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events
),
ev AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(props->>'k' AS BIGINT) AS page,
         CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
           AS cents,
         epoch_us(ts) AS us
  FROM ev0
),
attr AS (
  SELECT *,
         last_value(CASE WHEN event_type = 'view' AND page IS NOT NULL
                         THEN page END
                    IGNORE NULLS) {frame} AS lv_page,
         last_value(CASE WHEN event_type = 'view' AND page IS NOT NULL
                         THEN us END
                    IGNORE NULLS) {frame} AS lv_us
  FROM ev
)
SELECT lv_page AS page, count(*) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM attr
WHERE event_type = 'purchase' AND lv_page IS NOT NULL
  AND us - lv_us <= {horizon}
GROUP BY lv_page
"""


def session_paths(
    events: DataFrame,
    gap_minutes: int = 30,
    max_steps: int = 8,
    k: int = 20,
) -> DataFrame:
    """Clickstream path analysis: sessionize each user's event stream by
    inactivity gaps, read off the ordered page path (first ``max_steps``
    pages), and report the ``k`` most common paths —
    ``(path, n_sessions, rank)``.

    Determinism: sessionization is pure integer logic (a gap flag
    cumulative-summed over the (ts, event_id)-ordered per-user stream);
    the path string is assembled from (step, page) pairs sorted by step,
    so it is independent of partitioning; ties in the top-k break on the
    path string. Null-page events are dropped before stepping so both
    engines see identical sequences.

    Scale shape: one window shuffle keyed by user (sessionize + step),
    one keyed by (user, session) — collapsed to the same exchange by
    Catalyst since (user, session) refines user — one path-count
    aggregate (map-side combined), then TakeOrderedAndProject for the
    global top-k (per-partition heaps, merged on the driver — the
    path-count frame is never sorted in one task) and a k-row broadcast
    self-join to number the survivors."""
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    horizon = gap_minutes * 60 * 1_000_000
    page = F.get_json_object("props", "$.k").cast("bigint")
    stepped = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            page.alias("page"),
            F.expr("unix_micros(ts)").alias("us"),
        )
        .where(F.col("page").isNotNull())
        .withColumn("prev_us", F.lag("us").over(w_user))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev_us").isNull()
                | (F.col("us") - F.col("prev_us") > horizon),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "sess",
            F.sum("new_sess").over(
                w_user.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "step",
            F.row_number().over(
                Window.partitionBy("user_id", "sess").orderBy(
                    "ts", "event_id"
                )
            ),
        )
        .where(F.col("step") <= max_steps)
    )
    paths = (
        stepped.groupBy("user_id", "sess")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("step", "page"))
                    ),
                    lambda x: x["page"].cast("string"),
                ),
                "->",
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    # Top-k FIRST via orderBy+limit — compiles to TakeOrderedAndProject
    # (per-partition heap top-k, merged on the driver), so the path-count
    # frame is never globally sorted in one task: distinct-path
    # cardinality grows with session count, and a single-partition
    # row_number window over it would be a corpus-sized sort on one core
    # at 100x scale. Rank is then derived over only the k surviving rows
    # WITHOUT a global window (a foldable partition key gets pruned by
    # Catalyst, resurrecting the partitionless WindowExec): rank = 1 +
    # the number of surviving rows that sort strictly ahead, via a
    # broadcast self-join of the k-row frame — O(k^2) on k rows, and the
    # ordering key (n_sessions desc, path asc) is total because path is
    # the group key, so this is exactly row_number.
    top = paths.orderBy(F.desc("n_sessions"), F.asc("path")).limit(k)
    ahead = top.select(
        F.col("n_sessions").alias("a_n"), F.col("path").alias("a_path")
    )
    strictly_ahead = (F.col("a_n") > F.col("n_sessions")) | (
        (F.col("a_n") == F.col("n_sessions"))
        & (F.col("a_path") < F.col("path"))
    )
    return (
        top.join(F.broadcast(ahead), strictly_ahead, "left")
        .groupBy("path", "n_sessions")
        .agg((F.count("a_path") + F.lit(1)).cast("int").alias("rank"))
    )


def session_paths_sql(
    gap_minutes: int = 30, max_steps: int = 8, k: int = 20
) -> str:
    horizon = gap_minutes * 60 * 1_000_000
    return f"""
WITH ev0 AS (
  SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events
),
pages AS (
  SELECT user_id, ts, event_id,
         CAST(props->>'k' AS BIGINT) AS page, epoch_us(ts) AS us
  FROM ev0
  WHERE CAST(props->>'k' AS BIGINT) IS NOT NULL
),
flagged AS (
  SELECT *,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > {horizon}
              THEN 1 ELSE 0 END AS new_sess
  FROM pages
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT *,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS sess
  FROM flagged
),
stepped AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, sess
                            ORDER BY ts, event_id) AS step
  FROM sessions
  QUALIFY step <= {max_steps}
),
paths AS (
  SELECT user_id, sess,
         string_agg(CAST(page AS VARCHAR), '->' ORDER BY step) AS path
  FROM stepped GROUP BY user_id, sess
),
counted AS (
  SELECT path, count(*) AS n_sessions FROM paths GROUP BY path
)
SELECT path, n_sessions,
       row_number() OVER (ORDER BY n_sessions DESC, path ASC) AS rank
FROM counted
QUALIFY rank <= {k}
"""
