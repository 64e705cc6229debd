"""Scale-pattern tests: salted skew mitigation (exact-equivalence),
bucketed shuffle-free joins (plan assertion), and the SQL veneer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_code_spark import api
from mapreduce_code_spark.operators import skew
from mapreduce_code_spark.sources import bucketing
from mapreduce_code_spark.sources.io import load_table


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def skewed(spark):
    """1000 rows of one hot key + a sprinkle of 50 cold keys."""
    hot = spark.range(1000).select(
        F.lit("hot").alias("k"), F.col("id").alias("v")
    )
    cold = spark.range(50).select(
        F.concat(F.lit("c"), F.col("id")).alias("k"), F.col("id").alias("v")
    )
    return hot.union(cold).persist()


def test_salted_agg_counts_exact(skewed):
    direct = _rows(skewed.groupBy("k").count().withColumnRenamed("count", "cnt"), "k", "cnt")
    salted = _rows(skew.salted_agg_counts(skewed, "k", n_salts=8), "k", "cnt")
    assert salted == direct


def test_salted_agg_sum_exact(skewed):
    direct = _rows(
        skewed.groupBy("k").agg(F.sum("v").alias("total")), "k", "total"
    )
    salted = _rows(
        skew.salted_agg_sum(skewed, "k", F.col("v"), n_salts=8), "k", "total"
    )
    assert salted == direct


def test_salted_agg_really_spreads(skewed):
    """The hot key's partials occupy several salt groups (the point)."""
    spread = (
        skewed.withColumn("_salt", skew._row_salt(skewed, 8))
        .filter(F.col("k") == "hot")
        .select("_salt")
        .distinct()
        .count()
    )
    assert spread >= 4


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_exact(spark, skewed, how):
    small = spark.createDataFrame(
        [("hot", "H"), ("c1", "C"), ("missing", "M")], "k string, tag string"
    )
    direct = _rows(skewed.join(small, "k", how), "k", "v", "tag")
    salted = _rows(skew.salted_join(skewed, small, "k", n_salts=8, how=how), "k", "v", "tag")
    assert salted == direct


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_orderkey", "okey"
    )
    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "okey"
    )
    bucketing.save_bucketed(orders, "b_orders", "okey", n_buckets=8)
    bucketing.save_bucketed(li.select("okey", "l_quantity"), "b_lineitem", "okey", 8)
    # force sort-merge join so the bucketing (not a broadcast) is what
    # removes the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketing.bucketed_join(spark, "b_orders", "b_lineitem", "okey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # and it computes the right thing
        expect = orders.join(li.select("okey", "l_quantity"), "okey").count()
        assert joined.count() == expect
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_sql_veneer_matches_dataframe(spark, sf_dir):
    api.open_catalog(spark, sf_dir)
    via_sql = api.sql(
        spark,
        """SELECT l_returnflag, count(*) AS n
           FROM lineitem GROUP BY l_returnflag""",
    )
    via_df = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert _rows(via_sql, "l_returnflag", "n") == _rows(via_df, "l_returnflag", "n")


def test_sql_veneer_derived_views(spark, sf_dir):
    api.open_catalog(spark, sf_dir)
    n_baskets = api.sql(spark, "SELECT count(*) AS n FROM transactions").first()["n"]
    assert n_baskets > 0
    row = api.sql(
        spark, "SELECT y, features FROM labeled_points LIMIT 1"
    ).first()
    assert row["features"][0] == 1.0  # injected bias


def test_compaction_reduces_files(spark, sf_dir, tmp_path):
    """Many small files → few target-size files, data intact."""
    src = str(tmp_path / "fragmented")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(40).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/part-*.parquet")) == 40
    n = bucketing.compact(spark, src, target_bytes=1 << 40)  # everything → 1
    assert n == 1
    assert len(glob.glob(f"{src}/part-*.parquet")) == 1
    assert spark.read.parquet(src).count() == orders.count()


# ---------------------------------------------------------- window skew


def _skewed_events(spark, hot_rows: int, cold_users: int, cold_rows: int):
    """Synthetic events with one hot user: ``hot_rows`` events 1s apart
    for user 0 plus ``cold_users`` users with ``cold_rows`` events each —
    100:1+ key skew when hot_rows >> cold_rows."""
    base_us = 1_700_000_000_000_000  # fixed epoch anchor, micros
    hot = spark.range(hot_rows).select(
        F.col("id").alias("event_id"),
        F.lit(0).cast("long").alias("user_id"),
        F.timestamp_micros(F.lit(base_us) + F.col("id") * 1_000_000).alias("ts"),
        F.lit(1.0).alias("value"),
    )
    cold = spark.range(cold_users * cold_rows).select(
        (F.lit(hot_rows) + F.col("id")).alias("event_id"),
        (F.lit(1) + F.col("id") % cold_users).cast("long").alias("user_id"),
        F.timestamp_micros(
            F.lit(base_us) + F.floor(F.col("id") / cold_users) * 1_000_000
        ).alias("ts"),
        F.lit(1.0).alias("value"),
    )
    return hot.unionByName(cold)


def test_rolling_24h_survives_100to1_user_skew(spark):
    """rolling_24h under 1000:1 key skew (one user with 100k events,
    1000 users with 100): the RANGE-frame running-window machinery is
    linear in the hot partition, so the hot task finishes in seconds —
    a self-join formulation of "events in my trailing 24h" would be
    O(hot_rows²) = 10^10 pairs here and blow any time budget. Exact
    frame counts on the hot user pin correctness at the 24h boundary."""
    import time

    from mapreduce_code_spark.operators import relational as R

    events = _skewed_events(spark, hot_rows=100_000, cold_users=1000, cold_rows=100)
    t0 = time.time()
    hot = (
        R.rolling_24h_user_activity(events)
        .filter(F.col("user_id") == 0)
        .select("event_id", "n_24h", "value_sum_micro_24h")
        .collect()
    )
    elapsed = time.time() - t0
    # generous bound: the full suite shares one noisy local session (2-4x
    # wall variance measured); a genuine O(hot²) cliff is hours, so 300s
    # still separates cleanly
    assert elapsed < 300, f"hot-user window task took {elapsed:.0f}s — skew cliff"
    got = {r["event_id"]: (r["n_24h"], r["value_sum_micro_24h"]) for r in hot}
    assert len(got) == 100_000
    # 1s spacing: frame [ts-24h, ts] holds min(i, 86400) + 1 events
    for i in (0, 1, 50_000, 86_400, 99_999):
        expect = min(i, 86_400) + 1
        assert got[i] == (expect, expect * 1_000_000), f"row {i}"


def test_hourly_gapfill_survives_type_skew(spark):
    """hourly_gapfill partitions by event_type — inherently few, so one
    hot type IS the steady state. 100:1 type skew must neither cliff nor
    mis-fill: the hot type's dense hours aggregate exactly and the cold
    type's gap hours zero-fill with a forward-filled last value."""
    import time

    from mapreduce_code_spark.operators import relational as R

    base_us = 1_699_999_200_000_000  # hour-aligned epoch anchor
    hot = spark.range(100_000).select(
        F.col("id").alias("event_id"),
        F.lit(0).cast("long").alias("user_id"),
        F.lit("view").alias("event_type"),
        F.timestamp_micros(F.lit(base_us) + F.col("id") * 360_000).alias("ts"),
        F.lit(1.0).alias("value"),
    )  # 100k events over 10h
    cold = spark.range(1_000).select(
        (F.lit(100_000) + F.col("id")).alias("event_id"),
        F.lit(1).cast("long").alias("user_id"),
        F.lit("purchase").alias("event_type"),
        F.timestamp_micros(
            F.lit(base_us) + F.col("id") * 3_600_000_000
        ).alias("ts"),
        F.lit(1.0).alias("value"),
    )  # 1k events, one per hour — defines the full grid span
    t0 = time.time()
    rows = R.hourly_gapfill(hot.unionByName(cold)).collect()
    elapsed = time.time() - t0
    assert elapsed < 300, f"gapfill took {elapsed:.0f}s — skew cliff"
    # grid = 2 types x 1000 hours
    assert len(rows) == 2 * 1_000
    view = [r for r in rows if r["event_type"] == "view"]
    # hot type: 10 dense hours of 10k events each, then zero-filled gaps
    assert sum(r["n_events"] for r in view) == 100_000
    assert max(r["n_events"] for r in view) == 10_000
    zero_hours = [r for r in view if r["n_events"] == 0]
    assert len(zero_hours) == 990
    # forward fill carries the last dense hour's sum into the gap
    assert all(
        r["filled_sum_micro"] == 10_000 * 1_000_000 for r in zero_hours
    )


def test_write_sharded_layout_and_determinism(spark, sf_dir, tmp_path):
    """Sharded training-mix writer: hive shard=N/ dirs with one file
    each, shard membership stable across rewrites, and a shard filter
    prunes partitions at read."""
    import glob
    import os

    from mapreduce_code_spark.sources.bucketing import write_sharded
    from mapreduce_code_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "mix")
    write_sharded(docs, out, n_shards=4)
    dirs = sorted(
        os.path.basename(d) for d in glob.glob(os.path.join(out, "shard=*"))
    )
    assert dirs == ["shard=0", "shard=1", "shard=2", "shard=3"]
    for d in dirs:
        files = [
            f
            for f in glob.glob(os.path.join(out, d, "*"))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1  # repartition aligned with the layout
    first = {
        (r["doc_id"], r["shard"])
        for r in spark.read.parquet(out).select("doc_id", "shard").collect()
    }
    assert len({d for _, d in first}) == 4
    out2 = str(tmp_path / "mix2")
    write_sharded(docs, out2, n_shards=4)  # rewrite → identical assignment
    second = {
        (r["doc_id"], r["shard"])
        for r in spark.read.parquet(out2).select("doc_id", "shard").collect()
    }
    assert first == second
    plan = (
        spark.read.parquet(out)
        .filter(F.col("shard") == 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "shard" in plan.split("PartitionFilters", 1)[1][:200]


def test_write_clustered_skipping_stats(spark, sf_dir, tmp_path):
    """Range-clustered writer: every output file owns a disjoint ts
    range (parquet footer min/max — the stats file-level skipping runs
    on), row groups inside each file are sorted, and a ts predicate on
    the read is pushed to the scan."""
    import glob

    import pyarrow.parquet as pq

    from mapreduce_code_spark.sources.bucketing import write_clustered
    from mapreduce_code_spark.sources.io import load_table

    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "clustered")
    write_clustered(events, out, ["ts"], n_files=6)

    ranges = []
    for f in glob.glob(out + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["ts"]
        gmins, gmaxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            gmins.append(st.min)
            gmaxs.append(st.max)
        # sortWithinPartitions → row-group mins non-decreasing in file order
        assert gmins == sorted(gmins)
        ranges.append((min(gmins), max(gmaxs)))
    assert len(ranges) >= 2  # sf0.001+ events split across several files
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        # repartitionByRange: a value lands in exactly one partition, so
        # consecutive file ranges never overlap — file-level skipping can
        # prune every file outside the predicate's window
        assert hi <= lo
    total = spark.read.parquet(out).count()
    assert total == events.count()  # clustering is a pure layout change

    plan = (
        spark.read.parquet(out)
        .filter(F.col("ts") >= F.lit("2024-01-02").cast("timestamp"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "ts" in plan.split("PushedFilters", 1)[1][:200]


def test_write_zordered_prunes_both_dimensions(spark, tmp_path):
    """Z-order layout on a 64x64 (x, y) grid: a selective slice on
    EITHER dimension overlaps only a minority of file footers (Morton
    locality), whereas the x-leading range-clustered layout cannot prune
    a y-slice at all (every file spans all of y). Also pins rewrite
    determinism: same per-file stats across rewrites."""
    import glob

    import pyarrow.parquet as pq

    from mapreduce_code_spark.sources.bucketing import (
        write_clustered,
        write_zordered,
    )

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )

    def file_ranges(path, col):
        out = []
        for f in sorted(glob.glob(path + "/*.parquet")):
            md = pq.ParquetFile(f).metadata
            if md.num_rows == 0:
                continue
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }[col]
            st = [
                md.row_group(rg).column(idx).statistics
                for rg in range(md.num_row_groups)
            ]
            out.append((min(s.min for s in st), max(s.max for s in st)))
        return out

    zpath, cpath = str(tmp_path / "zord"), str(tmp_path / "clus")
    write_zordered(grid, zpath, ["x", "y"], n_files=16, bits=6)
    write_clustered(grid, cpath, ["x", "y"], n_files=16)

    def overlapping(ranges, lo, hi):
        return sum(1 for mn, mx in ranges if mx >= lo and mn <= hi)

    zx, zy = file_ranges(zpath, "x"), file_ranges(zpath, "y")
    cy = file_ranges(cpath, "y")
    n_z = len(zx)
    assert n_z >= 8  # the grid actually split across files
    # a 1/8-wide slice on EITHER dimension prunes most z-ordered files
    assert overlapping(zx, 0, 7) <= n_z // 2
    assert overlapping(zy, 0, 7) <= n_z // 2
    # the x-leading range layout spans all of y in every file: no pruning
    assert overlapping(cy, 0, 7) == len(cy)
    # pure layout change + deterministic rewrite
    assert spark.read.parquet(zpath).count() == 64 * 64
    write_zordered(grid, zpath, ["x", "y"], n_files=16, bits=6)
    assert file_ranges(zpath, "x") == zx and file_ranges(zpath, "y") == zy

    # guards: bit overflow, non-numeric column, helper-name collision
    import pytest

    from mapreduce_code_spark.sources.bucketing import zorder_key

    with pytest.raises(ValueError, match="63 usable"):
        zorder_key(grid, ["x", "y"], bits=32)
    with pytest.raises(ValueError, match="non-orderable"):
        zorder_key(grid.withColumn("s", F.lit("a")), ["x", "s"])
    with pytest.raises(ValueError, match="reserved helper"):
        zorder_key(grid.withColumn("_zkey", F.lit(1)), ["x", "y"])
    # NULLs bucket to 0 instead of nulling the whole key: a null-x row
    # still carries y's bits (same key as x=0 at that y)
    withnull = spark.createDataFrame(
        [(None, 5), (0, 5)], "x int, y int"
    ).unionAll(grid.select(F.col("x").cast("int"), F.col("y").cast("int")))
    keyed, zc = zorder_key(withnull, ["x", "y"], bits=6)
    pair = keyed.filter((F.col("y") == 5) & (F.col("x").isNull() | (F.col("x") == 0)))
    zvals = {r[zc] for r in pair.collect()}
    assert len(zvals) == 1  # null-x == x-min, key not NULL


def test_bloom_semi_reduce_equivalence_and_plan(spark, sf_dir):
    """Bloom semi-join reduction: reduce-then-join equals plain join (no
    false negatives), the reduction is a strict superset of the true
    semi-join (false positives only), and membership runs as broadcast
    hash joins — the fact side sees no Exchange before the filter."""
    from mapreduce_code_spark.operators import relational as R

    lineitem = load_table(spark, sf_dir, "lineitem")
    # a selective build side: ~1/8 of parts
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 8 == 0)

    reduced = R.bloom_semi_reduce(lineitem, part, "l_partkey", "p_partkey")
    true_semi = lineitem.join(
        part.select(F.col("p_partkey").alias("l_partkey")), "l_partkey", "left_semi"
    )
    n_true, n_reduced, n_fact = true_semi.count(), reduced.count(), lineitem.count()
    assert n_true <= n_reduced < n_fact  # superset, but genuinely pruning

    # no false negatives: the exact join after reduction loses nothing
    joined_plain = lineitem.join(part, lineitem.l_partkey == part.p_partkey)
    joined_reduced = reduced.join(part, reduced.l_partkey == part.p_partkey)
    assert joined_plain.count() == joined_reduced.count()

    plan = reduced._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= R.BLOOM_K
    # a regression that shuffles the FACT side would surface as a
    # sort-merge or shuffled-hash membership join — forbid both (the
    # only Exchanges allowed are the bit-table build side's distincts,
    # which feed BroadcastExchange, not a join shuffle)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan

    # oversized build side: the reduction honestly no-ops instead of
    # shipping a saturated filter
    import mapreduce_code_spark.operators.relational as RR

    orig = RR.SEMI_REDUCE_MAX_KEYS
    RR.SEMI_REDUCE_MAX_KEYS = 10
    try:
        assert (
            R.bloom_semi_reduce(lineitem, part, "l_partkey", "p_partkey")
            is lineitem
        )
    finally:
        RR.SEMI_REDUCE_MAX_KEYS = orig


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join conversion — the runtime half of the skew story
    (operators/skew.py salting is the planning-time half): a 40:1 hot
    key under a tight advisory partition size must come out of AQE as
    SortMergeJoin(skew=true), i.e. the hot partition was split into
    parallel subtasks instead of serializing one straggler. Uses
    incompressible padding — shuffle-partition sizes are measured on
    COMPRESSED bytes, so constant padding never crosses the threshold."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "262144",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "262144",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        pad = F.concat(
            *[
                F.md5(F.concat(F.col("id").cast("string"), F.lit(str(i))))
                for i in range(4)
            ]
        )
        left = (
            spark.range(0, 200_000)
            .select((F.col("id") * 0).alias("k"), pad.alias("p"))
            .unionAll(
                spark.range(0, 5_000).select(
                    (F.col("id") % 50 + 1).alias("k"), pad.alias("p")
                )
            )
        )
        right = spark.range(0, 51).select(
            F.col("id").alias("k"), F.lit("r").alias("rv")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 205_000  # same QueryExecution must run
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_overwrite_partitions_is_surgical_and_idempotent(spark, sf_dir, tmp_path):
    """Dynamic partition backfill: rewriting one lang partition leaves
    every other partition's FILES byte-identical (not merely re-derived
    equal rows), and replaying the same backfill never duplicates."""
    import glob
    import os

    from mapreduce_code_spark.sources.bucketing import overwrite_partitions

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars", "lang")
    out = str(tmp_path / "by_lang")
    overwrite_partitions(docs, out, "lang")

    def snapshot(skip_lang):
        return {
            f: os.path.getmtime(f)
            for f in glob.glob(out + "/lang=*/*.parquet")
            if f"lang={skip_lang}/" not in f
        }

    before = snapshot("en")
    n_before = spark.read.parquet(out).count()
    # backfill only lang=en with doubled n_chars
    en = docs.filter(F.col("lang") == "en").withColumn(
        "n_chars", F.col("n_chars") * 2
    )
    overwrite_partitions(en, out, "lang")
    assert snapshot("en") == before  # other partitions untouched on disk
    after = spark.read.parquet(out)
    assert after.count() == n_before  # replaced, not appended
    got_en = after.filter(F.col("lang") == "en").agg(F.sum("n_chars")).first()[0]
    want_en = en.agg(F.sum("n_chars")).first()[0]
    assert got_en == want_en
    # idempotent replay
    overwrite_partitions(en, out, "lang")
    assert spark.read.parquet(out).count() == n_before


def test_monitoring_fact_table_never_shuffles(spark, sf_dir):
    """The z-score scorer's only exchange is the tiny stats aggregate:
    the event scan itself reaches the output through a broadcast join,
    so at 100 TB the monitor costs one map-side-combined pass."""
    from bench import net_shuffles
    from mapreduce_code_spark.operators import monitoring as MON
    from mapreduce_code_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events")
    assert net_shuffles(MON.anomaly_zscore(ev)) == 1


def test_retention_copartitions_on_user(spark, sf_dir):
    """Retention: dedup (user, day), first-day agg, and the final cell
    agg — three keyed exchanges, none of them the raw event log twice."""
    from bench import net_shuffles
    from mapreduce_code_spark.operators import monitoring as MON
    from mapreduce_code_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events")
    assert net_shuffles(MON.retention_cohorts(ev)) <= 3


def _read_shards(path):
    """Read a write_shuffled layout back in FILE ROW ORDER: sorted
    shard=* dirs, exactly one parquet file per shard (the writer's
    aligned-exchange invariant), returned as {shard_dir: DataFrame}.
    Shared by the layout tests so the one-file-per-shard reading
    convention lives in one place."""
    import glob
    import os

    import pandas as pd

    shards = {}
    for d in sorted(glob.glob(os.path.join(path, "shard=*"))):
        files = [
            f for f in glob.glob(os.path.join(d, "*"))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, d  # one sorted file per shard
        shards[os.path.basename(d)] = pd.read_parquet(files[0])
    return shards


def test_write_shuffled_global_order(spark, sf_dir, tmp_path):
    """Deterministic training-order shuffle writer: per-shard files are
    physically sorted by the md5 ord_key (so reading shards 0..n-1 in
    order replays the global ascending-hash permutation), the order is
    byte-stable across rewrites, sources interleave within every shard,
    and a different salt yields a genuinely different permutation."""
    import glob
    import os

    import pandas as pd

    from mapreduce_code_spark.sources.bucketing import write_shuffled
    from mapreduce_code_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "shuf")
    write_shuffled(docs, out, n_shards=4)

    def shard_orders(path):
        return {
            d: list(zip(pdf["doc_id"], pdf["source"]))
            for d, pdf in _read_shards(path).items()
        }

    first = shard_orders(out)
    assert sorted(first) == ["shard=0", "shard=1", "shard=2", "shard=3"]

    # the physical row order within each file IS ascending ord_key —
    # recompute the hash in duckdb and check both the within-shard sort
    # and that shard ranges partition the hash space contiguously
    import duckdb

    hashes = dict(
        duckdb.connect()
        .execute(
            "SELECT doc_id, ('0x' || substr(md5('shuffle|epoch0|' ||"
            " CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
            f" FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        .fetchall()
    )
    prev_max = -1
    for d in sorted(first):
        hs = [hashes[doc] for doc, _ in first[d]]
        assert hs == sorted(hs), f"{d}: file rows not in ord_key order"
        if hs:
            assert hs[0] > prev_max, "shard hash ranges overlap"
            prev_max = hs[-1]

    # sources interleaved: every shard sees several sources, and no shard
    # is a single contiguous source block
    for d, rows in first.items():
        srcs = [s for _, s in rows]
        assert len(set(srcs)) >= 2, f"{d}: single-source shard"
        assert len({s for s in srcs[: len(srcs) // 2]}) >= 2

    # rewrite-stable: identical per-shard row order, byte-for-byte
    out2 = str(tmp_path / "shuf2")
    write_shuffled(docs, out2, n_shards=4)
    assert shard_orders(out2) == first

    # a new salt (epoch reshuffle) is a different permutation of the
    # same rows
    out3 = str(tmp_path / "shuf3")
    write_shuffled(docs, out3, n_shards=4, salt="epoch1")
    third = shard_orders(out3)
    assert sorted(r for rows in third.values() for r in rows) == sorted(
        r for rows in first.values() for r in rows
    )
    assert third != first


def test_materialize_training_set_end_to_end(spark, sf_dir, tmp_path):
    """The composed corpus build (curate -> chunk -> deterministic
    shuffle write) lands a training set that is: exactly the curated
    corpus's chunks (no loss, no leaks of gated docs), byte-stable
    across rewrites, document-scattered (a doc's chunks do NOT sit
    together - the shuffle key is the chunk), and re-salted into a
    different permutation per epoch."""
    import glob

    import pandas as pd

    from mapreduce_code_spark.operators.sampling import chunk_documents
    from mapreduce_code_spark.plans.pipeline import (
        curated_corpus,
        materialize_training_set,
    )
    from mapreduce_code_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "train_set")
    materialize_training_set(docs, out, n_shards=4)

    def read_orders(path):
        return list(_read_shards(path).values())

    shards = read_orders(out)
    got = pd.concat(shards, ignore_index=True)

    # exactness: the landed chunk set == chunk_documents over the
    # curated survivors, nothing more, nothing less
    kept_ids = {
        r["doc_id"] for r in curated_corpus(docs).select("doc_id").collect()
    }
    want = {
        (r["doc_id"], r["chunk_id"], r["chunk_text"])
        for r in chunk_documents(
            docs.where(F.col("doc_id").isin(kept_ids)).select(
                "doc_id", "text"
            )
        ).collect()
    }
    assert {
        (r.doc_id, r.chunk_id, r.chunk_text) for r in got.itertuples()
    } == want
    assert set(got["doc_id"]) == kept_ids

    # scatter: multi-chunk docs must not have all chunks adjacent in the
    # replay order (the shuffle key is the chunk, not the doc)
    replay = [
        (r.doc_id, r.chunk_id)
        for pdf in shards
        for r in pdf.itertuples()
    ]
    multi = got.groupby("doc_id").size()
    multi = set(multi[multi >= 2].index)
    assert multi, "fixture corpus should produce multi-chunk docs"
    adjacent_runs = sum(
        1
        for (a, _), (b, _) in zip(replay, replay[1:])
        if a == b
    )
    assert adjacent_runs < len(replay) / 4, "chunks still doc-clumped"

    # rewrite-stable; re-salt -> same rows, different order
    out2 = str(tmp_path / "train_set2")
    materialize_training_set(docs, out2, n_shards=4)
    assert [p.to_dict("list") for p in read_orders(out2)] == [
        p.to_dict("list") for p in shards
    ]
    out3 = str(tmp_path / "train_set3")
    materialize_training_set(docs, out3, n_shards=4, salt="epoch1")
    replay3 = [
        (r.doc_id, r.chunk_id)
        for pdf in read_orders(out3)
        for r in pdf.itertuples()
    ]
    assert sorted(replay3) == sorted(replay) and replay3 != replay


def test_ingest_training_set_batching_invariant(spark, sf_dir, tmp_path):
    """The incremental file-stream ingest (foreachBatch through the
    same curate→chunk chain) lands EXACTLY the one-shot batch layout:
    same shards, same within-shard row order, for an ordered 3-file
    split processed as 3 micro-batches — including cross-batch exact
    dups (last-batch copies of first-batch texts must lose to the
    earlier keeper) and quality shadowing (a low-quality
    first-arrival's later dup must NOT resurrect). Runs with
    compact_every=1, so the invariance is proven WITH the hash-log
    compaction folding history mid-ingest."""
    import os
    import time

    import pandas as pd

    from mapreduce_code_spark.plans.pipeline import (
        ingest_training_set,
        materialize_training_set,
    )
    from mapreduce_code_spark.sources.io import load_table

    base = load_table(spark, sf_dir, "documents").toPandas()
    q1, q2 = base["doc_id"].quantile([1 / 3, 2 / 3])
    lowq_text = "zz " * 40 + "zz"  # degenerate vocab -> fails the gate
    big = int(base["doc_id"].max()) + 1
    low = pd.concat(
        [
            base[base.doc_id <= q1],
            # low-quality first arrival whose hash must shadow the last
            # batch's dup of it
            pd.DataFrame(
                [
                    {
                        "doc_id": big,
                        "text": lowq_text,
                        "lang": "en",
                        "source": "src0",
                        "n_chars": len(lowq_text),
                    }
                ]
            ),
        ],
        ignore_index=True,
    )
    mid = base[(base.doc_id > q1) & (base.doc_id <= q2)]
    dup_src = base.nsmallest(3, "doc_id")
    dups = pd.DataFrame(
        {
            "doc_id": [big + 1 + i for i in range(3)] + [big + 4],
            "text": list(dup_src["text"]) + [lowq_text],
            "lang": ["en"] * 4,
            "source": ["src0"] * 4,
            "n_chars": [len(t) for t in dup_src["text"]] + [len(lowq_text)],
        }
    )
    high = pd.concat(
        [base[base.doc_id > q2], dups], ignore_index=True
    )
    src = tmp_path / "docs_in"
    src.mkdir()
    # THREE files / three micro-batches: batch 2 is the first whose
    # compaction (at batch start) has >= 2 committed logs to fold
    low.to_parquet(src / "f0.parquet", index=False)
    mid.to_parquet(src / "f1.parquet", index=False)
    high.to_parquet(src / "f2.parquet", index=False)
    # the file source orders by modification time: pin strict order
    now = time.time()
    for i, f in enumerate(["f0.parquet", "f1.parquet", "f2.parquet"]):
        os.utime(src / f, (now - 120 + 60 * i, now - 120 + 60 * i))

    all_docs = spark.read.parquet(str(src))
    out_batch = str(tmp_path / "out_batch")
    materialize_training_set(all_docs, out_batch, n_shards=4)

    stream = (
        spark.readStream.schema(all_docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out_stream = str(tmp_path / "out_stream")
    staging = str(tmp_path / "staging")
    # compact_every=1 runs the hash-log compaction at every batch start
    # — the invariance below (streamed ≡ batch shards, cross-batch dups
    # and quality shadowing included) is therefore proven WITH
    # compaction folding the history mid-ingest
    ingest_training_set(
        stream,
        out_stream,
        staging,
        str(tmp_path / "ckpt"),
        n_shards=4,
        compact_every=1,
    )

    # non-vacuity: the stream really ran as (at least) three micro-batches
    import glob

    batch_dirs = glob.glob(f"{staging}/chunks/batch_id=*")
    assert len(batch_dirs) >= 3, batch_dirs
    # ...and compaction really folded the early hash logs: batch 0's
    # original partition is gone, a negative compacted partition exists
    hash_dirs = {
        d.rsplit("batch_id=", 1)[1]
        for d in glob.glob(f"{staging}/hashes/batch_id=*")
    }
    assert any(h.startswith("-") for h in hash_dirs), hash_dirs
    assert "0" not in hash_dirs, hash_dirs

    got = {
        s: pdf[["doc_id", "chunk_id", "chunk_text"]].to_dict("list")
        for s, pdf in _read_shards(out_stream).items()
    }
    want = {
        s: pdf[["doc_id", "chunk_id", "chunk_text"]].to_dict("list")
        for s, pdf in _read_shards(out_batch).items()
    }
    assert got == want
    landed = {d for s in got.values() for d in s["doc_id"]}
    # every planted duplicate (and the low-quality doc + its dup) lost
    assert landed.isdisjoint({big, big + 1, big + 2, big + 3, big + 4})
    assert landed  # and the build is not vacuously empty


def test_ingest_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Crash-replay safety of the incremental ingest: re-running a
    micro-batch AFTER its staging writes landed (the crash-between-
    write-and-checkpoint-commit case Structured Streaming replays) must
    reproduce byte-identical staging content — in particular the
    replayed batch must NOT anti-join against its own half-written hash
    log and erase itself."""
    import glob

    import pandas as pd

    from mapreduce_code_spark.plans.pipeline import _ingest_batch
    from mapreduce_code_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    staging = str(tmp_path / "staging")

    def snapshot():
        return {
            kind: pd.read_parquet(f"{staging}/{kind}")
            .sort_values(by=lambda_cols[kind], ignore_index=True)
            .to_dict("list")
            for kind in ("hashes", "chunks")
        }

    lambda_cols = {
        "hashes": ["batch_id", "content_hash"],
        "chunks": ["batch_id", "chunk_key"],
    }
    _ingest_batch(b0, 0, staging, 0.75, 32, 24)
    _ingest_batch(b1, 1, staging, 0.75, 32, 24)
    first = snapshot()
    assert first["hashes"]["content_hash"], "vacuous: nothing staged"
    # replay both batches (same data, same ids) — identical staging
    _ingest_batch(b1, 1, staging, 0.75, 32, 24)
    assert snapshot() == first
    _ingest_batch(b0, 0, staging, 0.75, 32, 24)
    assert snapshot() == first
    # still exactly one subdir per batch, no stray appends
    assert len(glob.glob(f"{staging}/chunks/batch_id=*")) == 2


def test_epoch_manifest_rebuilds_from_shards_without_recuration(
    spark, sf_dir, tmp_path
):
    """epoch_manifest over WRITTEN shards at a new salt must equal the
    from-scratch training_manifest at that salt row-for-row (the
    permutation is a pure function of (salt, chunk_key), and the shards
    already hold exactly the surviving chunks) — and actually be a
    DIFFERENT permutation than the written epoch (else the reshuffle is
    vacuous)."""
    from mapreduce_code_spark.plans.pipeline import (
        epoch_manifest,
        materialize_training_set,
        training_manifest,
    )
    from mapreduce_code_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    materialize_training_set(docs, out)

    got = sorted(map(tuple, epoch_manifest(spark, out, salt="epoch1").collect()))
    want = sorted(
        map(tuple, training_manifest(docs, salt="epoch1").collect())
    )
    assert got == want
    assert got, "vacuous: empty epoch manifest"
    epoch0 = sorted(map(tuple, training_manifest(docs, salt="epoch0").collect()))
    assert got != epoch0  # a new salt is a genuinely new permutation


def test_epoch_write_obeys_the_epoch_manifest(spark, sf_dir, tmp_path):
    """materialize_epoch (r7 verdict #6): flipping the WRITTEN epoch-0
    shards to a new salt must land bytes that obey epoch_manifest's
    description EXACTLY — per shard, the manifest rows in pos order are
    the written epoch-1 file's row order, chunk_md5 fingerprints the
    written text (the epoch-1 edition of the manifest≡written-contract
    test) — while holding precisely epoch 0's chunk set (a flip moves
    chunks, never loses or invents them) in a genuinely different
    layout."""
    import hashlib
    from collections import defaultdict

    from mapreduce_code_spark.plans.pipeline import (
        epoch_manifest,
        materialize_epoch,
        materialize_training_set,
    )
    from mapreduce_code_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    out0 = str(tmp_path / "epoch0")
    out1 = str(tmp_path / "epoch1")
    materialize_training_set(docs, out0, n_shards=4)
    materialize_epoch(spark, out0, out1, salt="epoch1", n_shards=4)

    manifest = (
        epoch_manifest(spark, out0, salt="epoch1", n_shards=4)
        .orderBy("shard", "pos")
        .collect()
    )
    by_shard = defaultdict(list)
    for r in manifest:
        by_shard[r["shard"]].append(
            (r["doc_id"], r["chunk_id"], r["chunk_md5"])
        )
        assert r["pos"] == len(by_shard[r["shard"]])  # dense 1-based rank

    def read_layout(path):
        return {
            int(shard.split("=", 1)[1]): [
                (
                    r.doc_id,
                    r.chunk_id,
                    hashlib.md5(r.chunk_text.encode()).hexdigest(),
                )
                for r in pdf.itertuples()
            ]
            for shard, pdf in _read_shards(path).items()
        }

    written1 = read_layout(out1)
    assert dict(by_shard) == written1  # the manifest IS the written contract
    written0 = read_layout(out0)
    chunks0 = sorted(c for rows in written0.values() for c in rows)
    chunks1 = sorted(c for rows in written1.values() for c in rows)
    assert chunks0 == chunks1 and chunks0  # same chunk set, moved not lost
    assert written0 != written1  # and a genuinely different layout


def test_epoch_layout_manifest_audits_physical_placement(
    spark, sf_dir, tmp_path
):
    """epoch_layout_manifest (r9 registration pipeline_materialize_epoch):
    the manifest read OFF the written epoch-1 bytes — shard from the
    hive partition column, pos re-ranked within each physical shard —
    must equal the from-scratch training manifest at the epoch salt
    (that equivalence is what lets the registered row share
    training_manifest_sql as its oracle). And because shard is the
    PHYSICAL placement, tampering with the layout (swapping two shard
    directories on disk) must break the audit — the property the
    description-row it replaced could not check."""
    import os

    from mapreduce_code_spark.plans.pipeline import (
        epoch_layout_manifest,
        materialize_epoch,
        materialize_training_set,
        training_manifest,
    )
    from mapreduce_code_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    out0 = str(tmp_path / "epoch0")
    out1 = str(tmp_path / "epoch1")
    materialize_training_set(docs, out0, n_shards=4)
    materialize_epoch(spark, out0, out1, salt="epoch1", n_shards=4)

    got = sorted(
        map(tuple, epoch_layout_manifest(spark, out1, salt="epoch1").collect())
    )
    want = sorted(
        map(
            tuple,
            training_manifest(docs, salt="epoch1", n_shards=4).collect(),
        )
    )
    assert got == want and got

    # physical tamper: swap two shard directories; the audit must see it
    a, b, tmp = (
        os.path.join(out1, "shard=0"),
        os.path.join(out1, "shard=1"),
        os.path.join(out1, "shard=.swap"),
    )
    os.rename(a, tmp)
    os.rename(b, a)
    os.rename(tmp, b)
    tampered = sorted(
        map(tuple, epoch_layout_manifest(spark, out1, salt="epoch1").collect())
    )
    assert tampered != want


def test_ingest_hash_log_oracle_with_compaction(spark, sf_dir, tmp_path):
    """ingest_hash_log (r8 registration candidate): the streamed
    ingest's seen-hash ledger through the ACTUAL 3-batch checkpointed
    path with compact_every=1 must (1) really have compacted — exactly
    one negative-id partition holding batches 0-1's fold, plus batch
    2's own log; (2) hash-match the one-line oracle (DISTINCT
    sha256(text) over the corpus) — which catches dropped
    first-arrivals, duplicate log rows, and compaction losing or
    resurrecting hashes; and (3) on a planted frame whose duplicate
    texts straddle all three doc_id slices (one of them a low-quality
    first-arrival), hold exactly one row per distinct text — the
    quality-shadowing contract across batch AND compaction boundaries."""
    import glob

    from mapreduce_code_spark.plans.pipeline import (
        ingest_hash_log,
        ingest_hash_log_sql,
    )
    from mapreduce_code_spark.sources.io import load_table

    from tests.helpers import assert_parity

    docs = load_table(spark, sf_dir, "documents")
    work = str(tmp_path / "real")
    ledger = ingest_hash_log(docs, work)
    parts = sorted(
        int(p.rsplit("=", 1)[1])
        for p in glob.glob(f"{work}/staging/hashes/batch_id=*")
    )
    assert parts == [-2, 2]  # batches 0-1 folded, batch 2's own log
    assert_parity(ledger, sf_dir, ingest_hash_log_sql())

    dup = "the same exact duplicated document text appearing thrice"
    planted = spark.createDataFrame(
        [
            (i, dup if i in (1, 5, 9) else f"unique text number {i}")
            for i in range(1, 10)
        ],
        "doc_id bigint, text string",
    )
    got = ingest_hash_log(planted, str(tmp_path / "planted"))
    hashes = [r.content_hash for r in got.collect()]
    assert len(hashes) == len(set(hashes)) == 7  # 6 uniques + the dup once


def test_epoch_transfer_plan_oracle_marginals_and_pruned_window(
    spark, sf_dir, tmp_path
):
    """epoch_transfer_plan (r8 registration candidate): the
    (shard_from, shard_to) chunk/char transfer matrix of an epoch flip,
    read off the WRITTEN shards. Pins three things: (1) DuckDB-oracle
    parity against epoch_transfer_plan_sql, which recomputes BOTH
    epochs' shard hashes from the raw documents — so one match covers
    layout fidelity and flip algebra; (2) the marginals are consistent
    — shard_from row-sums equal the written layout's per-shard chunk
    counts, shard_to row-sums equal the new epoch manifest's, and the
    grand total is the surviving-chunk count; (3) the plan really is
    scan+aggregate — shuffle_order's unused rank window is PRUNED by
    Catalyst (no Window node), which is the whole point: pricing a flip
    costs one pass, not the flip."""
    from collections import Counter

    from mapreduce_code_spark.plans.pipeline import (
        epoch_manifest,
        epoch_transfer_plan,
        epoch_transfer_plan_sql,
        materialize_training_set,
    )
    from mapreduce_code_spark.sources.io import load_table

    from tests.helpers import assert_parity

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    materialize_training_set(docs, out)

    plan_df = epoch_transfer_plan(spark, out, salt="epoch1")
    assert_parity(plan_df, sf_dir, epoch_transfer_plan_sql(salt="epoch1"))

    matrix = plan_df.collect()
    from_marg = Counter()
    to_marg = Counter()
    for r in matrix:
        from_marg[r.shard_from] += r.n_chunks
        to_marg[r.shard_to] += r.n_chunks
    layout = Counter(
        {
            r.shard: r.cnt
            for r in spark.read.parquet(out)
            .groupBy("shard")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
    )
    flipped = Counter(
        {
            r.shard: r.cnt
            for r in epoch_manifest(spark, out, salt="epoch1")
            .groupBy("shard")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
    )
    assert from_marg == layout
    assert to_marg == flipped
    assert sum(from_marg.values()) == sum(layout.values()) > 0
    # a genuinely different salt moves chunks: some off-diagonal mass
    assert any(r.shard_from != r.shard_to for r in matrix)

    plan_txt = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan_txt  # the rank window must be pruned


def test_epoch_manifest_registration_cache_and_parity(spark, sf_dir):
    """The epoch-flip registration (pipeline_materialize_epoch, which
    rewrites the epoch's bytes and audits them): the
    materialized-shards source is built once per sf_dir and validated
    on hit (the _INGEST_SPLITS pattern — a cleaned dir is rebuilt, not
    trusted), the flip salt genuinely differs from the written epoch's,
    and the registered row — which physically rewrites the epoch and
    audits the written layout — matches the oracle that recomputes the
    manifest from the RAW documents at EPOCH_SALT, pinning placement,
    flip algebra, and content together. The returned frame must survive
    the temp epoch-1 directory's cleanup (it is checkpoint-pinned)."""
    import glob
    import shutil

    from mapreduce_code_spark import registry as REG
    from mapreduce_code_spark.plans import pipeline as PIPE

    from tests.helpers import assert_parity

    assert REG.EPOCH_SALT != PIPE.TRAIN_SALT
    REG._EPOCH_SHARDS.pop(sf_dir, None)
    src = REG._epoch_shards_src(spark, sf_dir)
    assert REG._epoch_shards_src(spark, sf_dir) == src  # hit, no rebuild
    assert len(glob.glob(f"{src}/shard=*")) == PIPE.TRAIN_SHARDS

    # the registered bytes-row: q fn has already reaped its temp epoch-1
    # dir by the time the frame is consumed here
    assert_parity(
        REG.queries()["pipeline_materialize_epoch"](spark, sf_dir),
        sf_dir,
        REG.oracle_sql()["pipeline_materialize_epoch"],
    )

    # a cleaned dir is detected on hit and rebuilt, not trusted
    shutil.rmtree(src)
    assert glob.glob(f"{REG._epoch_shards_src(spark, sf_dir)}/shard=*")


def test_ingest_manifest_equals_batch_manifest(spark, sf_dir, tmp_path):
    """The registered streamed-ingest row (pipeline_ingest_manifest):
    driving the corpus as three real micro-batches — compact_every=1
    since r8, so batch 2 genuinely folds the hash-log history
    mid-ingest — through the checkpointed foreachBatch chain and
    ranking the staged chunks must land EXACTLY the one-shot
    training_manifest rows — that equality is what lets the streamed
    path share the batch manifest's DuckDB oracle, compaction included.
    Also checks the returned frame survives work-dir deletion (it is
    checkpoint-pinned)."""
    import glob
    import shutil

    from mapreduce_code_spark.plans.pipeline import (
        ingest_manifest,
        training_manifest,
    )
    from mapreduce_code_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    work = str(tmp_path / "work")
    got_df = ingest_manifest(docs, work)
    # non-vacuity: three staged batches and a real compaction fold
    assert len(glob.glob(f"{work}/staging/chunks/batch_id=*")) == 3
    assert any(
        "batch_id=-" in p
        for p in glob.glob(f"{work}/staging/hashes/batch_id=*")
    )
    shutil.rmtree(work)  # nothing lazy may still read from it
    got = sorted(map(tuple, got_df.collect()))
    want = sorted(map(tuple, training_manifest(docs).collect()))
    assert got == want
    assert got, "vacuous: empty manifest"


def test_ingest_split_cache_and_contents(spark, sf_dir):
    """The process-cached stream source shared by the two streamed
    ingest rows (ADVICE r7, low; 3-file since r8 so compact_every=1
    genuinely folds): one build per (sf_dir, n_files) with validated
    hits, ascending-doc_id slices whose union is exactly the corpus,
    strictly increasing mtimes anchored at now (no future-stamped
    files — round-7 advisor item) so the file source replays them in
    order, and no scratch dirs left inside the source listing."""
    import glob
    import os
    import time

    from mapreduce_code_spark import registry as REG
    from mapreduce_code_spark.sources.io import load_table

    REG._INGEST_SPLITS.pop((sf_dir, 3), None)
    src = REG._ingest_split_src(spark, sf_dir)
    assert REG._ingest_split_src(spark, sf_dir) == src  # hit, no rebuild
    files = sorted(glob.glob(f"{src}/f*.parquet"))
    assert len(files) == 3 and not glob.glob(f"{src}/_split*")
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    assert mtimes[-1] <= time.time()  # newest lands at now, never future

    docs = load_table(spark, sf_dir, "documents")
    slices = [
        sorted(
            r.doc_id
            for r in spark.read.parquet(f).select("doc_id").collect()
        )
        for f in files
    ]
    for a, b in zip(slices, slices[1:]):
        assert a and b and a[-1] < b[0]  # disjoint ascending slices
    allids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    assert sorted(sum(slices, [])) == allids

    # a cleaned dir is detected on hit and rebuilt, not trusted
    import shutil

    shutil.rmtree(src)
    assert glob.glob(f"{REG._ingest_split_src(spark, sf_dir)}/f*.parquet")


def test_ingest_history_dedup_never_shuffles_the_log(spark, sf_dir, tmp_path):
    """The per-batch seen-hash check must stay sub-shuffle in the hash
    log (r6 verdict #6): the log grows with corpus history, so the plan
    may SCAN it (hash-only rows, filtered at the scanner by the
    broadcast semi-reduce) but must never put it through a shuffle
    Exchange — the only exchanges in the whole dedup-against-history
    plan are broadcasts. Also re-proves the semantics: a batch-1 dup of
    a batch-0 hash is dropped, fresh hashes survive."""
    from mapreduce_code_spark.plans.pipeline import (
        _dedup_against_history,
        _ingest_batch,
    )
    from mapreduce_code_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    staging = str(tmp_path / "staging")
    _ingest_batch(docs.filter(F.col("doc_id") % 2 == 0), 0, staging, 0.75, 32, 24)

    keep = (
        docs.filter(F.col("doc_id") % 4 == 1)
        .select("doc_id", F.sha2(F.col("text"), 256).alias("content_hash"))
        .unionAll(
            docs.filter(F.col("doc_id") % 2 == 0)
            .limit(3)
            .select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"),
                F.sha2(F.col("text"), 256).alias("content_hash"),
            )
        )
        .localCheckpoint()
    )
    def shuffles(node) -> int:
        n = 1 if node.nodeName() == "Exchange" else 0
        ch = node.children()
        return n + sum(shuffles(ch.apply(i)) for i in range(ch.size()))

    from mapreduce_code_spark.plans.pipeline import _history_hits

    # the log-side plan (before the checkpoint pin): one parquet scan of
    # the history, semi-reduced by a broadcast — no Exchange anywhere
    hits_plan = (
        _history_hits(keep, f"{staging}/hashes", 1)
        ._jdf.queryExecution()
        .executedPlan()
    )
    assert shuffles(hits_plan) == 0, hits_plan.toString()
    assert "BroadcastExchange" in hits_plan.toString()

    out = _dedup_against_history(keep, f"{staging}/hashes", 1)
    plan = out._jdf.queryExecution().executedPlan()
    assert shuffles(plan) == 0, plan.toString()
    assert "BroadcastExchange" in plan.toString()
    got = {r["doc_id"] for r in out.collect()}
    want = {
        r["doc_id"] for r in docs.filter(F.col("doc_id") % 4 == 1).collect()
    }
    assert got == want, "history dups must drop, fresh hashes must survive"


def test_compact_hash_log_folds_history_safely(spark, sf_dir, tmp_path):
    """compact_hash_log semantics: committed batch logs fold into ONE
    distinct sorted negative-id partition; the distinct hash set is
    byte-preserved; dedup against the compacted history still drops a
    later batch's dups; a REPLAY of the first uncompacted batch after
    compaction reproduces identical staging (its own hashes were never
    folded below its id); and re-running the compaction is a no-op."""
    import glob

    import pandas as pd

    from mapreduce_code_spark.plans.pipeline import (
        _ingest_batch,
        compact_hash_log,
    )
    from mapreduce_code_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    staging = str(tmp_path / "staging")
    _ingest_batch(docs.filter(F.col("doc_id") % 3 == 0), 0, staging, 0.75, 32, 24)
    _ingest_batch(docs.filter(F.col("doc_id") % 3 == 1), 1, staging, 0.75, 32, 24)
    before = set(pd.read_parquet(f"{staging}/hashes")["content_hash"])

    compact_hash_log(spark, staging, before_batch_id=2)
    dirs = {
        d.rsplit("batch_id=", 1)[1]
        for d in glob.glob(f"{staging}/hashes/batch_id=*")
    }
    assert dirs == {"-2"}, dirs
    assert set(pd.read_parquet(f"{staging}/hashes")["content_hash"]) == before

    # batch 2 with a planted dup of a batch-0 text: the compacted
    # history must still shadow it
    dup = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .limit(1)
        .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    b2 = docs.filter(F.col("doc_id") % 3 == 2).select("doc_id", "text").unionAll(dup)
    _ingest_batch(b2, 2, staging, 0.75, 32, 24)
    staged2 = pd.read_parquet(glob.glob(f"{staging}/chunks/batch_id=2")[0])
    assert not (staged2["doc_id"] >= 10_000_000).any(), "compacted history lost a hash"
    snap2 = staged2.sort_values("chunk_key", ignore_index=True).to_dict("list")

    # replay batch 2 (crash-before-commit case) — identical staging;
    # its own hashes sit at batch_id=2, never below it
    _ingest_batch(b2, 2, staging, 0.75, 32, 24)
    replay2 = (
        pd.read_parquet(glob.glob(f"{staging}/chunks/batch_id=2")[0])
        .sort_values("chunk_key", ignore_index=True)
        .to_dict("list")
    )
    assert replay2 == snap2

    # idempotent: nothing left to fold below 2
    compact_hash_log(spark, staging, before_batch_id=2)
    dirs_after = {
        d.rsplit("batch_id=", 1)[1]
        for d in glob.glob(f"{staging}/hashes/batch_id=*")
    }
    assert dirs_after == {"-2", "2"}, dirs_after


def test_ingest_refuses_stale_staging_with_fresh_checkpoint(
    spark, sf_dir, tmp_path
):
    """A FRESH checkpoint restarts batch ids at 0 while per-batch staging
    only overwrites its OWN batch_id subdir — so staged content from a
    PRIOR run under a new checkpoint would silently merge stale batches
    into the final write. ingest_training_set must refuse that
    combination up front (round-6 advisor item); resuming with the
    checkpoint that produced the staging stays allowed (the replay and
    batching-invariance tests)."""
    import pytest

    from mapreduce_code_spark.plans.pipeline import (
        _ingest_batch,
        ingest_training_set,
    )
    from mapreduce_code_spark.sources.io import load_table, load_table_stream

    docs = load_table(spark, sf_dir, "documents")
    staging = str(tmp_path / "staging")
    _ingest_batch(docs.limit(5), 0, staging, 0.75, 32, 24)
    stream = load_table_stream(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="staging"):
        ingest_training_set(
            stream,
            str(tmp_path / "out"),
            staging,
            str(tmp_path / "fresh_ckpt"),
        )


def test_ingest_resume_guard_requires_contiguous_staged_batches(
    spark, sf_dir, tmp_path
):
    """The converse of the stale-staging guard (round-7 advisor item): a
    RESUME — checkpoint exists — whose staging was cleared or partially
    lost must refuse up front, because the checkpoint says the early
    batches already ran (they will never replay) and the final write
    would silently miss their chunks. A healthy resume (checkpoint and
    staging intact, no new source files) stays allowed and is a no-op
    re-layout."""
    import glob
    import shutil

    from mapreduce_code_spark.plans.pipeline import (
        ingest_training_set,
        write_ingest_split,
    )
    from mapreduce_code_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents").limit(40)
    src = str(tmp_path / "src")
    write_ingest_split(docs, src, n_files=2)

    def stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    out = str(tmp_path / "out")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    ingest_training_set(stream(), out, staging, ckpt)
    staged = glob.glob(f"{staging}/chunks/batch_id=*")
    assert len(staged) == 2, staged
    # healthy resume against the REAL checkpoint layout: allowed
    ingest_training_set(stream(), out, staging, ckpt)
    # a compacted ledger layout — batches 0..1 folded into batch_id=-2,
    # originals gone — still counts as full coverage (round-8 advisor
    # item: the guard must understand subsumption, not demand the
    # original per-batch dirs back)
    shutil.move(
        f"{staging}/hashes/batch_id=0", f"{staging}/hashes/batch_id=-2"
    )
    shutil.rmtree(f"{staging}/hashes/batch_id=1")
    ingest_training_set(stream(), out, staging, ckpt)
    # an EMPTY older compacted remnant (batch_id=-1 when -2 exists) is
    # what an interrupted post-fold delete leaves behind — it is fully
    # subsumed by the newer fold, so resume must still be allowed
    # (compact_hash_log's crash-safety contract: resume and re-fold,
    # never hand-repair; review finding)
    import os

    os.makedirs(f"{staging}/hashes/batch_id=-1")
    ingest_training_set(stream(), out, staging, ckpt)
    shutil.rmtree(f"{staging}/hashes/batch_id=-1")
    # a covering dir whose data FILES were deleted but whose name
    # survives (r9 advisor item): name coverage alone would pass, so
    # the per-dir data-file check must refuse
    for p in glob.glob(f"{staging}/hashes/batch_id=-2/*"):
        os.remove(p) if os.path.isfile(p) else shutil.rmtree(p)
    with pytest.raises(ValueError, match="no data files"):
        ingest_training_set(stream(), out, staging, ckpt)
    # the hashes ledger ALONE lost under a live checkpoint: must refuse
    # (chunks intact — resumed batches would anti-join against nothing
    # and re-admit previously-seen documents)
    shutil.rmtree(f"{staging}/hashes/batch_id=-2")
    with pytest.raises(ValueError, match="hash ledger"):
        ingest_training_set(stream(), out, staging, ckpt)
    # staging chunks partially lost under a live checkpoint: must refuse
    shutil.rmtree(f"{staging}/chunks/batch_id=0")
    with pytest.raises(ValueError, match="missing chunk dirs"):
        ingest_training_set(stream(), out, staging, ckpt)


def test_training_manifest_is_the_written_contract(spark, sf_dir, tmp_path):
    """training_manifest (the registered driver row) must describe the
    bytes materialize_training_set lays on disk EXACTLY: per shard, the
    manifest rows in pos order are the written file's row order, and
    chunk_md5 fingerprints the written chunk_text — so the oracled
    manifest row genuinely pins the write path, not a parallel
    reimplementation. Also oracle-parity for the registered query."""
    import hashlib

    from mapreduce_code_spark.plans.pipeline import (
        materialize_training_set,
        training_manifest,
    )
    from mapreduce_code_spark.registry import oracle_sql, queries
    from mapreduce_code_spark.sources.io import load_table
    from tests.helpers import assert_parity

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "train_set")
    materialize_training_set(docs, out, n_shards=4)
    manifest = (
        training_manifest(docs, n_shards=4)
        .orderBy("shard", "pos")
        .collect()
    )
    written = {
        int(shard.split("=", 1)[1]): [
            (r.doc_id, r.chunk_id, hashlib.md5(r.chunk_text.encode()).hexdigest())
            for r in pdf.itertuples()
        ]
        for shard, pdf in _read_shards(out).items()
    }
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in manifest:
        by_shard[r["shard"]].append((r["doc_id"], r["chunk_id"], r["chunk_md5"]))
        assert r["pos"] == len(by_shard[r["shard"]])  # dense 1-based rank
    assert dict(by_shard) == written

    assert_parity(
        queries()["pipeline_materialize_manifest"](spark, sf_dir),
        sf_dir,
        oracle_sql()["pipeline_materialize_manifest"],
    )


def test_ingest_run_is_shared_and_evictable(spark, sf_dir):
    """The two ingest rows share ONE completed streamed run per corpus
    (r9 verdict #3): the first registered query materializes it, the
    second reuses the same staging dir (no second writeStream), and
    evict_cached('ingest_run') — bench.py's owner hook — deletes the
    run so the owner's next timed call pays the cold streamed path."""
    import os

    from mapreduce_code_spark import registry

    registry.evict_cached("ingest_run")
    assert sf_dir not in registry._INGEST_RUNS
    first = registry.queries()["pipeline_ingest_manifest"](spark, sf_dir)
    assert first.count() > 0
    base, staging = registry._INGEST_RUNS[sf_dir]
    ledger = registry.queries()["pipeline_ingest_hash_log"](spark, sf_dir)
    assert ledger.count() > 0
    # same run dir — the second query did NOT rebuild
    assert registry._INGEST_RUNS[sf_dir] == (base, staging)
    registry.evict_cached("ingest_run")
    assert sf_dir not in registry._INGEST_RUNS
    assert not os.path.exists(base)


def test_evict_cached_is_scoped_to_the_calling_session(spark, sf_dir):
    """evict_cached(kind, spark) must leave a concurrently-live OTHER
    session's cache untouched (r9 advisor item: _cached_df deliberately
    never degrades a live second session; the eviction hook has to
    honor the same policy), while evict_cached(kind) keeps the old
    evict-all behavior."""
    from mapreduce_code_spark import registry

    class _OtherSessionFrame:
        sparkSession = object()  # not `spark`, and can't be probed
        unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    other = _OtherSessionFrame()
    key = ("transactions", 12345, "/nonexistent/sf")
    registry._DF_CACHE[key] = other
    try:
        registry.evict_cached("transactions", spark)
        assert key in registry._DF_CACHE and not other.unpersisted
        registry.evict_cached("transactions")
        assert key not in registry._DF_CACHE and other.unpersisted
    finally:
        registry._DF_CACHE.pop(key, None)
