"""Oracle-parity + property tests for the general relational surface."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_code_spark.operators import relational as R
from mapreduce_code_spark.sources.io import load_table
from tests.helpers import assert_parity, duckdb_run


def test_pricing_summary_parity(spark, sf_dir):
    assert_parity(
        R.pricing_summary(load_table(spark, sf_dir, "lineitem")),
        sf_dir,
        R.pricing_summary_sql(),
    )


def test_topk_parts_per_brand_parity(spark, sf_dir):
    df = R.topk_parts_per_brand(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )
    assert_parity(df, sf_dir, R.topk_parts_per_brand_sql())
    # property: at most k rows per brand, ranks are 1..n
    pdf = df.toPandas()
    per_brand = pdf.groupby("p_brand")["rnk"].agg(["max", "count"])
    assert (per_brand["max"] == per_brand["count"]).all()
    assert (per_brand["count"] <= 3).all()


def test_rollup_pricing_parity(spark, sf_dir):
    df = R.rollup_pricing(load_table(spark, sf_dir, "lineitem"))
    assert_parity(df, sf_dir, R.rollup_pricing_sql())
    # property: grand total equals the sum of the leaf rows
    pdf = df.toPandas()
    leaves = pdf[(pdf.returnflag != "ALL") & (pdf.linestatus != "ALL")]
    grand = pdf[(pdf.returnflag == "ALL") & (pdf.linestatus == "ALL")]
    assert len(grand) == 1
    assert int(leaves.n_rows.sum()) == int(grand.n_rows.iloc[0])


def test_setops_parity(spark, sf_dir):
    assert_parity(
        R.priority_customer_setops(load_table(spark, sf_dir, "orders")),
        sf_dir,
        R.priority_customer_setops_sql(),
    )


def test_filter_case_orders_parity(spark, sf_dir):
    assert_parity(
        R.filter_case_orders(load_table(spark, sf_dir, "orders")),
        sf_dir,
        R.filter_case_orders_sql(),
    )


def test_distinct_part_stats_parity_and_approx(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    assert_parity(R.distinct_part_stats(part), sf_dir, R.distinct_part_stats_sql())
    # approx_count_distinct within its default ~5% rsd of the exact count
    exact = {
        r["p_type"]: r["n_brands"]
        for r in R.distinct_part_stats(part).collect()
    }
    approx = {
        r["p_type"]: r["a"]
        for r in part.groupBy("p_type")
        .agg(F.approx_count_distinct("p_brand").alias("a"))
        .collect()
    }
    for t, n in exact.items():
        assert abs(approx[t] - n) <= max(2, 0.15 * n)


def test_customer_order_history_parity(spark, sf_dir):
    assert_parity(
        R.customer_order_history(load_table(spark, sf_dir, "orders")),
        sf_dir,
        R.customer_order_history_sql(),
    )


def test_events_orders_asof_parity(spark, sf_dir):
    df = R.events_orders_asof(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "orders")
    )
    assert_parity(df, sf_dir, R.events_orders_asof_sql())
    # property: every matched order predates its event
    pdf = df.toPandas().dropna(subset=["last_orderdate"])
    assert (pdf.last_orderdate <= pdf.ts).all()


def test_asof_left_semantics(spark, sf_dir):
    """Events keep exactly one output row each, matched or not."""
    events = load_table(spark, sf_dir, "events")
    df = R.events_orders_asof(events, load_table(spark, sf_dir, "orders"))
    assert df.count() == events.count()
    n_users_with_orders = duckdb_run(
        sf_dir,
        """SELECT count(*) AS n FROM (SELECT DISTINCT user_id FROM events
           WHERE user_id IN (SELECT o_custkey FROM orders))""",
    )["n"].iloc[0]
    matched_users = df.filter(F.col("last_orderkey").isNotNull()).select(
        "user_id"
    ).distinct().count()
    assert matched_users == n_users_with_orders


def test_events_close_pairs_parity(spark, sf_dir):
    df = R.events_close_pairs(load_table(spark, sf_dir, "events"))
    assert_parity(df, sf_dir, R.events_close_pairs_sql())
    pdf = df.toPandas()
    # property: strictly ordered pairs inside the gap
    assert (pdf.gap_us > 0).all() and (pdf.gap_us <= 600 * 1_000_000).all()


def test_partition_pruning(spark, sf_dir, tmp_path):
    """Partitioned-directory source (S7): a filter on the partition column
    prunes at planning time — the scan lists only matching directories."""
    src = str(tmp_path / "orders_by_year")
    orders = load_table(spark, sf_dir, "orders")
    orders.withColumn("order_year", F.year("o_orderdate")).write.partitionBy(
        "order_year"
    ).parquet(src)
    pruned = spark.read.parquet(src).filter(F.col("order_year") == 1997)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "order_year" in plan.split("PartitionFilters", 1)[1][:200]
    want = orders.filter(F.year("o_orderdate") == 1997).count()
    assert pruned.count() == want


def test_cube_parity(spark, sf_dir):
    df = R.cube_order_stats(load_table(spark, sf_dir, "orders"))
    assert_parity(df, sf_dir, R.cube_order_stats_sql())
    # property: cube has all 4 grouping-set levels
    pdf = df.toPandas()
    assert ((pdf.status == "ALL") & (pdf.priority == "ALL")).sum() == 1
    assert ((pdf.status != "ALL") & (pdf.priority == "ALL")).any()
    assert ((pdf.status == "ALL") & (pdf.priority != "ALL")).any()


def test_pivot_parity(spark, sf_dir):
    assert_parity(
        R.pivot_returnflag_counts(load_table(spark, sf_dir, "lineitem")),
        sf_dir,
        R.pivot_returnflag_counts_sql(),
    )


def test_kv_upsert_semantics(spark):
    cur = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    upd = spark.createDataFrame([(2, "B"), (3, "C")], "k long, v string")
    got = sorted(map(tuple, R.kv_upsert(cur, upd, "k").collect()))
    assert got == [(1, "a"), (2, "B"), (3, "C")]


def test_kv_upsert_parity(spark, sf_dir):
    assert_parity(
        R.orders_with_price_updates(load_table(spark, sf_dir, "orders")),
        sf_dir,
        R.orders_with_price_updates_sql(),
    )


def test_quantity_quartiles_parity_and_approx(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    assert_parity(R.quantity_quartiles(li), sf_dir, R.quantity_quartiles_sql())
    # approx_percentile lands within its accuracy bound of the exact median
    exact = {r["l_returnflag"]: r["median"] for r in R.quantity_quartiles(li).collect()}
    approx = {
        r["l_returnflag"]: r["m"]
        for r in li.groupBy("l_returnflag")
        .agg(F.expr("approx_percentile(l_quantity, 0.5, 100)").alias("m"))
        .collect()
    }
    for k, m in exact.items():
        assert abs(approx[k] - m) <= 3


def test_hll_sketch_error_and_mergeability(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    direct = {
        r["l_returnflag"]: (r["approx_orders"], r["exact_orders"])
        for r in R.hll_distinct_orders(li).collect()
    }
    merged = {
        r["l_returnflag"]: r["merged_orders"]
        for r in R.hll_merge_distinct_orders(li).collect()
    }
    for flag, (approx, exact) in direct.items():
        assert abs(approx - exact) <= max(5, 0.03 * exact)  # HLL error bound
        # union of disjoint-half sketches estimates the same population
        assert abs(merged[flag] - exact) <= max(5, 0.03 * exact)


# ---------------------------------------------------------------------------
# Adversarial time-density (VERDICT r1 #6): one key with ~10^3 rows inside
# a single gap window. The merge/bucket formulations must stay linear in
# input size — never a per-key cross product in the PLAN (the range join's
# OUTPUT is allowed to be quadratic when the data genuinely is).
# ---------------------------------------------------------------------------


def _assert_no_product(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_dense_key(spark):
    """10^3 left and 10^3 right rows on ONE key, interleaved 1s/0.5s
    apart: the merge formulation emits exactly one row per left row and
    picks the immediately-preceding right row — no candidate blowup."""
    n = 1_000
    base = 1_600_000_000_000_000  # 2020-09-13, micros
    left = spark.range(n).select(
        F.lit(7).alias("k"),
        F.timestamp_micros(F.lit(base) + F.col("id") * 1_000_000).alias("lts"),
        F.col("id").alias("event_id"),
    )
    right = spark.range(n).select(
        F.lit(7).alias("k"),
        F.timestamp_micros(
            F.lit(base) + F.col("id") * 1_000_000 - 500_000
        ).alias("rts"),
        F.col("id").alias("order_id"),
    )
    out = R.asof_join(
        left, right, key="k", left_ts="lts", right_ts="rts",
        payload_cols=["order_id"], tie_col="order_id",
    )
    _assert_no_product(out)
    pdf = out.toPandas()
    assert len(pdf) == n  # one row per left row, matched or not
    # right row i sits 0.5s before left row i → as-of match is exactly i
    assert (pdf.last_order_id == pdf.event_id).all()


def test_close_pairs_dense_key(spark):
    """10^3 events on ONE user, all inside one 600s gap window: the
    bucket formulation's shuffle stays 3·|input| (left + 2× exploded
    right) and the n·(n-1)/2 output comes from in-task filtering of
    bucket-local candidates, not a cross product node."""
    n = 1_000
    base = 1_600_000_000_000_000
    ev = spark.range(n).select(
        F.lit(1).cast("long").alias("user_id"),
        F.col("id").alias("event_id"),
        F.timestamp_micros(F.lit(base) + F.col("id") * 500_000).alias("ts"),
    )
    out = R.events_close_pairs(ev, max_gap_s=600)
    _assert_no_product(out)
    # 0.5s spacing → every ordered pair is within 600s: n·(n-1)/2 pairs
    assert out.count() == n * (n - 1) // 2


def test_close_pairs_pre_epoch(spark):
    """Pre-1970 timestamps (negative epoch micros) bucket correctly with
    floor division; the pair spanning a negative bucket edge is found."""
    ev = spark.createDataFrame(
        [(1, 10, -550), (1, 11, -10), (1, 12, 200)],
        "user_id long, event_id long, off_s long",
    ).select(
        "user_id",
        "event_id",
        F.timestamp_micros(F.col("off_s") * 1_000_000).alias("ts"),
    )
    out = R.events_close_pairs(ev, max_gap_s=600)
    got = {(r["event_a"], r["event_b"]) for r in out.collect()}
    # gaps: 10→11 = 540s ✓, 11→12 = 210s ✓ (crosses the 0-epoch edge),
    # 10→12 = 750s ✗
    assert got == {(10, 11), (11, 12)}


def test_countmin_bound_and_mergeability(spark, sf_dir):
    """CM estimate is an upper bound on the exact count, and cell-wise
    addition of disjoint-half sketches equals the whole-input sketch."""
    li = load_table(spark, sf_dir, "lineitem")
    pdf = R.countmin_heavy_hitters(li).toPandas()
    assert (pdf.cm_cnt >= pdf.exact_cnt).all()
    whole = {
        (r["r"], r["b"]): r["cnt"] for r in R.countmin_cells(li).collect()
    }
    halves = [
        li.filter(F.col("l_linenumber") <= 3),
        li.filter(F.col("l_linenumber") > 3),
    ]
    merged: dict = {}
    for h in halves:
        for r in R.countmin_cells(h).collect():
            merged[(r["r"], r["b"])] = merged.get((r["r"], r["b"]), 0) + r["cnt"]
    assert merged == whole


def test_bloom_no_false_negatives_and_mergeable(spark, sf_dir):
    """Bloom guarantee: every actually-present key is maybe-present; and
    the filter built on unioned inputs equals the union of the filters
    (bitwise-OR mergeability in relational form)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    pdf = R.bloom_membership(cust, orders).toPandas()
    assert pdf[pdf.actually_present].maybe_present.all()
    # some true negatives must be correctly rejected (filter isn't full)
    neg = pdf[~pdf.actually_present]
    if len(neg):
        assert (~neg.maybe_present).any()
    halves = [
        orders.filter(F.col("o_orderkey") % 2 == 0),
        orders.filter(F.col("o_orderkey") % 2 == 1),
    ]
    whole = {r["bit"] for r in R.bloom_bits(orders, "o_custkey").collect()}
    merged = {
        r["bit"]
        for h in halves
        for r in R.bloom_bits(h, "o_custkey").collect()
    }
    assert merged == whole


def test_hourly_gapfill_semantics(spark):
    """Constructed gap: hour 0 active, hours 1-2 silent, hour 3 active —
    silent hours appear with zero counts and carry hour 0's value."""
    from datetime import datetime

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 10), 7, "click", 1.5, "{}"),
            (2, datetime(2024, 1, 1, 0, 50), 7, "click", 2.5, "{}"),
            (3, datetime(2024, 1, 1, 3, 5), 8, "click", 4.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    rows = {
        r["hour_ts"].hour: r
        for r in R.hourly_gapfill(ev).collect()
    }
    assert sorted(rows) == [0, 1, 2, 3]
    assert rows[0]["n_events"] == 2 and rows[0]["value_sum_micro"] == 4_000_000
    for h in (1, 2):
        assert rows[h]["n_events"] == 0
        assert rows[h]["value_sum_micro"] == 0
        assert rows[h]["filled_sum_micro"] == 4_000_000  # carried forward
    assert rows[3]["filled_sum_micro"] == 4_000_000 + 0  # hour 3's own sum
    assert rows[3]["filled_sum_micro"] == rows[3]["value_sum_micro"] == 4_000_000


def test_funnel_ordering_semantics(spark):
    """A click BEFORE the first view doesn't convert; stages must be
    strictly ordered per user."""
    from datetime import datetime

    t = lambda m: datetime(2024, 1, 1, 0, m)
    ev = spark.createDataFrame(
        [
            # user 1: click(1) BEFORE view(2) → stuck at stage 1
            (1, t(1), 1, "click", 0.0, "{}"),
            (2, t(2), 1, "view", 0.0, "{}"),
            # user 2: full ordered funnel
            (3, t(1), 2, "view", 0.0, "{}"),
            (4, t(2), 2, "click", 0.0, "{}"),
            (5, t(3), 2, "purchase", 0.0, "{}"),
            # user 3: view + purchase but no click → stage 1
            (6, t(1), 3, "view", 0.0, "{}"),
            (7, t(2), 3, "purchase", 0.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {r["user_id"]: r["reached"] for r in R.funnel_stages(ev).collect()}
    assert got == {1: 1, 2: 3, 3: 1}


def test_rolling_24h_frame(spark):
    """Only same-user events within the trailing 24h count (inclusive)."""
    from datetime import datetime

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0), 1, "click", 1.0, "{}"),
            (2, datetime(2024, 1, 1, 12), 1, "click", 2.0, "{}"),
            (3, datetime(2024, 1, 2, 6), 1, "click", 4.0, "{}"),  # ev1 aged out
            (4, datetime(2024, 1, 1, 1), 2, "click", 8.0, "{}"),  # other user
            # boundary: exactly 24h earlier counts, 24h + 1µs earlier does not
            (5, datetime(2024, 1, 1, 0), 3, "click", 16.0, "{}"),
            (6, datetime(2024, 1, 2, 0), 3, "click", 32.0, "{}"),
            (7, datetime(2024, 1, 1, 0), 4, "click", 64.0, "{}"),
            (8, datetime(2024, 1, 2, 0, 0, 0, 1), 4, "click", 128.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {r["event_id"]: (r["n_24h"], r["value_sum_micro_24h"])
           for r in R.rolling_24h_user_activity(ev).collect()}
    assert got[1] == (1, 1_000_000)
    assert got[2] == (2, 3_000_000)
    assert got[3] == (2, 6_000_000)  # ev2 + ev3; ev1 is 30h old
    assert got[4] == (1, 8_000_000)
    assert got[6] == (2, 48_000_000)  # ev5 is exactly 24h old
    assert got[8] == (1, 128_000_000)  # ev7 is 24h + 1µs old


def test_scd2_intervals_tile(spark, sf_dir):
    """SCD2 invariants: per customer exactly one open (current) interval,
    and consecutive intervals tile (valid_to == next valid_from)."""
    pdf = R.scd2_customer_prices(
        load_table(spark, sf_dir, "orders")
    ).toPandas()
    cur = pdf.groupby("custkey").is_current.sum()
    assert (cur == 1).all()
    for _, g in pdf[pdf.custkey < pdf.custkey.min() + 50].groupby("custkey"):
        g = g.sort_values(["valid_from", "orderkey"], ignore_index=True)
        closed = g.iloc[:-1]
        assert (closed.valid_to.values == g.valid_from.values[1:]).all()


def test_portable_hll_error_bound(spark, sf_dir):
    """The portable HLL's raw estimate stays within the standard
    ±1.04/√m regime (≈6.5% at m=256; allow 3σ) of the exact count it
    carries alongside — accuracy, which the equality oracle can't see."""
    rows = R.hll_distinct_orders_portable(
        load_table(spark, sf_dir, "lineitem")
    ).collect()
    assert rows
    for r in rows:
        err = abs(r["approx_orders"] - r["exact_orders"]) / r["exact_orders"]
        assert err < 0.20, (r["l_returnflag"], err)


def test_histogram_quantiles_bound_and_mergeability(spark, sf_dir):
    """Sketch quantile estimates land within one bin width of the exact
    percentile, and bins merge by addition: per-half histograms summed
    equal the whole-corpus histogram (the storable/mergeable property
    shared by the whole portable sketch family)."""
    li = load_table(spark, sf_dir, "lineitem")
    est = {
        r["q_bp"]: r["est"] for r in R.histogram_quantiles(li).collect()
    }
    exact = li.selectExpr(
        *[
            f"percentile_cont({q / 10000.0}) WITHIN GROUP "
            f"(ORDER BY l_extendedprice) AS q{q}"
            for q in R.HIST_QUANTILES_BP
        ]
    ).collect()[0]
    for q in R.HIST_QUANTILES_BP:
        assert abs(est[q] - exact[f"q{q}"]) <= R.HIST_BIN_WIDTH, q
    halves = [
        li.filter(F.col("l_linenumber") <= 3),
        li.filter(F.col("l_linenumber") > 3),
    ]
    merged: dict = {}
    for h in halves:
        for r in R.histogram_bins(h).collect():
            merged[r["bin"]] = merged.get(r["bin"], 0) + r["cnt"]
    whole = {r["bin"]: r["cnt"] for r in R.histogram_bins(li).collect()}
    assert merged == whole


def test_regional_revenue_parity_and_semantics(spark, sf_dir):
    """Q5-shaped six-table join: DuckDB parity at smoke SF."""
    from mapreduce_code_spark.operators import relational as R
    from mapreduce_code_spark.registry import oracle_sql, queries
    from tests.helpers import assert_parity

    assert_parity(
        queries()["relational_regional_revenue"](spark, sf_dir),
        sf_dir,
        oracle_sql()["relational_regional_revenue"],
        rtol=0,
    )


def test_profile_single_pass_exact_stats(spark):
    """The profiler reports hand-checkable stats for every column, and
    the whole report is ONE aggregate over ONE scan (exactly one
    shuffle Exchange in the plan, no second FileScan/LocalTableScan
    pass)."""
    from mapreduce_code_spark.operators.relational import profile

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5.0), (3, None, 5.0), (4, "a", 7.5)],
        "id long, s string, v double",
    )
    got = {r["column"]: r.asDict() for r in profile(df).collect()}
    assert set(got) == {"id", "s", "v"}
    assert all(r["n_rows"] == 4 for r in got.values())
    assert got["id"]["n_nulls"] == 0 and got["id"]["min_str"] == "1"
    assert got["s"]["n_nulls"] == 1 and got["s"]["max_str"] == "b"
    assert got["v"]["n_nulls"] == 1 and got["v"]["n_distinct"] == 2
    # small exact cardinalities: HLL is exact at this size
    assert got["id"]["n_distinct"] == 4
    plan = profile(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1

    # hostile column names (spaces/dots/quotes) never touch SQL text
    odd = df.withColumnRenamed("s", "user id").withColumnRenamed(
        "v", "it's.v"
    )
    got_odd = {r["column"] for r in profile(odd).collect()}
    assert got_odd == {"id", "user id", "it's.v"}
    # unorderable map column: nulls-only row instead of a failed report
    withmap = df.withColumn("m", F.create_map(F.lit("k"), F.col("id")))
    m = {r["column"]: r.asDict() for r in profile(withmap).collect()}["m"]
    assert m["n_nulls"] == 0 and m["min_str"] is None
    assert m["n_distinct"] is None
    # NESTED maps are just as unorderable (min/max would raise
    # INVALID_ORDERING_TYPE): struct<map> and array<map> columns must
    # degrade to the same typed-NULL row, not fail the whole report
    nested = df.withColumn(
        "sm", F.struct(F.create_map(F.lit("k"), F.col("id")).alias("m"))
    ).withColumn(
        "am", F.array(F.create_map(F.lit("k"), F.col("id")))
    )
    rep = {r["column"]: r.asDict() for r in profile(nested).collect()}
    for c in ("sm", "am"):
        assert rep[c]["n_nulls"] == 0 and rep[c]["min_str"] is None
        assert rep[c]["n_distinct"] is None
    # plain structs/arrays without maps remain orderable and keep stats
    assert rep["id"]["min_str"] == "1"
    # empty frame: 0 nulls, not NULL nulls
    empty = {
        r["column"]: r.asDict() for r in profile(df.limit(0)).collect()
    }
    assert all(
        r["n_rows"] == 0 and r["n_nulls"] == 0 for r in empty.values()
    )


def test_profile_exact_mode_oracle_parity(spark, sf_dir):
    """The registered driver row (exact_distinct=True) hash-matches the
    per-column UNION ALL DuckDB twin, and exact mode still reads the
    table ONCE (multi-distinct goes through one Expand, not one scan
    per column)."""
    from mapreduce_code_spark.registry import oracle_sql, queries
    from tests.helpers import assert_parity

    assert_parity(
        queries()["relational_profile"](spark, sf_dir),
        sf_dir,
        oracle_sql()["relational_profile"],
    )
    plan = (
        queries()["relational_profile"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1, plan


def test_profile_exact_sql_hostile_names(spark):
    """The DuckDB twin quotes identifiers and escapes literals, so it
    survives the same hostile names profile() itself tolerates — spaces,
    quotes, reserved keywords (round-6 advisor item) — and the two
    engines still agree value-for-value."""
    import duckdb
    import pandas as pd

    from mapreduce_code_spark.operators.relational import (
        profile,
        profile_exact_sql,
    )

    pdf = pd.DataFrame(
        {
            "user id": [1, 2, 2, None],
            "it's": ["a", "b", None, "b"],
            "select": [3, 5, 5, 5],
        }
    )
    cols = list(pdf.columns)
    got = {
        tuple(r)
        for r in profile(
            spark.createDataFrame(pdf), exact_distinct=True
        ).collect()
    }
    con = duckdb.connect()
    con.register("group", pdf)  # keyword TABLE name too
    want = {tuple(r) for r in con.sql(
        profile_exact_sql("group", cols)
    ).fetchall()}
    assert got == want and len(got) == 3


def test_bare_ident_allowlist_vs_live_duckdb():
    """Every name _sql_ident lets through BARE must be safe in column
    position per the INSTALLED duckdb's own duckdb_keywords() — the
    categories that forbid bare column use are 'reserved' and
    'type_function'. Quote-by-default plus this live check means a
    DuckDB upgrade that reserves a new word fails HERE (CI) instead of
    inside generated oracle text (round-7 advisor item). Also pins that
    the allowlist covers exactly the registered profile query's names,
    so its committed oracle stays byte-stable and bare."""
    import duckdb

    from mapreduce_code_spark.operators.relational import (
        _BARE_IDENT_OK,
        _sql_ident,
    )
    from mapreduce_code_spark.registry import _DOC_COLS

    unsafe = {
        name
        for name, cat in duckdb.sql(
            "SELECT keyword_name, keyword_category FROM duckdb_keywords()"
        ).fetchall()
        if cat in ("reserved", "type_function")
    }
    bad = _BARE_IDENT_OK & unsafe
    assert not bad, f"bare-allowlisted names now keyword-unsafe: {bad}"
    assert _BARE_IDENT_OK == {"documents", *_DOC_COLS}
    for name in _BARE_IDENT_OK:
        assert _sql_ident(name) == name
    # and anything else — keyword or not — is quoted by default
    assert _sql_ident("l_quantity") == '"l_quantity"'
    assert _sql_ident("between") == '"between"'
    assert _sql_ident('a"b') == '"a""b"'


def test_integrity_checks_planted_violations(spark):
    """Each constraint catches its planted violation exactly once: one
    orphan order, one duplicated customer key, one null totalprice."""
    customer = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b-dup")], "c_custkey long, c_name string"
    )
    orders = spark.createDataFrame(
        [
            (10, 1, 100.0),
            (11, 2, None),      # null totalprice
            (12, 99, 50.0),     # orphan custkey
            (13, None, 75.0),   # null custkey (also not an fk violation row?)
        ],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    out = {
        r["check_name"]: (r["n_violations"], r["n_checked"])
        for r in R.integrity_checks(customer, orders).collect()
    }
    # null custkey rows do NOT join, so they also count as fk orphans —
    # the not-null check is what isolates them
    assert out["orders_custkey_fk"] == (2, 4)
    assert out["customer_key_unique"] == (1, 3)
    assert out["orders_totalprice_not_null"] == (1, 4)
    assert out["orders_custkey_not_null"] == (1, 4)


# ------------------------------------------------- robust aggregation


def test_winsorized_oracle_parity(spark, sf_dir):
    from mapreduce_code_spark.operators import relational as R

    df = R.winsorized_price_stats(load_table(spark, sf_dir, "orders"))
    assert_parity(df, sf_dir, R.winsorized_price_stats_sql(), rtol=0)


def test_winsorized_clamps_outliers(spark, sf_dir):
    from pyspark.sql import functions as F

    from mapreduce_code_spark.operators import relational as R

    orders = load_table(spark, sf_dir, "orders")
    out = {
        r["o_orderpriority"]: r
        for r in R.winsorized_price_stats(orders).collect()
    }
    plain = {
        r["o_orderpriority"]: r["m"]
        for r in orders.groupBy("o_orderpriority")
        .agg(
            (
                F.sum(
                    F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast(
                        "long"
                    )
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .collect()
    }
    for prio, r in out.items():
        assert r["lo_cents"] <= r["winsorized_mean"] <= r["hi_cents"]
        # on this mild corpus the clamp barely moves the mean (sanity
        # that we're winsorizing, not replacing, the distribution)
        assert plain[prio] != 0
        assert abs(r["winsorized_mean"] - plain[prio]) / plain[prio] < 0.25


def test_winsorized_neutralizes_planted_outlier(spark):
    # THE winsorization property: one fat-finger order explodes the
    # plain mean but barely moves the winsorized one
    from mapreduce_code_spark.operators import relational as R

    rows = [("3-MEDIUM", 100.0 + i) for i in range(99)] + [
        ("3-MEDIUM", 10_000_000.0)
    ]
    df = spark.createDataFrame(
        rows, "o_orderpriority STRING, o_totalprice DOUBLE"
    )
    r = R.winsorized_price_stats(df).collect()[0]
    plain = (sum(100.0 + i for i in range(99)) + 1e7) * 100.0 / 100
    assert plain > 5_000_000  # plain mean blown past $50k (in cents)
    assert r["winsorized_mean"] < 20_000  # winsorized stays near $150
    assert r["hi_cents"] == 19_400  # p95 boundary = the 95th value, $194


def test_winsorized_degenerate_tiny_group(spark):
    # n=1: lo_rank = hi_rank = 1, the single value clamps to itself
    from mapreduce_code_spark.operators import relational as R

    one = spark.createDataFrame(
        [("1-URGENT", 123.45)], "o_orderpriority STRING, o_totalprice DOUBLE"
    )
    r = R.winsorized_price_stats(one).collect()[0]
    assert (r["n"], r["lo_cents"], r["hi_cents"]) == (1, 12345, 12345)
    assert r["winsorized_mean"] == 12345.0


# ------------------------------------------------- point-in-time join


def test_pointintime_oracle_parity(spark, sf_dir):
    from mapreduce_code_spark.operators import relational as R

    df = R.pointintime_prices(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "orders")
    )
    assert_parity(df, sf_dir, R.pointintime_prices_sql(), rtol=0)


def test_pointintime_one_interval_per_event(spark, sf_dir):
    from mapreduce_code_spark.operators import relational as R

    df = R.pointintime_prices(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "orders")
    )
    assert df.count() == df.select("event_id").distinct().count()


def test_pointintime_boundary_semantics(spark):
    import datetime as dt

    from mapreduce_code_spark.operators import relational as R

    d1 = dt.datetime(2024, 1, 1)
    d2 = dt.datetime(2024, 2, 1)
    orders = spark.createDataFrame(
        [(100, 9, 10.00, d1, "x", "s"), (101, 9, 20.00, d2, "x", "s")],
        "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,"
        " o_orderdate TIMESTAMP, o_orderpriority STRING, o_orderstatus STRING",
    )
    events = spark.createDataFrame(
        [
            (1, d1, 9),  # exactly at valid_from: first interval
            (2, d2 - dt.timedelta(seconds=1), 9),  # last tick of interval 1
            (3, d2, 9),  # boundary: second interval (from <= ts < to)
            (4, d1 - dt.timedelta(days=1), 9),  # before history: no match
            (5, d2, 8),  # unknown customer: no match
        ],
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT",
    )
    got = {
        r["event_id"]: (r["orderkey"], r["price_cents"])
        for r in R.pointintime_prices(events, orders).collect()
    }
    assert got == {1: (100, 1000), 2: (100, 1000), 3: (101, 2000)}


# ------------------------------------------------- EXISTS semi-join


def test_returned_orders_oracle_parity(spark, sf_dir):
    from mapreduce_code_spark.operators import relational as R

    df = R.returned_order_counts(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    assert_parity(df, sf_dir, R.returned_order_counts_sql(), rtol=0)


def test_returned_orders_counts_existence_not_multiplicity(spark, sf_dir):
    from pyspark.sql import functions as F

    from mapreduce_code_spark.operators import relational as R

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    got = {
        r["o_orderpriority"]: r["n_orders"]
        for r in R.returned_order_counts(orders, li).collect()
    }
    # a plain inner join + distinct gives the same counts (the semi join
    # must not multiply by returned-line count)
    window = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    want = {
        r["o_orderpriority"]: r["n"]
        for r in window.join(
            li.where("l_returnflag = 'R'"),
            window.o_orderkey == li.l_orderkey,
        )
        .select("o_orderkey", "o_orderpriority")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and got
