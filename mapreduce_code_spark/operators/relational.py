"""General relational analytics surface: windows, rollup, set ops, rich
predicates, distinct counts, and an as-of join.

The reference has none of these (SURVEY §2.5-2.8, §2.3 J4 — all marked
absent); they are the "engine exposes the full Spark surface" half of the
inventory, each demonstrated as a registered query with a DuckDB oracle.

Numeric discipline (same as operators.regression.ols_stats_exact): every
aggregated measure is cast to DECIMAL before the sum so the aggregation is
exact and summation-order-independent — bit-identical between Spark and
the DuckDB oracle — then cast to DOUBLE once at the end. Raw (unaggregated)
doubles pass through untouched; they compare exactly by construction.

Scale notes (100 TB):

- ``pricing_summary`` / ``rollup_pricing``: single shuffle on a handful of
  group keys with map-side partial aggregation; the shipdate predicate and
  7-column projection push into the parquet scan.
- ``topk_parts_per_brand``: pre-aggregates revenue per (brand, partkey)
  BEFORE the window — the window then ranks ~|parts| rows, not |lineitem|.
- ``events_orders_asof``: the classic merge as-of — union both sides, one
  shuffle+sort on (user, time), carry the latest order forward with a
  running window. No range-join row explosion; cost is one sort-shuffle of
  |events|+|orders| regardless of time-overlap density.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PRICING_CUTOFF = "1998-09-02"

_QTY = "decimal(14,2)"
_PRICE = "decimal(16,2)"


def _cents(col):
    """Module-convention exact cents quantization of a 2-decimal money
    double: ``floor(v·100 + 0.5)`` as BIGINT (IEEE multiply/add + exact
    floor — bit-identical in DuckDB; see monitoring/similarity for the
    same device at other resolutions)."""
    from pyspark.sql import functions as F

    return F.floor(col.cast("double") * 100.0 + F.lit(0.5)).cast("bigint")
_RATE = "decimal(6,4)"  # l_discount / l_tax: small 4-decimal rates


# ---------------------------------------------------------------------------
# TPC-H Q1-shaped pricing summary (group agg + arithmetic + HAVING-free)
# ---------------------------------------------------------------------------


def pricing_summary(lineitem: DataFrame, cutoff: str = PRICING_CUTOFF) -> DataFrame:
    """Per (returnflag, linestatus): qty/price/discounted/charged sums,
    averages, and row count, over shipments up to ``cutoff``."""
    qty = F.col("l_quantity").cast(_QTY)
    price = F.col("l_extendedprice").cast(_PRICE)
    disc = F.col("l_discount").cast(_RATE)
    tax = F.col("l_tax").cast(_RATE)
    disc_factor = F.lit(1).cast(_RATE) - disc
    charge_factor = disc_factor * (F.lit(1).cast(_RATE) + tax)
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * disc_factor).cast("double").alias("sum_disc_price"),
            F.sum(price * charge_factor).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def pricing_summary_sql(cutoff: str = PRICING_CUTOFF) -> str:
    return f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS {_QTY})) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS {_PRICE})) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS {_PRICE})
                * (CAST(1 AS {_RATE}) - CAST(l_discount AS {_RATE})))
            AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS {_PRICE})
                * (CAST(1 AS {_RATE}) - CAST(l_discount AS {_RATE}))
                * (CAST(1 AS {_RATE}) + CAST(l_tax AS {_RATE})))
            AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS {_QTY})) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS {_PRICE})) AS DOUBLE) / count(*)
           AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{cutoff}'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Top-k per group (window ranking over a pre-aggregate)
# ---------------------------------------------------------------------------


def topk_parts_per_brand(lineitem: DataFrame, part: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` parts by discounted revenue within each brand.

    Aggregate-then-rank: revenue per (brand, partkey) first (decimal-exact,
    so the ordering is unambiguous), then ``row_number`` per brand with a
    partkey tie-break. ``part`` is broadcast — it is the small dimension.
    """
    rev = F.col("l_extendedprice").cast(_PRICE) * (
        F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE)
    )
    per_part = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum(rev).alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.col("revenue").desc(), F.col("l_partkey").asc()
    )
    return (
        per_part.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "p_brand",
            F.col("l_partkey").alias("partkey"),
            F.col("revenue").cast("double").alias("revenue"),
            "rnk",
        )
    )


def topk_parts_per_brand_sql(k: int = 3) -> str:
    return f"""
WITH per_part AS (
  SELECT p_brand, l_partkey AS partkey,
         sum(CAST(l_extendedprice AS {_PRICE})
             * (CAST(1 AS {_RATE}) - CAST(l_discount AS {_RATE}))) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, l_partkey
)
SELECT p_brand, partkey, CAST(rev AS DOUBLE) AS revenue, rnk
FROM (SELECT *, row_number() OVER (PARTITION BY p_brand
                                   ORDER BY rev DESC, partkey) AS rnk
      FROM per_part)
WHERE rnk <= {k}
"""


# ---------------------------------------------------------------------------
# Rollup (multi-level aggregate)
# ---------------------------------------------------------------------------


def rollup_pricing(lineitem: DataFrame) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): per-pair, per-flag, and grand
    totals in one pass. Subtotal rows' null keys are coalesced to 'ALL' so
    the result is oracle-comparable without null-ordering pitfalls."""
    qty = F.col("l_quantity").cast(_QTY)
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


def rollup_pricing_sql() -> str:
    return f"""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(sum(CAST(l_quantity AS {_QTY})) AS DOUBLE) AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def grouping_sets_order_stats(orders: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS ((status), (priority), ()): the two
    independent marginals plus the grand total in ONE pass — the general
    grouping form that rollup/cube specialize (and, unlike them, able to
    skip the full cross combination). Null group keys from the
    non-participating columns coalesce to 'ALL' for oracle-stable
    output."""
    price = F.col("o_totalprice").cast(_PRICE)
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(price).cast("double").alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders",
            "sum_price",
        )
    )


def grouping_sets_order_stats_sql() -> str:
    return f"""
SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       coalesce(o_orderpriority, 'ALL') AS orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS {_PRICE})) AS DOUBLE) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def cube_order_stats(orders: DataFrame) -> DataFrame:
    """CUBE over (orderstatus, orderpriority): every subtotal combination
    in one pass (rollup's superset — 2^k grouping sets)."""
    price = F.col("o_totalprice").cast(_PRICE)
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(price).cast("double").alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "sum_price",
        )
    )


def cube_order_stats_sql() -> str:
    return f"""
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS {_PRICE})) AS DOUBLE) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


RETURNFLAGS = ("A", "N", "R")


def pivot_returnflag_counts(lineitem: DataFrame) -> DataFrame:
    """Pivot: per linestatus, one count column per returnflag value.
    The pivot values are listed explicitly — letting Spark discover them
    costs an extra distinct scan of the fact table at 100 TB."""
    return (
        lineitem.groupBy("l_linestatus")
        .pivot("l_returnflag", list(RETURNFLAGS))
        .count()
        .na.fill(0, list(RETURNFLAGS))
    )


def pivot_returnflag_counts_sql() -> str:
    cols = ", ".join(
        f"count(*) FILTER (WHERE l_returnflag = '{v}') AS \"{v}\""
        for v in RETURNFLAGS
    )
    return f"SELECT l_linestatus, {cols} FROM lineitem GROUP BY l_linestatus"


def hll_distinct_orders(lineitem: DataFrame) -> DataFrame:
    """HLL-sketch distinct order counts per returnflag (Datasketches HLL,
    Spark 3.5+): ``(l_returnflag, approx_orders, exact_orders)``.

    The sketch is the 100 TB answer to COUNT(DISTINCT): fixed-size state
    with map-side partial aggregation, and — unlike exact distinct —
    MERGEABLE: per-partition/per-day sketches can be stored and
    ``hll_union_agg``-combined later without rescanning (asserted in
    tests). The exact count rides along here for the error-bound check;
    at scale you'd drop it. Estimates aren't DuckDB-reproducible →
    rows-only oracle + within-error tests.
    """
    return lineitem.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_orderkey")).alias(
            "approx_orders"
        ),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )


# Portable HLL parameters: p=8 → m=256 buckets from the first 2 md5 hex
# chars; a 40-bit register stream from the next 10. Raw-HLL estimate only
# (no small-range linear-counting correction — that needs ln(), which is
# not bit-reproducible across engines); with loads n/m ≳ 2.5 the raw
# estimate is the standard ±1.04/√m ≈ 6.5% regime, and below that it
# overestimates (documented; the exact count rides along regardless).
_HLL_M = 256
_HLL_TAIL_BITS = 40
_HLL_RMAX = _HLL_TAIL_BITS + 1  # rho for an all-zero tail
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
# One shared double constant so both engines perform the IDENTICAL final
# division: estimate = alpha·m²·2^41 / S  where S = Σ_buckets 2^(41 - r).
_HLL_C = _HLL_ALPHA * _HLL_M * _HLL_M * float(2**_HLL_RMAX)


def hll_distinct_orders_portable(lineitem: DataFrame) -> DataFrame:
    """Cross-engine-exact HLL distinct order counts per returnflag:
    ``(l_returnflag, approx_orders, exact_orders)``.

    Same two-level mergeable-sketch shape as ``hll_distinct_orders`` (the
    Datasketches variant), but every step is deterministic SQL both Spark
    and DuckDB evaluate bit-identically — md5-derived bucket/rho, exact
    integer register sum (Σ 2^(41-r) as bigint, empty buckets folded in
    arithmetically rather than via an explode+join), and ONE final IEEE
    double division by the shared ``_HLL_C`` constant. That makes a
    *sketch* hash-comparable against a DuckDB oracle
    (``hll_distinct_portable_sql``) — the round-1 blocker for oracling
    approximate distinct.

    Scale shape: ONE scan of the fact table. A pruned-column
    ``distinct()`` on (flag, orderkey) — map-side partial, one shuffle —
    feeds BOTH outputs: md5 is computed once per *distinct* key (not per
    fact row), the (flag, bucket) register max rides the second (tiny)
    shuffle, and the exact count falls out as ``Σ per-bucket counts`` of
    the already-distinct keys, so there is no separate ``countDistinct``
    expand pass and no join. Registers are storable/mergeable exactly
    like the native sketch.
    """
    return hll_from_pairs(hll_pairs(lineitem))


def hll_pairs(lineitem: DataFrame) -> DataFrame:
    """The sketch's distinct-key materialization — (flag, orderkey)
    pairs. Separated so a STREAMING maintainer can accumulate the same
    pairs incrementally (append-new-keys state) and finalize with
    :func:`hll_from_pairs` to the identical result."""
    return lineitem.select("l_returnflag", "l_orderkey").distinct()


def hll_from_pairs(pairs: DataFrame) -> DataFrame:
    """Registers + estimate + exact rider from an already-distinct
    (l_returnflag, l_orderkey) frame — the finalize step shared by the
    batch query and the streamed state accumulator."""
    h = F.md5(F.col("l_orderkey").cast("string"))
    hashed = pairs.select("l_returnflag", h.alias("h"))
    tail = F.conv(F.substring("h", 3, 10), 16, 10).cast("bigint")
    rho = F.when(tail == 0, F.lit(_HLL_RMAX)).otherwise(
        F.lit(_HLL_RMAX) - F.length(F.bin(tail))
    )
    regs = (
        hashed.select(
            "l_returnflag",
            F.conv(F.substring("h", 1, 2), 16, 10).cast("int").alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("l_returnflag", "bucket")
        .agg(F.max("rho").alias("r"), F.count(F.lit(1)).alias("n_keys"))
    )
    empty_term = F.lit(int(2**_HLL_RMAX))  # empty bucket ⇒ r=0 ⇒ 2^41
    return (
        regs.groupBy("l_returnflag")
        .agg(
            (
                F.sum(
                    F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RMAX} - r)")
                )
                + (F.lit(_HLL_M) - F.count("*")) * empty_term
            ).alias("s_int"),
            F.sum("n_keys").alias("exact_orders"),
        )
        .select(
            "l_returnflag",
            F.floor(F.lit(_HLL_C) / F.col("s_int"))
            .cast("bigint")
            .alias("approx_orders"),
            "exact_orders",
        )
    )


def hll_distinct_portable_sql() -> str:
    """DuckDB twin of ``hll_distinct_orders_portable`` — byte-identical
    md5/bucket/rho pipeline and the same ``_HLL_C`` division."""
    return f"""
WITH hashed AS (
  SELECT l_returnflag,
         ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 2))::BIGINT
           AS bucket,
         ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 3, 10))::BIGINT
           AS tail
  FROM lineitem
), regs AS (
  SELECT l_returnflag, bucket,
         max(CASE WHEN tail = 0 THEN {_HLL_RMAX}
                  ELSE {_HLL_RMAX} - length(bin(tail)) END) AS r
  FROM hashed GROUP BY 1, 2
), s AS (
  SELECT l_returnflag,
         sum(1::BIGINT << ({_HLL_RMAX} - r))
           + ({_HLL_M} - count(*)) * {int(2**_HLL_RMAX)} AS s_int
  FROM regs GROUP BY 1
), exact AS (
  SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders
  FROM lineitem GROUP BY 1
)
SELECT s.l_returnflag,
       CAST(floor({_HLL_C!r} / s_int) AS BIGINT) AS approx_orders,
       exact_orders
FROM s JOIN exact USING (l_returnflag)
"""


# Portable count-min sketch: d=4 hash rows carved from ONE md5 (row i
# reads hex chars [8i+1, 8i+8] — four independent 32-bit values), w=1024
# buckets. Like the portable HLL above, every step is exact integer
# arithmetic both engines reproduce bit-for-bit, so even the
# *approximate* estimates are oracle-comparable.
CM_D = 4
CM_W = 1024


def _cm_bucket_col(key_str_col, i: int):
    """Row-i bucket for a key: 32-bit md5 slice mod CM_W."""
    return (
        F.conv(F.substring(F.md5(key_str_col), 8 * i + 1, 8), 16, 10)
        .cast("bigint")
        % CM_W
    )


def countmin_cells(lineitem: DataFrame) -> DataFrame:
    """The sketch itself: ``(r, b, cnt)`` — d·w = 4096 bounded cells.

    One narrow explode (×d) feeding a single groupBy with map-side
    partial counts: shuffle volume is O(partitions · d · w) regardless of
    input size. Cells are MERGEABLE by cell-wise addition (asserted in
    tests) — per-day/per-partition sketches can be stored and summed
    later, the same operational story as the HLL registers.
    """
    key = F.col("l_partkey").cast("string")
    cell = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("r"), _cm_bucket_col(key, i).alias("b")
                )
                for i in range(CM_D)
            ]
        )
    ).alias("c")
    return (
        lineitem.select(cell)
        .groupBy(F.col("c.r").alias("r"), F.col("c.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def countmin_heavy_hitters(lineitem: DataFrame, top_k: int = 20) -> DataFrame:
    """Count-min frequency estimates vs exact counts for the ``top_k``
    most frequent part keys: ``(l_partkey, exact_cnt, cm_cnt)``.

    The probe side joins the 4096-cell sketch (auto-broadcast) and takes
    ``min`` over the d rows — the classic CM upper-bound estimate
    (``cm_cnt >= exact_cnt`` always; equality when no bucket collision).
    Deterministic top-k via (count desc, key asc) ordering.

    ONE scan of the fact table: since this grading query needs the exact
    per-key counts anyway, the sketch cells are derived FROM them (a
    cell's count is the sum of exact counts of the keys hashing into it —
    identical to counting fact rows directly), so md5 runs once per
    DISTINCT key instead of ×d per fact row, and the exact-agg exchange
    is reused across the cells and top-k branches. The sketch-only
    production path (no exact rider) remains :func:`countmin_cells`.
    """
    exact = lineitem.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("l_partkey")).limit(top_k)
    key = F.col("l_partkey").cast("string")
    cellgen = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("r"), _cm_bucket_col(key, i).alias("b")
                )
                for i in range(CM_D)
            ]
        )
    ).alias("c")
    cells = (
        exact.select("exact_cnt", cellgen)
        .groupBy(F.col("c.r").alias("r"), F.col("c.b").alias("b"))
        .agg(F.sum("exact_cnt").alias("cnt"))
    )
    probes = top.select(
        "l_partkey",
        "exact_cnt",
        cellgen,
    ).select("l_partkey", "exact_cnt", F.col("c.r").alias("r"), F.col("c.b").alias("b"))
    return (
        probes.join(cells, ["r", "b"])
        .groupBy("l_partkey", "exact_cnt")
        .agg(F.min("cnt").alias("cm_cnt"))
    )


def countmin_heavy_hitters_sql(top_k: int = 20) -> str:
    """DuckDB twin of ``countmin_heavy_hitters`` — identical md5 slices,
    mod, and min-over-rows, so the estimates hash-match exactly."""
    rows_values = ", ".join(f"({i})" for i in range(CM_D))
    return f"""
WITH cells AS (
  SELECT r.r,
         ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 8 * r.r + 1, 8))
           ::BIGINT % {CM_W} AS b,
         count(*) AS cnt
  FROM lineitem, (VALUES {rows_values}) r(r)
  GROUP BY 1, 2
), exact AS (
  SELECT l_partkey, count(*) AS exact_cnt FROM lineitem GROUP BY 1
), top AS (
  SELECT * FROM exact ORDER BY exact_cnt DESC, l_partkey LIMIT {top_k}
), probes AS (
  SELECT t.l_partkey, t.exact_cnt, r.r,
         ('0x' || substr(md5(CAST(t.l_partkey AS VARCHAR)), 8 * r.r + 1, 8))
           ::BIGINT % {CM_W} AS b
  FROM top t, (VALUES {rows_values}) r(r)
)
SELECT p.l_partkey, p.exact_cnt, min(c.cnt) AS cm_cnt
FROM probes p JOIN cells c ON c.r = p.r AND c.b = p.b
GROUP BY 1, 2
"""


# Portable Bloom filter: k=3 hash bits carved from one md5 (32-bit
# slices, like the count-min rows), m=8192 bits. The filter is
# represented as the DataFrame of set bit-indices (≤ m rows, broadcast-
# sized by construction); merging two filters is a union+distinct —
# bitwise OR in relational form. Completes the portable mergeable-sketch
# trio: HLL = distinct counts, count-min = frequencies, Bloom =
# membership — every one cross-engine exact, estimates included.
BLOOM_M = 8192
BLOOM_K = 3


def _bloom_bit_col(key_str_col, i: int):
    return (
        F.conv(F.substring(F.md5(key_str_col), 8 * i + 1, 8), 16, 10)
        .cast("bigint")
        % BLOOM_M
    )


def bloom_bits(df: DataFrame, key_col: str) -> DataFrame:
    """Build the filter over a key column: the distinct set-bit indices
    ``(bit)``. One narrow map (k bits per row) + a distinct over ≤ m
    values — shuffle bounded by the filter size, never the data."""
    key = F.col(key_col).cast("string")
    return (
        df.select(
            F.explode(
                F.array(*[_bloom_bit_col(key, i) for i in range(BLOOM_K)])
            ).alias("bit")
        )
        .distinct()
    )


def bloom_membership(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Probe every customer key against a Bloom filter built over
    ``orders.o_custkey``: ``(c_custkey, maybe_present, actually_present)``.

    A key's DISTINCT probe bits are counted and compared to its matched
    bits (two hash slices may map to the same bit — comparing against a
    constant k would manufacture false negatives). Bloom guarantee:
    ``actually_present ⇒ maybe_present`` (asserted in tests); false
    positives happen at the designed rate and are *visible* here because
    the exact answer rides along — at 100 TB the filter prunes the probe
    side of a join before the shuffle, the exact check only runs on
    surviving keys.
    """
    # one orders scan: the filter bits are built from the SAME distinct
    # key set the exact rider needs, so the distinct's exchange is reused
    # across both branches (set-bit indices over distinct keys are
    # identical to building over raw rows)
    distinct_keys = orders.select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    bits = F.broadcast(
        bloom_bits(distinct_keys, "c_custkey").withColumn("hit", F.lit(1))
    )
    key = F.col("c_custkey").cast("string")
    probe = customer.select(
        "c_custkey",
        F.explode(
            F.array(*[_bloom_bit_col(key, i) for i in range(BLOOM_K)])
        ).alias("bit"),
    ).distinct()
    per = (
        probe.join(bits, "bit", "left")
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count("hit").alias("matched"),
        )
    )
    present = distinct_keys.withColumn("ap", F.lit(True))
    return per.join(present, "c_custkey", "left").select(
        "c_custkey",
        (F.col("matched") == F.col("total")).alias("maybe_present"),
        F.coalesce(F.col("ap"), F.lit(False)).alias("actually_present"),
    )


# bloom_semi_reduce sizing: the bits table broadcasts as ROWS (≤ k·n
# set bits ≈ 24·k·n bytes), so the reduction only pays while the build
# key set is filter-sized. Beyond the cap, return fact unchanged — a
# saturated filter (or a multi-GB broadcast) is pure overhead with no
# pruning, the exact failure a fixed demo-sized m would hide.
SEMI_REDUCE_MAX_KEYS = 4_000_000  # ~100 MB of bit rows at k=3
SEMI_REDUCE_BITS_PER_KEY = 16  # m = 16·n → FP rate ≈ 0.5% at k=3


def bloom_semi_reduce(
    fact: DataFrame,
    build: DataFrame,
    fact_key: str,
    build_key: str,
    m_bits: int | None = None,
) -> DataFrame:
    """Semi-join reduction via the portable Bloom filter: prune ``fact``
    down to rows whose key is (probably) present in ``build`` BEFORE any
    join shuffle — the classic big-join reduction at 100 TB, where the
    fact side is petabytes and the build side's key set fits a filter.

    The filter is SIZED TO THE BUILD SIDE: ``m = 16·n`` bits (one
    metadata-cheap distinct count; ≈0.5% false positives at k=3) unless
    ``m_bits`` pins it. If the key set exceeds the broadcast budget the
    reduction honestly degrades to a no-op (returns ``fact``) instead
    of shipping a saturated filter that prunes nothing — correctness is
    unaffected either way because the exact join still follows.

    Plan shape: the set-bit table broadcasts; membership is k BROADCAST
    hash joins on the row's k computed bit columns — the fact table is
    filtered map-side with NO shuffle of its own (an exploded
    probe-and-count would re-shuffle the fact on its own row key,
    defeating the point). Guarantee: no false negatives, so
    ``reduce-then-join ≡ join``; false positives survive the filter at
    the designed rate and fall out of the exact join that follows.
    """
    distinct_keys = build.select(F.col(build_key).alias("k")).distinct()
    if m_bits is None:
        n = distinct_keys.count()
        if n > SEMI_REDUCE_MAX_KEYS:
            return fact
        m_bits = max(BLOOM_M, SEMI_REDUCE_BITS_PER_KEY * n)
    key = F.col(fact_key).cast("string")
    bkey = F.col("k").cast("string")
    out = fact
    for i in range(BLOOM_K):
        bit = (
            F.conv(F.substring(F.md5(bkey), 8 * i + 1, 8), 16, 10)
            .cast("bigint")
            % m_bits
        )
        side = F.broadcast(
            distinct_keys.select(bit.alias(f"_bloom_b{i}")).distinct()
        )
        probe = (
            F.conv(F.substring(F.md5(key), 8 * i + 1, 8), 16, 10)
            .cast("bigint")
            % m_bits
        )
        out = out.join(side, probe == F.col(f"_bloom_b{i}"), "inner")
    return out.drop(*[f"_bloom_b{i}" for i in range(BLOOM_K)])


def bloom_membership_sql() -> str:
    """DuckDB twin of ``bloom_membership`` — identical md5 slices, mod,
    and distinct-bit counting, so even the false positives match."""
    ivals = ", ".join(f"({i})" for i in range(BLOOM_K))
    return f"""
WITH bits AS (
  SELECT DISTINCT
         ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 8 * i.i + 1, 8))
           ::BIGINT % {BLOOM_M} AS bit
  FROM orders, (VALUES {ivals}) i(i)
), probe AS (
  SELECT DISTINCT c_custkey,
         ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 8 * i.i + 1, 8))
           ::BIGINT % {BLOOM_M} AS bit
  FROM customer, (VALUES {ivals}) i(i)
), per AS (
  SELECT p.c_custkey, count(*) AS total, count(b.bit) AS matched
  FROM probe p LEFT JOIN bits b USING (bit)
  GROUP BY 1
)
SELECT c_custkey, matched = total AS maybe_present,
       c_custkey IN (SELECT o_custkey FROM orders) AS actually_present
FROM per
"""


# Portable histogram-quantile sketch: equi-width bins over the value
# domain, quantiles read off the cumulative bin counts with linear
# interpolation inside the hit bin. Completes the portable mergeable-
# sketch quartet — HLL = distinct counts, count-min = frequencies,
# Bloom = membership, histogram = QUANTILES — and like the others every
# step is exact integer arithmetic plus one shared IEEE division, so the
# *estimates* are cross-engine exact. Error bound: one bin width.
HIST_BIN_WIDTH = 1_000  # l_extendedprice domain ≈ [900, 105k] → ~105 bins
HIST_QUANTILES_BP = (2500, 5000, 7500, 9000, 9900)


def histogram_bins(lineitem: DataFrame, width: int = HIST_BIN_WIDTH) -> DataFrame:
    """The sketch itself: ``(bin, cnt)`` — bounded equi-width bins.
    One narrow map + one groupBy with map-side partials; shuffle volume
    is O(partitions × bins) regardless of input size. Mergeable by
    bin-wise addition (asserted in tests), so per-day/per-partition
    histograms can be stored and summed later."""
    return (
        lineitem.groupBy(
            F.floor(F.col("l_extendedprice") / F.lit(float(width)))
            .cast("long")
            .alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantiles(
    lineitem: DataFrame,
    width: int = HIST_BIN_WIDTH,
    quantiles_bp: tuple[int, ...] = HIST_QUANTILES_BP,
) -> DataFrame:
    """Histogram-sketch quantile estimates for l_extendedprice:
    ``(q_bp, n_rows, est)`` — the approximate-percentile answer that
    scales where exact ``percentile_disc`` (a full sort per group) does
    not. The target rank is the exact integer ``ceil(q·n)``; the hit bin
    is the first whose cumulative count reaches it; the estimate
    interpolates inside that bin with ONE IEEE double division —
    bit-identical in DuckDB (:func:`histogram_quantiles_sql`).

    Scale shape: one fact scan into ~100 bins (map-side partials), a
    single-partition window over the bins (bounded by construction —
    never the data), and a broadcast of the 5-row quantile list.
    """
    bins = histogram_bins(lineitem, width)
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = bins.select(
        "bin",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_cum), F.lit(0)).alias("cum_before"),
        F.sum("cnt").over(w_all).alias("n_rows"),
    )
    qdf = lineitem.sparkSession.createDataFrame(
        [(q,) for q in quantiles_bp], "q_bp int"
    )
    # need = ceil(q_bp · n / 10000) in pure integer math
    need = F.expr("CAST((CAST(q_bp AS BIGINT) * n_rows + 9999) div 10000 AS BIGINT)")
    return (
        cum.join(F.broadcast(qdf))
        .withColumn("need", need)
        .filter(
            (F.col("cum_before") < F.col("need"))
            & (F.col("cum_before") + F.col("cnt") >= F.col("need"))
        )
        .select(
            "q_bp",
            "n_rows",
            (
                (F.col("bin") * width).cast("double")
                + ((F.col("need") - F.col("cum_before")) * width).cast(
                    "double"
                )
                / F.col("cnt")
            ).alias("est"),
        )
    )


def histogram_quantiles_sql(
    width: int = HIST_BIN_WIDTH,
    quantiles_bp: tuple[int, ...] = HIST_QUANTILES_BP,
) -> str:
    """DuckDB twin of :func:`histogram_quantiles` — identical binning,
    integer rank, and interpolation expression (same operation order, so
    the one IEEE division matches bit-for-bit)."""
    qvals = ", ".join(f"({q})" for q in quantiles_bp)
    return f"""
WITH bins AS (
  SELECT CAST(floor(l_extendedprice / {float(width)}) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT bin, cnt,
         CAST(COALESCE(sum(cnt) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before,
         CAST(sum(cnt) OVER () AS BIGINT) AS n_rows
  FROM bins
), needs AS (
  SELECT c.*, q.q_bp,
         (CAST(q.q_bp AS BIGINT) * c.n_rows + 9999) // 10000 AS need
  FROM cum c, (VALUES {qvals}) q(q_bp)
)
SELECT q_bp, n_rows,
       CAST(bin * {width} AS DOUBLE)
         + CAST((need - cum_before) * {width} AS DOUBLE) / cnt AS est
FROM needs
WHERE cum_before < need AND cum_before + cnt >= need
"""


def hll_merge_distinct_orders(lineitem: DataFrame) -> DataFrame:
    """Mergeability demonstration: sketch two disjoint halves separately,
    then ``hll_union_agg`` them — the result must estimate the SAME
    population as sketching everything at once."""
    halves = [
        lineitem.filter(F.col("l_linenumber") <= 3),
        lineitem.filter(F.col("l_linenumber") > 3),
    ]
    partials = [
        h.groupBy("l_returnflag").agg(F.hll_sketch_agg("l_orderkey").alias("s"))
        for h in halves
    ]
    return (
        partials[0]
        .union(partials[1])
        .groupBy("l_returnflag")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("s")).alias("merged_orders"))
    )


MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def unpivot_measure_stats(lineitem: DataFrame) -> DataFrame:
    """Unpivot (melt) the four lineitem measures into (measure, value)
    rows, then aggregate per measure — long-form stats in one pass.
    ``unpivot`` is a zero-shuffle narrow transform; only the final
    aggregate shuffles (4 groups)."""
    long = lineitem.unpivot(
        ids=[], values=list(MEASURES), variableColumnName="measure",
        valueColumnName="value",
    )
    v = F.col("value").cast("decimal(18,4)")
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("total"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


def unpivot_measure_stats_sql() -> str:
    selects = " UNION ALL ".join(
        f"SELECT '{m}' AS measure, {m} AS value FROM lineitem" for m in MEASURES
    )
    return f"""
SELECT measure, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
       min(value) AS vmin, max(value) AS vmax
FROM ({selects}) GROUP BY measure
"""


def kv_upsert(current: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Last-writer-wins upsert — the dataflow replacement for the
    reference's HBase ``Put`` sink (SURVEY §2 S3, ``apriori_final.java:
    168-190``): rows in ``updates`` replace same-key rows in ``current``;
    new keys append.

    One shuffle on ``key`` (the anti-join and union share it); no
    read-modify-write races because the result is a new immutable
    snapshot — at scale this is a partition-pruned overwrite, not a
    per-row RPC storm.

    ``updates`` is deduplicated on ``key`` (arbitrary winner among
    same-key rows) so the snapshot invariant — one row per key — holds
    even for batches carrying duplicate updates; callers that care which
    duplicate wins must pre-resolve with their own version column.
    """
    updates = updates.dropDuplicates([key])
    survivors = current.join(updates, key, "left_anti")
    return survivors.unionByName(updates)


def orders_with_price_updates(orders: DataFrame) -> DataFrame:
    """kv_upsert demonstration: repriced updates for every 10th order."""
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1.0
    )
    return kv_upsert(orders, updates, "o_orderkey")


def orders_with_price_updates_sql() -> str:
    return """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
"""


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


def priority_customer_setops(orders: DataFrame) -> DataFrame:
    """Customers who placed BOTH an urgent and a low-priority order, minus
    anyone with an open ('P') order: INTERSECT then EXCEPT (distinct set
    semantics, matching SQL)."""
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    low = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").alias("custkey")
    )
    open_ = orders.filter(F.col("o_orderstatus") == "P").select(
        F.col("o_custkey").alias("custkey")
    )
    return urgent.intersect(low).exceptAll(open_.distinct())


def priority_customer_setops_sql() -> str:
    return """
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
"""


# ---------------------------------------------------------------------------
# Rich predicates + CASE projection
# ---------------------------------------------------------------------------


def filter_case_orders(orders: DataFrame) -> DataFrame:
    """IN / BETWEEN / LIKE / date-range predicates with a CASE bucket —
    the P7/F8 "general predicates and scalar functions" surface. All
    predicates are plain Column expressions, so Catalyst pushes them into
    the parquet scan."""
    return orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & F.col("o_totalprice").between(1000.0, 200000.0)
        & F.col("o_orderpriority").like("%-%")
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.when(F.col("o_totalprice") >= 100000.0, F.lit("big"))
        .when(F.col("o_totalprice") >= 10000.0, F.lit("mid"))
        .otherwise(F.lit("small"))
        .alias("bucket"),
        F.year("o_orderdate").alias("order_year"),
    )


def filter_case_orders_sql() -> str:
    return """
SELECT o_orderkey, o_custkey, o_totalprice,
       CASE WHEN o_totalprice >= 100000.0 THEN 'big'
            WHEN o_totalprice >= 10000.0 THEN 'mid'
            ELSE 'small' END AS bucket,
       CAST(year(o_orderdate) AS INT) AS order_year
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_totalprice BETWEEN 1000.0 AND 200000.0
  AND o_orderpriority LIKE '%-%'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
"""


# ---------------------------------------------------------------------------
# Distinct counts per group
# ---------------------------------------------------------------------------


def distinct_part_stats(part: DataFrame) -> DataFrame:
    """Exact distinct counts per p_type. (The approximate sibling,
    ``approx_count_distinct``, is asserted within-error in tests — an
    approximate result can't hash-match an exact oracle.)"""
    return part.groupBy("p_type").agg(
        F.countDistinct("p_brand").alias("n_brands"),
        F.countDistinct("p_size").alias("n_sizes"),
        F.count(F.lit(1)).alias("n_parts"),
    )


def distinct_part_stats_sql() -> str:
    return """
SELECT p_type, count(DISTINCT p_brand) AS n_brands,
       count(DISTINCT p_size) AS n_sizes, count(*) AS n_parts
FROM part GROUP BY p_type
"""


def quantity_quartiles(lineitem: DataFrame) -> DataFrame:
    """Exact quartiles of l_quantity per returnflag (A6 percentile
    surface). Cross-engine exact because l_quantity is integer-valued, so
    the linear interpolation ``a + (b-a)·f`` is exact IEEE in both
    engines. Exact percentile is a sort-based aggregate holding each
    group's values — fine for bounded groups; at 100 TB on unbounded
    groups use ``approx_percentile`` (asserted within-error in tests).
    """
    q = lambda p: F.percentile("l_quantity", F.lit(p))
    return lineitem.groupBy("l_returnflag").agg(
        F.min("l_quantity").alias("q0"),
        q(0.25).alias("q1"),
        q(0.5).alias("median"),
        q(0.75).alias("q3"),
        F.max("l_quantity").alias("q4"),
    )


def quantity_quartiles_sql() -> str:
    return """
SELECT l_returnflag,
       min(l_quantity) AS q0,
       quantile_cont(l_quantity, 0.25) AS q1,
       quantile_cont(l_quantity, 0.5) AS median,
       quantile_cont(l_quantity, 0.75) AS q3,
       max(l_quantity) AS q4
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Window frames + lag (running totals, gaps, ranks per customer)
# ---------------------------------------------------------------------------


def customer_order_history(orders: DataFrame) -> DataFrame:
    """Per customer order timeline: cumulative spend (decimal-exact running
    sum), days since previous order (lag), and order sequence number."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    price = F.col("o_totalprice").cast(_PRICE)
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.sum(price).over(run).cast("double").alias("running_spend"),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate", 1).over(w)
        ).alias("days_since_prev"),
        F.row_number().over(w).alias("order_seq"),
    )


def customer_order_history_sql() -> str:
    return f"""
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       CAST(sum(CAST(o_totalprice AS {_PRICE}))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend,
       CAST(date_diff('day',
                      lag(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate, o_orderkey),
                      o_orderdate) AS INT) AS days_since_prev,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS INT)
           AS order_seq
FROM orders
"""


# ---------------------------------------------------------------------------
# As-of join (merge formulation) and range join (bucket formulation)
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    tie_col: str,
) -> DataFrame:
    """Generic as-of join: for each left row, the right row with the
    greatest ``(right_ts, tie_col)`` such that ``right_ts <= left_ts``
    within the same ``key``. Left rows keep nulls when nothing precedes.

    Merge formulation: tag and union both sides, sort each key's timeline
    once, carry the latest right payload forward with
    ``last(..., ignorenulls)`` over a running frame. One shuffle+sort of
    |left|+|right| total, independent of time-overlap density — the
    scalable alternative to a range join that explodes candidate pairs.
    ``tie_col`` makes equal-timestamp picks deterministic.
    """
    lcols = [c for c in left.columns if c != key]
    l2 = left.select(
        key,
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_is_left"),
        *lcols,
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in payload_cols],
    )
    r2 = right.select(
        key,
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *payload_cols,
    )
    # at equal _t: right rows (0) sort first → "<=" inclusive; equal-ts
    # right rows ordered by tie_col so last() picks the max
    w = (
        Window.partitionBy(key)
        .orderBy("_t", "_is_left", F.col(tie_col).asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = l2.unionByName(r2).select(
        key,
        "_is_left",
        *lcols,
        *[
            F.last(c, ignorenulls=True).over(w).alias(f"last_{c}")
            for c in payload_cols
        ],
    )
    return merged.filter(F.col("_is_left") == 1).drop("_is_left")


def events_orders_asof(events: DataFrame, orders: DataFrame) -> DataFrame:
    """For each event, the latest order of the same user at or before the
    event timestamp (ties on o_orderdate broken by max o_orderkey).
    Left semantics: events before any order keep null order columns."""
    return asof_join(
        events.select("user_id", "ts", "event_id"),
        orders.select(
            F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey"
        ),
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=["o_orderkey", "o_orderdate"],
        tie_col="o_orderkey",
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("last_o_orderkey").alias("last_orderkey"),
        F.col("last_o_orderdate").alias("last_orderdate"),
    )


def bucketed_range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_gap_s: int,
) -> DataFrame:
    """Range join ``left ⋈ right`` on ``key`` AND ``right_ts ∈ (left_ts,
    left_ts + max_gap_s]``, bucket-formulated for scale.

    A naive inequality join degenerates to a per-key cross product.
    Bucketing by ``max_gap`` windows makes it an equi-join: a right row
    at time t can only match left rows in time buckets ``floor(t/w)`` and
    ``floor(t/w) - 1``, so the right side is exploded exactly 2× and
    joined on (key, bucket), then the exact predicate filters in-task.
    Shuffle volume is 3·|input| regardless of time density; the residual
    comparison never crosses tasks. Caller must pre-alias columns so the
    two sides don't collide (required for self-joins).
    """
    w_us = int(max_gap_s) * 1_000_000
    lt = F.unix_micros(F.col(left_ts))
    rt = F.unix_micros(F.col(right_ts))
    # FLOOR division, not `div` (which truncates toward zero and puts
    # pre-1970 timestamps in the wrong bucket, silently dropping matches).
    # (x - pmod(x, w)) div w is exact integer floor-div — no double
    # round-trip, safe for the full micros range.
    def _floor_bucket(col: str) -> str:
        return f"({col} - pmod({col}, {w_us})) div {w_us}"

    l2 = left.withColumn("_lt", lt).withColumn(
        "_bucket", F.expr(_floor_bucket("_lt"))
    )
    r2 = (
        right.withColumn("_rt", rt)
        .withColumn(
            "_bucket",
            F.explode(
                F.array(
                    F.expr(_floor_bucket("_rt")),
                    F.expr(f"{_floor_bucket('_rt')} - 1"),
                )
            ),
        )
    )
    return (
        l2.join(r2, [key, "_bucket"])
        .filter((F.col("_rt") > F.col("_lt")) & (F.col("_rt") <= F.col("_lt") + w_us))
        .drop("_bucket", "_lt", "_rt")
    )


def hourly_gapfill(events: DataFrame) -> DataFrame:
    """Time-grid resample with gap fill: per event type, one row for
    EVERY hour between the corpus's first and last event — zero-filled
    counts/sums plus a forward-filled last-active-hour value. Returns
    ``(event_type, hour_ts, n_events, value_sum_micro,
    filled_sum_micro)``.

    The grid is generated in-plan (1-row global bounds broadcast ×
    distinct types × ``sequence`` explode — no driver collect, no
    cartesian scan), the hourly aggregate joins onto it, and the forward
    fill is ``last(..., ignorenulls)`` over an unbounded-preceding
    frame. Grid size is |types| · |hours| — independent of event volume,
    so the join's right side stays broadcast-small at any data scale.
    Values are micro-quantized (streaming.windows.VALUE_SCALE) so sums
    are exact integers cross-engine.
    """
    from mapreduce_code_spark.streaming.windows import _qvalue

    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_qvalue()).alias("v"),
    )
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = (
        events.select("event_type")
        .distinct()
        .join(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("hour_ts"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["event_type", "hour_ts"], "left")
        .select(
            "event_type",
            "hour_ts",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("v", F.lit(0)).alias("value_sum_micro"),
            F.last("v", ignorenulls=True).over(w).alias("filled_sum_micro"),
        )
    )


def hourly_gapfill_sql() -> str:
    """DuckDB twin of :func:`hourly_gapfill` (micro-truncated timestamps
    mirror the engine's nanos→micros read)."""
    return """
WITH ev AS (SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events),
hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts, count(*) AS n_events,
         sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS v
  FROM ev GROUP BY 1, 2
), bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM ev
), grid AS (
  SELECT t.event_type, g.hour_ts
  FROM (SELECT DISTINCT event_type FROM ev) t,
       bounds,
       LATERAL (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
                AS hour_ts) g
)
SELECT g.event_type, g.hour_ts,
       COALESCE(h.n_events, 0) AS n_events,
       CAST(COALESCE(h.v, 0) AS BIGINT) AS value_sum_micro,
       CAST(last_value(h.v IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.hour_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS filled_sum_micro
FROM grid g LEFT JOIN hourly h USING (event_type, hour_ts)
"""


def idle_high_value_customers(
    customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average account balance and
    NO URGENT order — an explicit left-anti join (the NOT EXISTS
    rewrite), aggregated per market segment: ``(c_mktsegment,
    n_customers, total_acctbal)``. (The urgency filter keeps the anti
    side selective — in this dataset every customer has SOME order.)

    The anti join build side is the distinct order custkeys — typically
    broadcast; the average-balance threshold is a 1-row aggregate
    broadcast into the filter. The "above average" predicate is phrased
    as ``bal·n > total`` in exact decimals — a float ``avg()`` in a
    FILTER is a cross-engine cliff (order-dependent double summation
    can flip borderline rows), the same exactness discipline the
    compared outputs follow.
    """
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    totals = customer.agg(
        F.sum(bal).alias("total_bal"), F.count(F.lit(1)).alias("n_cust")
    )
    rich = (
        customer.join(F.broadcast(totals))
        .filter(bal * F.col("n_cust") > F.col("total_bal"))
    )
    idle = rich.join(
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct(),
        "c_custkey",
        "left_anti",
    )
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(bal).cast("double").alias("total_acctbal"),
    )


def idle_high_value_customers_sql() -> str:
    return """
SELECT c_mktsegment, count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer c
WHERE CAST(c_acctbal AS DECIMAL(18,2))
        * (SELECT count(*) FROM customer)
      > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
"""


def scd2_customer_prices(orders: DataFrame) -> DataFrame:
    """Type-2 slowly-changing-dimension materialization: each customer's
    order history becomes validity intervals ``(custkey, orderkey,
    price, valid_from, valid_to, is_current)`` where ``valid_to`` is the
    next change's timestamp (null = open interval, ``is_current``).

    One window ``lead`` per customer partition — the interval endpoints
    come from ordering alone, no self-join against "the next row". This
    is the complement of ``kv_upsert`` (type-1 overwrite): same change
    stream, history preserved instead of collapsed.
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    lead_date = F.lead("o_orderdate").over(w)
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderdate").alias("valid_from"),
        lead_date.alias("valid_to"),
        lead_date.isNull().alias("is_current"),
    )


def scd2_customer_prices_sql() -> str:
    return """
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       o_totalprice AS price, o_orderdate AS valid_from,
       lead(o_orderdate) OVER w AS valid_to,
       lead(o_orderdate) OVER w IS NULL AS is_current
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def regional_revenue(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    r_name: str = "ASIA",
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q5-shaped six-table join: revenue by nation for orders in a
    region and date window, where the lineitem's supplier sits in the
    customer's own nation. ``(n_name, revenue)``, decimal-exact revenue.

    The join-planning showcase, broadcast-by-BOUNDEDNESS: only the
    region→nation product is broadcast by hand (≤ a few dozen rows at
    ANY scale factor). Customer and supplier GROW with the data, so
    their joins stay declarative — AQE broadcasts the filtered sides
    when runtime stats fit and falls back to shuffle joins when they
    don't, which is exactly the 100 TB behavior (forcing broadcast here
    would OOM a real cluster). Date/region predicates push into the
    parquet scans; the orders⋈lineitem fact join shuffles only the
    date-surviving rows on orderkey.
    """
    price = F.col("l_extendedprice").cast(_PRICE)
    disc = F.col("l_discount").cast(_RATE)
    nations = (
        region.filter(F.col("r_name") == r_name)
        .join(nation, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    custs = customer.join(
        F.broadcast(nations), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey", "n_name")
    ords = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    supps = supplier.join(
        F.broadcast(nations.select("n_nationkey")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey")
    return (
        lineitem.select(
            "l_orderkey",
            "l_suppkey",
            (price * (F.lit(1).cast(_RATE) - disc)).alias("rev"),
        )
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(custs, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supps,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum("rev").cast("double").alias("revenue"))
    )


def regional_revenue_sql(
    r_name: str = "ASIA",
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
) -> str:
    return f"""
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS {_PRICE})
                * (CAST(1 AS {_RATE}) - CAST(l_discount AS {_RATE})))
            AS DOUBLE) AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name = '{r_name}'
  AND o_orderdate >= TIMESTAMP '{date_from}'
  AND o_orderdate < TIMESTAMP '{date_to}'
GROUP BY n_name
"""


def funnel_stages(events: DataFrame) -> DataFrame:
    """Ordered conversion funnel view → click → purchase per user:
    ``(user_id, first_view, first_click, first_purchase, reached)``.
    Each stage's timestamp is the first qualifying event STRICTLY AFTER
    the previous stage (ordering matters — a click before the first view
    doesn't convert). ``reached`` ∈ {1,2,3}.

    Single-pass formulation: ONE scan of the three event types and ONE
    user-keyed exchange. Each stage's threshold is a RUNNING min over
    the ts-ordered per-user stream (default RANGE frame, so ties at the
    current timestamp are visible and the strict ``>`` excludes them,
    exactly like comparing against the global first-stage min — the
    global min is visible in the running frame precisely when it
    precedes the candidate). The final per-user rollup reuses the
    window's hash partitioning, so no second exchange; the naive
    3-aggregate + 2-join cascade costs 3 scans and 5 exchanges for the
    same rows.
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    is_t = lambda t: F.col("event_type") == t  # noqa: E731
    staged = (
        events.filter(
            F.col("event_type").isin("view", "click", "purchase")
        )
        .select("user_id", "ts", "event_type")
        .withColumn("rv", F.min(F.when(is_t("view"), F.col("ts"))).over(w))
        .withColumn(
            "qclick",
            F.when(is_t("click") & (F.col("ts") > F.col("rv")), F.col("ts")),
        )
        .withColumn("rc", F.min("qclick").over(w))
        .withColumn(
            "qpurchase",
            F.when(
                is_t("purchase") & (F.col("ts") > F.col("rc")), F.col("ts")
            ),
        )
    )
    return (
        staged.groupBy("user_id")
        .agg(
            F.min(F.when(is_t("view"), F.col("ts"))).alias("first_view"),
            F.min("qclick").alias("first_click"),
            F.min("qpurchase").alias("first_purchase"),
        )
        .filter(F.col("first_view").isNotNull())
        .select(
            "user_id",
            "first_view",
            "first_click",
            "first_purchase",
            (
                F.lit(1)
                + F.col("first_click").isNotNull().cast("int")
                + F.col("first_purchase").isNotNull().cast("int")
            ).alias("reached"),
        )
    )


def funnel_stages_sql() -> str:
    return """
WITH ev AS (SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events),
v AS (
  SELECT user_id, min(ts) AS first_view FROM ev
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS first_click
  FROM ev e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.first_view
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS first_purchase
  FROM ev e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.first_click
  GROUP BY e.user_id
)
SELECT v.user_id, first_view, first_click, first_purchase,
       1 + CAST(first_click IS NOT NULL AS INT)
         + CAST(first_purchase IS NOT NULL AS INT) AS reached
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
"""


def rolling_24h_user_activity(events: DataFrame) -> DataFrame:
    """Per event: same-user activity in the trailing 24 h —
    ``(event_id, user_id, ts, n_24h, value_sum_micro_24h)`` where the
    frame is ``[ts - 24h, ts]`` inclusive (a RANGE frame on integer µs).

    Each figure is a running total up to ``ts`` minus the running total
    up to ``ts - 24h - 1µs``. Invariant: every frame starts at unbounded
    preceding, which Spark evaluates incrementally, so a user's partition
    costs one sort plus a linear scan however hot the user; a sliding
    ``[ts - 24h, ts]`` frame would re-aggregate its whole buffer each time
    it moves, and a self-join is quadratic. The difference is exact: keys
    are integer µs, the sums are ``long``, and ``value`` is non-null in
    the events schema, so an empty "before" frame's NULL sum counts as 0.
    """
    from mapreduce_code_spark.streaming.windows import _qvalue

    day_us = 24 * 3600 * 1_000_000
    upto = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"))
    now = upto.rangeBetween(Window.unboundedPreceding, 0)
    before = upto.rangeBetween(Window.unboundedPreceding, -day_us - 1)

    def trailing(agg):
        return agg.over(now) - F.coalesce(agg.over(before), F.lit(0))

    return events.select(
        "event_id",
        "user_id",
        "ts",
        trailing(F.count(F.lit(1))).alias("n_24h"),
        trailing(F.sum(_qvalue())).alias("value_sum_micro_24h"),
    )


def rolling_24h_user_activity_sql() -> str:
    return """
WITH ev AS (SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events)
SELECT event_id, user_id, ts,
       count(*) OVER w AS n_24h,
       CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) OVER w
            AS BIGINT) AS value_sum_micro_24h
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
"""


def events_close_pairs(events: DataFrame, max_gap_s: int = 600) -> DataFrame:
    """Pairs of same-user events within ``max_gap_s`` of each other
    (strictly ordered): ``(user_id, event_a, event_b, gap_us)`` — the
    bucketed range join demonstrated as a self-join."""
    a = events.select("user_id", F.col("event_id").alias("event_a"), F.col("ts").alias("ts_a"))
    b = events.select("user_id", F.col("event_id").alias("event_b"), F.col("ts").alias("ts_b"))
    return bucketed_range_join(
        a, b, key="user_id", left_ts="ts_a", right_ts="ts_b", max_gap_s=max_gap_s
    ).select(
        "user_id",
        "event_a",
        "event_b",
        (F.unix_micros("ts_b") - F.unix_micros("ts_a")).alias("gap_us"),
    )


def events_close_pairs_sql(max_gap_s: int = 600) -> str:
    # oracle = plain inequality self-join (fine at oracle scale)
    return f"""
WITH ev AS (SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events)
SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
FROM ev a JOIN ev b
  ON a.user_id = b.user_id
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL {max_gap_s} SECOND
"""


def events_orders_asof_sql() -> str:
    # oracle = brute-force candidates + rank (correct at oracle scale;
    # the engine path above is the scalable formulation)
    return """
WITH cand AS (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC)
             AS rn
  FROM events e JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
)
SELECT e.event_id, e.user_id, e.ts,
       c.o_orderkey AS last_orderkey, c.o_orderdate AS last_orderdate
FROM events e LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
  USING (event_id, user_id, ts)
"""


# ---------------------------------------------------------------------------
# Correlated-subquery shape: rows above a per-group statistic
# ---------------------------------------------------------------------------

def above_avg_orders(orders: DataFrame) -> DataFrame:
    """Orders priced above 1.5× their customer's average order price —
    the canonical correlated-scalar-subquery shape (``WHERE o_totalprice
    > 1.5 * (SELECT avg(..) .. WHERE same custkey)``), written directly
    in its DECORRELATED form: one window aggregate per customer, one
    filter. Catalyst decorrelates the subquery spelling to this same
    agg+join plan; stating it as a window makes the single shuffle
    (on o_custkey) explicit and keeps the fact table single-scan.

    Exactness: prices are 2-decimal doubles; quantizing to integer
    cents (module convention) turns the predicate into pure integer
    math — ``2·n·cents > 3·sum_cents`` ⇔ cents > 1.5·avg — with no
    double division on either engine. Returns ``(o_orderkey, o_custkey,
    price_cents, n_orders, custkey_sum_cents)``.
    """
    cents = _cents(F.col("o_totalprice"))
    w = Window.partitionBy("o_custkey")
    priced = orders.select(
        "o_orderkey", "o_custkey", cents.alias("price_cents")
    ).select(
        "o_orderkey",
        "o_custkey",
        "price_cents",
        F.count(F.lit(1)).over(w).alias("n_orders"),
        F.sum("price_cents").over(w).alias("custkey_sum_cents"),
    )
    return priced.filter(
        F.lit(2) * F.col("n_orders") * F.col("price_cents")
        > F.lit(3) * F.col("custkey_sum_cents")
    )


def above_avg_orders_sql() -> str:
    """DuckDB twin of :func:`above_avg_orders` (same integer-cents
    predicate)."""
    return """
WITH priced AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_cents
  FROM orders
),
agg AS (
  SELECT o_orderkey, o_custkey, price_cents,
         CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_orders,
         CAST(sum(price_cents) OVER (PARTITION BY o_custkey) AS BIGINT)
           AS custkey_sum_cents
  FROM priced
)
SELECT * FROM agg
WHERE 2 * n_orders * price_cents > 3 * custkey_sum_cents
"""


# ---------------------------------------------------------------------------
# Data-quality / integrity constraint checks
# ---------------------------------------------------------------------------

def profile(df: DataFrame, exact_distinct: bool = False) -> DataFrame:
    """Single-pass column profiler — the summary every ingest wants
    before promoting a snapshot: one row per column with
    ``(column, n_rows, n_nulls, n_distinct, min_str, max_str)``.

    ONE aggregate over ONE scan regardless of column count: every
    per-column statistic is an expression in the same ``agg`` (all
    map-side combined, one exchange of a single row), then the wide
    row unpivots to the per-column report via ``stack`` — the report
    stays a driver-sized frame at any corpus size. Distinct counts are
    HyperLogLog-approximate (``approx_count_distinct``) by default
    because exact per-column distincts cannot share one plain pass;
    ``exact_distinct=True`` switches to exact ``countDistinct`` —
    still one SCAN, but Catalyst plans multi-distinct via Expand
    (each input row replicated once per distinct column), so it costs
    ~column-count× the aggregate work; the exact mode is what the
    driver CORRECTNESS row runs (HLL++ internals aren't reproducible
    in an external oracle engine). Min/max are cast to string so mixed
    column types fit one report schema. Unorderable columns (maps,
    incl. nested) report nulls-only — min/max/distinct are typed NULL
    rather than failing the whole report. Column names are never
    interpolated into SQL text (index-based aliases + ``F.stack`` with
    Column args), so spaces/dots/quotes in names are fine."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def _contains_map(dt) -> bool:
        # orderability is recursive: struct<map<...>>, array<map<...>>,
        # and deeper nestings are just as unorderable as a top-level map
        # (min/max raise INVALID_ORDERING_TYPE), so walk the whole type
        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return _contains_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(_contains_map(f.dataType) for f in dt.fields)
        return False

    names = [f_.name for f_ in df.schema.fields]
    # positional rename to generated identifiers: F.col()/df[...] parse
    # dots as struct-field access and choke on quotes/backticks, so the
    # aggregation never references a user-supplied name
    df = df.toDF(*[f"_c{i}" for i in range(len(names))])
    n = F.count(F.lit(1))
    aggs = [n.alias("_n_rows")]
    for i, f_ in enumerate(df.schema.fields):
        col = F.col(f"_c{i}")
        orderable = not _contains_map(f_.dataType)
        aggs += [
            # sum() over zero rows is NULL — an empty snapshot must
            # still report 0 nulls, not NULL nulls
            F.coalesce(
                F.sum(col.isNull().cast("bigint")), F.lit(0)
            ).alias(f"_nulls_{i}"),
            (
                (
                    F.countDistinct(col)
                    if exact_distinct
                    else F.approx_count_distinct(col)
                )
                if orderable
                else F.lit(None).cast("bigint")
            ).alias(f"_dist_{i}"),
            (
                F.min(col).cast("string")
                if orderable
                else F.lit(None).cast("string")
            ).alias(f"_min_{i}"),
            (
                F.max(col).cast("string")
                if orderable
                else F.lit(None).cast("string")
            ).alias(f"_max_{i}"),
        ]
    wide = df.agg(*aggs)
    parts = []
    for i, name in enumerate(names):
        parts += [
            F.lit(name),
            F.col(f"_nulls_{i}"),
            F.col(f"_dist_{i}"),
            F.col(f"_min_{i}"),
            F.col(f"_max_{i}"),
        ]
    return wide.select(
        F.col("_n_rows").alias("n_rows"),
        F.stack(F.lit(len(df.schema.fields)), *parts).alias(
            "column", "n_nulls", "n_distinct", "min_str", "max_str"
        ),
    ).select(
        "column", "n_rows", "n_nulls", "n_distinct", "min_str", "max_str"
    )


# The registered profile query's table and column set — the ONE
# definition registry.py's relational_profile reads (round-8 advisor
# item: previously registry._DOC_COLS duplicated this list and only a
# test pinned the two in sync; adding a profiled column now edits one
# constant).
PROFILE_TABLE = "documents"
PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")

# Names allowed through BARE in generated oracle SQL — exactly the
# registered profile query's table and columns, so the committed oracle
# text stays byte-stable. Everything else is double-quoted: quoting by
# default means a DuckDB keyword-category change (a new reserved word,
# a 'between'-style column-position keyword) can never break oracle
# generation; the allowlist itself is verified against the INSTALLED
# duckdb's live ``duckdb_keywords()`` in
# tests/test_relational.py::test_bare_ident_allowlist_vs_live_duckdb,
# so list drift fails CI instead (round-7 advisor item; replaces the
# hand-frozen _SQL_KEYWORDS snapshot).
_BARE_IDENT_OK = frozenset([PROFILE_TABLE, *PROFILE_COLS])


def _sql_ident(name: str) -> str:
    """``name`` as a safe SQL identifier: quoted by default (embedded
    quotes doubled — names with spaces, dots, quotes, or keywords can't
    break out of identifier position); only the allowlisted registered
    names pass through bare, keeping generated oracle text byte-stable
    for the registered queries."""
    if name in _BARE_IDENT_OK:
        return name
    return '"' + name.replace('"', '""') + '"'


def _sql_str(value: str) -> str:
    """``value`` as a SQL string literal, embedded quotes doubled."""
    return "'" + value.replace("'", "''") + "'"


def profile_exact_sql(table: str, cols: list[str]) -> str:
    """DuckDB twin of :func:`profile` with ``exact_distinct=True`` over
    ``table`` — one UNION ALL branch per column (the oracle may be
    column-count× the work; the Spark side stays one scan). Column and
    table names are quoted/escaped per position (identifier vs string
    literal), so the twin tolerates the same hostile names —
    spaces, dots, quotes, keywords — :func:`profile` itself does
    (round-6 advisor item)."""
    branches = []
    for c in cols:
        ident = _sql_ident(c)
        branches.append(f"""SELECT {_sql_str(c)} AS "column", count(*) AS n_rows,
       count(*) FILTER (WHERE {ident} IS NULL) AS n_nulls,
       count(DISTINCT {ident}) AS n_distinct,
       CAST(min({ident}) AS VARCHAR) AS min_str,
       CAST(max({ident}) AS VARCHAR) AS max_str
FROM {_sql_ident(table)}""")
    return "\nUNION ALL\n".join(branches)


def integrity_checks(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Declarative pipeline health checks — the dbt-style constraint
    sweep every ingest runs before promoting a snapshot: uniqueness,
    not-null, and referential integrity, reported as one row per check
    ``(check_name, n_violations, n_checked)``.

    - ``orders_custkey_fk``: orders whose o_custkey has no customer row
      (left-anti join — at scale the dim key set broadcasts or the
      anti-join shuffles on the key, same as any semi-join)
    - ``customer_key_unique``: c_custkey values appearing more than once
      (count of EXCESS rows, i.e. total - distinct)
    - ``orders_totalprice_not_null`` / ``orders_custkey_not_null``:
      null counts riding ONE aggregate over the fact scan
    Each check is a tiny aggregate; the union is a report, not a data
    path — all fact scans aggregate map-side before the union.
    """
    n_orders = F.count(F.lit(1))
    fk = (
        orders.join(
            customer.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        )
        .agg(n_orders.alias("n_violations"))
        .crossJoin(orders.agg(n_orders.alias("n_checked")))
        .select(F.lit("orders_custkey_fk").alias("check_name"),
                "n_violations", "n_checked")
    )
    uniq = customer.agg(
        (F.count(F.lit(1)) - F.countDistinct("c_custkey")).alias("n_violations"),
        F.count(F.lit(1)).alias("n_checked"),
    ).select(F.lit("customer_key_unique").alias("check_name"),
             "n_violations", "n_checked")
    # coalesce: sum over ZERO rows is NULL, but the oracle's
    # count(*) FILTER is 0 — an empty snapshot (exactly the
    # pre-promotion gate case) must report 0 violations, not NULL
    zero = F.lit(0).cast("bigint")
    nulls = orders.agg(
        F.coalesce(
            F.sum(F.col("o_totalprice").isNull().cast("bigint")), zero
        ).alias("v1"),
        F.coalesce(
            F.sum(F.col("o_custkey").isNull().cast("bigint")), zero
        ).alias("v2"),
        F.count(F.lit(1)).alias("n_checked"),
    )
    null_rows = nulls.select(
        F.lit("orders_totalprice_not_null").alias("check_name"),
        F.col("v1").alias("n_violations"),
        "n_checked",
    ).unionAll(
        nulls.select(
            F.lit("orders_custkey_not_null").alias("check_name"),
            F.col("v2").alias("n_violations"),
            "n_checked",
        )
    )
    return fk.unionAll(uniq).unionAll(null_rows)


def integrity_checks_sql() -> str:
    """DuckDB twin of :func:`integrity_checks`."""
    return """
SELECT 'orders_custkey_fk' AS check_name,
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
         AS n_violations,
       CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_checked
UNION ALL
SELECT 'customer_key_unique',
       CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT), CAST(count(*) AS BIGINT)
FROM customer
UNION ALL
SELECT 'orders_totalprice_not_null',
       CAST(count(*) FILTER (o_totalprice IS NULL) AS BIGINT), CAST(count(*) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders_custkey_not_null',
       CAST(count(*) FILTER (o_custkey IS NULL) AS BIGINT), CAST(count(*) AS BIGINT)
FROM orders
"""


# ------------------------------------------------- robust aggregation

def winsorized_price_stats(
    orders: DataFrame, lo_bp: int = 500, hi_bp: int = 9500
) -> DataFrame:
    """Winsorized mean order value per priority — the robust-statistics
    counterpart of the plain average: values below the ``lo_bp``/above
    the ``hi_bp`` basis-point rank are CLAMPED to the boundary value
    before averaging, so a handful of fat-finger orders can't drag the
    group mean. Returns ``(o_orderpriority, n, lo_cents, hi_cents,
    winsorized_mean)``.

    Exactness: prices quantize to cents (exact for 2-decimal money);
    boundary ranks are pure integer arithmetic ``greatest(1,
    (n·bp + 9999) div 10000)`` (ceil); the boundary VALUE at a rank is
    deterministic even under row_number ties (equal values are
    interchangeable — the sorted multiset fixes the value at every
    position); the clamped sum is an exact integer sum in decimal(38,0)
    and the mean one IEEE division. rtol=0 vs the DuckDB twin.

    Scale shape: one per-group sort window ranks the rows, the two
    boundary rows per group reduce to a group-sized bounds frame joined
    back by broadcast, and the clamped aggregate is map-side combined —
    two keyed exchanges of the fact columns total. For groups too large
    to sort, the repo's mergeable histogram sketch
    (``histogram_quantiles``) supplies approximate bounds instead; the
    clamp-and-average stage is unchanged."""
    q = orders.select(
        F.col("o_orderpriority"), _cents(F.col("o_totalprice")).alias("vq")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("vq")
    # boundary ranks computed ONCE as columns — the where-filter and the
    # agg whens must select the same rows, so the arithmetic lives in one
    # place (mirrors the lo/hi variables of the SQL twin)
    ranked = (
        q.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("o_orderpriority"))
        )
        .withColumn(
            "lo_rank", F.expr(f"greatest(1, (n * {lo_bp} + 9999) div 10000)")
        )
        .withColumn(
            "hi_rank", F.expr(f"greatest(1, (n * {hi_bp} + 9999) div 10000)")
        )
    )
    bounds = (
        ranked.where(
            (F.col("rn") == F.col("lo_rank")) | (F.col("rn") == F.col("hi_rank"))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.min(
                F.when(F.col("rn") == F.col("lo_rank"), F.col("vq"))
            ).alias("lo_cents"),
            F.max(
                F.when(F.col("rn") == F.col("hi_rank"), F.col("vq"))
            ).alias("hi_cents"),
        )
    )
    # clamp stage reads the PRE-window projection — joining `ranked`
    # would evaluate the per-group sort + both window functions a second
    # time just to discard rn/n
    return (
        q.join(F.broadcast(bounds), "o_orderpriority")
        .select(
            "o_orderpriority",
            F.expr("greatest(lo_cents, least(hi_cents, vq))").alias("wv"),
            "lo_cents",
            "hi_cents",
        )
        .groupBy("o_orderpriority", "lo_cents", "hi_cents")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(sum(CAST(wv AS DECIMAL(38,0))) AS DOUBLE)"
                " / CAST(count(1) AS DOUBLE)"
            ).alias("winsorized_mean"),
        )
        .select(
            "o_orderpriority", "n", "lo_cents", "hi_cents", "winsorized_mean"
        )
    )


def winsorized_price_stats_sql(lo_bp: int = 500, hi_bp: int = 9500) -> str:
    lo = f"greatest(1, (n * {lo_bp} + 9999) // 10000)"
    hi = f"greatest(1, (n * {hi_bp} + 9999) // 10000)"
    return f"""
WITH q AS (
  SELECT o_orderpriority,
         CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
           AS vq
  FROM orders
),
ranked AS (
  SELECT o_orderpriority, vq,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY vq) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM q
),
bounds AS (
  SELECT o_orderpriority,
         min(CASE WHEN rn = {lo} THEN vq END) AS lo_cents,
         max(CASE WHEN rn = {hi} THEN vq END) AS hi_cents
  FROM ranked
  WHERE rn = {lo} OR rn = {hi}
  GROUP BY o_orderpriority
)
SELECT r.o_orderpriority, count(*) AS n, b.lo_cents, b.hi_cents,
       CAST(sum(CAST(greatest(b.lo_cents, least(b.hi_cents, r.vq))
                     AS HUGEINT)) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS winsorized_mean
FROM q r JOIN bounds b USING (o_orderpriority)
GROUP BY r.o_orderpriority, b.lo_cents, b.hi_cents
"""


def pointintime_prices(events: DataFrame, orders: DataFrame) -> DataFrame:
    """Point-in-time (bitemporal) join — the canonical warehouse pattern
    the SCD2 materialization exists FOR: each event is joined to the
    price interval that was valid AT its timestamp, i.e.
    ``valid_from <= ts < valid_to`` (open interval = current row).
    Returns ``(event_id, custkey, ts, orderkey, price_cents)``.

    The SCD2 intervals partition each customer's timeline from the first
    change onward, so every matching event lands in EXACTLY one row —
    no dedup needed, and the result is deterministic. Price is exact
    cents (module convention).

    Scale shape: an equi-join on the customer key with the interval test
    as a residual predicate — SortMergeJoin + filter, never a cartesian;
    the dimension side is orders-sized (its intervals come from one
    window pass, no self-join), and per-key interval counts are bounded
    by order counts so AQE's skew split handles hot customers."""
    dim = scd2_customer_prices(orders).select(
        "custkey",
        "orderkey",
        _cents(F.col("price")).alias("price_cents"),
        "valid_from",
        "valid_to",
    )
    ev = events.select(
        "event_id", F.col("user_id").alias("custkey"), "ts"
    )
    cond = (
        (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
    )
    return (
        ev.join(dim, on=["custkey"], how="inner")
        .where(cond)
        .select("event_id", "custkey", "ts", "orderkey", "price_cents")
    )


def pointintime_prices_sql() -> str:
    # the dim CTE COMPOSES the SCD2 oracle (one source of truth for the
    # interval semantics — a tie-break change there propagates here),
    # adding only the cents cast on top, mirroring the Spark side's
    # reuse of scd2_customer_prices()
    return f"""
WITH ev0 AS (
  SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events
),
dim AS (
  SELECT custkey, orderkey,
         CAST(floor(CAST(price AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
           AS price_cents,
         valid_from, valid_to
  FROM ({scd2_customer_prices_sql()})
)
SELECT e.event_id, e.user_id AS custkey, e.ts, d.orderkey, d.price_cents
FROM ev0 e
JOIN dim d
  ON d.custkey = e.user_id
 AND d.valid_from <= e.ts
 AND (d.valid_to IS NULL OR e.ts < d.valid_to)
"""


def returned_order_counts(
    orders: DataFrame,
    lineitem: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-07-01",
) -> DataFrame:
    """TPC-H Q4-shaped EXISTS semi-join: orders placed in a window that
    have AT LEAST ONE returned line item, counted by priority —
    ``(o_orderpriority, n_orders)``. The one classic join shape the
    surface lacked: a true left-SEMI probe (the anti-join complement of
    ``idle_high_value_customers``), where the probe side contributes
    existence only, never multiplicity — an order with five returned
    lines counts once.

    Scale shape: the date filter pushes to the orders scan; the semi
    join is a keyed shuffle where the build side is pre-filtered to the
    returned lines' orderkeys (Spark's LeftSemi never materializes the
    multiplicity); the priority count is map-side combined. At 100 TB
    the Bloom semi-join reduction (``bloom_semi_reduce``) slots in front
    to prune the orders scan before its exchange."""
    window = orders.where(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    )
    returned = lineitem.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        window.join(returned, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def returned_order_counts_sql(
    date_from: str = "1996-01-01", date_to: str = "1996-07-01"
) -> str:
    return f"""
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '{date_from}'
  AND o.o_orderdate < TIMESTAMP '{date_to}'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
  )
GROUP BY o_orderpriority
"""
