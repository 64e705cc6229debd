"""Reference-native derived views built from the star schema
(FIXTURES.md §2).

``transactions`` and ``labeled_points`` mirror the reference's two input
formats (baskets of item tokens; ``y x1 x2 ...`` labeled points) so the
Apriori / regression operators run against real driver-generated data.

Scale notes:
- ``transactions`` joins lineitem⋈part on partkey. ``part`` is the small
  dimension (200 rows/sf0.001, ~200k at TB scale) → broadcast hint, so the
  fact scan never shuffles for the join; the only shuffle is the groupBy
  on l_orderkey, which is unavoidable (it IS the aggregation key) and
  partial-aggregated map-side by Spark's hash aggregate.
- ``labeled_points`` is a pure projection — no shuffle at all, and column
  pruning reaches the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def transactions(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Baskets for Apriori: ``(basket_id bigint, items array<string>)``.

    basket = order; items = sorted distinct ``p_brand`` values bought in
    the order. Replaces the reference's text lines (``apriori_final.java:6``)
    with first-class arrays whose identity is a true set (SURVEY.md §7.2).
    """
    return (
        lineitem.select("l_orderkey", "l_partkey")
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("l_orderkey").alias("basket_id"))
        # slice caps adversarial basket widths so one giant basket can't
        # blow a task's memory; the item domain here is 25 brands, so the
        # cap never binds on real data (SURVEY §9 gap 3)
        .agg(
            F.slice(
                F.array_sort(F.array_distinct(F.collect_list("p_brand"))),
                1,
                10_000,
            ).alias("items")
        )
    )


def transactions_ordered(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Encounter-order baskets for faithful reference replay:
    ``(basket_id, items)`` where items keep the order the basket's lines
    appear in (``l_linenumber``), first occurrence wins on duplicates,
    and NO sorting is applied — so with
    ``AprioriConfig(ordered_identity=True)`` the itemset keys reproduce
    the reference's transaction-order-sensitive identity
    (``apriori_final.java:82-93``), where ``"b a"`` and ``"a b"`` are
    different itemsets. Same broadcast-join + single-shuffle plan as
    :func:`transactions`; the order column rides the collect_list and is
    dropped after the in-group sort. No registered row reads it;
    tests/test_apriori.py checks the replay against a DuckDB oracle."""
    return (
        lineitem.select("l_orderkey", "l_linenumber", "l_partkey")
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("l_orderkey").alias("basket_id"))
        .agg(
            F.slice(
                F.array_distinct(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("l_linenumber", "p_brand")
                            )
                        ),
                        lambda x: x["p_brand"],
                    )
                ),
                1,
                10_000,
            ).alias("items")
        )
    )


def labeled_points_scaled(lineitem: DataFrame) -> DataFrame:
    """Normalized regression input for SGD stability: y and features scaled
    to O(1) so the reference's fixed alpha=0.03 doesn't diverge on
    price-magnitude targets. ``(row_id, y, features)``; features[0]=bias."""
    return lineitem.select(
        F.monotonically_increasing_id().alias("row_id"),
        (F.col("l_extendedprice") / F.lit(100000.0)).alias("y"),
        F.array(
            F.lit(1.0),
            F.col("l_quantity") / F.lit(50.0),
            F.col("l_discount"),
            F.col("l_tax"),
        ).alias("features"),
    )


def labeled_points_binary(lineitem: DataFrame) -> DataFrame:
    """Binary-label variant for logistic regression: y = 1.0 when the line
    was returned (l_returnflag = 'R'), features as in the scaled view."""
    return lineitem.select(
        F.monotonically_increasing_id().alias("row_id"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("y"),
        F.array(
            F.lit(1.0),
            F.col("l_quantity") / F.lit(50.0),
            F.col("l_discount"),
            F.col("l_tax"),
        ).alias("features"),
    )


def labeled_points(lineitem: DataFrame) -> DataFrame:
    """Regression input: ``(row_id, y, features array<double>)``.

    y = l_extendedprice; features = [1.0 bias, l_quantity, l_discount,
    l_tax] — bias pre-injected exactly as the reference mapper does
    (``logisticreg.java:59-62``).
    """
    return lineitem.select(
        F.monotonically_increasing_id().alias("row_id"),
        F.col("l_extendedprice").alias("y"),
        F.array(
            F.lit(1.0),
            F.col("l_quantity"),
            F.col("l_discount"),
            F.col("l_tax"),
        ).alias("features"),
    )
