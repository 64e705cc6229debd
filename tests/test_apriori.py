"""Apriori operator tests: hand-computed micro-fixture (FIXTURES.md §3.1),
raw/final behavioral variants, downward-closure property, and DuckDB
oracle parity for the registered queries and for the kernel modes no
registered row runs (order-sensitive identity, a pruning support)."""

from __future__ import annotations

import pytest

from mapreduce_code_spark.operators.frequent import (
    AprioriConfig,
    frequent_items,
    frequent_itemsets,
)
from mapreduce_code_spark.plans import prep
from mapreduce_code_spark.registry import (
    SUPPORT,
    _itemsets_oracle,
    oracle_sql,
    queries,
)
from tests.helpers import assert_parity, sf_transactions

# 9 baskets over {a..e}; with Support=5 the frequent itemsets are exactly
# a:7, b:6, c:5, "a b":5 (hand-checked; FIXTURES.md §3.1).
BASKETS_MICRO = [
    ["a", "b"],
    ["a", "b"],
    ["a", "b"],
    ["a", "b"],
    ["a", "b", "c"],
    ["a", "c"],
    ["a", "c"],
    ["b", "c"],
    ["c", "d", "e"],
]


@pytest.fixture(scope="module")
def tx_micro(spark):
    return spark.createDataFrame(
        [(i, items) for i, items in enumerate(BASKETS_MICRO)],
        "basket_id long, items array<string>",
    )


def test_frequent_items_micro(tx_micro):
    got = {r["item"]: r["cnt"] for r in frequent_items(tx_micro, 5).collect()}
    assert got == {"a": 7, "b": 6, "c": 5}


def test_frequent_itemsets_final_mode(tx_micro):
    got = {r["itemset"]: r["cnt"] for r in frequent_itemsets(tx_micro).collect()}
    assert got == {"a": 7, "b": 6, "c": 5, "a b": 5}


def test_frequent_itemsets_raw_mode(tx_micro):
    # _raw: no singleton re-emit, no reduce-side HAVING → all subset counts
    # over the pruned (frequent-only) token lists appear unfiltered.
    cfg = AprioriConfig(emit_singletons=False, reduce_side_having=False)
    got = {r["itemset"]: r["cnt"] for r in frequent_itemsets(tx_micro, cfg).collect()}
    assert got == {"a b": 5, "a c": 3, "b c": 2, "a b c": 1}


def test_downward_closure(tx_micro):
    """Every subset of a frequent itemset is frequent (Apriori property)."""
    rows = frequent_itemsets(tx_micro).collect()
    freq = {r["itemset"] for r in rows}
    for r in rows:
        items = r["itemset"].split(" ")
        for x in items:
            assert x in freq


# A support the reduce-side HAVING actually cuts at: it drops candidate
# pairs at sf0.001 and ~a third of the pairs at sf0.01, where SUPPORT=5
# cuts nothing.
HIGH_SUPPORT = 300

# Faithful reference-replay oracle: itemset identity follows the basket's
# ENCOUNTER order (apriori_final.java:82-93 — "b a" != "a b"), not the
# canonical sorted-set identity. Baskets order items by first l_linenumber
# (unique within an order), first occurrence wins on duplicate brands;
# subset enumeration then respects in-basket position (a.pos < b.pos)
# instead of lexicographic item order.
ORDERED_ITEMSETS_ORACLE = f"""
WITH tok AS (
  SELECT l_orderkey AS basket_id, p_brand AS item,
         min(l_linenumber) AS first_ln
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
),
freq AS (SELECT item FROM tok GROUP BY item HAVING count(*) >= {SUPPORT}),
pos AS (
  -- order by (first_ln, item): the driver's synthetic lineitem REUSES
  -- l_linenumber within an order, and Spark's array_sort over
  -- struct(l_linenumber, p_brand) breaks those ties by brand
  SELECT basket_id, item,
         row_number() OVER (PARTITION BY basket_id
                            ORDER BY first_ln, item) AS pos
  FROM tok WHERE item IN (SELECT item FROM freq)
),
singles AS (SELECT item AS itemset, count(*) AS cnt FROM pos GROUP BY 1),
pairs AS (
  SELECT a.item || ' ' || b.item AS itemset, count(*) AS cnt
  FROM pos a JOIN pos b ON a.basket_id = b.basket_id AND a.pos < b.pos
  GROUP BY 1
),
triples AS (
  SELECT a.item || ' ' || b.item || ' ' || c.item AS itemset, count(*) AS cnt
  FROM pos a
  JOIN pos b ON a.basket_id = b.basket_id AND a.pos < b.pos
  JOIN pos c ON b.basket_id = c.basket_id AND b.pos < c.pos
  GROUP BY 1
)
SELECT itemset, cnt
FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs
      UNION ALL SELECT * FROM triples)
WHERE cnt >= {SUPPORT}
"""


# Kernel modes no registered row runs, each as (build, oracle SQL).
KERNEL_MODES = {
    "apriori_frequent_itemsets_ordered": (
        lambda spark, sf_dir: frequent_itemsets(
            sf_transactions(spark, sf_dir, ordered=True),
            AprioriConfig(support=SUPPORT, ordered_identity=True),
        ),
        ORDERED_ITEMSETS_ORACLE,
    ),
    "apriori_frequent_itemsets_s300": (
        lambda spark, sf_dir: frequent_itemsets(
            sf_transactions(spark, sf_dir),
            AprioriConfig(support=HIGH_SUPPORT),
        ),
        _itemsets_oracle(HIGH_SUPPORT),
    ),
}


@pytest.mark.parametrize(
    "name",
    ["apriori_frequent_items", "apriori_frequent_itemsets", *KERNEL_MODES],
)
def test_oracle_parity(spark, sf_dir, name):
    if name in KERNEL_MODES:
        build, sql = KERNEL_MODES[name]
        assert_parity(build(spark, sf_dir), sf_dir, sql)
    else:
        assert_parity(
            queries()[name](spark, sf_dir), sf_dir, oracle_sql()[name]
        )


def test_high_support_parity_is_not_vacuous(spark, sf_dir):
    """The s300 parity checks the reduce-side HAVING only if that HAVING
    removes rows on the same corpus: some candidate must count below
    HIGH_SUPPORT there."""
    raw = frequent_itemsets(
        sf_transactions(spark, sf_dir),
        AprioriConfig(support=HIGH_SUPPORT, reduce_side_having=False),
    )
    assert raw.filter(f"cnt < {HIGH_SUPPORT}").limit(1).count() == 1


def test_ordered_identity_mode(spark):
    """Faithful reference replay (apriori_final.java:82-93): itemset keys
    preserve basket order, so baskets listing "b a" count toward the
    itemset "b a" — a DIFFERENT key from "a b" — while the default mode
    folds both spellings into the canonical sorted key."""
    tx = spark.createDataFrame(
        [(i, ["b", "a"]) for i in range(5)]
        + [(5 + i, ["a", "b"]) for i in range(5)],
        "basket_id long, items array<string>",
    )
    ordered = {
        r["itemset"]: r["cnt"]
        for r in frequent_itemsets(
            tx, AprioriConfig(ordered_identity=True)
        ).collect()
    }
    # 10 baskets of {a,b} but only 5 in each spelling: both order-
    # sensitive pair keys exist, separately counted
    assert ordered["b a"] == 5 and ordered["a b"] == 5
    assert ordered["a"] == 10 and ordered["b"] == 10
    canonical = {
        r["itemset"]: r["cnt"] for r in frequent_itemsets(tx).collect()
    }
    # default mode canonicalizes even order-mixed input arrays
    assert canonical["a b"] == 10 and "b a" not in canonical


def test_transactions_ordered_preserves_line_order(spark):
    """transactions_ordered keeps l_linenumber encounter order with
    first-occurrence dedup; transactions sorts."""
    lineitem = spark.createDataFrame(
        [(1, 1, 101), (1, 2, 100), (1, 3, 101), (2, 1, 100)],
        "l_orderkey long, l_linenumber int, l_partkey long",
    )
    part = spark.createDataFrame(
        [(100, "A"), (101, "B")], "p_partkey long, p_brand string"
    )
    got = {
        r["basket_id"]: r["items"]
        for r in prep.transactions_ordered(lineitem, part).collect()
    }
    assert got == {1: ["B", "A"], 2: ["A"]}
    srt = {
        r["basket_id"]: r["items"]
        for r in prep.transactions(lineitem, part).collect()
    }
    assert srt == {1: ["A", "B"], 2: ["A"]}


def test_read_transactions_text_ordered(spark, tmp_path):
    """ordered=True keeps line order ('b a' stays b-then-a) for faithful
    replay of reference input files; default still canonicalizes."""
    from mapreduce_code_spark.sources.io import read_transactions_text

    p = str(tmp_path / "baskets.txt")
    with open(p, "w") as f:
        f.write("b a\n\na b c\n")
    ordered = [
        r["items"]
        for r in read_transactions_text(spark, p, ordered=True)
        .orderBy("basket_id")
        .collect()
    ]
    assert ordered == [["b", "a"], ["a", "b", "c"]]
    canonical = [
        r["items"]
        for r in read_transactions_text(spark, p).orderBy("basket_id").collect()
    ]
    assert canonical == [["a", "b"], ["a", "b", "c"]]
