"""Association-rule tests: micro-fixture goldens for both enumeration
modes, confidence bounds property, and DuckDB oracle parity — for the
registered faithful row and for the canonical mode no row runs."""

from __future__ import annotations

import pytest

from mapreduce_code_spark.operators.frequent import (
    AprioriConfig,
    frequent_itemsets,
)
from mapreduce_code_spark.operators.rules import association_rules
from mapreduce_code_spark.registry import (
    SUPPORT,
    _SQL_ITEMSET_CTES,
    oracle_sql,
    queries,
)
from tests.helpers import assert_parity, sf_transactions

# Canonical A=>B rules over itemsets up to size 3: every proper non-empty
# antecedent of each frequent pair and triple.
CANONICAL_RULES_ORACLE = _SQL_ITEMSET_CTES + """
SELECT antecedent, consequent, itemset, sub_cnt, full_cnt,
       100.0 * full_cnt / sub_cnt AS confidence
FROM (
  SELECT p.i1 AS antecedent, p.i2 AS consequent,
         p.i1 || ' ' || p.i2 AS itemset, s.cnt AS sub_cnt, p.cnt AS full_cnt
  FROM pairs2 p JOIN singles s ON s.item = p.i1
  UNION ALL
  SELECT p.i2, p.i1, p.i1 || ' ' || p.i2, s.cnt, p.cnt
  FROM pairs2 p JOIN singles s ON s.item = p.i2
  UNION ALL
  SELECT t.i1, t.i2 || ' ' || t.i3, t.i1 || ' ' || t.i2 || ' ' || t.i3, s.cnt, t.cnt
  FROM triples2 t JOIN singles s ON s.item = t.i1
  UNION ALL
  SELECT t.i2, t.i1 || ' ' || t.i3, t.i1 || ' ' || t.i2 || ' ' || t.i3, s.cnt, t.cnt
  FROM triples2 t JOIN singles s ON s.item = t.i2
  UNION ALL
  SELECT t.i3, t.i1 || ' ' || t.i2, t.i1 || ' ' || t.i2 || ' ' || t.i3, s.cnt, t.cnt
  FROM triples2 t JOIN singles s ON s.item = t.i3
  UNION ALL
  SELECT t.i1 || ' ' || t.i2, t.i3, t.i1 || ' ' || t.i2 || ' ' || t.i3, q.cnt, t.cnt
  FROM triples2 t JOIN pairs2 q ON q.i1 = t.i1 AND q.i2 = t.i2
  UNION ALL
  SELECT t.i1 || ' ' || t.i3, t.i2, t.i1 || ' ' || t.i2 || ' ' || t.i3, q.cnt, t.cnt
  FROM triples2 t JOIN pairs2 q ON q.i1 = t.i1 AND q.i2 = t.i3
  UNION ALL
  SELECT t.i2 || ' ' || t.i3, t.i1, t.i1 || ' ' || t.i2 || ' ' || t.i3, q.cnt, t.cnt
  FROM triples2 t JOIN pairs2 q ON q.i1 = t.i2 AND q.i2 = t.i3
)
"""


@pytest.fixture(scope="module")
def counts_micro(spark):
    # frequent-itemset counts of the FIXTURES §3.1 micro baskets at S=5
    rows = [("a", 7), ("b", 6), ("c", 5), ("a b", 5)]
    return spark.createDataFrame(rows, "itemset string, cnt long")


@pytest.fixture(scope="module")
def counts_triple(spark):
    # a frequent triple with all its subsets, to exercise faithful mode
    rows = [
        ("a", 10), ("b", 9), ("c", 8),
        ("a b", 7), ("a c", 6), ("b c", 5), ("a b c", 5),
    ]
    return spark.createDataFrame(rows, "itemset string, cnt long")


def test_rules_standard_micro(counts_micro):
    got = {
        (r["antecedent"], r["consequent"]): (r["sub_cnt"], r["full_cnt"])
        for r in association_rules(counts_micro, 5).collect()
    }
    assert got == {("a", "b"): (7, 5), ("b", "a"): (6, 5)}


def test_rules_faithful_micro(counts_micro):
    # reference recursion never emits rules for size-2 itemsets
    # (level-0 singletons are not emitted, apriori_raw.java:229-231)
    assert association_rules(counts_micro, 5, faithful=True).count() == 0


def test_rules_faithful_triple(counts_triple):
    rows = association_rules(counts_triple, 5, faithful=True).collect()
    got = {r["antecedent"]: r for r in rows if r["itemset"] == "a b c"}
    # guard apriori_raw.java:288 → antecedents "a b", "a c" only, not "b c"
    assert set(got) == {"a b", "a c"}
    assert got["a b"]["confidence"] == pytest.approx(100.0 * 5 / 7)
    assert (
        got["a b"]["rule"]
        == "[a b] => [a, b, c] [X]-7 => [X,Y]-5 CONFIDENCE-RATE ="
    )


def test_rules_standard_triple_complete(counts_triple):
    rows = [
        r for r in association_rules(counts_triple, 5).collect()
        if r["itemset"] == "a b c"
    ]
    # all 6 proper non-empty antecedents of {a,b,c}
    assert {r["antecedent"] for r in rows} == {"a", "b", "c", "a b", "a c", "b c"}
    for r in rows:
        assert 0 < r["confidence"] <= 100.0


def test_rules_standard_min_antecedent_size(counts_triple):
    # antecedents are the subsets of size >= 2, consequents their
    # complements — not the other way round
    rows = association_rules(counts_triple, 5, min_antecedent_size=2)
    got = {(r["antecedent"], r["consequent"]) for r in rows.collect()}
    assert got == {("a b", "c"), ("a c", "b"), ("b c", "a")}


@pytest.mark.parametrize(
    "name", ["apriori_association_rules", "apriori_association_rules_ref"]
)
def test_oracle_parity(spark, sf_dir, name):
    if name == "apriori_association_rules":
        # canonical mode, which no registered row runs: a direct call
        counts = frequent_itemsets(
            sf_transactions(spark, sf_dir), AprioriConfig(support=SUPPORT)
        )
        got, sql = association_rules(counts, SUPPORT), CANONICAL_RULES_ORACLE
    else:
        got, sql = queries()[name](spark, sf_dir), oracle_sql()[name]
    assert_parity(got, sf_dir, sql)
