"""Association rules (Apriori job 3), Spark-first.

Re-expresses ``AssociationRuleMap``/``Recursion``
(``/root/reference/apriori/apriori_raw.java:191-386``): for each frequent
itemset, enumerate antecedent subsets, look up the subset's and the full
itemset's global counts, and emit confidence = 100 · count(full) /
count(antecedent) (``apriori_raw.java:270-278``).

The reference implements the lookups as per-subset HBase point ``Get``s
(``apriori_raw.java:223-226,256-267``) — an RPC per enumerated subset.
Here both lookups are **equi-joins against the itemset-counts DataFrame**
(SURVEY §2 J3): subsets are exploded from the itemset rows, then joined
back to the same counts relation. The counts relation is an aggregate
(orders of magnitude smaller than the fact data), so AQE converts these
to broadcast hash joins at runtime; no shuffle of the big side.

Two enumeration modes:

- ``faithful=False`` (canonical): every proper non-empty antecedent subset
  of size >= ``min_antecedent_size``; consequent = complement. Classic
  A => B association rules.
- ``faithful=True``: bit-exact reproduction of the reference's recursion
  (``apriori_raw.java:196-297``): antecedents have size >= 2 (level-0
  singletons are never emitted, ``:229-231``) and — because recursion from
  position ``i`` requires ``i < length-2`` (``:288``) — contain **at most
  one of the last two positions** of the (sorted) itemset. The reference's
  "consequent" is the whole itemset, and rules are only produced for
  itemsets of size >= 3 (a size-2 itemset's recursion never reaches level
  1). The formatted rule string (``apriori_raw.java:271-273``) is
  reproduced in the ``rule`` column.
"""

from __future__ import annotations

from itertools import combinations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SUBSET_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("antecedent", T.StringType()),
            T.StructField("consequent", T.StringType()),
        ]
    )
)


def _antecedents_udf(min_size: int, faithful: bool):
    @F.pandas_udf(_SUBSET_SCHEMA)
    def gen(itemsets: pd.Series) -> pd.Series:
        def expand(itemset: str):
            items = itemset.split(" ")
            n = len(items)
            out = []
            lo = 2 if faithful else max(1, min_size)
            for k in range(lo, n):  # proper subsets only
                for c in combinations(range(n), k):
                    if faithful and (n - 2 in c) and (n - 1 in c):
                        # reference recursion guard apriori_raw.java:288 —
                        # at most one element from the last two positions
                        continue
                    ante = " ".join(items[i] for i in c)
                    cons = (
                        itemset
                        if faithful
                        else " ".join(items[i] for i in range(n) if i not in c)
                    )
                    out.append((ante, cons))
            return out

        return itemsets.map(expand)

    return gen


def association_rules(
    itemset_counts: DataFrame,
    support: int = 5,
    min_antecedent_size: int = 1,
    faithful: bool = False,
) -> DataFrame:
    """Derive rules from ``(itemset string, cnt bigint)`` itemset counts.

    Returns ``(antecedent, consequent, itemset, sub_cnt, full_cnt,
    confidence)`` — plus ``rule`` (the reference's formatted string,
    ``apriori_raw.java:271-273``) in faithful mode. The registered row
    runs faithful mode; the canonical A=>B mode (``faithful=False``) is
    kept as the textbook rule set, and tests/test_rules.py checks it
    against a DuckDB oracle.
    """
    gen = _antecedents_udf(min_antecedent_size, faithful)
    full = itemset_counts.select(
        F.col("itemset"), F.col("cnt").alias("full_cnt")
    ).filter(F.col("full_cnt") >= support)

    exploded = full.select(
        "itemset",
        "full_cnt",
        F.explode(gen("itemset")).alias("sub"),
    ).select(
        F.col("sub.antecedent").alias("antecedent"),
        F.col("sub.consequent").alias("consequent"),
        "itemset",
        "full_cnt",
    )

    sub_counts = itemset_counts.select(
        F.col("itemset").alias("antecedent"), F.col("cnt").alias("sub_cnt")
    )
    # counts is an aggregate — small; AQE picks broadcast at runtime.
    rules = (
        exploded.join(sub_counts, "antecedent")
        .filter(F.col("sub_cnt") >= support)  # apriori_raw.java:270
        .withColumn(
            "confidence",
            F.lit(100.0) * F.col("full_cnt") / F.col("sub_cnt"),
        )
    )
    if faithful:
        # "[sub] => [a, b, c] [X]-x => [X,Y]-xy CONFIDENCE-RATE ="
        # (apriori_raw.java:271-273; in.toString() is Java Vector format)
        rules = rules.withColumn(
            "rule",
            F.concat(
                F.lit("["),
                F.col("antecedent"),
                F.lit("] => ["),
                F.array_join(F.split(F.col("itemset"), " "), ", "),
                F.lit("] [X]-"),
                F.col("sub_cnt").cast("string"),
                F.lit(" => [X,Y]-"),
                F.col("full_cnt").cast("string"),
                F.lit(" CONFIDENCE-RATE ="),
            ),
        )
    return rules.select(
        "antecedent",
        "consequent",
        "itemset",
        "sub_cnt",
        "full_cnt",
        "confidence",
        *(["rule"] if faithful else []),
    )
