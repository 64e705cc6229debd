"""Apriori frequent-itemset mining, Spark-first.

Re-expresses the reference's two chained MapReduce jobs
(``/root/reference/apriori/apriori_final.java:250-291``):

- Job 1 (``FrequentItemsMap``/``Reduce``, ``apriori_final.java:49-190``):
  tokenize → emit (item, 1) → combiner partial sum → reduce sum → filter.
  Here: ``explode → groupBy(item).count() → HAVING`` — Spark's hash
  aggregate always does map-side partial aggregation, so the hand-wired
  combiner (``apriori_final.java:253``) costs zero code.

- Job 2 (``CandidateGenMap``/``Reduce``, ``apriori_final.java:113-226``):
  per-token HBase point ``Get`` to fetch global counts
  (``apriori_final.java:128-134`` — an RPC per token!), prune < Support,
  recursive subset expansion (``CandidatesGenRecursion``,
  ``apriori_final.java:70-110``), re-count, reduce-side HAVING
  (``apriori_final.java:215-225``). Here: the frequent-item vocabulary is
  tiny by construction (it survived a support threshold), so it is
  **broadcast** to every task; prune + subset expansion are fused into one
  Arrow-batched pandas UDF so the full-size data crosses Python exactly
  once and never takes an extra shuffle; then ``groupBy(itemset).count()``
  → HAVING.

Shuffle budget at scale: exactly two — one keyed on ``item`` (job-1 agg,
partial-aggregated map-side) and one keyed on ``itemset`` (candidate agg).
The reference's per-token RPC storm and cross-job HBase materialization are
gone; the itemset cap (``max_itemset_size``) plus prune-before-expand keeps
the O(2^k) subset blowup bounded exactly the way the reference's own
map-side prune does (``apriori_final.java:135-138``).

Behavioral variants of the two reference versions are config flags:
- ``emit_singletons``: ``_final`` re-emits frequent singletons in job 2
  (``apriori_final.java:147-155``); ``_raw`` does not.
- ``reduce_side_having``: ``_final`` filters candidate sums ≥ support
  (``apriori_final.java:215``); ``_raw`` writes unconditionally
  (``apriori_raw.java:442-458``).

Itemset identity: by default sorted-distinct arrays, rendered as
space-joined strings (canonical because sorted) — a deliberate deviation
from the reference, which keys itemsets by *transaction-order* space-joined
strings (``apriori_final.java:82-93``: the subset recursion walks tokens in
line order, so a basket line ``"b a"`` yields the itemset ``"b a"``, a
DIFFERENT key from ``"a b"``). ``AprioriConfig(ordered_identity=True)``
replays that faithful mode: subset keys preserve each basket's item order
(pair with ``plans.prep.transactions_ordered`` for encounter-order
baskets). SURVEY.md §7.2.
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import combinations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_SUPPORT = 5  # apriori_final.java:231


@dataclass(frozen=True)
class AprioriConfig:
    support: int = DEFAULT_SUPPORT
    max_itemset_size: int = 3
    emit_singletons: bool = True   # _final mode; False = _raw mode
    reduce_side_having: bool = True  # _final mode; False = _raw mode
    # False (default): canonical sorted-set identity — "a b" == "b a",
    # enforced here regardless of input array order. True: faithful
    # reference replay — itemset keys preserve the basket's item order
    # (apriori_final.java:82-93), so "b a" != "a b". No registered row
    # runs it; tests/test_apriori.py checks it against a DuckDB oracle.
    ordered_identity: bool = False


def frequent_items(tx: DataFrame, support: int = DEFAULT_SUPPORT) -> DataFrame:
    """Job 1: global item counts with support filter.

    Returns ``(item string, cnt bigint)``. The groupBy shuffle is keyed on
    ``item`` and partial-aggregated map-side; at 100 TB this is a classic
    word-count whose shuffle volume is |vocabulary| per partition, not
    |tokens|.
    """
    return (
        tx.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= F.lit(support))
    )


def frequent_itemsets(
    tx: DataFrame,
    config: AprioriConfig = AprioriConfig(),
) -> DataFrame:
    """Jobs 1+2 fused: frequent itemsets of size 1..max_itemset_size.

    Returns ``(itemset string, cnt bigint)`` where ``itemset`` is the
    space-joined item subset — sorted (canonical) by default, in basket
    order under ``ordered_identity=True``.
    """
    spark = tx.sparkSession
    freq = frequent_items(tx, config.support)
    # The frequent vocabulary is small by construction (each survivor
    # needs >= support baskets). Broadcast it once per executor — the
    # Spark-native replacement for the reference's per-token HBase Get
    # (apriori_final.java:128-134).
    vocab = frozenset(r["item"] for r in freq.select("item").collect())
    vocab_b = spark.sparkContext.broadcast(vocab)
    min_size = 1 if config.emit_singletons else 2
    max_size = config.max_itemset_size
    ordered = config.ordered_identity

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def gen_subsets(items: pd.Series) -> pd.Series:
        fv = vocab_b.value

        def expand(arr):
            kept = [x for x in arr if x in fv]
            if not ordered:
                kept = sorted(kept)
            out = []
            for k in range(max(min_size, 2), min(max_size, len(kept)) + 1):
                out.extend(" ".join(c) for c in combinations(kept, k))
            if min_size == 1:
                out.extend(kept)
            return out

        return items.map(expand)

    counts = (
        tx.select(F.explode(gen_subsets("items")).alias("itemset"))
        .groupBy("itemset")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if config.reduce_side_having:
        counts = counts.filter(F.col("cnt") >= F.lit(config.support))
    return counts

