"""Query registry: the driver contract's single source of truth.

Every implemented operator from SURVEY.md §2 registers here as a
``(name, spark_fn, oracle_sql)`` triple. ``__spark_entry__.py`` re-exports
``queries()`` / ``oracle_sql()`` from this module. This is the ONE query
table: every query a caller can reach by name is in ``queries()``. Kernel
modes that no row drives (the canonical association rules, order-
sensitive Apriori, a pruning support threshold) are exercised by direct
kernel calls in the tests, not by hidden registrations.

Oracle SQL runs in DuckDB over the same parquet (views: region nation
customer supplier part orders lineitem events documents embeddings).
Column names are aliased identically on both sides — the driver's compare
sorts columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_code_spark.operators import frequent, regression, rules
from mapreduce_code_spark.rotation import ROUND_FIRST, ROUND_LAST
from mapreduce_code_spark.plans import prep
from mapreduce_code_spark.sources.io import load_table

SUPPORT = frequent.DEFAULT_SUPPORT

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        import functools

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Release the PREVIOUS query's cached dedup intermediates at
            # each build: a sequential sweep (the round driver, any
            # notebook) has consumed them by the time it builds the next
            # query, so the contract no longer depends on every harness
            # knowing the dedup module's global. Harmless mid-use — a
            # released persist recomputes, never corrupts.
            from mapreduce_code_spark.operators.dedup import release_persisted

            release_persisted()
            return fn(spark, sf_dir)

        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return wrapped

    return deco


# The driver verifies queries in the order this dict yields them and
# has a finite per-round budget (~50 rows). Ordering is therefore part
# of the contract; the ordering rule, the budget arithmetic, and the
# per-round _FIRST/_LAST lists live in ``rotation.py``, a module with no
# kernels, so reordering never touches this file. Re-exported under the
# names the rotation tests pin.
_FIRST = ROUND_FIRST
_LAST = ROUND_LAST


def _ordered(d: dict) -> dict:
    out = {n: d[n] for n in _FIRST if n in d}
    out.update({n: v for n, v in d.items() if n not in out and n not in _LAST})
    out.update({n: d[n] for n in _LAST if n in d})
    return out


def queries() -> dict[str, QueryFn]:
    return _ordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return _ordered(_ORACLES)


# Per-(kind, session, sf_dir) persisted materializations shared across
# registered queries, e.g. the Apriori transactions prep (the reference's
# own cross-job HBase cache, done Spark-style with persist()) and the
# near-dup pairs frame that dedup_near_dup_scalable and
# dedup_components_starcontract read: identical input is materialized
# once per session, never once per consumer.
_DF_CACHE: dict[tuple[str, int, str], DataFrame] = {}


def _cached_df(kind: str, spark: SparkSession, sf_dir: str, build) -> DataFrame:
    """Persisted DataFrame per (kind, session, sf_dir). Keyed by the live
    session: a cached DataFrame is bound to the session that built it,
    and handing it to a restarted session would fail."""
    key = (kind, id(spark), sf_dir)
    # validate on HIT too: id() can be reused after a stopped session is
    # garbage-collected, so the key alone can't prove the cached frame
    # belongs to THIS session
    hit = _DF_CACHE.get(key)
    if hit is not None and hit.sparkSession is spark:
        return hit
    # Evict only entries we can prove are stale: THIS key's invalid entry
    # (id-reuse case) and entries whose owning session has stopped. A
    # CONCURRENTLY LIVE second session's cache must be left alone
    # (unpersisting it would silently degrade that session mid-use), and
    # this session's OTHER entries stay warm — a sweep alternating
    # sf dirs must not thrash the materializations.
    for k, df in list(_DF_CACHE.items()):
        owner = df.sparkSession
        owner_stopped = True
        try:
            jsc = getattr(owner, "_jsc", None)
            if jsc is None:
                # no JVM handle to probe (e.g. Spark Connect) — cannot
                # prove it stopped, so treat as live and leave it alone
                owner_stopped = False
            else:
                owner_stopped = jsc.sc().isStopped()
        except Exception:
            pass  # probe failed on a classic session ⇒ stopped
        if k == key or owner_stopped:
            try:
                df.unpersist()
            except Exception:
                pass  # owning session already stopped
            del _DF_CACHE[k]
    # Liveness can't be proven for Connect sessions (no _jsc probe), so
    # bound the cache: beyond 8 entries evict oldest-inserted first —
    # session churn then costs a recompute, never unbounded growth.
    while len(_DF_CACHE) >= 8:
        k, df = next(iter(_DF_CACHE.items()))
        try:
            df.unpersist()
        except Exception:
            pass
        del _DF_CACHE[k]
    _DF_CACHE[key] = build().persist()
    return _DF_CACHE[key]


def _transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactions view, persisted per (session, sf_dir) — the Apriori
    queries share one materialization instead of re-running the
    lineitem⋈part prep."""
    return _cached_df(
        "transactions",
        spark,
        sf_dir,
        lambda: prep.transactions(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "part"),
        ),
    )


# DuckDB twin of plans.prep.transactions: distinct (basket, item) tokens.
_SQL_TOKENS = """
  SELECT DISTINCT l_orderkey AS basket_id, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
"""


@register(
    "apriori_frequent_items",
    oracle=f"""
WITH tok AS ({_SQL_TOKENS})
SELECT item, count(*) AS cnt
FROM tok
GROUP BY item
HAVING count(*) >= {SUPPORT}
""",
)
def q_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori job 1 (SURVEY §2: P1, A1, A2, P3)."""
    return frequent.frequent_items(_transactions(spark, sf_dir), SUPPORT)


def _itemsets_oracle(support: int) -> str:
    return f"""
WITH tok AS ({_SQL_TOKENS}),
freq AS (SELECT item FROM tok GROUP BY item HAVING count(*) >= {support}),
ftok AS (SELECT basket_id, item FROM tok WHERE item IN (SELECT item FROM freq)),
singles AS (SELECT item AS itemset, count(*) AS cnt FROM ftok GROUP BY item),
pairs AS (
  SELECT a.item || ' ' || b.item AS itemset, count(*) AS cnt
  FROM ftok a JOIN ftok b ON a.basket_id = b.basket_id AND a.item < b.item
  GROUP BY 1
),
triples AS (
  SELECT a.item || ' ' || b.item || ' ' || c.item AS itemset, count(*) AS cnt
  FROM ftok a
  JOIN ftok b ON a.basket_id = b.basket_id AND a.item < b.item
  JOIN ftok c ON b.basket_id = c.basket_id AND b.item < c.item
  GROUP BY 1
)
SELECT itemset, cnt
FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs
      UNION ALL SELECT * FROM triples)
WHERE cnt >= {support}
"""


@register("apriori_frequent_itemsets", oracle=_itemsets_oracle(SUPPORT))
def q_frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori jobs 1+2, `_final` mode (SURVEY §2: T1, T2, P2, P3, J1, J2)."""
    return frequent.frequent_itemsets(
        _transactions(spark, sf_dir), frequent.AprioriConfig(support=SUPPORT)
    )


# Shared CTE prefix for rule oracles: itemset counts as columns (i1<i2<i3),
# with support HAVING — the DuckDB twin of operators.frequent at max_size=3.
_SQL_ITEMSET_CTES = f"""
WITH tok AS ({_SQL_TOKENS}),
freq AS (SELECT item FROM tok GROUP BY item HAVING count(*) >= {SUPPORT}),
ftok AS (SELECT basket_id, item FROM tok WHERE item IN (SELECT item FROM freq)),
singles AS (SELECT item, count(*) AS cnt FROM ftok GROUP BY item),
pairs2 AS (
  SELECT a.item AS i1, b.item AS i2, count(*) AS cnt
  FROM ftok a JOIN ftok b ON a.basket_id = b.basket_id AND a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= {SUPPORT}),
triples2 AS (
  SELECT a.item AS i1, b.item AS i2, c.item AS i3, count(*) AS cnt
  FROM ftok a
  JOIN ftok b ON a.basket_id = b.basket_id AND a.item < b.item
  JOIN ftok c ON b.basket_id = c.basket_id AND b.item < c.item
  GROUP BY 1, 2, 3 HAVING count(*) >= {SUPPORT})
"""


@register(
    "apriori_association_rules_ref",
    oracle=_SQL_ITEMSET_CTES
    + """
SELECT antecedent, consequent, itemset, sub_cnt, full_cnt,
       100.0 * full_cnt / sub_cnt AS confidence,
       '[' || antecedent || '] => [' || i1 || ', ' || i2 || ', ' || i3
           || '] [X]-' || sub_cnt || ' => [X,Y]-' || full_cnt
           || ' CONFIDENCE-RATE =' AS rule
FROM (
  SELECT t.i1 || ' ' || t.i2 AS antecedent,
         t.i1 || ' ' || t.i2 || ' ' || t.i3 AS consequent,
         t.i1 || ' ' || t.i2 || ' ' || t.i3 AS itemset,
         q.cnt AS sub_cnt, t.cnt AS full_cnt, t.i1, t.i2, t.i3
  FROM triples2 t JOIN pairs2 q ON q.i1 = t.i1 AND q.i2 = t.i2
  UNION ALL
  SELECT t.i1 || ' ' || t.i3,
         t.i1 || ' ' || t.i2 || ' ' || t.i3,
         t.i1 || ' ' || t.i2 || ' ' || t.i3,
         q.cnt, t.cnt, t.i1, t.i2, t.i3
  FROM triples2 t JOIN pairs2 q ON q.i1 = t.i1 AND q.i2 = t.i3
)
""",
)
def q_association_rules_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori job 3, faithful reference-recursion semantics
    (apriori_raw.java:196-297): antecedent size >= 2, at most one of the
    last two positions, consequent = whole itemset, reference rule string.
    """
    counts = frequent.frequent_itemsets(
        _transactions(spark, sf_dir), frequent.AprioriConfig(support=SUPPORT)
    )
    return rules.association_rules(counts, SUPPORT, faithful=True)


@register("regression_ols_stats", oracle=regression.ols_stats_exact_sql())
def q_ols_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS sufficient statistics (SURVEY §2: A3, F5, F6) —
    decimal-exact so the DuckDB comparison is bit-stable."""
    return regression.ols_stats_exact(load_table(spark, sf_dir, "lineitem"))


from mapreduce_code_spark.operators.sgd_theta_pinned import (  # noqa: E402
    sgd_theta_oracle_sql,
)


@register("regression_sgd_linear", oracle=sgd_theta_oracle_sql("linear"))
def q_sgd_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression via partition-SGD trajectory averaging
    (multilinereg.java; SURVEY §2: I2, I3, A3, A4, F5).

    Oracle is the pinned-theta golden SELECT (r13 verdict #2,
    §10(2) strictly-stronger swap): the fresh fit's doubles must
    hash-match the frozen sf0.01 fit bit-for-bit — see
    operators/sgd_theta_pinned.py for the derivation, the receipts
    that justify it, and the golden-vs-recompute tradeoff."""
    pts = prep.labeled_points_scaled(load_table(spark, sf_dir, "lineitem"))
    return regression.sgd_fit_df(pts, link="linear", max_iter=5, n_partitions=8)


@register("regression_sgd_logistic", oracle=sgd_theta_oracle_sql("logistic"))
def q_sgd_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression via partition-SGD (logisticreg.java; adds the
    sigmoid link, logisticreg.java:79 — SURVEY §2: F4). Pinned-theta
    golden oracle, same contract as the linear row above."""
    pts = prep.labeled_points_binary(load_table(spark, sf_dir, "lineitem"))
    return regression.sgd_fit_df(pts, link="logistic", max_iter=5, n_partitions=8)


# ---------------------------------------------------------------------------
# North-star LLM-data-pipeline operators (BASELINE.json:6): dedup,
# similarity search, text analysis, multimodal plumbing.
# ---------------------------------------------------------------------------

from mapreduce_code_spark.functions import text as TXT  # noqa: E402
from mapreduce_code_spark.operators import (  # noqa: E402
    dedup,
    multimodal,
    similarity,
)


@register(
    "dedup_exact",
    oracle="""
SELECT doc_id, sha256(text) AS content_hash,
       min(doc_id) OVER (PARTITION BY sha256(text)) AS keeper_id,
       doc_id <> min(doc_id) OVER (PARTITION BY sha256(text)) AS is_dup
FROM documents
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hash dedup (window function over sha2 groups)."""
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


# DuckDB distinct (doc_id, shingle) rows at k=3 — the string-valued twin
# of operators.dedup.doc_shingle_sets
_SQL_SHINGLES = dedup.SHINGLES_SQL


@register("dedup_minhash_lsh", oracle=dedup.minhash_lsh_sql())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (12 hashes, 4 bands of 3)."""
    return dedup.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
inv AS (SELECT s.doc_id, s.shingle FROM sh s JOIN rare USING (shingle)),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared, sa.sz AS size_a, sb.sz AS size_b,
       shared / (sa.sz + sb.sz - shared) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE shared / (sa.sz + sb.sz - shared) >= 0.2
""",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs via inverted-index join."""
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.2
    )


@register("dedup_near_dup_scalable", oracle=dedup.near_dup_scalable_sql())
def q_near_dup_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path near-dup: LSH candidates + exact Jaccard rerank.
    Routed through the shared ``_near_dup_pairs`` materialization (it IS
    that computation) so this query, as the cache's bench OWNER, re-
    registers the ``_DF_CACHE`` entry its eviction dropped; a cache
    owner that bypassed it would leave the entry cold for every consumer
    sweeping later in the rotation order."""
    return _near_dup_pairs(spark, sf_dir)


@register("dedup_incremental", oracle=dedup.incremental_near_dups_sql())
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: new shard (odd doc_ids) near-dup-checked
    against the accepted corpus (even doc_ids) — new×corpus band join
    only, never corpus×corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.incremental_near_dups(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        corpus_sets=_corpus_shingles(spark, sf_dir),
    )


def _corpus_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The accepted corpus's (even doc_ids) shingle-id sets
    (``dedup.doc_shingle_sets``), persisted per (session, sf_dir) —
    shared by the batch and streamed incremental-dedup rows. Semantically
    this IS the operator's contract ("sets computed once at acceptance
    time, reused for every later ingest check"), so sharing it across the
    two ingest-demo queries is the honest shape, not a bench shortcut;
    the streamed row owns the build under bench attribution."""
    return _cached_df(
        "corpus_shingles",
        spark,
        sf_dir,
        lambda: dedup.doc_shingle_sets(
            load_table(spark, sf_dir, "documents").filter(
                F.col("doc_id") % 2 == 0
            )
        ),
    )


@register(
    "dedup_streamed_incremental", oracle=dedup.incremental_near_dups_sql()
)
def q_streamed_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup run as a STREAM: new docs (odd ids)
    arrive via readStream and each micro-batch is near-dup-checked
    against the accepted corpus (even ids) INSIDE foreachBatch — the
    production shard-by-shard ingest shape, driven through the actual
    streaming engine (checkpointed, append-only parquet sink). The
    result is batching-invariant (each new doc is checked against the
    static corpus independently), so it hash-matches the batch twin's
    oracle no matter how the file source slices micro-batches."""
    from mapreduce_code_spark.scratch import scratch_dir
    from mapreduce_code_spark.sources.io import load_table_stream
    from mapreduce_code_spark.streaming.windows import (
        run_batch_transform,
        stream_partitions,
    )

    corpus = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    # corpus-side shingle-id sets materialized ONCE, outside the stream —
    # every micro-batch reuses them instead of re-shingling the static
    # corpus per batch (the "computed once at acceptance time" shape);
    # shared with the batch twin via _corpus_shingles (this row owns
    # the build under bench attribution), _DF_CACHE-persisted so the
    # per-query release_persisted() drain doesn't evict it mid-sweep
    corp_sets = _corpus_shingles(spark, sf_dir)
    # materialize BEFORE entering the stream_partitions(8) override, so
    # the cached layout is always the session conf's — the same as the
    # subset-bench prewarm path's .count() builds; a lazy first
    # materialization inside the stream would make the warm cache's
    # layout depend on which caller built it
    corp_sets.count()
    new_stream = load_table_stream(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 1
    )
    # RAM-backed scratch (see scratch.py): the checkpoint and per-batch
    # parquet sink commit many small fsync'd files, which must not hit
    # the root disk inside the timed path. The out dir must outlive this
    # call (the returned frame reads it lazily), so it is removed at
    # exit, not discarded here.
    tmp = scratch_dir("dedup_streamed_incremental_")
    # 8 shuffle partitions: the per-micro-batch LSH band join + rerank
    # are batch-sized, so 32-task stages are overhead-bound, but the join
    # does real work — 8 beat both 32 (3.09 s) and 4 (2.74 s) at sf0.1
    # (2.16 s; SURVEY §9)
    with stream_partitions(8):
        return run_batch_transform(
            new_stream,
            lambda batch: dedup.incremental_near_dups(
                batch, corpus, corpus_sets=corp_sets
            ),
            f"{tmp}/out",
            f"{tmp}/ckpt",
        )


def _near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable near-dup pairs, persisted per (session, sf_dir): the
    pairs row and the components row consume the IDENTICAL pair set,
    so the full shingles→LSH→rerank pipeline materializes once, not
    once per consumer."""
    return _cached_df(
        "near_dup_pairs",
        spark,
        sf_dir,
        lambda: dedup.near_dup_pairs_scalable(
            load_table(spark, sf_dir, "documents")
        ),
    )


@register("dedup_components_starcontract", oracle=dedup.dup_components_sql())
def q_dup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the scalable near-dup pairs: one keeper
    per transitive dup CLUSTER (oracle = DuckDB recursive reachability),
    the step that turns pair lists into an actionable dedup decision.
    Large-star/small-star contraction: O(log n) rounds in cluster SIZE
    (not eccentricity), which a 100 TB corpus with one giant
    chain-shaped cluster needs."""
    return dedup.dup_components_star(_near_dup_pairs(spark, sf_dir))


@register("dedup_simhash", oracle=dedup.simhash_sql())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (md5-derived, engine-portable)."""
    return dedup.simhash(load_table(spark, sf_dir, "documents"))


@register("similarity_topk_cosine", oracle=similarity.topk_cosine_sql())
def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors (decimal-exact dot)."""
    return similarity.topk_cosine(load_table(spark, sf_dir, "embeddings"))


@register(
    "similarity_cosine_dups",
    # threshold picked so the oracle compare has real rows at sf0.01
    # (0.5 matched vacuously on an empty result)
    oracle=similarity.cosine_dup_pairs_sql(threshold=0.35),
)
def q_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks."""
    return similarity.cosine_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.35
    )


@register(
    "similarity_topk_ivf_pinned", oracle=similarity.ivf_topk_pinned_sql()
)
def q_topk_ivf_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN serving path with the PINNED coarse quantizer (r7
    verdict #4): IVF_CENTROIDS_Q — derived once by the exact-integer
    Lloyd recipe (derive_ivf_centroids, bit-reproducible, test-pinned)
    — is compiled into the plan as literals, making cell assignment and
    query probing row-local integer algebra (zero shuffles, zero
    Python) and the whole top-k hash-comparable against DuckDB. The
    only exchange in the plan is the final per-query top-k window over
    the probed candidate fraction."""
    return similarity.ivf_topk_pinned(
        load_table(spark, sf_dir, "embeddings")
    )


@register("similarity_quantize_int8", oracle=similarity.quantize_int8_sql())
def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column
    (long form) — the 4x storage/bandwidth scale path for ANN."""
    return similarity.quantize_int8(load_table(spark, sf_dir, "embeddings"))


@register("similarity_label_centroids", oracle=similarity.label_centroids_sql())
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (long form, exact quantized sums) —
    class centroids for nearest-centroid search / cluster seeding."""
    return similarity.label_centroids(load_table(spark, sf_dir, "embeddings"))


@register("similarity_assign_centroids", oracle=similarity.assign_centroids_sql())
def q_assign_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (one k-means E-step): centroids
    broadcast, scoring shuffle-free, argmax re-agg keyed on vec_id."""
    return similarity.assign_centroids(load_table(spark, sf_dir, "embeddings"))


@register("similarity_semantic_dedup", oracle=similarity.semantic_dedup_sql())
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning: within-cluster cosine pairs ≥
    0.9, prune the member closer to its cluster centroid (keep the
    atypical one). Centroids broadcast; pair-gen rides the blocked
    cosine join (LSH buckets at corpus scale)."""
    return similarity.semantic_dedup(load_table(spark, sf_dir, "embeddings"))


@register("text_stats", oracle=TXT.text_stats_sql())
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/word/stopword counting stats per document."""
    return TXT.text_stats(load_table(spark, sf_dir, "documents"))


@register("text_lang_id", oracle=TXT.lang_id_sql())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic."""
    return TXT.lang_id(load_table(spark, sf_dir, "documents"))


@register("text_quality", oracle=TXT.quality_score_sql())
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score from integer indicators."""
    return TXT.quality_score(load_table(spark, sf_dir, "documents"))


@register("text_tfidf", oracle=TXT.tfidf_stats_sql())
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF sufficient statistics (exact integers; idf transform is a
    consumer-side one-liner — log isn't bit-stable across engines)."""
    return TXT.tfidf_stats(load_table(spark, sf_dir, "documents"))


@register("text_winnow_fingerprint", oracle=TXT.winnow_fingerprint_sql())
def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash document fingerprints (window functions)."""
    return TXT.winnow_fingerprint(load_table(spark, sf_dir, "documents"))


@register("text_repetition_gopher", oracle=TXT.repetition_stats_sql())
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style duplicate-n-gram repetition filter signals (word
    2-grams): the within-document quality gate LLM pipelines apply
    before training."""
    return TXT.repetition_stats(load_table(spark, sf_dir, "documents"))


@register(
    "text_contamination_ngram", oracle=TXT.ngram_contamination_sql()
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval n-gram contamination scan: training docs sharing any
    word 3-gram with the (broadcast) eval suite, with shared-gram
    counts. Every 97th doc plays the deterministic pseudo-benchmark
    (Column exprs must be built under a live session, hence inline)."""
    docs = load_table(spark, sf_dir, "documents")
    eval_pred = F.col("doc_id") % 97 == 0
    return TXT.ngram_contamination(
        docs.filter(~eval_pred), docs.filter(eval_pred)
    )


@register("text_quality_classifier", oracle=TXT.quality_classifier_sql())
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: fixed-weight integer linear scorer
    (no sigmoid - exp() is libm-dependent; the threshold decision is
    exact int64 math). Narrow map, no shuffle."""
    return TXT.quality_classifier(load_table(spark, sf_dir, "documents"))


@register("text_redact_pii", oracle=TXT.redact_pii_planted_sql())
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails / phones / IPv4 → typed tags) over a corpus
    with a deterministic planted contact line per doc — the synthetic
    documents carry no PII-shaped strings, so the plant is what makes
    the cross-engine regex check non-vacuous. The md5 of the redacted
    text proves both engines matched and replaced identical spans."""
    red = TXT.redact_pii(
        TXT.plant_pii(load_table(spark, sf_dir, "documents"))
    )
    return red.select(
        "doc_id",
        F.md5(F.col("redacted")).alias("redacted_md5"),
        "n_emails",
        "n_phones",
        "n_ips",
    )


def _bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained BPE merge table, persisted per (session, sf_dir) —
    text_bpe_merges RETURNS it and text_bpe_encode APPLIES it, and
    re-running the 8 training rounds for each was the #3 bench cost
    (r6 verdict #4: ~2 s of duplicated work per sweep). Same shared-
    materialization mechanism as the Apriori transactions prep and the
    near-dup pairs frame; the cached frame is merge-table-sized (one
    row per rule), not corpus-sized."""
    return _cached_df(
        "bpe_merges",
        spark,
        sf_dir,
        lambda: TXT.bpe_merges(load_table(spark, sf_dir, "documents")),
    )


@register("text_bpe_merges", oracle=TXT.bpe_merges_sql())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary training (Sennrich et al. 2016): the first k merge
    rules learned from exact corpus pair counts — the canonical
    MapReduce-shaped iterative text algorithm (per-round pair-count
    groupBy feeding a greedy argmax, cf. the reference's chained support
    loop, apriori_final.java:233-295). One corpus scan total; the merge
    loop runs on the vocab-sized word-frequency dictionary."""
    return _bpe_merge_table(spark, sf_dir)


# encode a deterministic 1-in-5 slice of the corpus with the full-corpus
# vocabulary: training stays corpus-faithful while the driver row stays
# ~25k token rows instead of ~125k at sf0.01
_BPE_ENCODE_PRED = "doc_id % 5 = 0"


@register(
    "text_bpe_encode",
    oracle=TXT.bpe_encode_sql(doc_predicate=_BPE_ENCODE_PRED),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization with the trained merge table — the apply half a
    training pipeline actually runs per batch (r5 verdict #2): train on
    the full corpus, then encode a deterministic document slice to the
    ``(doc_id, pos, token)`` stream. The merge table folds into ONE
    broadcast array; encoding is a per-row fold of literal replaces in
    one projection — one corpus scan, zero corpus-side shuffles. The
    table itself comes from the shared per-(session, sf_dir)
    materialization (:func:`_bpe_merge_table`), so a sweep that runs
    both BPE queries trains the rounds once."""
    docs = load_table(spark, sf_dir, "documents")
    merges = _bpe_merge_table(spark, sf_dir)
    return TXT.bpe_encode(docs.filter(F.expr(_BPE_ENCODE_PRED)), merges)


from mapreduce_code_spark.plans import pipeline as PIPE  # noqa: E402


@register("pipeline_curated_corpus", oracle=PIPE.curated_corpus_sql())
def q_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline: dedup → quality gate → lang ID → stats
    in one Catalyst plan (the end-to-end corpus-build story)."""
    return PIPE.curated_corpus(load_table(spark, sf_dir, "documents"))


@register(
    "pipeline_materialize_manifest", oracle=PIPE.training_manifest_sql()
)
def q_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic (shard, pos, chunk fingerprint) manifest of the
    full materialize_training_set chain — curate → chunk → global
    training-order shuffle — as ONE oracled row set (r5 verdict #4):
    what plans/pipeline.materialize_training_set writes to disk, minus
    the write. Hash-matching the DuckDB twin pins the dedup keeper
    window, quality gate, language ID, chunk geometry, and the md5
    training-order permutation end to end in one driver row."""
    return PIPE.training_manifest(load_table(spark, sf_dir, "documents"))


# Process-cached n-file stream sources for the two streamed ingest
# rows, keyed by (sf_dir, n_files) (ADVICE r7, low): the split is a
# pure function of the documents table content (see write_ingest_split),
# so rebuilding it per invocation wasted ~1 s/repeat at bench sf0.1.
# Only the read-only source files are cached — every call still runs a
# fresh checkpoint, staging area, and shard write, so the streamed path
# itself is never shortcut. Plain dirs on disk (no session affinity),
# reaped at exit. Both rows read the SAME 3-file split: three
# micro-batches is the minimum where compact_every=1 genuinely folds
# committed history (batch 2 folds batches 0-1).
_INGEST_SPLITS: dict[tuple[str, int], str] = {}


def _ingest_split_src(
    spark: SparkSession, sf_dir: str, n_files: int = 3
) -> str:
    import glob

    from mapreduce_code_spark.scratch import scratch_dir

    src = _INGEST_SPLITS.get((sf_dir, n_files))
    # validate on hit: an exit-reaped or externally cleaned dir rebuilds
    if src is not None and len(glob.glob(f"{src}/f*.parquet")) == n_files:
        return src
    # tmpfs scratch since r17 (r16 verdict #6 named this site; the
    # deferral note said "r18 when the ingest rows are stale-due", but
    # the r17 optimization measurements made the move urgent: the
    # OWNER row pipeline_ingest_hash_log is the #1 bench floor and its
    # whole timed path — split read, staging parquet writes, checkpoint
    # commits, compaction rewrites — committed to the root disk, the
    # exact mechanism the r16 probe showed the driver window inflates.
    # Coverage argued via the full-registry driver_check sweep (the
    # session.py precedent in rotation.py) plus a scoped post-change
    # driver_check of both ingest rows; scratch_dir honors
    # SPARK_GRAFT_DISK_LOCAL=1 for blowup-tier probes and sweeps the
    # dir at exit.
    base = scratch_dir("spark_graft_split_")
    src = f"{base}/src"
    PIPE.write_ingest_split(
        load_table(spark, sf_dir, "documents"), src, n_files=n_files
    )
    _INGEST_SPLITS[(sf_dir, n_files)] = src
    return src


# One completed streamed-ingest RUN shared by the two ingest rows (r9
# verdict #3): both queries drove byte-identical 3-micro-batch
# compact_every=1 checkpointed runs over the same cached 3-file split —
# the #2 cost block after streams (6.8 s combined floor) for one run's
# worth of evidence. The run is a pure function of the corpus (the
# batching-invariance + determinism tests pin exactly that), so it
# materializes ONCE per sf_dir; each row still reads its OWN output
# (chunks → manifest rank, hashes → ledger with the compaction guard at
# the READ) against its full end-to-end oracle. Bench attribution: the
# run is a SHARED_BUILDS entry owned by pipeline_ingest_hash_log — the
# owner pays the cold streamed run every timed repeat (evict_cached
# deletes the run dir), the manifest row rides warm. Plain dirs on disk
# (no session affinity), reaped at exit.
# sf_dir -> (run base dir, staging dir): the base is stored explicitly
# so eviction never has to re-derive it from _stream_ingest's internal
# layout (review finding: an rsplit reconstruction would silently
# delete the wrong dir — and leave the real run warm, turning the
# owner's "cold" floor into a cache artifact — if that layout ever
# deepened).
_INGEST_RUNS: dict[str, tuple[str, str]] = {}


def _ingest_run_staging(spark: SparkSession, sf_dir: str) -> str:
    import glob

    from mapreduce_code_spark.scratch import discard, scratch_dir
    from mapreduce_code_spark.streaming.windows import stream_partitions

    hit = _INGEST_RUNS.get(sf_dir)
    # validate on hit: an exit-reaped, evicted, or externally cleaned
    # dir rebuilds (3 chunk batches + a compacted hash partition are the
    # run's completion signature)
    if hit is not None:
        old_base, staging = hit
        if (
            len(glob.glob(f"{staging}/chunks/batch_id=*")) >= 3
            and glob.glob(f"{staging}/hashes/batch_id=-*")
        ):
            return staging
        # half-valid remnant: reap it rather than abandoning it to the
        # atexit hook (review finding); discard() because the base is a
        # tracked scratch dir since r17
        del _INGEST_RUNS[sf_dir]
        discard(old_base)
    # tmpfs scratch since r17, same rationale as _ingest_split_src
    # above: the streamed run under this dir (staging sinks, stream
    # checkpoint, shard writes) IS pipeline_ingest_hash_log's timed
    # path — the heaviest bench floor — and every one of its small
    # fsync'd commits previously landed on the contended root disk.
    base = scratch_dir("spark_graft_ingestrun_")
    # n_shards(=8) state/shuffle partitions for the run (r9 A/B, SURVEY
    # §9): the per-micro-batch keeper window + anti-join and the final
    # shard write are test-corpus-sized, where per-partition overhead
    # dominates at the session's 32; the floor is n_shards because
    # write_shuffled's one-task-per-shard layout needs that many.
    with stream_partitions(PIPE.TRAIN_SHARDS):
        staging = PIPE._stream_ingest(
            load_table(spark, sf_dir, "documents"),
            base,
            src=_ingest_split_src(spark, sf_dir),
            n_files=3,
            compact_every=1,
        )
    _INGEST_RUNS[sf_dir] = (base, staging)
    return staging


def _evict_ingest_runs() -> None:
    """Forget (and delete) every cached streamed-ingest run — bench.py's
    eviction hook so the owner row's timed runs always pay the cold
    streamed path. The run dirs are PROCESS-local (each process mkdtemps
    its own), so unlike the in-memory cache there is no cross-session
    scoping question a concurrent second process could lose: deleting
    ours never touches another process's run."""
    from mapreduce_code_spark.scratch import discard

    for sf_dir, (base, _staging) in list(_INGEST_RUNS.items()):
        # discard (not a raw rmtree): the run base is a tracked scratch
        # dir since r17, and discard keeps it on the exit re-sweep list
        # in case the just-terminated stream's state-store maintenance
        # recreates files under it
        discard(base)
        del _INGEST_RUNS[sf_dir]


@register(
    "pipeline_ingest_manifest", oracle=PIPE.training_manifest_sql()
)
def q_ingest_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME manifest produced through the restartable incremental
    path (r6 verdict #2): the corpus split into three ascending-doc_id
    files, driven as three REAL micro-batches WITH compact_every=1
    (r7 verdict #7) through plans/pipeline.ingest_training_set's
    checkpointed foreachBatch chain (staging, hash-log semi-reduce +
    anti-join, the batch-2 compaction fold of batches 0-1's logs, final
    shuffled shard write), then ranked with the write path's own
    shuffle_order algebra. Batching invariance makes the result
    row-identical to the one-shot batch manifest, so the streamed path
    shares pipeline_materialize_manifest's DuckDB oracle — a hash match
    here pins the whole ingest chain, cross-batch dedup AND mid-ingest
    compaction included, to the batch semantics. The run itself is the
    shared per-corpus materialization (see _ingest_run_staging — r9
    verdict #3); this row ranks the run's staged chunks fresh."""
    return PIPE.manifest_from_staging(
        spark, _ingest_run_staging(spark, sf_dir)
    )


@register("pipeline_ingest_hash_log", oracle=PIPE.ingest_hash_log_sql())
def q_ingest_hash_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streamed ingest's seen-hash ledger through the ACTUAL
    3-micro-batch checkpointed path with compact_every=1 (r7 verdict
    #2): batch 2's start genuinely folds batches 0-1's committed logs
    into one negative-id partition (plans/pipeline.compact_hash_log —
    the read guard refuses unless the fold really happened), and the
    surviving ledger must be EXACTLY the distinct sha256(text) of the
    corpus — the one-line oracle that pins the whole bookkeeping chain:
    within-batch keeper window, cross-batch semi-reduce + anti-join,
    quality shadowing (low-quality first-arrivals stay logged), and a
    fold that neither loses nor resurrects hashes. This is the driver
    row that puts compact_hash_log under CORRECTNESS, and the bench
    OWNER of the shared streamed run (see _ingest_run_staging)."""
    return PIPE.hash_log_from_staging(
        spark, _ingest_run_staging(spark, sf_dir)
    )


# Process-cached materialized training set for q_epoch_manifest, keyed
# by sf_dir — the same pattern (and rationale) as _INGEST_SPLITS above:
# the written shards are a pure function of the documents table content
# (materialize_training_set is deterministic end to end, and the
# manifest≡written-file-order test pins exactly that), so the epoch-flip
# query only needs them built ONCE per corpus. The flip itself — the op
# under test — runs fresh every call over the cached shards. Plain dirs
# on disk (no session affinity), reaped at exit.
_EPOCH_SHARDS: dict[str, str] = {}

# The registered epoch flip re-ranks at this salt; must differ from
# pipeline.TRAIN_SALT (the written epoch) or the reshuffle is vacuous —
# guarded HERE at import so the misconfiguration can't survive to
# runtime (a bare assert in the query fn is stripped under python -O;
# round-7 advisor item).
EPOCH_SALT = "epoch1"
if EPOCH_SALT == PIPE.TRAIN_SALT:
    raise ValueError(
        f"EPOCH_SALT {EPOCH_SALT!r} equals pipeline.TRAIN_SALT — the "
        "registered epoch flip would be a vacuous re-rank of the "
        "written epoch"
    )


def _epoch_shards_src(spark: SparkSession, sf_dir: str) -> str:
    import glob

    from mapreduce_code_spark.scratch import scratch_dir

    out = _EPOCH_SHARDS.get(sf_dir)
    # validate on hit: an exit-reaped or externally cleaned dir rebuilds
    if out is not None and len(glob.glob(f"{out}/shard=*")) == PIPE.TRAIN_SHARDS:
        return out
    # scratch_dir (tmpfs-backed, exit-swept) instead of a raw mkdtemp:
    # one of the four leaked-/tmp tempdir sites named by r16 verdict #6
    # — and parquet reads of the cached shards stop touching the root
    # disk the driver window contends (SPARK_GRAFT_DISK_LOCAL=1 opts
    # blowup-tier probes back onto disk)
    base = scratch_dir("spark_graft_shards_")
    out = f"{base}/shards"
    PIPE.materialize_training_set(load_table(spark, sf_dir, "documents"), out)
    _EPOCH_SHARDS[sf_dir] = out
    return out


@register(
    "pipeline_materialize_epoch",
    oracle=PIPE.training_manifest_sql(salt=EPOCH_SALT),
)
def q_materialize_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The epoch flip closed to BYTES and audited from the bytes:
    physically rewrite the epoch-0 shards as
    the EPOCH_SALT epoch through plans/pipeline.materialize_epoch (the
    same write_shuffled path epoch 0 used), then read the manifest back
    OFF THE WRITTEN LAYOUT — shard from the hive partition column, pos
    re-derived within each physical shard, chunk_md5 over the written
    text (epoch_layout_manifest). The oracle recomputes the whole
    curate → chunk → epoch-1 shuffle chain from the RAW documents, so
    one hash match pins the rewritten bytes end to end: placement,
    permutation algebra, and content. The epoch-0 source shards are the
    per-corpus cache (_epoch_shards_src); the flip write + audit —
    the operations under test — run fresh every call."""
    from mapreduce_code_spark.scratch import discard, scratch_dir

    # scratch_dir + discard, not a raw mkdtemp: the epoch-1 rewrite —
    # the timed operation under test — commits its shard files to tmpfs,
    # not the contended root disk, and leaves nothing behind
    work = scratch_dir("spark_graft_epoch1_")
    try:
        out1 = f"{work}/epoch1"
        PIPE.materialize_epoch(
            spark, _epoch_shards_src(spark, sf_dir), out1, salt=EPOCH_SALT
        )
        # pin rows before the temp layout is reaped (the manifest is
        # ~1 row/chunk, no text column)
        return PIPE.epoch_layout_manifest(
            spark, out1, salt=EPOCH_SALT
        ).localCheckpoint()
    finally:
        discard(work)


@register(
    "pipeline_epoch_transfer",
    oracle=PIPE.epoch_transfer_plan_sql(salt=EPOCH_SALT),
)
def q_epoch_transfer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The epoch flip's SHUFFLE PLAN (r7 verdict #2): the (shard_from,
    shard_to) chunk/char transfer matrix read off the WRITTEN epoch-0
    shards — shard_from free from the hive partition column, shard_to
    from the rebuilt chunk key's rank algebra, the unused rank window
    PRUNED by Catalyst (plan test-pinned), so pricing a flip costs one
    scan of the curated shards plus one n_shards²-row aggregate, not
    the flip itself. The oracle recomputes BOTH epochs' shard hashes
    from the raw documents, so one hash match pins layout fidelity and
    flip algebra together."""
    return PIPE.epoch_transfer_plan(
        spark, _epoch_shards_src(spark, sf_dir), salt=EPOCH_SALT
    )


@register(
    "pipeline_quality_margins", oracle=PIPE.score_quality_filter_sql()
)
def q_quality_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned quality filter's SCORING half with a pinned
    coefficient vector (r6 verdict #7): margin = θ·x over
    quality_filter_features — one zip-multiply-sum projection, one
    corpus scan, zero shuffles, no libm (the margin is the logit, so
    thresholding it IS thresholding the sigmoid). Training stays
    rows-only by nature (SGD, pinned by tolerance/parity tests);
    applying a fixed theta is pure column algebra, so the corpus-wide
    scoring pass the 100 TB pipeline actually runs per snapshot gets a
    full DuckDB oracle."""
    return PIPE.score_quality_filter(
        load_table(spark, sf_dir, "documents"), PIPE.QUALITY_THETA
    )


from mapreduce_code_spark.operators import sampling as SMP  # noqa: E402


@register("sampling_train_val_split", oracle=SMP.train_val_split_sql())
def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket train/val split: pure function of
    doc_id — stable across runs, engines, layouts, and data growth
    (randomSplit is none of those)."""
    return SMP.train_val_split(load_table(spark, sf_dir, "documents"))


@register("sampling_streamed_stratified", oracle=SMP.stratified_sample_sql())
def q_streamed_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stratified sample run as a STREAM: hash-keyed sampling is a
    stateless filter, so the same operator code runs append-mode under
    readStream and lands the identical row set — reproducibility across
    batch and streaming ingest is the point of deterministic sampling."""
    from mapreduce_code_spark.sources.io import load_table_stream
    from mapreduce_code_spark.streaming.windows import run_available_now

    # Deliberately NO stream_partitions override (r10 flip is
    # selective): a stateless hash filter has no shuffle and no state
    # store, so the conf is inert here — the 0.28 s floor is scan+sink.
    return run_available_now(
        SMP.stratified_sample(load_table_stream(spark, sf_dir, "documents")),
        "sampling_streamed_stratified_sink",
        output_mode="append",
    )


@register(
    "sampling_quality_weighted", oracle=SMP.quality_weighted_sample_sql()
)
def q_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sample: keep rate proportional to
    the exact-integer quality score — the soft quality gate."""
    return SMP.quality_weighted_sample(load_table(spark, sf_dir, "documents"))


@register("sampling_pack_documents", oracle=SMP.pack_documents_sql())
def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded deterministic sequence packing (concat-then-chunk):
    per-shard running offsets cut into fixed token-budget packs — the
    pretraining batch-construction op, parallel by hash shard."""
    return SMP.pack_documents(load_table(spark, sf_dir, "documents"))


@register("sampling_chunk_documents", oracle=SMP.chunk_documents_sql())
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking with overlap — the context-window
    prep step; pure narrow map, no shuffle."""
    return SMP.chunk_documents(load_table(spark, sf_dir, "documents"))


@register("sampling_source_cap", oracle=SMP.source_cap_sample_sql())
def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap by hash priority (domain balancing);
    rank filter compiles to WindowGroupLimit so hot domains prune
    map-side."""
    return SMP.source_cap_sample(load_table(spark, sf_dir, "documents"))


@register(
    "sampling_temperature_mix",
    oracle=SMP.temperature_mix_sample_sql(frac=0.1),
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixture (n^0.5 reweighting): rare
    sources kept whole, dominant ones downsampled toward
    sqrt-proportionality. Counts broadcast back; the corpus never
    shuffles. frac=0.1 so the thresholds land strictly inside (0, 1)
    on the driver's UNIFORM 20-source corpus — at the 0.5 default every
    per-source rate would cap at 1 and the filter would be vacuous."""
    return SMP.temperature_mix_sample(
        load_table(spark, sf_dir, "documents"), frac=0.1
    )


@register("sampling_global_shuffle", oracle=SMP.shuffle_order_sql())
def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every doc's
    (ord_key, shard, pos) under the md5(salt|doc_id) permutation that
    sources/bucketing.write_shuffled lays out on disk — reproducible
    across runs/engines/layouts, source-interleaved by construction.
    One narrow hash map + one shard-keyed rank exchange."""
    return SMP.shuffle_order(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "ord_key", "shard", "pos"
    )


@register("dedup_substring_spans", oracle=dedup.dup_spans_sql())
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-substring spans (word 8-grams, islands
    merged) — span-level exact dedup à la Lee et al. 2022."""
    return dedup.dup_spans(load_table(spark, sf_dir, "documents"))


@register("multimodal_meta", oracle=multimodal.media_meta_sql())
def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata scan (no decode): sizes, hashes, plans."""
    media = multimodal.media_from_documents(load_table(spark, sf_dir, "documents"))
    return multimodal.media_meta(media)


@register(
    "multimodal_frame_plan",
    oracle="""
WITH media AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS kind,
         n_chars * 40 AS duration_ms
  FROM documents
)
SELECT media_id, ts_ms // 2000 AS frame_idx, ts_ms
FROM (SELECT media_id, unnest(range(0, duration_ms, 2000)) AS ts_ms
      FROM media WHERE kind = 'video')
""",
)
def q_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (sequence+explode, no decode)."""
    media = multimodal.media_from_documents(load_table(spark, sf_dir, "documents"))
    return multimodal.sample_frames(media)


@register("multimodal_features", oracle=multimodal.features_long_sql())
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake-decode feature extraction through the real mapInPandas
    plumbing (byte-histogram stand-in; real codecs gated behind
    HAS_PIL/HAS_SOUNDFILE), exploded to one row per feature bin so the
    output is flat scalars — exactly DuckDB-oracle-able."""
    media = multimodal.media_from_documents(load_table(spark, sf_dir, "documents"))
    return multimodal.features_long(multimodal.decode_media(media, fake=True))


# ---------------------------------------------------------------------------
# General relational surface (SURVEY §2.5-2.8 + J4: windows, rollup, set
# ops, rich predicates, distinct counts, as-of join — all absent in the
# reference, exposed as first-class engine queries).
# ---------------------------------------------------------------------------

from mapreduce_code_spark.operators import relational as R  # noqa: E402


@register("relational_regional_revenue", oracle=R.regional_revenue_sql())
def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped six-table join: bounded dims broadcast by hand,
    scaling sides AQE-planned, predicates pushed to the scans."""
    return R.regional_revenue(
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


@register("relational_streamed_hll", oracle=R.hll_distinct_portable_sql())
def q_streamed_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The portable HLL driven as a STREAM: micro-batches accumulate the
    distinct (flag, orderkey) state via idempotent anti-join appends
    (foreachBatch + checkpoint), and the register finalize runs over the
    state — register-max is associative, so the estimate equals the
    batch sketch (``R.hll_distinct_orders_portable``) bit-for-bit under
    ANY batching. The mergeable-sketch-over-a-stream story, under the
    batch sketch's oracle."""
    from mapreduce_code_spark.scratch import scratch_dir
    from mapreduce_code_spark.sources.io import load_table_stream
    from mapreduce_code_spark.streaming.windows import (
        run_streamed_distinct,
        stream_partitions,
    )

    # RAM-backed scratch (exit-cleaned): checkpoint commits and the
    # per-batch state appends were /tmp disk I/O inside the timed path
    # (r15 verdict #1 mechanism, scratch.py) and leaked one dir per run
    tmp = scratch_dir("streamed_hll_")
    # 4 shuffle partitions (r10 flip): each micro-batch's distinct +
    # anti-join + parquet append are keyspace-small, and fewer
    # partitions also means fewer state files for later batches to
    # re-read — 1.86 → 1.60 s at sf0.1 (SURVEY §9)
    with stream_partitions(4):
        state = run_streamed_distinct(
            load_table_stream(spark, sf_dir, "lineitem").select(
                "l_returnflag", "l_orderkey"
            ),
            ["l_returnflag", "l_orderkey"],
            f"{tmp}/state",
            f"{tmp}/ckpt",
        )
    return R.hll_from_pairs(state)


@register("relational_pricing_summary", oracle=R.pricing_summary_sql())
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (decimal-exact aggregate)."""
    return R.pricing_summary(load_table(spark, sf_dir, "lineitem"))


@register("relational_topk_parts_per_brand", oracle=R.topk_parts_per_brand_sql())
def q_topk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by revenue per brand (aggregate-then-rank window)."""
    return R.topk_parts_per_brand(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("relational_rollup_pricing", oracle=R.rollup_pricing_sql())
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals over (returnflag, linestatus)."""
    return R.rollup_pricing(load_table(spark, sf_dir, "lineitem"))


@register(
    "relational_grouping_sets", oracle=R.grouping_sets_order_stats_sql()
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (marginals + grand total, no full cross) —
    the general form rollup/cube specialize."""
    return R.grouping_sets_order_stats(load_table(spark, sf_dir, "orders"))


@register("relational_cube_order_stats", oracle=R.cube_order_stats_sql())
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE subtotals over (orderstatus, orderpriority)."""
    return R.cube_order_stats(load_table(spark, sf_dir, "orders"))


@register("relational_pivot_returnflag", oracle=R.pivot_returnflag_counts_sql())
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot per-linestatus counts into one column per returnflag."""
    return R.pivot_returnflag_counts(load_table(spark, sf_dir, "lineitem"))


@register("relational_kv_upsert", oracle=R.orders_with_price_updates_sql())
def q_kv_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins upsert (the reference's HBase Put, dataflow-style)."""
    return R.orders_with_price_updates(load_table(spark, sf_dir, "orders"))


@register(
    "relational_countmin_heavy_hitters", oracle=R.countmin_heavy_hitters_sql()
)
def q_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates vs exact counts for the top
    part keys — the portable mergeable-sketch family's frequency member
    (md5-slice hashes, bounded 4×1024 cells, min-over-rows probe), exact
    enough to be hash-compared against DuckDB."""
    return R.countmin_heavy_hitters(load_table(spark, sf_dir, "lineitem"))


@register(
    "relational_histogram_quantiles", oracle=R.histogram_quantiles_sql()
)
def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantile estimates (equi-width mergeable bins +
    interpolated rank) — the portable sketch quartet's QUANTILE member;
    the scalable stand-in for exact percentile's full sort."""
    return R.histogram_quantiles(load_table(spark, sf_dir, "lineitem"))


@register("relational_bloom_customers", oracle=R.bloom_membership_sql())
def q_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom-filter membership probe (customers vs the set of
    ordering customers) — the mergeable-sketch trio's membership member;
    false positives are deterministic and hash-match the oracle."""
    return R.bloom_membership(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register("relational_idle_customers", oracle=R.idle_high_value_customers_sql())
def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit left-anti join (NOT EXISTS): above-average-balance
    customers with no orders, per segment — TPC-H Q22 shape."""
    return R.idle_high_value_customers(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register("relational_scd2_prices", oracle=R.scd2_customer_prices_sql())
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD materialization (validity intervals via window lead) —
    history-preserving complement of the type-1 kv_upsert."""
    return R.scd2_customer_prices(load_table(spark, sf_dir, "orders"))


@register("relational_funnel_stages", oracle=R.funnel_stages_sql())
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel (stage timestamps strictly
    increasing per user) — conversion analytics over events."""
    return R.funnel_stages(load_table(spark, sf_dir, "events"))


@register("relational_rolling_24h", oracle=R.rolling_24h_user_activity_sql())
def q_rolling_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h per-user activity via a RANGE interval frame (no
    self-join) — value-based window frames on event time."""
    return R.rolling_24h_user_activity(load_table(spark, sf_dir, "events"))


@register("relational_hourly_gapfill", oracle=R.hourly_gapfill_sql())
def q_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-grid resample + gap fill (zero-filled hourly rollup with
    forward-filled last value) — the OLAP densification op."""
    return R.hourly_gapfill(load_table(spark, sf_dir, "events"))


@register("relational_unpivot_measures", oracle=R.unpivot_measure_stats_sql())
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) the lineitem measures to long form + aggregate."""
    return R.unpivot_measure_stats(load_table(spark, sf_dir, "lineitem"))


@register("relational_setops_customers", oracle=R.priority_customer_setops_sql())
def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT over priority-filtered customer sets."""
    return R.priority_customer_setops(load_table(spark, sf_dir, "orders"))


@register("relational_filter_case_orders", oracle=R.filter_case_orders_sql())
def q_filter_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN/BETWEEN/LIKE/date predicates + CASE bucket projection."""
    return R.filter_case_orders(load_table(spark, sf_dir, "orders"))


@register("relational_above_avg_orders", oracle=R.above_avg_orders_sql())
def q_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape in decorrelated window form:
    orders above 1.5x their customer's average, exact integer-cents
    predicate, one shuffle on o_custkey."""
    return R.above_avg_orders(load_table(spark, sf_dir, "orders"))


@register("relational_integrity_checks", oracle=R.integrity_checks_sql())
def q_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style constraint sweep (FK orphans via left-anti, key
    uniqueness, not-null counts) reported one row per check."""
    return R.integrity_checks(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


# the profiled table/columns live with the profiler's bare-identifier
# allowlist in operators/relational.py — ONE constant to edit when the
# profile row grows a column (round-8 advisor item)
_DOC_COLS = list(R.PROFILE_COLS)


@register(
    "relational_profile",
    oracle=R.profile_exact_sql(R.PROFILE_TABLE, _DOC_COLS),
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profiler (r5 verdict #2): per-column
    nulls/distinct/min/max in ONE aggregate over ONE scan. The driver
    row runs ``exact_distinct=True`` (HLL++ internals can't be
    reproduced in an external oracle engine; the exact mode trades one
    Expand for oracle-able counts — still a single scan); the HLL
    default stays pinned by the plan-shape test."""
    return R.profile(
        load_table(spark, sf_dir, "documents").select(*_DOC_COLS),
        exact_distinct=True,
    )


@register("relational_distinct_part_stats", oracle=R.distinct_part_stats_sql())
def q_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts per p_type."""
    return R.distinct_part_stats(load_table(spark, sf_dir, "part"))


@register("relational_quantity_quartiles", oracle=R.quantity_quartiles_sql())
def q_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quartiles per returnflag (integer-valued → cross-engine exact)."""
    return R.quantity_quartiles(load_table(spark, sf_dir, "lineitem"))


@register("relational_customer_order_history", oracle=R.customer_order_history_sql())
def q_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running spend, lag gaps, and sequence numbers per customer."""
    return R.customer_order_history(load_table(spark, sf_dir, "orders"))


@register("relational_events_close_pairs", oracle=R.events_close_pairs_sql())
def q_close_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join: same-user event pairs within 10 minutes."""
    return R.events_close_pairs(load_table(spark, sf_dir, "events"))


@register("relational_events_orders_asof", oracle=R.events_orders_asof_sql())
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge as-of join: latest order at-or-before each event."""
    return R.events_orders_asof(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "orders")
    )


# ---------------------------------------------------------------------------
# Windowed event analytics (north-star streaming extension, SURVEY §2.10).
# The same plan builders run as Structured Streaming queries — registered
# here in batch mode for the oracle gate; streaming parity is tested in
# tests/test_streaming.py.
# ---------------------------------------------------------------------------

from mapreduce_code_spark.streaming import windows as W  # noqa: E402


@register("events_streamed_tumbling", oracle=W.tumbling_counts_sql())
def q_streamed_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling aggregation (``W.tumbling_counts``) executed through
    an actual writeStream (file source → stateful agg → memory sink,
    availableNow trigger), so the streaming execution path itself earns
    the oracle comparison. 4 state partitions: the bounded run's cost is
    per-partition state-store commits, not data volume — 1.71 → 0.93 s
    at sf0.1 (SURVEY §9); production sizes this to keyspace instead."""
    with W.stream_partitions(4):
        return W.streamed_tumbling_counts(spark, sf_dir)


@register("events_sliding_window", oracle=W.sliding_counts_sql())
def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/15m windows (streaming-capable plan)."""
    return W.sliding_counts(load_table(spark, sf_dir, "events"))


@register("events_streamed_session", oracle=W.session_windows_sql())
def q_streamed_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sessionization (``W.session_windows``) executed through an
    actual writeStream, so the session-state MERGE path (sessions
    collapse across micro-batches when a bridging event arrives) earns
    the oracle row. 8 state partitions: the session merge does real
    per-key work, so it keeps more parallelism than the commit-dominated
    tumbling agg — 1.79 → 1.10 s at sf0.1, and 8 beat 4 (1.28 s) in the
    same-session A/B (SURVEY §9)."""
    with W.stream_partitions(8):
        return W.streamed_session_windows(spark, sf_dir)


from mapreduce_code_spark.streaming import joins as SJ  # noqa: E402
from mapreduce_code_spark.streaming import stateful as ST  # noqa: E402


# the batch view→purchase join, as DuckDB computes it
_VIEW_PURCHASE_SQL = """
WITH ev AS (SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events)
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
FROM ev v JOIN ev p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 600 SECOND
"""


@register(
    "events_streamed_view_purchase",
    oracle=_VIEW_PURCHASE_SQL,
)
def q_streamed_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME view→purchase correlation executed as an actual
    watermarked STREAM-STREAM join through writeStream (two file-stream
    readers over the events parquet, append mode, availableNow) — the
    stateful dual-sided join path itself earns the oracle row. Inner
    stream-stream joins emit each match as both sides arrive; the
    watermarks + time-range condition exist to bound state, so on a
    bounded input the append-mode sink holds exactly the batch join."""
    from mapreduce_code_spark.streaming.windows import (
        run_available_now,
        stream_events,
    )

    views = stream_events(spark, sf_dir)
    purchases = stream_events(spark, sf_dir)
    joined = SJ.view_then_purchase(
        views.filter(F.col("event_type") == "view"),
        purchases.filter(F.col("event_type") == "purchase"),
    )
    # 4 state partitions (r10 flip, r9 verdict #1 — the #1 floor line):
    # the dual-sided join state commits per partition per micro-batch,
    # and the zero-row finalize batch alone cost 2.8 s at the session's
    # 32 — 7.0 → 2.6 s at sf0.1, with 4 beating 8 (SURVEY §9).
    with W.stream_partitions(4):
        return run_available_now(
            joined, "events_streamed_view_purchase_sink", output_mode="append"
        )


@register("events_user_running_totals", oracle=ST.user_running_totals_sql())
def q_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user totals — batch twin of the applyInPandasWithState
    stateful streaming operator (multi-batch parity in tests)."""
    return ST.user_running_totals_batch(load_table(spark, sf_dir, "events"))


@register("events_json_props", oracle=W.json_props_sql())
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from props."""
    return W.json_props(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Graph analytics (beyond-reference surface): the canonical MapReduce-era
# graph algorithms as exact-arithmetic DataFrame plans (operators/graph.py).
# ---------------------------------------------------------------------------

from mapreduce_code_spark.operators import graph as GR  # noqa: E402


def _click_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sparsified page-transition edge list, persisted per
    (session, sf_dir) — the four graph queries' common INPUT (the
    transactions-prep precedent, r3 verdict #4 / r8 SHARED_BUILDS): one
    user_id-window shuffle + distinct + hash sparsification that every
    graph query was rebuilding identically. Node-scale small (~2k
    edges at sf0.1); each consumer still derives its own projection
    (pagerank re-partitions by src, triangles/coreness project
    undirected) — only the shared scan+window+distinct is cached."""
    return _cached_df(
        "click_edges",
        spark,
        sf_dir,
        lambda: GR.click_edges(load_table(spark, sf_dir, "events")),
    )


@register("graph_pagerank_clicks", oracle=GR.pagerank_clicks_sql())
def q_pagerank_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the page-transition graph — 5 power iterations in
    quantized int64 arithmetic (bit-exact vs the unrolled SQL twin).
    Bench OWNER of the shared click_edges materialization."""
    return GR.pagerank(_click_edges(spark, sf_dir))


@register("graph_triangle_clicks", oracle=GR.triangle_clicks_sql())
def q_triangle_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented per-node triangle counts over the undirected
    page-transition graph (oracle uses the naive ordered 3-way join)."""
    return GR.triangle_counts(_click_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# Data-quality monitoring (beyond-reference surface): value-outlier and
# distribution-drift checks with exact integer sufficient statistics
# (operators/monitoring.py).
# ---------------------------------------------------------------------------

from mapreduce_code_spark.operators import monitoring as MON  # noqa: E402


@register("events_streamed_anomaly", oracle=MON.anomaly_zscore_sql())
def q_streamed_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The z-score scorer driven through an ACTUAL writeStream as a
    stream-static join: reference stats from the batch table, the stream
    scored row-by-row (train-offline / score-online). Stateless filter —
    append mode lands exactly the batch result, same oracle."""
    from mapreduce_code_spark.streaming.windows import (
        run_available_now,
        stream_events,
    )

    stats = MON.value_stats(load_table(spark, sf_dir, "events"))
    scored = MON.score_zscore(stream_events(spark, sf_dir), stats)
    # 8 shuffle partitions (r10 flip): stateless filter, but the
    # reference-stats subquery re-plans per micro-batch under the
    # session conf — 0.94 → 0.77 s at sf0.1 (SURVEY §9)
    with W.stream_partitions(8):
        return run_available_now(
            scored, "events_streamed_anomaly_sink", output_mode="append"
        )


@register("events_drift_chisq", oracle=MON.drift_chisq_sql())
def q_drift_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type chi-square drift between stream halves — contingency
    counts exact, χ² a fixed IEEE sequence over the margins."""
    return MON.drift_chisq(load_table(spark, sf_dir, "events"))


@register("graph_coreness_clicks", oracle=GR.coreness_clicks_sql())
def q_coreness_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node coreness via the h-index fixpoint (8 unrolled rounds,
    convergence pinned by tests; bit-exact vs the unrolled SQL twin)."""
    return GR.coreness(_click_edges(spark, sf_dir))


@register("similarity_hybrid_rrf", oracle=similarity.hybrid_rrf_sql())
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid dense+sparse retrieval fused by reciprocal-rank fusion —
    exact integer ranks, fixed two-term IEEE fusion, rtol=0 oracle."""
    return similarity.hybrid_rrf(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


@register("events_retention_cohorts", oracle=MON.retention_cohorts_sql())
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (first-active-day cohorts × day offset,
    exact epoch-day integer arithmetic)."""
    return MON.retention_cohorts(load_table(spark, sf_dir, "events"))


@register("relational_winsorized_prices", oracle=R.winsorized_price_stats_sql())
def q_winsorized_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust aggregation: winsorized mean order value per priority
    (exact integer rank bounds + clamped decimal sum, rtol=0)."""
    return R.winsorized_price_stats(load_table(spark, sf_dir, "orders"))


@register(
    "events_streamed_attribution", oracle=MON.attribution_last_touch_sql()
)
def q_streamed_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution driven through an ACTUAL writeStream as a
    CUSTOM STATEFUL operator (applyInPandasWithState): per-user
    carry-forward state, append-mode emission of each attributed
    purchase exactly once; the page aggregate over the sink shares the
    batch operator's oracle."""
    from mapreduce_code_spark.streaming.stateful import attribution_stream
    from mapreduce_code_spark.streaming.windows import (
        run_available_now,
        stream_events,
    )

    # Deliberately NO stream_partitions override (r10 flip is
    # selective): applyInPandasWithState runs one Arrow state worker
    # per partition, so fewer partitions means LESS Python parallelism
    # — the r9 A/B measured 2.06 → 3.45 s at 4; the session's 32 wins.
    rows = run_available_now(
        attribution_stream(stream_events(spark, sf_dir)),
        "events_streamed_attribution_sink",
        output_mode="append",
    )
    return rows.groupBy("page").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("cents").alias("revenue_cents"),
    )


@register("events_session_paths", oracle=MON.session_paths_sql())
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 clickstream session paths (gap sessionization + ordered
    page-path assembly, fully deterministic cross-engine)."""
    return MON.session_paths(load_table(spark, sf_dir, "events"))


@register("relational_pointintime_prices", oracle=R.pointintime_prices_sql())
def q_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of events against SCD2 price validity
    intervals (equi-key + residual interval predicate)."""
    return R.pointintime_prices(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "orders")
    )


@register("relational_returned_orders", oracle=R.returned_order_counts_sql())
def q_returned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS semi-join: orders with >= 1 returned line,
    counted by priority (existence, not multiplicity)."""
    return R.returned_order_counts(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register("graph_lpa_communities", oracle=GR.lpa_clicks_sql())
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (deterministic
    smallest-label tie-break, 4 unrolled rounds, bit-exact twin)."""
    return GR.lpa_communities(_click_edges(spark, sf_dir))


def evict_cached(kind: str, spark: SparkSession | None = None) -> None:
    """Drop the ``kind`` shared materialization — ``_DF_CACHE`` entries
    (unpersisted) or, for disk-backed kinds, the cached run dirs — so a
    benchmark can force the next consumer to pay the build. Harmless
    mid-use: an evicted persist/dir recomputes, never corrupts.

    ``spark`` scopes the in-memory eviction to frames OWNED by that
    session (r9 advisor, low): ``_cached_df`` deliberately never touches
    a concurrently-live second session's cache, and an unscoped eviction
    from a bench running beside another live session would silently
    degrade that session mid-use. ``None`` keeps the old evict-all
    behavior for single-session callers."""
    if kind in _DISK_EVICTORS:
        _DISK_EVICTORS[kind]()
        return
    for k, df in list(_DF_CACHE.items()):
        if k[0] != kind:
            continue
        if spark is not None and df.sparkSession is not spark:
            continue
        try:
            df.unpersist()
        except Exception:
            pass
        del _DF_CACHE[k]


# kind -> zero-arg evictor for shared builds that live on DISK rather
# than in _DF_CACHE (the streamed-ingest run): same bench contract —
# evicting before a timed owner run forces the cold build.
_DISK_EVICTORS: dict[str, Callable[[], None]] = {
    "ingest_run": _evict_ingest_runs,
}


# Deterministic benchmark attribution for the shared in-session
# materializations (r8 verdict #3: min-of-N plus order-dependent cache
# warming meant a shared build landed in whichever query the round's
# rotation happened to run first — floors flapped across rounds, and a
# cold first run read as per-query "contention"). Each shared cache has
# ONE fixed owner query: bench.py evicts the cache before every timed
# run of the owner (the owner ALWAYS pays the build, min-of-N stays
# min-of-cold) and prewarms it before the sweep so every other consumer
# ALWAYS rides it. The CONSUMERS set names every registered query that
# can touch the cache (r9 advisor, low): a subset bench run prewarms
# only the builds its selected queries actually reach, instead of
# paying tens of seconds of unrelated materialization per invocation.
# kind -> (owner query name, builder fn(spark, sf_dir), consumers).
SHARED_BUILDS: dict[str, tuple[str, Callable, frozenset[str]]] = {
    # the Apriori family's lineitem⋈part transactions prep
    "transactions": (
        "apriori_frequent_items",
        _transactions,
        frozenset(
            {
                "apriori_frequent_items",
                "apriori_frequent_itemsets",
                "apriori_association_rules_ref",
            }
        ),
    ),
    # the shingles→LSH→rerank pairs frame: dedup_near_dup_scalable IS
    # that computation (CacheManager substitutes the cached plan into
    # its fresh build), so it owns the build; the components row
    # consumes it warm
    "near_dup_pairs": (
        "dedup_near_dup_scalable",
        _near_dup_pairs,
        frozenset(
            {"dedup_near_dup_scalable", "dedup_components_starcontract"}
        ),
    ),
    # the 8-round BPE training: text_bpe_merges RETURNS the table it
    # owns; text_bpe_encode applies it warm
    "bpe_merges": (
        "text_bpe_merges",
        _bpe_merge_table,
        frozenset({"text_bpe_merges", "text_bpe_encode"}),
    ),
    # the sparsified page-transition edge list (one window shuffle +
    # distinct) — the four graph queries' shared input; pagerank owns it
    "click_edges": (
        "graph_pagerank_clicks",
        _click_edges,
        frozenset(
            {
                "graph_pagerank_clicks",
                "graph_triangle_clicks",
                "graph_coreness_clicks",
                "graph_lpa_communities",
            }
        ),
    ),
    # the accepted corpus's acceptance-time shingle-id sets — shared
    # input of the two incremental-dedup rows; the streamed row owns it
    "corpus_shingles": (
        "dedup_streamed_incremental",
        _corpus_shingles,
        frozenset({"dedup_incremental", "dedup_streamed_incremental"}),
    ),
    # the completed 3-micro-batch streamed-ingest run (r9 verdict #3):
    # the ledger row owns (and re-pays) the actual streamed path; the
    # manifest row ranks the staged chunks warm. The builder returns the
    # ledger frame so bench's .count() prewarm has something cheap to
    # force — the run itself happens eagerly inside _ingest_run_staging.
    "ingest_run": (
        "pipeline_ingest_hash_log",
        lambda spark, sf_dir: spark.read.parquet(
            f"{_ingest_run_staging(spark, sf_dir)}/hashes"
        ),
        frozenset({"pipeline_ingest_hash_log", "pipeline_ingest_manifest"}),
    ),
}

# Shared on-disk SOURCE FIXTURES — inputs the registered queries are
# DEFINED over (an already-materialized epoch-0; the n-file ingest
# split), not work the queries claim to do. bench.py builds them once,
# untimed, before the sweep, so no query's floor silently carries a
# fixture build depending on rotation order; subset runs build only the
# fixtures their selected queries consume (r9 advisor, low).
# (fn(spark, sf_dir) -> path, consumer query names).
SOURCE_FIXTURES: list[tuple[Callable, frozenset[str]]] = [
    (
        _epoch_shards_src,
        frozenset({"pipeline_materialize_epoch", "pipeline_epoch_transfer"}),
    ),
    (
        _ingest_split_src,
        frozenset({"pipeline_ingest_hash_log", "pipeline_ingest_manifest"}),
    ),
]
