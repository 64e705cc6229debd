"""Deduplication operators for LLM training-data pipelines.

North-star extensions beyond the reference surface (BASELINE.json:6):
exact hash dedup, MinHash+LSH near-dup, SimHash, and n-gram Jaccard —
each expressed relationally so Catalyst can push down, partial-aggregate,
and pick join strategies, and each with a DuckDB-expressible twin for the
oracle gate.

Cross-engine exactness: every hash is derived from ``md5`` hex strings
(identical in Spark and DuckDB). MinHash uses a universal-hash family
``(a_i·x + b_i) mod P`` over a 28-bit md5-derived shingle id — pure
64-bit integer math; SimHash converts the first 15 hex chars (60 bits,
< 2^63) to BIGINT, so no float or engine-specific hash is involved
anywhere.

Scale design (100 TB):
- One representation for the near-dup family: :func:`doc_shingle_sets`
  shingles each document (a per-row flatMap, no shuffle), hashes every
  shingle to a 60-bit id and groups the ids per document ONCE, into a
  sorted distinct array plus its size. That ``groupBy(doc_id)`` is the
  only place shingles meet per document.
- MinHash signatures and LSH band keys are per-row expressions over the
  set — no shuffle between the set and the band join. LSH pair-gen joins
  on (band, band_key) — the classic band-bucket join; bucket skew is
  bounded because identical band keys imply near-identical signatures.
- The exact rerank of LSH candidates joins each pair to its two sets and
  intersects them in the row: O(|candidates|) shuffled rows, not
  O(shingles).
- Exhaustive Jaccard pair-gen is an inverted-index self-join on shingle
  id over the exploded sets, with a document-frequency cap (``max_df``)
  that drops stop-shingles before the join — the standard guard against
  quadratic hot-key blowup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_code_spark import cache
from mapreduce_code_spark.partitioning import spread

# The name perfbench calls: release the per-query intermediates (see
# cache.release).
release_persisted = cache.release


# ---------------------------------------------------------------- exact

def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact content dedup via sha2-256 hash groups.

    Returns one row per document: ``(doc_id, content_hash, keeper_id,
    is_dup)`` where ``keeper_id`` is the smallest doc_id with identical
    text (the canonical survivor). A pure window function — one shuffle
    keyed on the hash.
    """
    h = F.sha2(F.col("text"), 256)
    w = Window.partitionBy("content_hash")
    return (
        documents.select("doc_id", h.alias("content_hash"))
        .withColumn("keeper_id", F.min("doc_id").over(w))
        .withColumn("is_dup", F.col("doc_id") != F.col("keeper_id"))
    )


# ------------------------------------------------------------- shingles

def _token_hash(col):
    """First 60 bits of md5 as BIGINT — portable to DuckDB as
    ('0x' || substr(md5(w),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _exploded_shingles(documents: DataFrame, k: int) -> DataFrame:
    """All word k-shingle occurrences ``(doc_id, shingle)`` — NOT yet
    distinct. Words split on single spaces (matching DuckDB
    ``string_split``); docs shorter than k words produce no shingles."""
    words = F.split(F.col("text"), " ")
    # guard short docs: sequence(0, negative) is DESCENDING in Spark and
    # the i=-1 slice throws — emit an empty array instead (matching the
    # oracle's range(), which yields nothing)
    sh = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - k),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # spread an under-partitioned corpus BEFORE the explode/md5-heavy
    # downstream stages (single test file = 1 partition); a well-split
    # 100 TB input passes through with no Exchange
    return spread(documents).select(
        "doc_id", F.explode(sh).alias("shingle")
    )


def doc_shingle_sets(documents: DataFrame, k: int = 3) -> DataFrame:
    """One row per document: ``(doc_id, sids, sz)``, where ``sids`` is the
    sorted, distinct array of the document's 60-bit md5-derived shingle
    ids and ``sz = size(sids)``. The single per-document representation
    every near-dup kernel reads: MinHash, the LSH band keys, the exact
    Jaccard rerank and the inverted index are all per-row functions of
    it, so no kernel re-groups shingles by document.

    md5 runs once per shingle occurrence, after the explode: a hash
    inside ``transform`` would run interpreted. The one shuffle is the
    ``groupBy(doc_id)``, whose partial ``collect_set`` moves 8-byte ids
    instead of ~35-byte shingle strings. Docs shorter than k words get
    no row (an empty set would give every short doc the same empty band
    key). 60-bit id collisions conflate two shingles with odds
    ~|shingles|²/2^61 — negligible at 100 TB vocab sizes, and acceptable
    for near-dup metrics.
    """
    return (
        _exploded_shingles(documents, k)
        .select("doc_id", _token_hash(F.col("shingle")).alias("sid"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("sid")).alias("sids"))
        .withColumn("sz", F.size("sids").cast("bigint"))
    )


# MinHash universal-hash family: h_i(x) = (a_i·x + b_i) mod P over a
# 28-bit md5-derived shingle id. One md5 per shingle (instead of one per
# shingle PER SEED — measured ~2× faster at sf0.1) and every operation is
# exact 64-bit integer math, identical in Spark and DuckDB. P is the
# 31-bit Mersenne prime; a_i·x < 2^59 so nothing overflows int64, and the
# mod wraps many times, keeping the n_hashes permutations independent
# (min of a monotone a·x+b WITHOUT wrapping would pick the same shingle
# for every seed and collapse LSH).
MINHASH_P = 2_147_483_647  # 2^31 - 1
_MH_A = [
    1_203_563_657, 1_768_251_529, 862_973_321, 2_039_841_003,
    455_470_737, 1_651_073_037, 95_089_385, 1_336_577_077,
    1_843_914_689, 609_337_523, 1_479_228_633, 257_620_385,
]
_MH_B = [
    884_759_861, 1_469_941_465, 706_302_201, 222_396_103,
    1_957_431_621, 1_131_261_079, 414_247_305, 1_563_614_029,
    40_216_047, 988_761_691, 1_724_909_981, 1_338_052_281,
]


def band_keys(
    sets: DataFrame, n_hashes: int = 12, band_size: int = 3
) -> DataFrame:
    """LSH band keys of :func:`doc_shingle_sets` rows: ``(doc_id, band,
    band_key)``, one row per doc per band. Signature component ``mh_i``
    is the minimum over the doc's shingle ids of seed i's universal
    hash; band ``b`` holds components ``b·band_size …`` and its key is
    their '|'-joined decimal strings in seed order. Every step is a
    per-row expression — no shuffle between the set and the band join.

    The 28-bit universal-hash input is the top 28 bits of the 60-bit
    shingle id (first 7 md5 hex chars — numerically identical to hashing
    the shingle directly, so the DuckDB oracles are unchanged); small
    enough that ``a·x`` stays < 2^59.
    """
    if n_hashes > len(_MH_A):
        raise ValueError(f"n_hashes > {len(_MH_A)} needs more coefficients")
    # parsed SQL text, one py4j call per component: Column-composed
    # builds cost real driver time per fresh plan. {a}L/{b}L keep the
    # literals BIGINT inside the int64 products.
    sigs = sets.select(
        "doc_id",
        *(
            F.expr(
                f"array_min(transform(sids, x -> ({_MH_A[i]}L * "
                f"shiftright(x, 32) + {_MH_B[i]}L) % {MINHASH_P}L))"
            ).alias(f"mh_{i}")
            for i in range(n_hashes)
        ),
    )
    bands = ", ".join(
        f"struct({lo // band_size} AS band, concat_ws('|', "
        + ", ".join(
            f"CAST(mh_{i} AS STRING)"
            for i in range(lo, min(lo + band_size, n_hashes))
        )
        + ") AS band_key)"
        for lo in range(0, n_hashes, band_size)
    )
    return sigs.select("doc_id", F.expr(f"inline(array({bands}))"))


def minhash_lsh_pairs(
    documents: DataFrame,
    n_hashes: int = 12,
    band_size: int = 3,
    k: int = 3,
    sets: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one band of the MinHash
    signature. Returns ``(doc_a, doc_b)``, doc_a < doc_b, distinct.

    Bands = consecutive groups of ``band_size`` signature components;
    the band key is the '|'-joined components in seed order. Pair-gen is
    an equi-join on (band, band_key) — LSH's whole point is that this
    join replaces the O(n^2) all-pairs comparison at scale. ``sets``
    (the documents' :func:`doc_shingle_sets`) is built here unless the
    caller already holds it.
    """
    if sets is None:
        sets = doc_shingle_sets(documents, k)
    bands = band_keys(sets, n_hashes, band_size)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _exact_rerank(
    cand: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    a: tuple[str, str],
    b: tuple[str, str],
    threshold: float,
) -> DataFrame:
    """Exact Jaccard of candidate pairs, read off both sides' shingle-id
    sets: ``cand`` holds the pair columns ``a[0]``/``b[0]``, and the
    result is ``(a[0], b[0], shared, a[1], b[1], jaccard)`` with sizes
    named ``a[1]``/``b[1]``. ``shared = |A ∩ B|`` and ``jaccard = shared
    / (|A| + |B| - shared)`` — one division of exact integers, kept when
    ``>= threshold``. A pair sharing no shingle is dropped at any
    threshold, as the shingle-level join it replaces (and the oracles)
    never emit it."""

    def side(sets: DataFrame, key: str, size: str, ids: str) -> DataFrame:
        return sets.select(
            F.col("doc_id").alias(key), F.col("sids").alias(ids),
            F.col("sz").alias(size),
        )

    (key_a, size_a), (key_b, size_b) = a, b
    shared = F.size(F.array_intersect("ids_a", "ids_b")).cast("bigint")
    jac = F.col("shared") / (F.col(size_a) + F.col(size_b) - F.col("shared"))
    return (
        cand.join(side(sets_a, key_a, size_a, "ids_a"), key_a)
        .join(side(sets_b, key_b, size_b, "ids_b"), key_b)
        .withColumn("shared", shared)
        .withColumn("jaccard", jac)
        .filter((F.col("shared") > 0) & (F.col("jaccard") >= threshold))
        .select(key_a, key_b, "shared", size_a, size_b, "jaccard")
    )


# ngram_jaccard_pairs is the EXACT/audit variant: per-shingle join
# fan-out is O(df²) and becomes quadratic on large corpora even with the
# max_df cap. Above this corpus size the operator refuses to run unless
# explicitly forced — the designated big-corpus path is
# ``near_dup_pairs_scalable`` (LSH candidates + exact rerank).
QUADRATIC_GUARD_MAX_DOCS = 100_000

# The guard probe is an eager (bounded) job at DataFrame-construction
# time; cache its result per (session, analyzed plan) so repeated plan
# builds over the same input — plan-shape tests, bench's second timing
# call — pay it once, not per invocation.
_PROBE_CACHE: dict[tuple[int, int], int] = {}


def _guard_probe(documents: DataFrame) -> int:
    """Bounded corpus-size probe (``limit(cap+1).count()`` stops at the
    first cap+1 rows — a handful of row groups on a 100 TB table, never a
    full scan), memoized on the input's semantic plan hash PLUS its file
    listing: a parquet path's semantic hash is rootPaths-based, so files
    appended to the same path would otherwise serve a stale (smaller)
    probe and silently bypass the quadratic guard. ``inputFiles`` is
    driver-side metadata — no job."""
    try:
        key = (
            id(documents.sparkSession),
            documents._jdf.queryExecution().analyzed().semanticHash(),
            hash(tuple(sorted(documents.inputFiles()))),
        )
    except Exception:
        key = None  # Spark Connect — no JVM plan handle; probe uncached
    if key is not None and key in _PROBE_CACHE:
        return _PROBE_CACHE[key]
    probe = documents.limit(QUADRATIC_GUARD_MAX_DOCS + 1).count()
    if key is not None:
        if len(_PROBE_CACHE) > 64:
            _PROBE_CACHE.clear()
        _PROBE_CACHE[key] = probe
    return probe


def ngram_jaccard_pairs(
    documents: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int = 100,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    Inverted-index self-join on shingle → count shared shingles per pair
    → ``jaccard = shared / (|A| + |B| - shared)``. Shingles occurring in
    more than ``max_df`` documents are dropped before pair-gen (scale
    guard; they contribute near-zero discrimination and quadratic join
    fan-out). Returns ``(doc_a, doc_b, shared, size_a, size_b, jaccard)``
    with jaccard >= threshold.

    Jaccard is a single division of exact integers — bit-identical in any
    engine. The inverted index is the exploded :func:`doc_shingle_sets`,
    so the join moves 8-byte shingle ids, and each posting carries its
    document's size, so no sizes aggregate is joined back.

    Guarded against accidental large-corpus use: raises ``ValueError``
    above ``QUADRATIC_GUARD_MAX_DOCS`` documents unless
    ``allow_quadratic=True``. The guard probe is ``limit(cap+1).count()``
    — a bounded scan that stops as soon as cap+1 rows are seen, so on a
    100 TB corpus it reads a handful of row groups, not the table (a
    plain ``count()`` would be a full job). Use
    :func:`near_dup_pairs_scalable` for big corpora.
    """
    if not allow_quadratic:
        probe = _guard_probe(documents)
        if probe > QUADRATIC_GUARD_MAX_DOCS:
            raise ValueError(
                f"ngram_jaccard_pairs is the exact/audit variant (per-"
                f"shingle df² join fan-out) and the corpus has more than "
                f"{QUADRATIC_GUARD_MAX_DOCS} docs. Use "
                f"near_dup_pairs_scalable for large corpora, or pass "
                f"allow_quadratic=True to force."
            )
    # the sets are distinct per doc, so a window count over sid IS the
    # document frequency; it leaves the rows hash(sid)-partitioned, which
    # the self-join on sid reuses. ``sz`` rides along: sizes count every
    # shingle, ``shared`` only the ones with df <= max_df. Persisted: both
    # join sides read the one set build.
    inv = (
        cache.persist(doc_shingle_sets(documents, k))
        .select("doc_id", "sz", F.explode("sids").alias("sid"))
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("sid")))
        .filter(F.col("df") <= max_df)
    )
    a = inv.alias("a")
    b = inv.alias("b")
    jac = F.col("shared") / (F.col("size_a") + F.col("size_b") - F.col("shared"))
    return (
        a.join(
            b,
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("size_a"),
            F.col("b.sz").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "shared", "size_a", "size_b", "jaccard")
    )


# -------------------------------------------------------------- simhash

SIMHASH_BITS = 60  # 15 hex chars → fits signed 64-bit in both engines


def simhash(documents: DataFrame) -> DataFrame:
    """60-bit SimHash per document: bit b is set when the sum over word
    occurrences of ±1 (sign = bit b of the word's hash) is positive.

    One groupBy(doc_id) with 60 conditional-sum aggregates — a single
    shuffle with map-side partial aggregation; no per-bit row blowup.
    Returns ``(doc_id, simhash bigint)``.
    """
    toks = (
        spread(documents)
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .withColumn("h", _token_hash(F.col("w")))
    )
    # per-bit aggregates as parsed SQL text, ONE py4j call each, and the
    # 60-term reassembly as one parsed expression: the Column-composed
    # build cost ~1.3 s of driver time per fresh plan — ~90% of this
    # query's bench floor (the r9 plan-construction audit; same py4j
    # anti-pattern as the IVF literal matrix, same fix)
    aggs = [
        F.expr(
            f"CASE WHEN sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 "
            f"END) > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        ).alias(f"bit_{b}")
        for b in range(SIMHASH_BITS)
    ]
    bits = toks.groupBy("doc_id").agg(*aggs)
    sim = F.expr(
        " + ".join(f"shiftleft(bit_{b}, {b})" for b in range(SIMHASH_BITS))
    )
    return bits.select("doc_id", sim.alias("simhash"))


def simhash_sql() -> str:
    """DuckDB twin of :func:`simhash` (identical md5-derived hashes)."""
    bit_terms = ",\n  ".join(
        f"CASE WHEN sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN 1::BIGINT ELSE 0::BIGINT END AS bit_{b}"
        for b in range(SIMHASH_BITS)
    )
    sim_expr = " + ".join(f"(bit_{b} << {b})" for b in range(SIMHASH_BITS))
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
th AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM tok
),
bits AS (
  SELECT doc_id,
  {bit_terms}
  FROM th GROUP BY doc_id
)
SELECT doc_id, {sim_expr} AS simhash FROM bits
"""


# --------------------------------------------- exact-substring dup spans

def dup_spans(documents: DataFrame, n: int = 8) -> DataFrame:
    """Cross-document duplicated-substring spans — the span-level exact
    dedup of "Deduplicating Training Data Makes Language Models Better"
    (Lee et al. 2022, public), at word-n-gram granularity: a position is
    duplicated when its word n-gram occurs in at least one OTHER
    document; maximal runs of duplicated positions merge into spans
    (gaps-and-islands). The spans are what a curation pipeline CUTS from
    each document, as opposed to dropping whole near-dup docs. Returns
    ``(doc_id, span_start, span_end, n_dup_grams)`` with word-index
    bounds ``[span_start, span_end)``.

    Scale shape: the suffix-array the paper builds is a single-machine
    structure; the distributed re-expression is one (gram → doc count)
    aggregation joined back to gram positions. Grams travel as 60-bit
    md5-derived ids, never as strings, so both shuffles are narrow
    (16 bytes/row); the islands window and final rollup are keyed on
    doc_id, bounded by document length. Hot grams (boilerplate shared by
    millions of docs) inflate the join fan-out, not a single reducer —
    AQE skew-join splits them.
    """
    words = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos_grams = spread(documents).select(
        "doc_id", F.posexplode(grams).alias("pos", "gram")
    ).select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        _token_hash(F.col("gram")).alias("gid"),
    )
    pos_grams = cache.persist(pos_grams)
    dup = (
        pos_grams.groupBy("gid")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gid")
    )
    hits = pos_grams.join(dup, "gid").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n).alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_dup_grams")
    )


def dup_spans_sql(n: int = 8) -> str:
    """DuckDB twin of :func:`dup_spans` (same md5-derived gram ids)."""
    gram = " || ' ' || ".join(f"w[i+{j + 1}]" for j in range(n))
    return f"""
WITH g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         ('0x' || substr(md5({gram}), 1, 15))::BIGINT AS gid
  FROM (
    SELECT doc_id, unnest(range(len(w) - {n - 1})) AS i, w
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    WHERE len(w) >= {n}
  )
), dup AS (
  SELECT gid FROM g GROUP BY gid HAVING count(DISTINCT doc_id) >= 2
), hits AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gid)
), isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {n} AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_dup_grams
FROM isl GROUP BY doc_id, grp
"""


def near_dup_pairs_scalable(
    documents: DataFrame,
    threshold: float = 0.2,
    n_hashes: int = 12,
    band_size: int = 3,
    k: int = 3,
) -> DataFrame:
    """The 100 TB near-dup path (SURVEY §9): MinHash-LSH candidate
    generation + exact Jaccard rerank restricted to the candidates.

    ``ngram_jaccard_pairs`` compares all shingle-sharing pairs — correct
    but quadratic in per-shingle document frequency. Here the candidate
    set comes from the LSH band join (sub-quadratic by construction), and
    the exact Jaccard is computed only for candidate pairs. Both read one
    persisted :func:`doc_shingle_sets` frame: the band keys are per-row
    functions of each set, and the rerank joins each candidate pair to
    its two sets and intersects them in the row, so the shuffle after the
    band join is O(|candidates|) rows, never O(shingles). Returns
    ``(doc_a, doc_b, shared, size_a, size_b, jaccard)``; precision is
    exact (every emitted pair's jaccard is true and >= threshold), recall
    is the LSH band recall.
    """
    sets = cache.persist(doc_shingle_sets(documents, k))
    cand = minhash_lsh_pairs(documents, n_hashes, band_size, k, sets=sets)
    return _exact_rerank(
        cand, sets, sets, ("doc_a", "size_a"), ("doc_b", "size_b"), threshold
    )


def incremental_near_dups(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    threshold: float = 0.2,
    n_hashes: int = 12,
    band_size: int = 3,
    k: int = 3,
    corpus_sets: DataFrame | None = None,
) -> DataFrame:
    """Incremental ingest dedup: near-dups of NEW documents against an
    EXISTING corpus — the production shape, where each arriving shard is
    checked against everything already accepted without ever re-running
    corpus × corpus. Returns ``(new_doc, corpus_doc, shared, size_new,
    size_corpus, jaccard)`` with jaccard >= threshold.

    The LSH band join runs new-side bands × corpus-side bands only, so
    per-shard cost is O(|shard| + matching buckets), independent of
    corpus-internal duplication; the exact rerank intersects each
    candidate's two shingle-id sets in the row. The corpus side is one
    :func:`doc_shingle_sets` frame — in a deployed pipeline it is
    computed once at acceptance time and stored (a plain table). Here it
    is derived inline from ``corpus_docs`` so the operator is
    self-contained and oracle-checkable, or passed in as ``corpus_sets``
    by a caller that checks MANY shards against one static corpus (the
    streamed foreachBatch twin), so the corpus-side shingle pass runs
    once, not once per shard.
    """
    new_sets = cache.persist(doc_shingle_sets(new_docs, k))
    corp_sets = (
        corpus_sets
        if corpus_sets is not None
        else cache.persist(doc_shingle_sets(corpus_docs, k))
    )
    nb = band_keys(new_sets, n_hashes, band_size)
    cb = band_keys(corp_sets, n_hashes, band_size)
    cand = (
        nb.alias("n")
        .join(
            cb.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_key") == F.col("c.band_key")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("c.doc_id").alias("corpus_doc"),
        )
        .distinct()
    )
    return _exact_rerank(
        cand, new_sets, corp_sets, ("new_doc", "size_new"),
        ("corpus_doc", "size_corpus"), threshold,
    )


def incremental_near_dups_sql(
    threshold: float = 0.2,
    n_hashes: int = 12,
    band_size: int = 3,
    k: int = 3,
    new_pred: str = "doc_id % 2 = 1",
    corpus_pred: str = "doc_id % 2 = 0",
) -> str:
    """DuckDB twin of ``incremental_near_dups`` over a parity split of
    the documents table (new = odd ids, corpus = even ids) —
    parameterized over the same knobs as the Spark side."""

    def side(alias: str, pred: str) -> str:
        return f"""
{alias}_docs AS (SELECT * FROM documents WHERE {pred}),
{alias}_sh AS ({shingles_sql(k, f"{alias}_docs")}),
{alias}_hashed AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h
  FROM {alias}_sh
),
{alias}_sigs AS (
  SELECT doc_id, seed, min((a * h + b) % {MINHASH_P}) AS mh
  FROM {alias}_hashed, (VALUES {_coef_values_sql(n_hashes)}) coef(seed, a, b)
  GROUP BY doc_id, seed
),
{alias}_bands AS (
  SELECT doc_id, seed // {band_size} AS band,
         string_agg(mh::VARCHAR, '|' ORDER BY seed) AS band_key
  FROM {alias}_sigs GROUP BY doc_id, seed // {band_size}
)"""

    return f"""
WITH {side("n", new_pred)},
{side("c", corpus_pred)},
cand AS (
  SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc
  FROM n_bands n
  JOIN c_bands c ON n.band = c.band AND n.band_key = c.band_key
),
n_sizes AS (SELECT doc_id, count(*) AS sz FROM n_sh GROUP BY doc_id),
c_sizes AS (SELECT doc_id, count(*) AS sz FROM c_sh GROUP BY doc_id),
shared AS (
  SELECT cd.new_doc, cd.corpus_doc, count(*) AS shared
  FROM cand cd
  JOIN n_sh x ON x.doc_id = cd.new_doc
  JOIN c_sh y ON y.doc_id = cd.corpus_doc AND y.shingle = x.shingle
  GROUP BY 1, 2
)
SELECT new_doc, corpus_doc, shared,
       ns.sz AS size_new, cs.sz AS size_corpus,
       shared / (ns.sz + cs.sz - shared) AS jaccard
FROM shared
JOIN n_sizes ns ON ns.doc_id = new_doc
JOIN c_sizes cs ON cs.doc_id = corpus_doc
WHERE shared / (ns.sz + cs.sz - shared) >= {threshold}
"""


def dup_components_star(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components over near-dup pairs: the production dedup
    step that pair lists alone can't do — near-duplication is transitive
    in practice (A≈B, B≈C ⇒ keep one of {A,B,C}), so the keeper must be
    chosen per CLUSTER, not per pair. Returns ``(doc_id, component,
    is_keeper)`` for every doc appearing in a pair; ``component`` is the
    cluster's minimum doc_id and the keeper is that document.

    Algorithm: large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — a
    published algorithm, re-expressed as DataFrame ops).

    Alternating rounds:

    - **large-star**: per node u with m = min({u} ∪ Γ(u)), rewire every
      strictly-larger neighbor to m — emit (v, m) for v ∈ Γ(u), v > u.
    - **small-star**: per node u over its smaller neighbors Γ<(u) with
      m = min(Γ<(u)), rewire u and all of Γ<(u) \\ {m} to m.

    Both steps preserve connectivity and monotonically pull every node
    toward its component minimum; the edge set converges to stars
    centered at the component minima in O(log n) rounds — eccentricity
    no longer matters, which is what makes a 100 TB corpus with one
    giant chain-shaped near-dup cluster safe. Each round is two
    groupBy-min aggregations plus two joins on the (shrinking) edge
    list; every round's output is localCheckpoint-ed (lineage cut).
    Convergence = the edge set is star-shaped (no node appears on both
    the leaf and center side) — checkable on the SAME round's output
    with one scalar job, so unlike a plateau test it never pays an
    extra confirmation round. Star-shaped ⇒ fixpoint: both steps map
    stars to themselves, and edge transformations preserve
    connectivity, so a star component is final.
    """
    # Both-direction edge frame, materialized ONCE: ``pairs`` is
    # typically the lazy plan of the whole near-dup pipeline, and without
    # the checkpoint every round would re-run shingling + LSH + rerank
    # from scratch (measured 19s → ~4s at sf0.1). coalesce(8): the edge
    # list is orders of magnitude smaller than the corpus, so per-round
    # task overhead, not data volume, dominates the loop.
    edges = pairs.select("doc_a", "doc_b")
    und = (
        edges.unionByName(
            edges.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .coalesce(8)
        .localCheckpoint()
    )
    # canonical orientation: (u, v) with v < u; both star steps re-emit
    # canonically so this holds every round. The edge list is orders of
    # magnitude smaller than the corpus (it's the near-dup pair set), so
    # per-round task-scheduling overhead, not data volume, dominates the
    # loop — keep every round's frames at a few partitions (AQE re-splits
    # if a genuinely huge edge list shows up).
    edges = (
        und.where(F.col("doc_b") < F.col("doc_a"))
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .distinct()
        .coalesce(4)
        # lazy checkpoint: the first consumer materializes it — an eager
        # checkpoint would cost a separate job per round on top of the
        # convergence-check job below
        .localCheckpoint(eager=False)
    )

    def _is_star_shaped(e: DataFrame) -> bool:
        # Fixpoint ⇔ disjoint stars ⇔ BOTH hold: (a) no node appears on
        # the leaf AND center side (no chains), and (b) every leaf points
        # at exactly one center (a u with two distinct v's is a node
        # whose centers haven't merged yet — the hypothesis suite's
        # falsifying example [(0,2),(1,2)] is exactly that shape, which
        # check (a) alone wrongly accepts). One scalar job: union both
        # violation kinds and probe for a single row.
        centers = e.select(F.col("v").alias("u")).distinct()
        per_u = e.groupBy("u").agg(F.count_distinct("v").alias("nv"))
        bad = per_u.where(F.col("nv") > 1).select("u").unionByName(
            per_u.select("u").join(centers, "u", "left_semi")
        )
        return bad.limit(1).count() == 0

    converged = _is_star_shaped(edges)
    rounds = 0
    while not converged and rounds < max_iters:
        both = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmin = (
            both.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        # no distinct here: duplicate (v, m) emissions are harmless to the
        # small-star mins and the final distinct below canonicalizes —
        # dropping it saves one shuffle per round (the loop is stage-
        # latency bound, not data bound; the edge list is tiny)
        large = (
            both.join(lmin, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        smin = large.groupBy("u").agg(F.min("v").alias("m"))
        edges = (
            large.join(smin, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(smin.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .coalesce(4)
            .localCheckpoint(eager=False)
        )
        converged = _is_star_shaped(edges)
        rounds += 1
    if not converged:
        raise ValueError(
            f"star contraction did not converge in {max_iters} rounds — "
            "O(log n) bound exceeded; the edge list is likely unstable"
        )
    # fixpoint = stars: every non-center node has exactly one edge, to
    # its component min; centers appear only on the v side
    nodes = und.select(F.col("doc_a").alias("node")).distinct()
    lbl = edges.groupBy("u").agg(F.min("v").alias("lbl"))
    return (
        nodes.join(lbl, nodes["node"] == lbl["u"], "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("lbl", "node").alias("component"),
            F.coalesce("lbl", "node").eqNullSafe(F.col("node")).alias(
                "is_keeper"
            ),
        )
    )


# ------------------------------------------------- DuckDB oracle builders

def shingles_sql(k: int = 3, source: str = "documents") -> str:
    """Distinct word k-shingles CTE body ``(doc_id, shingle)`` — the
    DuckDB twin of :func:`doc_shingle_sets` (shingle strings where the
    Spark side holds their ids), parameterized like the Spark side."""
    terms = " || ' ' || ".join(f"w[i+{j}]" for j in range(1, k + 1))
    return f"""
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(len(w) - {k - 1}),
                i -> {terms})) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {source})
"""


SHINGLES_SQL = shingles_sql()


def _coef_values_sql(n_hashes: int) -> str:
    return ", ".join(
        f"({i}, {_MH_A[i]}, {_MH_B[i]})" for i in range(n_hashes)
    )


def _sigs_bands_cte_sql(n_hashes: int = 12, band_size: int = 3) -> str:
    """CTE fragment (expects a prior ``sh(doc_id, shingle)`` CTE):
    universal-hash MinHash signatures + band keys, mirroring
    :func:`band_keys` / :func:`minhash_lsh_pairs` exactly."""
    return f"""
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h FROM sh
),
sigs AS (
  SELECT doc_id, seed, min((a * h + b) % {MINHASH_P}) AS mh
  FROM hashed, (VALUES {_coef_values_sql(n_hashes)}) coef(seed, a, b)
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // {band_size} AS band,
         string_agg(mh::VARCHAR, '|' ORDER BY seed) AS band_key
  FROM sigs GROUP BY doc_id, seed // {band_size}
)"""


def minhash_lsh_sql(n_hashes: int = 12, band_size: int = 3) -> str:
    return f"""
WITH sh AS ({SHINGLES_SQL}),
{_sigs_bands_cte_sql(n_hashes, band_size)}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id
"""


def near_dup_scalable_sql(
    threshold: float = 0.2, n_hashes: int = 12, band_size: int = 3
) -> str:
    return f"""
WITH sh AS ({SHINGLES_SQL}),
{_sigs_bands_cte_sql(n_hashes, band_size)},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
shared AS (
  SELECT c.doc_a, c.doc_b, count(*) AS shared
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared, sa.sz AS size_a, sb.sz AS size_b,
       shared / (sa.sz + sb.sz - shared) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE shared / (sa.sz + sb.sz - shared) >= {threshold}
"""


def dup_components_sql(
    threshold: float = 0.2, n_hashes: int = 12, band_size: int = 3
) -> str:
    """DuckDB twin of ``near_dup_pairs_scalable |> dup_components_star``:
    the same pair pipeline, then component labels via a recursive
    reachability CTE (min reachable doc_id per node — the component
    minimum the star-contraction fixpoint labels every node with)."""
    return f"""
WITH RECURSIVE sh AS ({SHINGLES_SQL}),
{_sigs_bands_cte_sql(n_hashes, band_size)},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
shared AS (
  SELECT c.doc_a, c.doc_b, count(*) AS shared
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2
),
ndpairs AS (
  SELECT doc_a, doc_b
  FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE shared / (sa.sz + sb.sz - shared) >= {threshold}
),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM ndpairs
  UNION ALL
  SELECT doc_b, doc_a FROM ndpairs
),
reach(node, r) AS (
  SELECT a, a FROM und
  UNION
  SELECT u.a, reach.r FROM und u JOIN reach ON reach.node = u.b
)
SELECT node AS doc_id, min(r) AS component,
       min(r) = node AS is_keeper
FROM reach
GROUP BY node
"""
