"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the correctness baseline; the IVF serving
path with a pinned coarse quantizer is the scale path (probe-bounded
candidate scan, then exact re-rank of the probed cells).

Cross-engine exactness: float dot products are summation-order-dependent,
so Spark and a DuckDB oracle would disagree in the last ulps — enough to
flip a top-k rank between two near-ties. All dot products here therefore
quantize each float32 element to int64 at 1e-7 resolution via
``floor(x·1e7 + 0.5)`` — float→double widening, double multiply/add, and
floor are all IEEE-defined and bit-identical across engines (float→DECIMAL
casts are NOT: Spark and DuckDB round differently, verified empirically) —
and sum in exact integer math. The cosine is then derived from the exact
integer dots with a fixed double expression ``dot / (sqrt(na) * sqrt(nb))``
(the quantization scale cancels), which is IEEE-deterministic.

Scale design: the query side of top-k is tiny → ``broadcast``; candidate
scoring is embarrassingly parallel with no shuffle; only the final top-k
window shuffles, keyed on query_id with partial top-k possible via AQE.
The near-dup pair scan joins inside blocks (``label``) rather than the
full cross product; at 100 TB the block key becomes the LSH bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_code_spark import cache
from mapreduce_code_spark.partitioning import spread


SCALE = 10_000_000.0  # quantization: 1e-7 resolution


def _q(c):
    # float → double is exact; double multiply/add/floor are IEEE-defined
    # and bit-identical in every engine (unlike float→DECIMAL casts, whose
    # rounding path differs between Spark and DuckDB — verified
    # empirically). floor(x·1e7 + 0.5) = round-half-up toward +inf.
    # |x| ≤ 10 → |q| ≤ 1e8; 64-element dot ≤ 6.4e17 < int64 max.
    return F.floor(c.cast("double") * F.lit(SCALE) + F.lit(0.5)).cast("long")


def dot_exact(a, b):
    """Order-independent exact quantized dot product of two float arrays:
    elements round-half-up to 1e-7 resolution, then pure int64 math.
    The 1e14 scale factor cancels in the cosine."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _q(x) * _q(y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def with_norm(embeddings: DataFrame) -> DataFrame:
    """Attach the L2 norm (double, derived from the exact self-dot)."""
    return embeddings.withColumn(
        "norm",
        F.sqrt(dot_exact(F.col("embedding"), F.col("embedding")).cast("double")),
    )


def topk_cosine(embeddings: DataFrame, n_queries: int = 5, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k: for each query vector (vec_id <
    n_queries), the k nearest other vectors.

    Returns ``(query_id, vec_id, rank, cosine)``. The query side is
    broadcast — the candidate scan never shuffles; the only shuffle is
    the per-query top-k window.
    """
    e = with_norm(embeddings)
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    # spread an under-partitioned candidate scan (single test file = one
    # partition) so the per-pair dot evaluation parallelizes across
    # cores; a well-split input passes through with no Exchange
    cand = spread(e.select("vec_id", "embedding", "norm"))
    cos = dot_exact(F.col("qv"), F.col("embedding")).cast("double") / (
        F.col("qnorm") * F.col("norm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        cand.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cosine")
    )


def _dense_ranked_sql(n_queries: int, k: int) -> str:
    """The brute-cosine ranking as a reusable CTE chain ending in
    ``ranked`` — shared by :func:`topk_cosine_sql` and the hybrid-RRF
    twin (identical integer quantization and double derivation; DuckDB's
    parallel ``unnest`` zips positionally)."""
    return f"""
WITH elems AS (
  SELECT vec_id, unnest(embedding) AS x FROM embeddings
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 10000000.0 + 0.5) AS BIGINT) * CAST(floor(CAST(x AS DOUBLE) * 10000000.0 + 0.5) AS BIGINT)) AS DOUBLE)) AS norm
  FROM elems GROUP BY vec_id
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         unnest(q.embedding) AS xq, unnest(c.embedding) AS xc
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {n_queries}
),
dots AS (
  SELECT query_id, vec_id,
         CAST(sum(CAST(floor(CAST(xq AS DOUBLE) * 10000000.0 + 0.5) AS BIGINT) * CAST(floor(CAST(xc AS DOUBLE) * 10000000.0 + 0.5) AS BIGINT)) AS DOUBLE) AS dot
  FROM pairs GROUP BY query_id, vec_id
),
scored AS (
  SELECT d.query_id, d.vec_id,
         d.dot / (nq.norm * nc.norm) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.vec_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
  QUALIFY rank <= {k}
)"""


def topk_cosine_sql(n_queries: int = 5, k: int = 10) -> str:
    """DuckDB twin of :func:`topk_cosine`."""
    return (
        _dense_ranked_sql(n_queries, k)
        + """
SELECT query_id, vec_id, rank, cosine FROM ranked
"""
    )


BROADCAST_VEC_LIMIT = 1_000_000  # ~260 MB of 64-float vectors, well under 8 GB


def cosine_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    block_col: str = "label",
    broadcast_right: bool | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs inside blocking groups.

    Joins only within ``block_col`` (at 100 TB the block key is an LSH
    bucket), computes the exact cosine, and
    keeps pairs >= threshold. Returns ``(vec_a, vec_b, cosine)``.
    """
    e = with_norm(embeddings)
    # spread the left side across cores when under-partitioned so pair
    # generation + per-pair dot evaluation parallelize (single-file
    # parquet would otherwise be one task; a well-split input passes
    # through shuffle-free). The right side is broadcast only when it
    # provably fits (metadata-cheap count vs BROADCAST_VEC_LIMIT): an
    # unconditional broadcast hint would hit Spark's 8 GB broadcast limit
    # at corpus scale, while never broadcasting costs ~4× at bench scale.
    # Above the limit the blocked equi-join shuffles (AQE may convert it).
    if broadcast_right is None:
        broadcast_right = embeddings.count() <= BROADCAST_VEC_LIMIT
    a = spread(
        e.select(
            F.col(block_col).alias("blk"),
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("ea"),
            F.col("norm").alias("na"),
        )
    )
    b = e.select(
        F.col(block_col).alias("blk"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
    )
    cos = dot_exact(F.col("ea"), F.col("eb")).cast("double") / (
        F.col("na") * F.col("nb")
    )
    return (
        a.join(F.broadcast(b) if broadcast_right else b, ["blk"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def cosine_dup_pairs_sql(threshold: float = 0.9, block_col: str = "label") -> str:
    """DuckDB twin of :func:`cosine_dup_pairs`."""
    return f"""
WITH elems AS (
  SELECT vec_id, unnest(embedding) AS x FROM embeddings
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 10000000.0 + 0.5) AS BIGINT) * CAST(floor(CAST(x AS DOUBLE) * 10000000.0 + 0.5) AS BIGINT)) AS DOUBLE)) AS norm
  FROM elems GROUP BY vec_id
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         unnest(a.embedding) AS xa, unnest(b.embedding) AS xb
  FROM embeddings a JOIN embeddings b
    ON a.{block_col} = b.{block_col} AND a.vec_id < b.vec_id
),
dots AS (
  SELECT vec_a, vec_b,
         CAST(sum(CAST(floor(CAST(xa AS DOUBLE) * 10000000.0 + 0.5) AS BIGINT) * CAST(floor(CAST(xb AS DOUBLE) * 10000000.0 + 0.5) AS BIGINT)) AS DOUBLE) AS dot
  FROM pairs GROUP BY vec_a, vec_b
)
SELECT d.vec_a, d.vec_b, d.dot / (na.norm * nb.norm) AS cosine
FROM dots d
JOIN norms na ON na.vec_id = d.vec_a
JOIN norms nb ON nb.vec_id = d.vec_b
WHERE d.dot / (na.norm * nb.norm) >= {threshold}
"""


def _pinned_d2s(centroids_q) -> "F.Column":
    """Array of EXACT integer squared distances from the row's quantized
    embedding (column ``qv``, the module's 1e-7 grid — see :func:`_q`)
    to each pinned centroid — pure literal algebra, row-local, fully
    whole-stage-codegen'd: the centroid matrix is compiled INTO the
    plan, so assignment costs zero shuffles and zero Python.
    Bounds: |q| ≤ 1e8 → per-element diff² ≤ 4e16, ×64 dims ≤ 2.6e18 <
    int64 max."""
    # Built as ONE parsed SQL expression, not composed Column objects:
    # the unrolled build (16 cells x 64 literal lit/cast Columns each)
    # cost thousands of py4j round-trips — 6-12 s of DRIVER time per
    # fresh plan, dwarfing the ~1 s execution (measured before/after in
    # SURVEY §9). transform() over one literal
    # array-of-arrays is the same exact BIGINT algebra in the same cell
    # order, so assignment argmin ties and probe (d2, cell) orderings —
    # and therefore the DuckDB hash oracle — are unchanged.
    cents = ", ".join(
        "array(" + ", ".join(f"{int(c)}L" for c in cent) + ")"
        for cent in centroids_q
    )
    return F.expr(
        f"transform(array({cents}), c -> "
        "aggregate(zip_with(c, qv, (ci, qi) -> (ci - qi) * (ci - qi)), "
        "0L, (acc, v) -> acc + v))"
    )


def _pinned_cell(centroids_q) -> "F.Column":
    """Nearest pinned centroid's index for the row's ``qv`` — argmin of
    :func:`_pinned_d2s` with the deterministic lowest-cell tie-break
    (``array_position`` returns the FIRST position of the min)."""
    d2s = _pinned_d2s(centroids_q)
    return (F.array_position(d2s, F.array_min(d2s)) - 1).cast("int")


def derive_ivf_centroids(
    embeddings: DataFrame, n_clusters: int = 16, n_iters: int = 2
) -> list:
    """The executable recipe behind ``IVF_CENTROIDS_Q`` (pinned like
    QUALITY_THETA, from a recipe a test re-runs): Lloyd's k-means in
    EXACT integer arithmetic so the pinned table is bit-reproducible
    under ANY partitioning or host — no float-sum order dependence
    anywhere. Vectors quantize through the module's 1e-7 grid
    (:func:`_q`); assignment per iteration is the SAME literal-centroid
    integer-d2 argmin the serving path compiles (:func:`_pinned_cell`);
    the update rounds the exact integer per-(cell, pos) mean half-up —
    ``(2s + n) // (2n)`` — staying on the grid; empty cells keep their
    centroid, and the init is the deterministic, seed-free
    ``n_clusters`` lowest vec_ids. Returns the quantized centroid table
    as plain ints."""
    qv = embeddings.select(
        "vec_id", F.transform("embedding", _q).alias("qv")
    )
    init = qv.orderBy("vec_id").limit(n_clusters).collect()
    cents = [list(r["qv"]) for r in init]
    for _ in range(n_iters):
        sums = (
            qv.select(
                _pinned_cell(cents).alias("cell"),
                F.posexplode("qv").alias("pos", "x"),
            )
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = [list(c) for c in cents]
        for r in sums:
            s, n = int(r["s"]), int(r["n"])
            new[r["cell"]][r["pos"]] = (2 * s + n) // (2 * n)
        cents = new
    return cents


def ivf_topk_pinned(
    embeddings: DataFrame,
    centroids_q=None,
    n_queries: int = 5,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF ANN top-k SERVING path with a PINNED coarse quantizer: with
    the centroid table fixed (``IVF_CENTROIDS_Q``, derived once by
    :func:`derive_ivf_centroids` and pinned as literals), assignment +
    nprobe probe + exact re-rank is pure algebra, so the top-k carries
    a full DuckDB hash oracle (:func:`ivf_topk_pinned_sql`).

    Scale shape: cell assignment and query probing are row-local literal
    integer algebra (zero shuffles, zero Python, whole-stage codegen);
    the probe table (n_queries × nprobe rows + query vectors)
    broadcasts into the candidate scan, so the only exchange in the
    whole plan is the final per-query top-k window over the ~nprobe/
    n_clusters candidate fraction."""
    if centroids_q is None:
        from mapreduce_code_spark.operators.ivf_centroids_pinned import (
            IVF_CENTROIDS_Q,
        )

        centroids_q = IVF_CENTROIDS_Q
    e = with_norm(embeddings).withColumn(
        "qv", F.transform("embedding", _q)
    )
    cand = (
        spread(e)
        .withColumn("cell", _pinned_cell(centroids_q))
        .select("vec_id", "embedding", "norm", "cell")
    )
    q = e.filter(F.col("vec_id") < n_queries)
    wp = Window.partitionBy("query_id").orderBy("d2", "probe_cell")
    probes = (
        q.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("norm").alias("qnorm"),
            F.posexplode(_pinned_d2s(centroids_q)).alias(
                "probe_cell", "d2"
            ),
        )
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "probe_cell", "qe", "qnorm")
    )
    cos = dot_exact(F.col("qe"), F.col("embedding")).cast("double") / (
        F.col("qnorm") * F.col("norm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        cand.join(F.broadcast(probes), F.col("cell") == F.col("probe_cell"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cosine")
    )


def ivf_topk_pinned_sql(
    centroids_q=None, n_queries: int = 5, k: int = 10, nprobe: int = 4
) -> str:
    """DuckDB twin of :func:`ivf_topk_pinned` — the same pinned centroid
    literals as a VALUES table, the same 1e-7 integer quantization in
    the same textual order (assignment d2, probe ranking, and the dense
    cosine re-rank all mirror the Spark expressions; parallel ``unnest``
    zips the equal-length lists positionally), the same (d2 ASC, cell
    ASC) tie-breaks."""
    if centroids_q is None:
        from mapreduce_code_spark.operators.ivf_centroids_pinned import (
            IVF_CENTROIDS_Q,
        )

        centroids_q = IVF_CENTROIDS_Q
    q_num = f"CAST(floor(CAST(x AS DOUBLE) * {SCALE} + 0.5) AS BIGINT)"
    q_lam = f"x -> {q_num}"
    values = ",\n  ".join(
        f"({i}, [{', '.join(str(int(c)) for c in cent)}])"
        for i, cent in enumerate(centroids_q)
    )
    return f"""
WITH cents(cell, qc) AS (VALUES
  {values}
),
qvecs AS (
  SELECT vec_id, list_transform(embedding, {q_lam}) AS qv FROM embeddings
),
dpairs AS (
  SELECT v.vec_id, c.cell, unnest(v.qv) AS a, unnest(c.qc) AS b
  FROM qvecs v CROSS JOIN cents c
),
d2 AS (
  SELECT vec_id, cell, sum((a - b) * (a - b)) AS d2
  FROM dpairs GROUP BY vec_id, cell
),
cells AS (
  SELECT vec_id, cell FROM d2
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2 ASC, cell ASC) = 1
),
probes AS (
  SELECT vec_id AS query_id, cell AS probe_cell FROM d2
  WHERE vec_id < {n_queries}
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2 ASC, cell ASC) <= {nprobe}
),
elems AS (
  SELECT vec_id, unnest(embedding) AS x FROM embeddings
),
norms AS (
  SELECT vec_id,
         sqrt(CAST(sum({q_num} * {q_num}) AS DOUBLE)) AS norm
  FROM elems GROUP BY vec_id
),
cpairs AS (
  SELECT pr.query_id, ce.vec_id,
         unnest(q.embedding) AS xq, unnest(c.embedding) AS xc
  FROM probes pr
  JOIN cells ce ON ce.cell = pr.probe_cell AND ce.vec_id <> pr.query_id
  JOIN embeddings q ON q.vec_id = pr.query_id
  JOIN embeddings c ON c.vec_id = ce.vec_id
),
dots AS (
  SELECT query_id, vec_id,
         CAST(sum(CAST(floor(CAST(xq AS DOUBLE) * {SCALE} + 0.5) AS BIGINT) * CAST(floor(CAST(xc AS DOUBLE) * {SCALE} + 0.5) AS BIGINT)) AS DOUBLE) AS dot
  FROM cpairs GROUP BY query_id, vec_id
),
scored AS (
  SELECT d.query_id, d.vec_id,
         d.dot / (nq.norm * nc.norm) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.vec_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
  QUALIFY rank <= {k}
)
SELECT query_id, vec_id, rank, cosine FROM ranked
"""


# ------------------------------------------------- int8 quantization

def _int8_scale():
    """Per-vector symmetric int8 scale: ``max|x| / 127`` as an IEEE
    double — float→double widening is exact and the division is
    bit-identical in every engine."""
    return (
        F.array_max(
            F.transform("embedding", lambda v: F.abs(v.cast("double")))
        )
        / F.lit(127.0)
    )


def _int8_code(x, scale):
    """Clamped round-half-up int8 code for ONE element, at the scale
    :func:`_int8_scale` gives — both mirror :func:`quantize_int8_sql`
    step for step."""
    return F.least(
        F.lit(127).cast("long"),
        F.greatest(
            F.lit(-127).cast("long"),
            F.floor(x.cast("double") / scale + F.lit(0.5)),
        ),
    )


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the storage/bandwidth scale path for ANN: float32 vectors shrink 4×
    (64-dim: 256 B → 64 B + one scale), which at 100 TB of embeddings is
    the difference between a broadcastable codebook and not.

    Long-form output (the driver's canonicalizer can't sort arrays):
    ``(vec_id, pos, q, scale_q9)`` where ``q = clamp(floor(x/scale+0.5),
    ±127)`` and ``scale_q9`` is the scale at 1e-9 resolution. Every step
    is float→double widening, IEEE double arithmetic, and exact floor —
    bit-reproducible in DuckDB (:func:`quantize_int8_sql`). Zero vectors
    quantize to all-zero (scale 0 guard).
    """
    base = embeddings.select(
        "vec_id",
        _int8_scale().alias("scale"),
        F.posexplode("embedding").alias("pos", "x"),
    )
    q = (
        F.when(F.col("scale") == 0, F.lit(0))
        .otherwise(_int8_code(F.col("x"), F.col("scale")))
        .cast("int")
    )
    return base.select(
        "vec_id",
        "pos",
        q.alias("q"),
        F.floor(F.col("scale") * F.lit(1e9) + F.lit(0.5))
        .cast("bigint")
        .alias("scale_q9"),
    )


def quantize_int8_sql() -> str:
    """DuckDB twin of :func:`quantize_int8` — same widen/divide/floor
    pipeline (DuckDB ``floor`` returns DOUBLE; the final INT cast matches
    Spark's long→int)."""
    return """
WITH scales AS (
  SELECT vec_id,
         list_max(list_transform(embedding,
                                 v -> abs(CAST(v AS DOUBLE)))) / 127.0
           AS scale
  FROM embeddings
),
elems AS (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
         unnest(embedding) AS x
  FROM embeddings
)
SELECT e.vec_id, e.pos,
       CAST(CASE WHEN s.scale = 0 THEN 0
            ELSE least(127.0, greatest(-127.0,
                 floor(CAST(e.x AS DOUBLE) / s.scale + 0.5)))
       END AS INTEGER) AS q,
       CAST(floor(s.scale * 1000000000.0 + 0.5) AS BIGINT) AS scale_q9
FROM elems e JOIN scales s USING (vec_id)
"""


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding centroid — the class-centroid aggregation
    behind nearest-centroid classification, cluster seeding, and
    per-domain embedding drift monitoring. Long-form output ``(label,
    pos, sum_q, n, centroid)``: elements quantize to int64 at 1e-7
    resolution (module convention — float sums are summation-order-
    dependent, integer sums are exact and engine-identical), and the
    double ``centroid = sum_q / (n · 1e7)`` is one IEEE division off the
    exact integers.

    Scale shape: posexplode then ONE groupBy(label, pos) with map-side
    partial aggregation — the only shuffle carries (label, pos, partial
    sum, partial count) per map task, i.e. ``n_labels × dim`` rows per
    task regardless of corpus size.
    """
    el = spread(embeddings).select(
        "label", F.posexplode("embedding").alias("pos0", "x")
    )
    return (
        el.groupBy(
            F.col("label").cast("bigint").alias("label"),
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
        )
        .agg(
            F.sum(_q(F.col("x"))).alias("sum_q"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label",
            "pos",
            "sum_q",
            "n",
            (F.col("sum_q").cast("double") / (F.col("n") * F.lit(SCALE)))
            .alias("centroid"),
        )
    )


def label_centroids_sql() -> str:
    """DuckDB twin of :func:`label_centroids` (same quantization)."""
    return f"""
WITH el AS (
  SELECT label, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
         unnest(list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE} + 0.5)
                          AS BIGINT))) AS q
  FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label, pos,
       CAST(sum(q) AS BIGINT) AS sum_q, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(q) AS DOUBLE) / (count(*) * {SCALE}) AS centroid
FROM el GROUP BY 1, 2
"""


def _centroid_vectors(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid as a dense vector: ``(c_label, cvec
    array<double>)`` — :func:`label_centroids` pivoted wide. (n_labels ×
    dim) rows total, so the result always broadcasts."""
    return (
        label_centroids(embeddings)
        .groupBy(F.col("label").alias("c_label"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "centroid"))
            ).alias("pc")
        )
        .select(
            "c_label",
            F.transform(F.col("pc"), lambda s: s["centroid"]).alias("cvec"),
        )
    )


def assign_centroids(embeddings: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: every vector gets the label of its
    highest-cosine class centroid (from :func:`label_centroids`) — one
    k-means/classification E-step, and the per-domain drift check
    (``label != assigned_label`` rows are the misfits). Returns
    ``(vec_id, label, assigned_label, cosine)``.

    Exactness: centroid components are IEEE-determined doubles, so
    re-quantizing them through the module's 1e-7 integer dot keeps every
    cosine bit-identical across engines, and ties break deterministically
    (max over (cosine, -label) structs = highest cosine, then lowest
    label). Scale shape: the centroid table is (n_labels × dim) — tiny —
    so it broadcasts; scoring is embarrassingly parallel; the only
    shuffle is the per-vector argmax re-aggregation keyed on vec_id.
    """
    cents = _centroid_vectors(embeddings)
    scored = spread(embeddings).crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "c_label",
        (
            dot_exact(F.col("embedding"), F.col("cvec")).cast("double")
            / (
                F.sqrt(
                    dot_exact(F.col("embedding"), F.col("embedding")).cast(
                        "double"
                    )
                )
                * F.sqrt(
                    dot_exact(F.col("cvec"), F.col("cvec")).cast("double")
                )
            )
        ).alias("cosine"),
    )
    best = F.max(F.struct(F.col("cosine"), (-F.col("c_label")).alias("nl")))
    return (
        scored.groupBy("vec_id", "label")
        .agg(best.alias("b"))
        .select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            (-F.col("b.nl")).cast("bigint").alias("assigned_label"),
            F.col("b.cosine").alias("cosine"),
        )
    )


def assign_centroids_sql() -> str:
    """DuckDB twin of :func:`assign_centroids` (same quantized dots;
    parallel ``unnest`` zips the two equal-length lists positionally)."""
    q_expr = f"x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE} + 0.5) AS BIGINT)"
    return f"""
WITH el AS (
  SELECT label, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
         unnest(list_transform(embedding, {q_expr})) AS q
  FROM embeddings
), cent AS (
  SELECT label AS c_label,
         list(CAST(sum_q AS DOUBLE) / (n * {SCALE}) ORDER BY pos) AS cvec
  FROM (
    SELECT label, pos, sum(q) AS sum_q, count(*) AS n
    FROM el GROUP BY 1, 2
  ) GROUP BY label
), qv AS (
  SELECT vec_id, label, list_transform(embedding, {q_expr}) AS qv
  FROM embeddings
), qc AS (
  SELECT c_label,
         list_transform(cvec,
             x -> CAST(floor(x * {SCALE} + 0.5) AS BIGINT)) AS qc
  FROM cent
), pairs AS (
  SELECT vec_id, label, c_label, unnest(qv) AS a, unnest(qc) AS b
  FROM qv CROSS JOIN qc
), dots AS (
  SELECT vec_id, label, c_label, sum(a * b) AS dot,
         sum(a * a) AS na, sum(b * b) AS nb
  FROM pairs GROUP BY 1, 2, 3
), ranked AS (
  SELECT vec_id, label, c_label,
         CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE))
                                * sqrt(CAST(nb AS DOUBLE))) AS cosine,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE))
                    * sqrt(CAST(nb AS DOUBLE))) DESC, c_label ASC) AS rn
  FROM dots
)
SELECT vec_id, CAST(label AS BIGINT) AS label,
       CAST(c_label AS BIGINT) AS assigned_label, cosine
FROM ranked WHERE rn = 1
"""


def semantic_dedup(embeddings: DataFrame, threshold: float = 0.9) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540, re-derived as DataFrame ops): inside each cluster
    (``label`` here; the k-means assignment at corpus scale), find
    embedding pairs with cosine ≥ ``threshold`` and prune the MORE
    TYPICAL member of every such pair — the one closer to its cluster
    centroid — keeping the atypical example, which is the paper's
    diversity-preserving keep rule. Returns one row per vector:
    ``(vec_id, label, cent_cosine, pruned)`` with ``pruned`` as BIGINT
    0/1 (the flag stays in the driver hash's exact-integer path).

    Pairwise-domination variant of the paper's keep-one-per-group:
    a vector is pruned iff SOME ≥-threshold neighbor is strictly more
    atypical (lower centroid-cosine, ties to the lower vec_id). This is
    deterministic, needs no iterative clustering, and never prunes a
    whole group (each group's minimum survives by construction).

    Exactness: centroid cosines reuse the module's quantized integer
    dots (IEEE-identical across engines), so the double comparisons in
    the domination predicate are engine-identical too. Scale shape: the
    centroid table broadcasts; centroid scoring is shuffle-free; pair
    generation rides :func:`cosine_dup_pairs` (blocked join — LSH
    buckets at 100 TB); the domination join is keyed on vec_id with
    pair-count cardinality, and the final flag join is keyed on vec_id.
    """
    # scored is consumed three times (both sides of the domination join
    # and the final flag join); without a persist each action re-scans
    # the corpus and re-aggregates the centroids 3×. A per-query
    # intermediate: released when the next query is built.
    cents = _centroid_vectors(embeddings)
    scored = cache.persist(
        spread(embeddings)
        .join(F.broadcast(cents), F.col("label") == F.col("c_label"))
        .select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            (
                dot_exact(F.col("embedding"), F.col("cvec")).cast("double")
                / (
                    F.sqrt(
                        dot_exact(
                            F.col("embedding"), F.col("embedding")
                        ).cast("double")
                    )
                    * F.sqrt(
                        dot_exact(F.col("cvec"), F.col("cvec")).cast("double")
                    )
                )
            ).alias("cent_cosine"),
        )
    )
    pairs = cosine_dup_pairs(embeddings, threshold, block_col="label")
    oriented = pairs.select(
        F.col("vec_a").alias("v"), F.col("vec_b").alias("o")
    ).unionAll(pairs.select(F.col("vec_b").alias("v"), F.col("vec_a").alias("o")))
    sv = scored.select(F.col("vec_id").alias("v"), F.col("cent_cosine").alias("cx"))
    so = scored.select(F.col("vec_id").alias("o"), F.col("cent_cosine").alias("co"))
    pruned = (
        oriented.join(sv, "v")
        .join(so, "o")
        .filter(
            (F.col("co") < F.col("cx"))
            | ((F.col("co") == F.col("cx")) & (F.col("o") < F.col("v")))
        )
        .select(F.col("v").alias("vec_id"))
        .distinct()
        .withColumn("p", F.lit(1).cast("bigint"))
    )
    return scored.join(pruned, "vec_id", "left").select(
        "vec_id",
        "label",
        "cent_cosine",
        F.coalesce(F.col("p"), F.lit(0).cast("bigint")).alias("pruned"),
    )


def semantic_dedup_sql(threshold: float = 0.9) -> str:
    """DuckDB twin of :func:`semantic_dedup` (same quantized dots, same
    domination rule)."""
    q_expr = f"x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE} + 0.5) AS BIGINT)"
    return f"""
WITH el AS (
  SELECT label, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
         unnest(list_transform(embedding, {q_expr})) AS q
  FROM embeddings
), cent AS (
  SELECT label AS c_label,
         list(CAST(sum_q AS DOUBLE) / (n * {SCALE}) ORDER BY pos) AS cvec
  FROM (
    SELECT label, pos, sum(q) AS sum_q, count(*) AS n
    FROM el GROUP BY 1, 2
  ) GROUP BY label
), qv AS (
  SELECT vec_id, label, list_transform(embedding, {q_expr}) AS qv
  FROM embeddings
), qc AS (
  SELECT c_label,
         list_transform(cvec,
             x -> CAST(floor(x * {SCALE} + 0.5) AS BIGINT)) AS qc
  FROM cent
), selfp AS (
  SELECT vec_id, label, unnest(qv) AS a, unnest(qc) AS b
  FROM qv JOIN qc ON qv.label = qc.c_label
), selfd AS (
  SELECT vec_id, label, sum(a * b) AS dot,
         sum(a * a) AS na, sum(b * b) AS nb
  FROM selfp GROUP BY 1, 2
), scored AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE))
                                * sqrt(CAST(nb AS DOUBLE))) AS cent_cosine
  FROM selfd
), pelems AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         unnest(a.embedding) AS xa, unnest(b.embedding) AS xb
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
), pdots AS (
  SELECT vec_a, vec_b,
         CAST(sum(CAST(floor(CAST(xa AS DOUBLE) * {SCALE} + 0.5) AS BIGINT)
                  * CAST(floor(CAST(xb AS DOUBLE) * {SCALE} + 0.5) AS BIGINT))
              AS DOUBLE) AS dot
  FROM pelems GROUP BY vec_a, vec_b
), vnorm AS (
  SELECT vec_id,
         sqrt(CAST(sum(q * q) AS DOUBLE)) AS norm
  FROM (SELECT vec_id, unnest(list_transform(embedding, {q_expr})) AS q
        FROM embeddings) GROUP BY vec_id
), dup AS (
  SELECT d.vec_a, d.vec_b
  FROM pdots d
  JOIN vnorm na ON na.vec_id = d.vec_a
  JOIN vnorm nb ON nb.vec_id = d.vec_b
  WHERE d.dot / (na.norm * nb.norm) >= {threshold}
), oriented AS (
  SELECT vec_a AS v, vec_b AS o FROM dup
  UNION ALL
  SELECT vec_b AS v, vec_a AS o FROM dup
), pruned AS (
  SELECT DISTINCT p.v
  FROM oriented p
  JOIN scored x ON x.vec_id = p.v
  JOIN scored y ON y.vec_id = p.o
  WHERE y.cent_cosine < x.cent_cosine
     OR (y.cent_cosine = x.cent_cosine AND y.vec_id < x.vec_id)
)
SELECT s.vec_id, s.label, s.cent_cosine,
       CAST(CASE WHEN pr.v IS NULL THEN 0 ELSE 1 END AS BIGINT) AS pruned
FROM scored s LEFT JOIN pruned pr ON pr.v = s.vec_id
"""


# ------------------------------------------------- hybrid retrieval (RRF)

RRF_K = 60  # the standard reciprocal-rank-fusion damping constant


def keyword_ranked(
    documents: DataFrame, n_queries: int = 5, k: int = 20
) -> DataFrame:
    """Sparse retrieval leg: rank candidate docs per query doc by the
    number of DISTINCT shared words — exact integers, ties broken by
    doc_id. Query docs are ``doc_id < n_queries`` (their text is the
    query). Returns ``(query_id, doc_id, overlap, rank)``.

    Scale shape: the corpus explodes once into distinct (doc_id, word);
    the query-side word set is tiny and broadcast, so the corpus never
    shuffles for the join — only the overlap counts (already filtered to
    matching candidates) hit a keyed exchange. The leg runs in THREE
    net exchanges (the two-spread form ran five):
    - the query vocabulary comes from a PRUNED documents scan
      (``doc_id < n_queries`` reaches the parquet reader as a
      PushedFilter) instead of re-deriving it from the spread corpus —
      dropping the second spread exchange AND the pre-broadcast
      distinct's exchange; the duplicate (query_id, word) pairs this
      leaves in the (tiny either way) broadcast are absorbed by the
      map-side partial of the (q, d, word) dedup below BEFORE anything
      shuffles, so shuffle bytes are unchanged;
    - the dedup's exchange stays keyed (q, d, word): it is where
      map-side partial aggregation compresses corpus word multiplicity
      (§2.3 "aggregate before you shuffle");
    - ONE ``repartition(query_id)`` then serves BOTH the overlap count
      (grouping (q, d) ⊇ {q}: subset-key satisfaction) and the rank
      window (partition (q)), replacing their two exchanges. Per-task
      volume under the q key is the query's candidate list — the same
      frame the rank window always processed per query — so no new
      skew bound is introduced."""
    exploded = (
        spread(documents)
        .select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .where(F.col("word") != "")
    )
    qw = (
        documents.where(F.col("doc_id") < n_queries)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.split(F.col("text"), " ")).alias("word"),
        )
        .where(F.col("word") != "")
    )
    # broadcast-join the RAW exploded corpus against the query vocabulary
    # BEFORE any distinct: the only rows that ever reach a shuffle are
    # query-vocabulary matches. Distinct-ing the corpus first would push
    # the whole (doc, word) vocabulary through an exchange just to be
    # dropped (Catalyst can't move a broadcast join below an Aggregate).
    overlap = (
        exploded.join(F.broadcast(qw), "word")
        .where(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id", "word")
        .distinct()
        .repartition(F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("overlap"), F.asc("doc_id")
    )
    return (
        overlap.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# the fused score as ONE shared textual expression: a FIXED two-term IEEE
# sum of exact rationals (1/(60+rank)), so it is bit-identical across
# engines; a doc missing from one leg contributes 0 from that leg (the
# standard RRF treatment). CAST(1 AS DOUBLE) everywhere — a bare 1.0
# literal is DECIMAL in both engines, with engine-specific decimal
# division rules.
_RRF = (
    "(coalesce(CAST(1 AS DOUBLE) / CAST({k} + r_dense AS DOUBLE), "
    "CAST(0 AS DOUBLE))"
    " + coalesce(CAST(1 AS DOUBLE) / CAST({k} + r_sparse AS DOUBLE), "
    "CAST(0 AS DOUBLE)))"
)


def hybrid_rrf(
    documents: DataFrame,
    embeddings: DataFrame,
    n_queries: int = 5,
    k_leg: int = 20,
    k: int = 10,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Hybrid dense+sparse retrieval fused by reciprocal-rank fusion
    (Cormack, Clarke & Buettcher, SIGIR 2009 — public): the brute-cosine
    top-``k_leg`` (:func:`topk_cosine`) and the keyword-overlap
    top-``k_leg`` (:func:`keyword_ranked`) are fused per (query, doc)
    and re-ranked by ``Σ 1/(rrf_k + rank)``. Ranks are
    exact integers and the fusion is a fixed two-division IEEE sum, so
    the output hash-matches the DuckDB twin exactly — including the
    tie-break (score desc, doc_id asc). Returns
    ``(query_id, doc_id, r_dense, r_sparse, rrf_score, rank)``.

    The doc/vec id spaces coincide in the test corpus; in production the
    dense leg's ANN variant (:func:`ivf_topk_pinned`) slots in for the
    brute scan — fusion is rank-only, so the operator is agnostic to how
    each leg was produced."""
    dense = topk_cosine(embeddings, n_queries, k_leg).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("r_dense"),
        F.lit(None).cast("int").alias("r_sparse"),
    )
    sparse = keyword_ranked(documents, n_queries, k_leg).select(
        "query_id",
        "doc_id",
        F.lit(None).cast("int").alias("r_dense"),
        F.col("rank").alias("r_sparse"),
    )
    score = _RRF.format(k=rrf_k)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    # Fusion as UNION + per-(query, doc) aggregate instead of a
    # FULL-OUTER join: each leg emits a (q, d) at most once, so max()
    # over the ≤2 union rows reconstructs exactly the join's (r_dense,
    # r_sparse) pairs — same row set, same values. Invariant: both legs
    # arrive hash(query_id)-partitioned with the same partition count, so
    # the union is too, and that satisfies both the (q, d) aggregate and
    # the final per-query rank window with no exchange of their own: the
    # operator plans 5 exchanges, all inside the legs (dense 2, sparse 3),
    # where the join form planned 11. At scale the fused frame is
    # n_queries x 2·k_leg rows — never a skew concern.
    fused = (
        dense.unionByName(sparse)
        .groupBy("query_id", "doc_id")
        .agg(
            F.max("r_dense").alias("r_dense"),
            F.max("r_sparse").alias("r_sparse"),
        )
    )
    return (
        fused.withColumn("rrf_score", F.expr(score))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "r_dense", "r_sparse", "rrf_score", "rank")
    )


def hybrid_rrf_sql(
    n_queries: int = 5, k_leg: int = 20, k: int = 10, rrf_k: int = RRF_K
) -> str:
    """DuckDB twin of :func:`hybrid_rrf` (dense CTEs shared with
    :func:`topk_cosine_sql` via :func:`_dense_ranked_sql`)."""
    score = _RRF.format(k=rrf_k)
    return (
        _dense_ranked_sql(n_queries, k_leg)
        + f""",
dwords AS (
  SELECT DISTINCT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> ''
),
qwords AS (
  SELECT doc_id AS query_id, word FROM dwords WHERE doc_id < {n_queries}
),
ovl AS (
  SELECT q.query_id, d.doc_id, count(*) AS overlap
  FROM dwords d JOIN qwords q USING (word)
  WHERE d.doc_id <> q.query_id
  GROUP BY q.query_id, d.doc_id
),
sranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY overlap DESC, doc_id ASC) AS rank
  FROM ovl
  QUALIFY rank <= {k_leg}
),
fused AS (
  SELECT coalesce(d.query_id, s.query_id) AS query_id,
         coalesce(d.vec_id, s.doc_id) AS doc_id,
         d.rank AS r_dense, s.rank AS r_sparse
  FROM ranked d
  FULL OUTER JOIN sranked s
    ON s.query_id = d.query_id AND s.doc_id = d.vec_id
),
rescored AS (
  SELECT query_id, doc_id, r_dense, r_sparse, {score} AS rrf_score
  FROM fused
)
SELECT query_id, doc_id, r_dense, r_sparse, rrf_score,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY rrf_score DESC, doc_id ASC) AS rank
FROM rescored
QUALIFY rank <= {k}
"""
    )
