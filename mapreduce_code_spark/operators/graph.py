"""Graph analytics over event-derived graphs: PageRank and triangle
counting — the two canonical MapReduce-era graph algorithms (PageRank is
the motivating example of the original MapReduce paper; the reference
repo's paradigm), re-expressed as DataFrame plans with *bit-exact*
cross-engine semantics.

Exactness strategy (house style, cf. ``similarity.label_centroids`` /
``relational.hll_distinct``): PageRank is computed entirely in quantized
int64 space — ranks scaled by 1e12, every per-edge contribution an
integer division ``r div deg``, the damping factor applied as the exact
rational 17/20 — so the per-iteration sums are order-independent exact
integers and the final ranks hash-match a DuckDB twin bit for bit. No
float ever enters the fixpoint; the one IEEE division at the end is
display-only. Triangle counts are plain integers.

Graph construction: :func:`click_edges` derives a page-transition graph
from the events table (``props.k`` is the page id; consecutive events of
one user form an edge). The raw transition graph at any realistic SF is
near-complete over the ~100 page ids, so edges are sparsified by the
SAME growth-stable key-hash device as the sampling operators
(``operators/sampling.py``): an edge survives iff the md5 bucket of
``"src->dst"`` falls under a basis-point threshold — a pure function of
the edge identity, so the topology is identical across engines, runs,
and data growth (new transitions only ever ADD edges, never reassign).

Scale shape (100 TB lens):
- PageRank: per iteration, one shuffle of the edge list keyed by ``src``
  (joins rank+degree) and one keyed by ``dst`` (map-side-combined sum of
  contributions); the rank/degree frames are node-sized, orders of
  magnitude smaller than the edge list. Pre-partitioning the edge list
  by ``src`` makes the first join exchange-free and REUSABLE across all
  iterations. The dangling-mass term is a single-row aggregate joined
  back by broadcast — no driver round-trip in the plan. Iteration count
  is fixed (power iteration, not convergence-tested), so lineage depth
  is bounded; for large ``n_iter`` swap in ``localCheckpoint`` per round
  exactly as the connected-components loop does (``dedup.py``).
- Triangles: degree orientation (orient every undirected edge from its
  lower-(degree, id) endpoint to its higher one) bounds wedge generation
  by sum-of-squared *out*-degrees = O(m^1.5) instead of the hub-dominated
  sum of squared degrees — the standard "curse of the last reducer" fix
  (Suri & Vassilvitskii, WWW'11; Schank & Wagner 2005, both public).
  Three shuffles total: degree agg, wedge self-join on the center, and
  the closing-edge join.

Reference parity: the reference engine has no graph operators; this is
part of the beyond-reference large-scale-pipeline surface (web-graph
importance for crawl prioritization, cluster-cohesion diagnostics for
dedup graphs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_code_spark import cache
from mapreduce_code_spark.operators.sampling import key_bucket, _bucket_sql

SCALE = 1_000_000_000_000  # rank quantization: 1e-12 resolution
EDGE_SALT = "graph-edge"


# ------------------------------------------------------------ edge source

def click_edges(events: DataFrame, keep_bp: int = 1500) -> DataFrame:
    """Directed page-transition edges ``(src, dst)`` from the events
    table: per user, consecutive events (ts, event_id order) link
    ``props.k`` page ids; self-loops dropped, de-duplicated, and
    hash-sparsified to ``keep_bp`` basis points of edge-identity space
    (see module docstring). One window shuffle keyed by ``user_id``."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    page = F.get_json_object("props", "$.k").cast("bigint")
    return (
        events.select("user_id", "ts", "event_id", page.alias("src"))
        .withColumn("dst", F.lead("src").over(w))
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .select("src", "dst")
        .distinct()
        .where(
            key_bucket(
                F.concat_ws("->", F.col("src"), F.col("dst")), salt=EDGE_SALT
            )
            < keep_bp
        )
    )


def click_edges_sql(keep_bp: int = 1500) -> str:
    """DuckDB twin of :func:`click_edges` as a CTE body named ``e``."""
    bucket = _bucket_sql(
        "CAST(src AS VARCHAR) || '->' || CAST(dst AS VARCHAR)", salt=EDGE_SALT
    )
    return f"""
ev0 AS (
  SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events
),
pages AS (
  SELECT user_id, ts, event_id, CAST(props->>'k' AS BIGINT) AS src
  FROM ev0
),
nxt AS (
  SELECT src,
         lead(src) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM pages
),
e AS (
  SELECT DISTINCT src, dst FROM nxt
  WHERE dst IS NOT NULL AND src <> dst AND {bucket} < {keep_bp}
)"""


# ------------------------------------------------- undirected projection

_UND_SQL = """und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst
)"""


def _undirected(edges: DataFrame) -> DataFrame:
    """Undirected projection of a directed edge set: distinct
    ``(a, b)`` with ``a < b`` (self-loops dropped) — shared by the
    triangle and coreness operators, mirrored by ``_UND_SQL``."""
    return (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


# --------------------------------------------------------------- PageRank

def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping_num: int = 17,
    damping_den: int = 20,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge set, entirely in
    quantized int64 arithmetic: ``(node, rank_q, rank)`` where ``rank_q``
    is the rank scaled by 1e12 and ``rank = rank_q / 1e12`` (one IEEE
    division, display only).

    Update rule (exact integer form, identical in the DuckDB twin):

        r'(v) = (1-d)·S div N
                + (d_num · (Σ_{{u→v}} r(u) div deg(u) + dang div N)) div d_den

    where ``S`` = 1e12, ``dang`` = Σ r over dangling nodes (no
    out-edges) — the standard redistribution so rank mass is conserved
    up to integer-floor dust. Every operation is an exact integer op on
    non-negative values, so the result is independent of partitioning,
    summation order, and engine. ``(1-d)·S`` must divide exactly
    (asserted) — it does for the textbook d = 17/20 = 0.85.
    """
    base_num, rem = divmod(SCALE * (damping_den - damping_num), damping_den)
    assert rem == 0, "(1-d)*SCALE must be an exact integer"
    # The edge/node/degree frames are re-read every iteration (e twice:
    # contribution join + dangling anti-join feedstock) — persist them
    # once instead of re-deriving the upstream pipeline 2·n_iter times.
    # They are per-query intermediates, released when the next query is
    # built, so they never accumulate across queries. The cache is
    # hash-partitioned on the contribution join's key (src) BEFORE
    # persisting: one extra exchange at build time, and every
    # iteration's edge-side join then reuses the cached partitioning
    # instead of re-shuffling the edge list n_iter times — the dominant
    # per-iteration cost at real edge counts. The in-partition sort
    # likewise lets a sort-merge join reuse the cached ordering instead
    # of re-sorting the edge cache every round.
    e = cache.persist(
        edges.select("src", "dst")
        .distinct()
        .repartition("src")
        .sortWithinPartitions("src")
    )
    nodes = cache.persist(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = cache.persist(e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    n_row = nodes.agg(F.count(F.lit(1)).alias("n"))

    r = nodes.crossJoin(F.broadcast(n_row)).select(
        "node", F.expr(f"CAST({SCALE} AS BIGINT) div n").alias("r")
    )
    for _ in range(n_iter):
        contrib = (
            e.join(r.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("r div deg")).alias("inc"))
        )
        dang = r.join(
            deg.select(F.col("src").alias("node")), "node", "left_anti"
        ).agg(F.coalesce(F.sum("r"), F.lit(0).cast("bigint")).alias("dang"))
        r = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(n_row))
            .select(
                "node",
                F.expr(
                    f"CAST({base_num} AS BIGINT) div n"
                    f" + ({damping_num} * (coalesce(inc, CAST(0 AS BIGINT))"
                    f" + dang div n)) div {damping_den}"
                ).alias("r"),
            )
            # Lazy lineage cut per round: r(i) feeds TWO branches of
            # r(i+1) (contribution join + dangling sum), so without a cut
            # the logical plan doubles every iteration — same device as
            # the connected-components loops in dedup.py.
            .localCheckpoint(eager=False)
        )
    return r.select(
        "node",
        F.col("r").alias("rank_q"),
        (F.col("r").cast("double") / F.lit(float(SCALE))).alias("rank"),
    )


def pagerank_clicks_sql(
    keep_bp: int = 1500,
    n_iter: int = 5,
    damping_num: int = 17,
    damping_den: int = 20,
) -> str:
    """DuckDB twin of ``pagerank(click_edges(events))`` — the power
    iteration unrolled as chained CTEs (fixed ``n_iter``), using the
    identical integer update rule. ``//`` on non-negative integers in
    DuckDB matches Spark's ``div`` exactly."""
    base_num, rem = divmod(SCALE * (damping_den - damping_num), damping_den)
    assert rem == 0
    parts = [
        "WITH " + click_edges_sql(keep_bp).strip(),
        """nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT node, {scale} // (SELECT n FROM nn) AS r FROM nodes)""".format(
            scale=SCALE
        ),
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""inc{i} AS (
  SELECT e.dst AS node, sum(r.r // d.deg) AS inc
  FROM e
  JOIN r{i - 1} r ON r.node = e.src
  JOIN deg d ON d.node = e.src
  GROUP BY e.dst
),
dang{i} AS (
  SELECT coalesce(sum(r.r), 0) AS dang FROM r{i - 1} r
  WHERE r.node NOT IN (SELECT node FROM deg)
),
r{i} AS (
  SELECT n.node,
         CAST({base_num} // (SELECT n FROM nn)
           + ({damping_num} * (coalesce(i.inc, 0)
              + (SELECT dang FROM dang{i}) // (SELECT n FROM nn)))
             // {damping_den} AS BIGINT) AS r
  FROM nodes n LEFT JOIN inc{i} i ON i.node = n.node
)"""
        )
    body = ",\n".join(parts)
    return (
        body
        + f"""
SELECT node, r AS rank_q, CAST(r AS DOUBLE) / {float(SCALE)} AS rank
FROM r{n_iter}"""
    )


# -------------------------------------------------------------- triangles

def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over the undirected projection of
    a directed edge set: ``(node, degree, n_triangles)`` — every node of
    the graph, its undirected degree, and the number of triangles it
    belongs to (0 for triangle-free nodes).

    Algorithm: degree orientation (see module docstring). Each
    undirected edge is oriented from its lower (degree, id) endpoint;
    each triangle then has exactly one vertex with two out-edges inside
    it, so wedges (u; v, w) over out-neighbor pairs with
    (deg, id)(v) < (deg, id)(w) enumerate each candidate once, and the
    closing edge — if present — is necessarily oriented v→w. The DuckDB
    oracle uses the naive a<b<c three-way join instead: counts are
    algorithm-independent, which is itself part of what the cross-check
    verifies (plus a brute-force property test on random graphs)."""
    # und feeds the wedge join, the closing join, and the degree agg;
    # deg feeds both endpoint joins and the final output; o feeds three
    # consumers — persist all three or the whole click_edges derivation
    # (events scan + user window + distinct + md5 filter) re-runs ~5x
    und = cache.persist(_undirected(edges))
    deg = cache.persist(
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    j = und.join(
        deg.select(F.col("node").alias("a"), F.col("degree").alias("deg_a")), "a"
    ).join(
        deg.select(F.col("node").alias("b"), F.col("degree").alias("deg_b")), "b"
    )
    # a < b always, so on degree ties the lower id (a) wins the order.
    a_first = F.col("deg_a") <= F.col("deg_b")
    # The oriented edge cache is hash-partitioned (and sorted) on the
    # wedge join's key BEFORE persisting — the same device as
    # pagerank's src-partitioned edge cache: the wedge self-join's
    # two scans of o carry distinct attribute ids, so WITHOUT the
    # pre-partitioning EnsureRequirements shuffled BOTH sides on u
    # (edge-pair-scale exchanges — the plan's two biggest); with it,
    # the two cache scans are co-partitioned on the join key and the
    # wedge join runs exchange-free. One build-time exchange replaces
    # two per-read exchanges of the same frame.
    o = cache.persist(
        j.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias(
                "deg_v"
            ),
        )
        .repartition("u")
        .sortWithinPartitions("u")
    )
    # materialize BEFORE planning the wedge join: an un-executed cached
    # plan is AdaptiveSparkPlan isFinalPlan=false, whose output
    # partitioning EnsureRequirements treats as unknown — the wedge
    # join would keep both u-exchanges anyway. Once materialized, the
    # scans report hash(u)/sorted(u) and the self-join (and its sorts)
    # plan exchange-free; the count itself is one cheap pass that the
    # first downstream action would have paid identically.
    o.count()
    o1 = o.select("u", F.col("v").alias("x"), F.col("deg_v").alias("deg_x"))
    o2 = o.select("u", F.col("v").alias("y"), F.col("deg_v").alias("deg_y"))
    wedges = o1.join(o2, "u").where(
        (F.col("deg_x") < F.col("deg_y"))
        | ((F.col("deg_x") == F.col("deg_y")) & (F.col("x") < F.col("y")))
    )
    closing = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"]).select("u", "x", "y")
    per_node = (
        tri.select(
            F.explode(F.array(F.col("u"), F.col("x"), F.col("y"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0).cast("bigint")).alias(
            "n_triangles"
        ),
    )


def triangle_clicks_sql(keep_bp: int = 1500) -> str:
    """DuckDB twin of ``triangle_counts(click_edges(events))`` via the
    naive ordered three-way join (a < b < c enumerates each triangle
    exactly once over the a<b undirected edge list)."""
    return (
        "WITH "
        + click_edges_sql(keep_bp).strip()
        + ",\n"
        + _UND_SQL
        + """,
tri AS (
  SELECT t1.a AS x, t1.b AS y, t2.b AS z
  FROM und t1
  JOIN und t2 ON t2.a = t1.b
  JOIN und t3 ON t3.a = t1.a AND t3.b = t2.b
),
tnodes AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
),
cnt AS (SELECT node, count(*) AS n_triangles FROM tnodes GROUP BY node),
deg AS (
  SELECT node, count(*) AS degree
  FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
  GROUP BY node
)
SELECT d.node, d.degree,
       CAST(coalesce(c.n_triangles, 0) AS BIGINT) AS n_triangles
FROM deg d LEFT JOIN cnt c USING (node)"""
    )


# --------------------------------------------------------------- coreness

def coreness(edges: DataFrame, n_rounds: int = 8) -> DataFrame:
    """Per-node coreness (k-core number) of the undirected projection via
    the h-index fixpoint (Lu, Chen, Zhang, Zhou, Stanley — "The H-index
    of a network node", Nature Comms 2016, public; re-derived as
    DataFrame ops): start from h(0) = degree, then repeatedly set h(i+1)
    = H-index of the neighbors' h(i) — the largest k such that at least
    k neighbors have h >= k, computed as ``max(least(row_number over
    h desc, h))``. The sequence is monotone non-increasing and converges
    to the exact coreness; ``n_rounds`` is FIXED (unrolled identically
    in the DuckDB twin) so the result is well-defined and cross-engine
    bit-identical whether or not the fixpoint has been reached —
    convergence at the shipped round count is pinned by tests, and a
    production loop would add the same one-scalar-job convergence test
    as the connected-components loops.

    Ties in neighbor h-values make ``row_number`` order-ambiguous but
    not the result: permuting equal values permutes equal (rn, h) pairs,
    leaving ``max(min(rn, h))`` unchanged.

    Scale shape: per round, one edge-keyed shuffle (adjacency join
    against the node-sized h frame) and one node-keyed window — the same
    budget as a PageRank round; adjacency persisted once, h frame
    lineage-cut per round. Returns ``(node, coreness)``."""
    und = _undirected(edges)
    # cache hash-partitioned on the per-round join key (nbr): one build
    # exchange buys back an adjacency re-shuffle every round (cf. the
    # same device on pagerank's edge cache)
    adj = cache.persist(
        und.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .union(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .repartition("nbr")
        .sortWithinPartitions("nbr")
    )
    h = adj.groupBy("node").agg(F.count(F.lit(1)).alias("h"))
    w = Window.partitionBy("node").orderBy(F.col("v").desc())
    for _ in range(n_rounds):
        h = (
            adj.join(
                h.select(F.col("node").alias("nbr"), F.col("h").alias("v")),
                "nbr",
            )
            .select("node", "v")
            .withColumn("rn", F.row_number().over(w))
            .groupBy("node")
            .agg(F.max(F.least(F.col("rn").cast("bigint"), F.col("v"))).alias("h"))
            .localCheckpoint(eager=False)
        )
    return h.select("node", F.col("h").alias("coreness"))


def coreness_clicks_sql(keep_bp: int = 1500, n_rounds: int = 8) -> str:
    """DuckDB twin of ``coreness(click_edges(events))`` — the h-index
    iteration unrolled as chained CTEs."""
    parts = [
        "WITH " + click_edges_sql(keep_bp).strip(),
        _UND_SQL + """,
adj AS (
  SELECT a AS node, b AS nbr FROM und
  UNION ALL
  SELECT b AS node, a AS nbr FROM und
),
h0 AS (SELECT node, count(*) AS h FROM adj GROUP BY node)""",
    ]
    for i in range(1, n_rounds + 1):
        parts.append(
            f"""h{i} AS (
  SELECT node, max(least(rn, v)) AS h
  FROM (
    SELECT adj.node, p.h AS v,
           row_number() OVER (PARTITION BY adj.node ORDER BY p.h DESC)
             AS rn
    FROM adj JOIN h{i - 1} p ON p.node = adj.nbr
  )
  GROUP BY node
)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT node, CAST(h AS BIGINT) AS coreness FROM h{n_rounds}"""
    )


# ------------------------------------------------------------ communities

def lpa_communities(edges: DataFrame, n_rounds: int = 4) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007, public; re-derived): every node starts as its
    own label; each round, a node adopts the most frequent label among
    its neighbors AND itself (the self-vote damps the 2-cycle
    oscillation synchronous LPA is known for), ties broken by the
    SMALLEST label. Both the argmax and the tie-break are total, so a
    fixed ``n_rounds`` (unrolled identically in the DuckDB twin) gives a
    bit-exact cross-engine result regardless of convergence. Communities
    are structural groupings — distinct from connected components (one
    component can host many communities). Returns ``(node, community)``.

    Scale shape: per round one edge-keyed join against the node-sized
    label frame, a MAP-SIDE-COMBINED (node, label) vote count (the
    exchange moves partial counts, bounded by distinct labels per map
    partition — never the raw vote stream, which a hub node would
    funnel into one reducer), then a node-keyed rank window over the
    already-aggregated rows (a second, far smaller exchange). The
    self-loop-augmented adjacency is persisted once, partitioned and
    sorted on the join key; labels are lineage-cut per round like the
    other graph loops."""
    und = _undirected(edges)
    nodes = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .distinct()
    )
    adj = cache.persist(
        und.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .union(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .union(nodes.select("node", F.col("node").alias("nbr")))  # self-vote
        .repartition("nbr")
        .sortWithinPartitions("nbr")
    )
    # seed labels from the persisted adjacency's self-loop rows — re-deriving
    # `nodes` here would recompute the whole edge pipeline a second time
    lbl = adj.where(F.col("node") == F.col("nbr")).select(
        "node", F.col("node").alias("lbl")
    )
    w_rank = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lbl"))
    for _ in range(n_rounds):
        # groupBy FIRST: partial aggregation combines votes map-side, so
        # the exchange carries (node, lbl, partial) rows — a window-count
        # formulation would shuffle the raw vote stream and funnel a hub
        # node's entire neighborhood into one reducer ("last reducer"
        # curse, cf. the triangle docstring). The rank window's second
        # exchange then moves only the aggregated rows.
        lbl = (
            adj.join(
                lbl.select(F.col("node").alias("nbr"), "lbl"), "nbr"
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(w_rank))
            .where(F.col("rn") == 1)
            .select("node", "lbl")
            .localCheckpoint(eager=False)
        )
    return lbl.select("node", F.col("lbl").alias("community"))


def lpa_clicks_sql(keep_bp: int = 1500, n_rounds: int = 4) -> str:
    """DuckDB twin of ``lpa_communities(click_edges(events))`` — the
    propagation unrolled as chained CTEs."""
    parts = [
        "WITH " + click_edges_sql(keep_bp).strip(),
        _UND_SQL,
        """nodes AS (SELECT a AS node FROM und UNION SELECT b FROM und),
adj AS (
  SELECT a AS node, b AS nbr FROM und
  UNION ALL SELECT b AS node, a AS nbr FROM und
  UNION ALL SELECT node, node AS nbr FROM nodes
),
lbl0 AS (SELECT node, node AS lbl FROM nodes)""",
    ]
    for i in range(1, n_rounds + 1):
        parts.append(
            f"""lbl{i} AS (
  SELECT node, lbl FROM (
    SELECT a.node, l.lbl, count(*) AS c,
           row_number() OVER (PARTITION BY a.node
                              ORDER BY count(*) DESC, l.lbl ASC) AS rn
    FROM adj a JOIN lbl{i - 1} l ON l.node = a.nbr
    GROUP BY a.node, l.lbl
  ) WHERE rn = 1
)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT node, lbl AS community FROM lbl{n_rounds}"""
    )
