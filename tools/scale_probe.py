"""10x scale probe for the round-4 operator families (round-4 verdict #7).

Blows the sf0.1 tables up 10x with REMAPPED identities (new users / docs
/ vectors, so distinct-cardinality actually grows 10x - duplicating rows
verbatim would collapse under the queries' own distincts) and times three
registered queries at 1x vs 10x on local[32], min-of-N. Expected shapes:

- graph_pagerank_clicks: the EVENT-linear stage is edge derivation (per-
  user window + distinct); the fixpoint loop runs on the page graph,
  whose node/edge count is growth-stable by construction (hash-sparsified
  edge identity over a fixed page vocabulary) => ratio well under 10x.
- events_retention_cohorts: distinct (user, day) and the per-user min
  both scale with users => user-linear work, ratio ~10x at most (partial
  aggs and fixed overheads pull it down).
- similarity_hybrid_rrf: both legs scan the corpus once (linear) but all
  join/fusion work after the per-query top-k is query-bounded => ratio
  ~corpus-scan-linear, never pair-quadratic.

Usage: python tools/scale_probe.py [sf_dir] [repeats] [copies] [names]
[tables], or ``--cleanup`` to delete every blowup tier the probe has
built under /tmp (the sf1000 tier alone is ~11-12 GB — reclaim it
before building a new tier on a disk-constrained host).

MEASUREMENT CAVEAT (r14 pack_documents incident): the probe's action
is ``count()``. For queries whose plan is ROW-COUNT-INVARIANT end to
end (pure per-row projections/windows — no filter, join, explode, or
aggregate), Catalyst prunes every unused column and the count
collapses to a bare scan: ``sampling_pack_documents`` read 1.12x at
1000x copies while a checksum aggregate over its output columns (the
honest action for that shape) measured 3.27x. Every other registered
family's count is load-bearing (aggregation/join/dedup/explode decide
the row count), so their ratios stand — but a NEW probe target with a
projection-only plan needs a checksum-agg sidecar run, not this
harness's count.
``names`` is a comma-separated list of registered queries
(default: the three round-4 families); ``tables`` optionally restricts
which source tables the blowup builds (r13 1000x tier: only
events,embeddings — the four fixpoint-family queries read nothing
else, and lineitem at 1000x would cost ~11 GB for nothing). Writes the
blowup to /tmp/scale{copies}x (reused if present), prints one JSON
line with per-query 1x/Nx min times and ratios.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Remap strides are derived PER TABLE from max(src key)+1 (one cheap
# duckdb MAX per key column) rather than fixed constants: the old fixed
# DOC_STRIDE=1e9 was safe at the pre-banked sf10 tier (max l_orderkey
# ~60M) but at sf100+ orderkeys (600M-6B) would collide across copies,
# silently shrinking distinct-order cardinality for any reader that
# groups by order identity (r11 advisor, low).


def build_blowup(
    sf_dir: str,
    out_dir: str,
    copies: int,
    tables: set[str] | None = None,
    row_group_size: int | None = None,
) -> None:
    """``tables``: build only these (default all). The r13 1000x tier
    needs only events+embeddings (graph trio + semantic dedup); building
    lineitem at 1000x would burn ~11 GB for nothing.

    ``row_group_size``: parquet row-group rows (DuckDB default ~122k).
    The strong-scaling probe passes a small value because scan-split
    parallelism cannot exceed row-group granularity — a single-file
    tier written with default groups caps every downstream per-row
    stage at a handful of tasks no matter how many cores the session
    has (measured r14: 1.6x speedup for 16x cores on all three probed
    families before this knob existed)."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    # A COPY preserving insertion order buffers the ENTIRE result before
    # writing (observed: 600 M rows of 1000x lineitem sat at ~53 GB RSS
    # with a 0-byte output file). The blowup's row order is immaterial —
    # the probe times queries and counts rows, it never value-compares
    # against an order-sensitive oracle — so let DuckDB stream.
    con.execute("SET preserve_insertion_order=false")
    specs = {
        # remap identities per copy; keep everything else byte-identical.
        # Second element = the key columns whose per-table stride is
        # derived from max(src key)+1 below.
        "events": (
            "SELECT event_id + {i}::BIGINT * {s_event_id} AS event_id, ts,"
            " user_id + {i}::BIGINT * {s_user_id} AS user_id,"
            " event_type, value, props FROM src",
            ["event_id", "user_id"],
        ),
        "documents": (
            "SELECT doc_id + {i}::BIGINT * {s_doc_id} AS doc_id, text,"
            " lang, source, n_chars FROM src",
            ["doc_id"],
        ),
        "embeddings": (
            "SELECT vec_id + {i}::BIGINT * {s_vec_id} AS vec_id, embedding,"
            " label FROM src",
            ["vec_id"],
        ),
        # r11 (sf1 tier): the SGD rows fit over lineitem — remap the
        # order identity per copy (same convention as the others; the
        # fit itself reads only measures + returnflag, so the remap
        # just keeps the blowup convention honest for any other reader)
        "lineitem": (
            "SELECT l_orderkey + {i}::BIGINT * {s_l_orderkey} AS l_orderkey,"
            " l_partkey, l_suppkey, l_linenumber, l_quantity,"
            " l_extendedprice, l_discount, l_tax, l_returnflag,"
            " l_linestatus, l_shipdate FROM src",
            ["l_orderkey"],
        ),
    }
    for table, (tpl, key_cols) in specs.items():
        if tables is not None and table not in tables:
            continue
        dst = os.path.join(out_dir, f"{table}.parquet")
        if os.path.exists(dst):
            continue
        con.execute(
            f"CREATE OR REPLACE VIEW src AS SELECT *"
            f" FROM read_parquet('{sf_dir}/{table}.parquet')"
        )
        # per-table, per-key stride = max(src key)+1: collision-free at
        # ANY source scale, and keeps each copy's id block contiguous.
        # COALESCE covers an empty source table (max() is NULL): stride 1
        # preserves the old fixed-constant behavior (empty output) instead
        # of a bare int(None) TypeError with no table name in hand.
        strides = {
            f"s_{c}": int(
                con.sql(
                    f"SELECT coalesce(max({c}) + 1, 1) FROM src"
                ).fetchone()[0]
            )
            for c in key_cols
        }
        if copies <= 16:
            union = "\nUNION ALL\n".join(
                tpl.format(i=i, **strides) for i in range(copies)
            )
        else:
            # large copy counts (the r13 1000x tier): a 1000-branch
            # UNION ALL is 1000 scans; a cross join against range(n)
            # is one scan with identical values (i = copy index).
            # The rewrite REQUIRES the template to read FROM src — a
            # template without it would need a different rewrite, so
            # fail loudly instead of generating invalid SQL.
            body = tpl.format(i="cp.i", **strides)
            assert " FROM src" in body, f"{table}: template lacks ' FROM src'"
            union = body.replace(
                " FROM src",
                f" FROM src CROSS JOIN"
                f" (SELECT unnest(range({copies}))::BIGINT AS i) cp",
                1,
            )
        # write-then-rename: a truncated file left by an interrupted run
        # must never pass the exists() reuse check above — only a COPY
        # that completed lands at the final path
        tmp = dst + ".tmp"
        opts = "FORMAT PARQUET"
        if row_group_size:
            opts += f", ROW_GROUP_SIZE {int(row_group_size)}"
        con.execute(f"COPY ({union}) TO '{tmp}' ({opts})")
        os.replace(tmp, dst)


# Blowup-tier naming convention — ONE definition for the builder and
# the cleaner (review finding: a scheme bump must never strand tiers
# --cleanup can't see). A tier dir is
#   /tmp/scale{copies}x_{scheme}_{8-hex-md5-of-source-dir}
# and the cleaner matches the full structured shape, so an unrelated
# /tmp/scale_something dir can never be swept up.
_SCHEME = "v2"  # v2 = per-table max(key)+1 strides (r11 advisor fix)
_BLOWUP_RE = r"^scale\d+x_[A-Za-z0-9]+_[0-9a-f]{8}(_[A-Za-z0-9]+)?$"


def blowup_dir(copies: int, sf_dir: str, variant: str = "") -> str:
    """``variant`` distinguishes tiers that differ in physical layout
    (e.g. ``rg8192`` for the strong-scaling probe's fine-row-group
    build) — same remap algebra, different parquet granularity, so
    they must never silently reuse each other's files."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    suffix = f"_{variant}" if variant else ""
    return f"/tmp/scale{copies}x_{_SCHEME}_{tag}{suffix}"


def cleanup_blowups() -> int:
    """Remove every blowup tier this probe ever built (``--cleanup``,
    r13 verdict #7: the sf1000 tier leaves ~11-12 GB under /tmp and a
    disk-constrained round must be able to reclaim it without knowing
    the naming scheme). Matches the full structured tier-name shape
    (any scheme version, so pre-bump tiers are reclaimed too) — nothing
    else under /tmp is touched."""
    import glob
    import re
    import shutil

    freed = 0
    for d in sorted(glob.glob("/tmp/scale*")):
        if re.match(_BLOWUP_RE, os.path.basename(d)) and os.path.isdir(d):
            size = sum(
                f.stat().st_size for f in Path(d).rglob("*") if f.is_file()
            )
            shutil.rmtree(d)
            freed += size
            print(f"removed {d} ({size / 1e9:.2f} GB)")
    print(f"freed {freed / 1e9:.2f} GB")
    return 0


def main() -> int:
    if "--cleanup" in sys.argv:
        return cleanup_blowups()
    # blowup tiers multiply data 10-1000x: per-query scratch dirs
    # (epoch shards, streamed staging) must stay on disk here, not the
    # 50%-of-RAM tmpfs the bench-scale allocator prefers (scratch.py);
    # setdefault so a caller can still force either way explicitly
    os.environ.setdefault("SPARK_GRAFT_DISK_LOCAL", "1")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    copies = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    # cache key includes the SOURCE dir — a blowup of a different sf_dir
    # must never be silently reused (the ratios would be meaningless) —
    # AND the stride-scheme version: a dir built by the old fixed-stride
    # code (or any future scheme change) must be rebuilt, not reused with
    # its colliding ids. Bump the module-level _SCHEME when the remap
    # algebra changes (the naming convention lives next to cleanup_blowups
    # so the cleaner always matches what the builder writes).
    out_dir = blowup_dir(copies, sf_dir)
    tables = (
        {t.strip() for t in sys.argv[5].split(",") if t.strip()}
        if len(sys.argv) > 5
        else None
    )
    build_blowup(sf_dir, out_dir, copies, tables)

    from pyspark.sql import SparkSession

    from mapreduce_code_spark.registry import queries

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # The blowup corpus is verbatim-duplicated by construction — the
    # exact regime where compressed-size broadcast estimates understate
    # in-memory size ~copies-fold. The r12 sf10 tier's first full run
    # died in BroadcastExchangeExec on an AQE conversion here; cap
    # automatic broadcasts for every probe leg (explicit hints unaffected).
    from mapreduce_code_spark.session import apply_high_duplication_confs

    apply_high_duplication_confs(spark)
    names = (
        [n.strip() for n in sys.argv[4].split(",") if n.strip()]
        if len(sys.argv) > 4
        else [
            "graph_pagerank_clicks",
            "events_retention_cohorts",
            "similarity_hybrid_rrf",
        ]
    )
    qs = queries()
    unknown = sorted(set(names) - set(qs))
    if unknown:
        # fail BEFORE any timing work, with the valid names in hand
        raise SystemExit(
            f"unknown queries: {unknown}; registered: {sorted(qs)}"
        )
    # bench.py's shared-build attribution, replicated per DIR (r11, the
    # sf1 tier): without it the first repeat pays a shared build and
    # min-of-N then rides its warm cache — the ratio would compare a
    # cold 1x against a warm Nx (or vice versa) depending on run order.
    # Owners pay their build cold EVERY repeat; other consumers ride a
    # prewarmed cache at both scales. Queries listed in `names` should
    # order owners before their consumers (bench's registry order does
    # this implicitly; here the caller controls the list).
    from mapreduce_code_spark import cache
    from mapreduce_code_spark.registry import SHARED_BUILDS, SOURCE_FIXTURES

    sel = set(names)
    cache_owner = {
        owner: kind for kind, (owner, _, _) in SHARED_BUILDS.items()
    }
    for d in (sf_dir, out_dir):
        for fixture, consumers in SOURCE_FIXTURES:
            if sel & consumers:
                fixture(spark, d)
    result = {}
    for name in names:
        times = {}
        for label, d in (("1x", sf_dir), (f"{copies}x", out_dir)):
            # progress marker: a multi-query probe that dies mid-run
            # (OOM, timeout) must name the query+leg it died in — the
            # JSON line only prints at the very end
            print(f"[scale_probe] {name} {label}", file=sys.stderr, flush=True)
            # warm-ensure THIS query's shared builds at THIS dir right
            # before its repeats (an earlier owner's eviction is not
            # per-dir, so an up-front prewarm could be stranded)
            for kind, (owner, build, consumers) in SHARED_BUILDS.items():
                if name in consumers and name != owner:
                    build(spark, d).count()
            best = None
            for _ in range(repeats):
                if name in cache_owner:
                    cache.evict(cache_owner[name], spark)
                t0 = time.monotonic()
                df = qs[name](spark, d)
                n = df.count()
                dt = time.monotonic() - t0
                best = dt if best is None else min(best, dt)
            times[label] = round(best, 3)
            times[f"rows_{label}"] = n
        times["ratio"] = round(times[f"{copies}x"] / times["1x"], 2)
        result[name] = times
    print(json.dumps({"copies": copies, "queries": result}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
