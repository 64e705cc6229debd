"""Seeded input tables for the benchmark workloads.

Every table is written with pyarrow under the physical schema the
registered readers expect (``mapreduce_code_spark.sources.schemas`` and
the sf test tables: int64 keys, ``timestamp[us]`` naive timestamps,
``list<float>`` embeddings). The same seed and sizes give byte-identical
files: generation uses one ``numpy.random.Generator`` per table, rows are
written in key order, and the writer settings are fixed.

The ``near_dup_3x`` corpus follows the remap convention of
``tools/scale_probe.build_blowup``: copy ``i`` of a row gets
``id + i * (max(id) + 1)`` and keeps every other column. It is built
here rather than through that helper because DuckDB's unordered COPY
does not guarantee a stable row order, and byte-identical inputs are
part of this benchmark's contract.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream table"
    " the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
PART_WORDS = ("cold", "hot", "red", "blue", "small", "large")
PART_NOUNS = ("bolt", "gizmo", "plate", "rod", "anvil", "ring", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")

EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00 in epoch micros
_US_PER_DAY = 86_400 * 1_000_000


def _rng(seed: int, table: str) -> np.random.Generator:
    # one stream per table, so resizing one table never shifts another
    return np.random.default_rng([seed, int.from_bytes(table.encode(), "little")])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(
        table,
        path,
        compression="snappy",
        row_group_size=max(table.num_rows, 1),
        store_schema=False,
    )


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def part(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "part")
    names = [
        f"{PART_WORDS[a]} {PART_NOUNS[b]}"
        for a, b in zip(r.integers(0, len(PART_WORDS), n), r.integers(0, len(PART_NOUNS), n))
    ]
    return pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": names,
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
            "p_type": [PART_TYPES[i] for i in r.integers(0, len(PART_TYPES), n)],
            "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + np.arange(n) * 0.1, 2),
        }
    )


def lineitem(seed: int, n: int, n_part: int) -> pa.Table:
    r = _rng(seed, "lineitem")
    n_orders = max(n // 4, 1)
    order = np.sort(r.integers(0, n_orders, n))
    # line number = position of the row within its order, 1-based
    first = np.searchsorted(order, order, side="left")
    qty = r.integers(1, 51, n).astype("float64")
    price = np.round(qty * r.uniform(900.0, 2100.0, n), 2)
    ship = 788_918_400 * 1_000_000 + r.integers(0, 2500, n) * _US_PER_DAY
    return pa.table(
        {
            "l_orderkey": pa.array(order, pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, 100, n), pa.int64()),
            "l_linenumber": pa.array(np.arange(n) - first + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n)],
            "l_linestatus": [("O", "F")[i] for i in r.integers(0, 2, n)],
            "l_shipdate": _ts(ship),
        }
    )


def documents(seed: int, n: int, copies: int = 1) -> pa.Table:
    r = _rng(seed, "documents")
    lengths = r.integers(8, 90, n)
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), k)]) for k in lengths]
    langs = [LANGS[i] for i in r.integers(0, len(LANGS), n)]
    sources = [f"src{i}" for i in r.integers(0, 20, n)]
    stride = n  # max(doc_id) + 1
    return pa.table(
        {
            "doc_id": pa.array(
                np.concatenate([np.arange(n) + i * stride for i in range(copies)]),
                pa.int64(),
            ),
            "text": texts * copies,
            "lang": langs * copies,
            "source": sources * copies,
            "n_chars": pa.array([len(t) for t in texts] * copies, pa.int64()),
        }
    )


def embeddings(seed: int, n: int, dim: int = 64, copies: int = 1) -> pa.Table:
    r = _rng(seed, "embeddings")
    v = r.standard_normal((n, dim)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    labels = r.integers(0, 10, n).astype("int32")
    flat = pa.array(np.tile(v, (copies, 1)).reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * copies * dim + 1, dim, dtype="int32"))
    return pa.table(
        {
            "vec_id": pa.array(
                np.concatenate([np.arange(n) + i * n for i in range(copies)]),
                pa.int64(),
            ),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(np.tile(labels, copies), pa.int32()),
        }
    )


def events(seed: int, n: int, n_users: int, hot_rows: int = 0) -> pa.Table:
    """``n`` events over 30 days. ``hot_rows`` of them, chosen by the
    seed, are re-keyed to one extra user (id ``n_users``) at 1 s
    spacing from the start of the period."""
    r = _rng(seed, "events")
    ts = np.sort(EPOCH_2024 + r.integers(0, 30 * _US_PER_DAY, n))
    users = r.integers(0, n_users, n)
    if hot_rows:
        hot = np.sort(r.choice(n, size=hot_rows, replace=False))
        users[hot] = n_users
        ts[hot] = EPOCH_2024 + 3_600 * 1_000_000 + np.arange(hot_rows) * 1_000_000
        order = np.argsort(ts, kind="stable")
        ts, users = ts[order], users[order]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(users, pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
            "value": np.round(r.uniform(0.01, 500.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }
    )


def build(out_dir: str, seed: int, tables: dict[str, dict]) -> dict[str, int]:
    """Write ``{name: kwargs}`` tables as ``{out_dir}/{name}.parquet``;
    returns ``{name: rows}``."""
    makers = {
        "part": part,
        "lineitem": lineitem,
        "documents": documents,
        "embeddings": embeddings,
        "events": events,
    }
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, kwargs in tables.items():
        t = makers[name](seed, **kwargs)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


def content_hash(out_dir: str, names) -> str:
    """sha256 over the named parquet files' bytes, in name order."""
    h = hashlib.sha256()
    for name in sorted(names):
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()[:16]
