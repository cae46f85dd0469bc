"""Seeded generation of the benchmark's input tables.

Writes the ten tables the engine reads (``region`` ... ``embeddings``)
as one parquet file each, with the column names and Arrow types of the
engine's reference test data, so every registered query and its DuckDB
oracle run on them unchanged.

Table *content* comes from a fixed RNG and depends only on the size
parameters; the run's ``--seed`` permutes the row order of every table.
Two runs with different seeds therefore do the same work on the same
rows, read in another order, and two runs with the same seed read
byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tools.build_scale_replica import FACT_ID_COLS, SHIFT

#: Content seed: fixed, so the table contents never depend on ``--seed``.
CONTENT_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "small", "hot", "cold", "green", "big", "tiny"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64


@dataclass(frozen=True)
class Size:
    """Row counts of one generated input set (before replication)."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    events: int
    users: int
    documents: int
    embeddings: int
    copies: int = 1  # fact-table replication by the id-shift rule


def _ts_us(days_from_epoch: np.ndarray) -> pa.Array:
    return pa.array(
        (days_from_epoch * 86_400_000_000).astype("int64"), type=pa.timestamp("us")
    )


def _days(date: str) -> int:
    return (dt.date.fromisoformat(date) - dt.date(1970, 1, 1)).days


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Bag-of-words documents of 10-100 words; 5% are near-duplicates of
    an earlier document (its text plus " dup") and 0.2% exact copies, so
    the dedup operators have real duplicate groups to find."""
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(WORDS), size=int(lens.sum()))
    out: list[str] = []
    pos = 0
    for ln in lens:
        out.append(" ".join(WORDS[w] for w in words[pos : pos + ln]))
        pos += ln
    kind = rng.random(n)
    src = rng.integers(0, max(n, 1), size=n)
    for i in range(1, n):
        j = int(src[i]) % i
        if kind[i] < 0.05:
            out[i] = out[j] + " dup"
        elif kind[i] < 0.052:
            out[i] = out[j]
    return out


def base_tables(size: Size) -> dict[str, pa.Table]:
    """The unreplicated tables, in generation order (seed-independent)."""
    rng = np.random.default_rng(CONTENT_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = size.customers
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
        }
    )
    n = size.suppliers
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        }
    )
    n = size.parts
    adj, noun = rng.integers(0, 8, n), rng.integers(0, 8, n)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n)],
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1),
        }
    )
    n = size.orders
    odate = rng.integers(_days("1995-01-01"), _days("2001-08-01") + 1, n)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, size.customers, n), pa.int64()),
            "o_orderstatus": [ORDER_STATUS[i] for i in rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": _ts_us(odate),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
        }
    )
    lines = rng.integers(1, 8, n)
    m = int(lines.sum())
    okey = np.repeat(np.arange(n), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, m).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, size.parts, m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, size.suppliers, m), pa.int64()),
            "l_linenumber": pa.array(np.arange(m) - starts + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, m), 2),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, m)],
            "l_shipdate": _ts_us(odate[okey] + rng.integers(1, 122, m)),
        }
    )
    n = size.events
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + _days("2024-01-01") * 86_400_000_000
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, size.users, n), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    n = size.documents
    texts = _texts(rng, n)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    n = size.embeddings
    vec = rng.standard_normal((n, EMBED_DIM)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vec.ravel(), pa.float32()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )
    return t


def replicate(table: pa.Table, id_cols: list[str], copies: int) -> pa.Table:
    """``copies`` concatenated copies, id columns shifted by
    ``copy * SHIFT`` — the rule of ``tools/build_scale_replica.py``."""
    parts = []
    for c in range(copies):
        tc = table
        for col in id_cols:
            i = tc.schema.get_field_index(col)
            shifted = pc.add(tc.column(col), pa.scalar(c * SHIFT, pa.int64()))
            tc = tc.set_column(i, tc.schema.field(i), shifted)
        parts.append(tc)
    return pa.concat_tables(parts)


def generate(size: Size, seed: int, out_dir: str) -> dict[str, dict[str, int]]:
    """Write every table to ``out_dir/<name>.parquet``; returns
    ``{name: {"rows": .., "bytes": ..}}``."""
    os.makedirs(out_dir, exist_ok=True)
    perm_rng = np.random.default_rng(seed)
    info = {}
    for name, table in base_tables(size).items():
        if size.copies > 1 and name in FACT_ID_COLS:
            table = replicate(table, FACT_ID_COLS[name], size.copies)
        table = table.take(perm_rng.permutation(table.num_rows))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        info[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return info


def write_doc_stream(data_dir: str, out_dir: str, files: int) -> None:
    """Stage ``documents`` (doc_id, text) as ``files`` parquet files, one
    per ascending doc_id range, with ascending mtimes at least 1 s apart
    in the past: the file-source replay order that the
    ``stream_dedup_ingest`` oracle relies on (the first micro-batch to
    hold a canonical text holds its smallest doc_id)."""
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["doc_id", "text"])
    docs = docs.sort_by("doc_id")
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, docs.num_rows, files + 1).astype(int)
    now = time.time()
    for i in range(files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(docs.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        stamp = now - (files - i) * 1.0
        os.utime(path, (stamp, stamp))
