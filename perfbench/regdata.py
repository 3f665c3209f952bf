"""Seeded inputs for ``registry_headline``: the six tables the headline
queries read (``customer``, ``orders``, ``lineitem``, ``events``,
``documents``, ``embeddings``), with the schemas and value domains of the
repo's TPC-H-ish test tables.

The content is drawn from a fixed internal seed, so the query outputs can
be checked against digests pinned when the benchmark landed. ``--seed``
decides the physical layout only: the row order and how each table splits
into parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240502
#: The benchmark's size, in TPC-H scale-factor units (lineitem ~60k rows).
SF = 0.01
FILES_PER_TABLE = 2
TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
DOC_WORDS = (
    "a the row scan slow fast table value part hash key agg batch window spark "
    "order data column join small line customer query big filter merge vector "
    "stream group sort"
).split()
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch micros
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_ord = max(50, int(150_000 * sf)), max(500, int(1_500_000 * sf))
    n_ev, n_doc = max(500, int(1_000_000 * sf)), max(50, int(50_000 * sf))
    n_emb, n_users = max(50, int(20_000 * sf)), max(10, int(15_000 * sf))
    out: dict[str, pa.Table] = {}

    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })

    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })

    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(10, int(200_000 * sf)), n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(5, int(10_000 * sf)), n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, n + 1) for n in lines]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * DAY_US,
                               pa.timestamp("us")),
    })

    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.02, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })

    texts = []
    for _ in range(n_doc):
        words = [DOC_WORDS[i] for i in rng.integers(0, len(DOC_WORDS), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True) * np.float32(4)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def write(out_dir: str, seed: int, sf: float = SF) -> dict[str, int]:
    """Write every table as ``<out_dir>/<table>.parquet/part-*.parquet``,
    rows permuted by ``seed``. Returns the rows per table."""
    rng = np.random.default_rng(seed)
    rows = {}
    for name, table in tables(sf).items():
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        path = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(path)
        cut = np.linspace(0, table.num_rows, FILES_PER_TABLE + 1).astype(int)
        for i in range(FILES_PER_TABLE):
            pq.write_table(table.slice(cut[i], cut[i + 1] - cut[i]), os.path.join(path, f"part-{i:05d}.parquet"))
        rows[name] = table.num_rows
    return rows
