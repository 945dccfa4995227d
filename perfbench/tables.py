"""Registry input tables for the driver_loops workload.

Writes the four tables the chosen queries read (documents, embeddings,
events, orders) with the schema and distributions of the sf0.1 test
tables: the vocabulary, key ranges and enums are those of sf0.1, and
the planted duplicate documents keep the dedup, clustering and graph
queries non-vacuous. The data is fixed (numpy PCG64, seed 4242) so the
committed oracle hashes in ``oracle_hashes.json`` stay valid; ``scale``
1.0 is sf0.1, smaller scales give the warm-up tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window".split()
)


def _ts(arr_us: np.ndarray) -> pa.Array:
    return pa.array(arr_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def write_tables(out_dir: str, scale: float = 1.0) -> None:
    rng = np.random.default_rng(4242)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, table: pa.Table) -> None:
        # 16 row groups: enough scan parallelism that the loader never
        # re-chunks the file into its own scratch cache
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, -(-table.num_rows // 16)))

    n_cust, n_orders = int(15_000 * scale), int(150_000 * scale)
    n_events, n_users = int(100_000 * scale), int(1_500 * scale)
    n_docs, n_vecs = int(5_000 * scale), int(2_000 * scale)

    d0 = np.datetime64("1995-01-01").astype("datetime64[us]").astype(np.int64)
    d1 = np.datetime64("2001-08-01").astype("datetime64[us]").astype(np.int64)
    odate = d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, n_orders) * DAY_US
    write("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": rng.integers(100_000, 50_000_001, n_orders) / 100.0,
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_orders)],
    }))

    e0 = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
    e1 = np.datetime64("2024-01-31").astype("datetime64[us]").astype(np.int64)
    write("events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(np.sort(rng.integers(e0, e1, n_events))),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }))

    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
             for _ in range(n_docs)]
    # planted exact duplicates, single-token-edit near duplicates and
    # multi-copy clusters (sf0.1 carries all three)
    for i in range(max(2, n_docs // 625)):
        texts[n_docs - 1 - i] = texts[i]
    for i in range(max(2, n_docs // 500)):
        base = texts[n_docs // 25 + i].split(" ")
        base[len(base) // 2] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[n_docs - n_docs // 25 - i] = " ".join(base)
    for c in range(10):
        src = n_docs // 10 + 7 * c
        for j in range(1, 3 if c < 8 else 4):
            texts[n_docs // 2 - 11 * c - j] = texts[src]
    write("documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "zh", "es", "fr", "de"])[
            rng.choice(5, n_docs, p=[0.41, 0.15, 0.15, 0.15, 0.14])],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    x = rng.standard_normal((n_vecs, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    write("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    }))
