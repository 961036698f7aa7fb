"""Input generator: a seeded, key-shifted K-fold copy of the base tables.

The base tables in ``data/base`` are the engine's sf0.01 test data (the
deterministic seed-42 synthetic star schema plus ``events``,
``documents`` and ``embeddings``). For a workload scale K the generator
writes K disjoint copies of each fact-side table, with every key of copy
i offset by ``i * (max key + 1)`` of the table that owns the key, so a
fact-fact join of copy i meets only copy i and joins, groups and
candidate sets grow K-fold instead of collapsing onto the same keys.
The shifts follow ``tools/scale_probe.py`` with one difference:
``events.user_id`` and ``orders.o_custkey`` shift with the customer key
domain, so every copy's events and orders still find their customers.
Dimension tables (region, nation, supplier) are copied unscaled.

The seed permutes the rows of every copy of every scaled table, so two
seeds give the same logical data in a different physical order: a query
whose result depends on input order shows up as a seed-dependent
mismatch. The same seed gives byte-identical files.

Row groups: each copy is one row group, so a ×K table has K row groups,
and Spark can split the scan of a large table into several tasks.

Only pyarrow and numpy are used, never the program's Spark session.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "base")

UNSCALED = ("region", "nation", "supplier")

# table -> [(column, owning table, owning key column)]
KEYS = {
    "lineitem": [("l_orderkey", "orders", "o_orderkey"), ("l_partkey", "part", "p_partkey")],
    "orders": [("o_orderkey", "orders", "o_orderkey"), ("o_custkey", "customer", "c_custkey")],
    "part": [("p_partkey", "part", "p_partkey")],
    "customer": [("c_custkey", "customer", "c_custkey")],
    "documents": [("doc_id", "documents", "doc_id")],
    "events": [("event_id", "events", "event_id"), ("user_id", "customer", "c_custkey")],
    "embeddings": [("vec_id", "embeddings", "vec_id")],
}
TABLES = UNSCALED + tuple(KEYS)


def _shift(col: pa.ChunkedArray, by: int) -> pa.ChunkedArray:
    return pc.add(col, pa.scalar(by, col.type)) if by else col


def build(
    out_dir: str, k: int, seed: int, tables=TABLES, base_dir: str = BASE_DIR
) -> dict[str, int]:
    """Write the ×k copies of ``tables`` for ``seed`` to ``out_dir``;
    return rows per table. A table's copies, and so its bytes, do not
    depend on which other tables are written."""
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)

    def base(t, columns=None):
        return pq.read_table(os.path.join(base_dir, f"{t}.parquet"), columns=columns)

    span = {
        (t, c): pc.max(base(t, [c])[c]).as_py() + 1
        for cols in KEYS.values()
        for _, t, c in cols
    }
    rows = {}
    for n, t in enumerate(TABLES):
        if t not in tables:
            continue
        src = base(t)
        path = os.path.join(out_dir, f"{t}.parquet")
        if t in UNSCALED:
            pq.write_table(src, path, row_group_size=src.num_rows)
            rows[t] = src.num_rows
            continue
        rng = np.random.default_rng([seed, n])
        # one copy per row group, written as it is made, so a large k
        # never holds the whole table in memory
        with pq.ParquetWriter(path, src.schema) as writer:
            for i in range(k):
                c = src.take(pa.array(rng.permutation(src.num_rows)))
                for col, owner, key in KEYS[t]:
                    c = c.set_column(
                        c.schema.get_field_index(col), col, _shift(c[col], i * span[owner, key])
                    )
                if t == "customer" and i > 0:
                    # c_name is key-derived ('Customer#%09d'); keeping the
                    # original name would make every name-keyed block k-fold hot
                    names = pa.array([f"Customer#{v:09d}" for v in c["c_custkey"].to_pylist()])
                    c = c.set_column(c.schema.get_field_index("c_name"), "c_name", names)
                writer.write_table(c.cast(src.schema), row_group_size=src.num_rows)
        rows[t] = k * src.num_rows
    return rows
