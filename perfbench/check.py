"""Output checks owned by the benchmark.

``compare`` is an order-insensitive multiset comparison of a query's rows
against the rows of its DuckDB oracle SQL, run over the same files. It is
kept apart from the program's own ``parity.compare`` so that a change to
the program cannot weaken the check.

``sim_pca_project`` has no oracle and is checked against a property
computed with numpy.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

PCA_K = 4
PCA_RTOL = 1e-3


def canon_cell(v):
    """A hashable, engine-neutral form of one cell."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if isinstance(v, decimal.Decimal):
        return v.normalize() if v.is_finite() else str(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon_cell(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon_cell(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def canon_rows(cols: list[str], rows) -> Counter:
    """Rows as a multiset of tuples with columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon_cell(r[i]) for i in order) for r in rows)


def digest(cols: list[str], rows) -> str:
    """Order-insensitive fingerprint of a result, to compare passes."""
    c = canon_rows(cols, rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for line in sorted(repr(item) for item in c.items()):
        h.update(line.encode())
    return h.hexdigest()


def compare(cols: list[str], rows, ref_cols: list[str], ref_rows) -> str | None:
    """None when the two results are equal as multisets, else the reason."""
    if sorted(cols) != sorted(ref_cols):
        return f"columns differ: {sorted(cols)} vs {sorted(ref_cols)}"
    got, want = canon_rows(cols, rows), canon_rows(ref_cols, ref_rows)
    if got == want:
        return None
    extra, missing = got - want, want - got
    return (
        f"{sum(extra.values())} unexpected and {sum(missing.values())} missing rows "
        f"(of {sum(want.values())}); e.g. unexpected {list(extra)[:2]}, missing {list(missing)[:2]}"
    )


def duckdb_connection(data_dir: str, tables, tmp_dir: str):
    import duckdb

    con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB", "temp_directory": tmp_dir})
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.execute(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def embeddings(data_dir: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    ids = np.asarray(t["vec_id"].to_pylist(), dtype=np.int64)
    return ids, np.asarray(t["embedding"].to_pylist(), dtype=np.float64)


def check_pca(cols: list[str], rows, data_dir: str) -> str | None:
    """Projected variances equal the covariance's top eigenvalues.

    The query projects every embedding on the top principal components,
    so the variance of projection j is the j-th largest eigenvalue of
    the embeddings' covariance, whatever the sign of the component.
    """
    pcs = sorted(c for c in cols if c.startswith("pc"))
    if len(pcs) != PCA_K:
        return f"expected {PCA_K} pc columns, got {cols}"
    ids, x = embeddings(data_dir)
    if len(rows) != len(ids):
        return f"expected {len(ids)} rows, got {len(rows)}"
    idx = [cols.index(c) for c in pcs]
    proj = np.asarray([[r[i] for i in idx] for r in rows], dtype=np.float64)
    want = np.sort(np.linalg.eigvalsh(np.cov(x, rowvar=False)))[::-1][:PCA_K]
    got = np.var(proj, axis=0, ddof=1)
    if not np.allclose(got, want, rtol=PCA_RTOL, atol=1e-9):
        return f"projected variances {got.tolist()} != top eigenvalues {want.tolist()}"
    return None
