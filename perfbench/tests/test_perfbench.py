"""Fast tests of the benchmark's own parts; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import statistics

import duckdb
import numpy as np
import pytest

from perfbench import check, datagen, run, stats
from perfbench.workloads import Workload

COLS = ["k", "v"]
ROWS = [(1, 0.5), (2, None), (2, None), (3, 1.25)]


def test_compare_accepts_reordered_columns_and_rows():
    ref = [(v, k) for k, v in reversed(ROWS)]
    assert check.compare(COLS, ROWS, ["v", "k"], ref) is None


@pytest.mark.parametrize(
    "rows",
    [
        [(1, 0.5), (2, None), (2, None), (3, 1.26)],  # changed cell
        [(1, 0.5), (2, None), (3, 1.25)],  # missing duplicate row
        ROWS + [(4, 0.0)],  # extra row
    ],
    ids=["changed-cell", "missing-row", "extra-row"],
)
def test_compare_flags_corrupted_results(rows):
    assert check.compare(COLS, rows, COLS, ROWS) is not None


def test_compare_flags_renamed_column():
    assert check.compare(["k", "w"], ROWS, COLS, ROWS) is not None


def test_digest_is_order_insensitive_but_not_value_blind():
    assert check.digest(COLS, ROWS) == check.digest(COLS, list(reversed(ROWS)))
    assert check.digest(COLS, ROWS) != check.digest(COLS, ROWS[:-1] + [(3, 1.5)])


def test_percentile_known_values():
    xs = list(range(1, 11))
    assert stats.percentile(xs, 0) == 1
    assert stats.percentile(xs, 100) == 10
    assert stats.median(xs) == 5.5
    assert stats.percentile(xs, 90) == pytest.approx(9.1)
    assert stats.percentile([7.0], 90) == 7.0
    sample = [0.3, 1.7, 0.2, 0.9, 4.0, 0.4, 0.8]
    assert stats.percentile(sample, 90) == pytest.approx(
        statistics.quantiles(sample, n=10, method="inclusive")[8]
    )
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.fixture(scope="module")
def scaled(tmp_path_factory):
    base = tmp_path_factory.mktemp("data")
    return {
        k: (str(base / f"x{k}"), datagen.build(str(base / f"x{k}"), k, seed=3)) for k in (1, 10)
    }


def _count(data_dir: str, sql: str) -> int:
    con = check.duckdb_connection(data_dir, datagen.TABLES, data_dir)
    try:
        return con.execute(sql).fetchone()[0]
    finally:
        con.close()


def test_x10_join_is_exactly_ten_times_x1(scaled):
    sql = "SELECT COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    n1, n10 = (_count(scaled[k][0], sql) for k in (1, 10))
    assert n1 > 0
    assert n10 == 10 * n1
    assert scaled[10][1]["lineitem"] == 10 * scaled[1][1]["lineitem"]
    assert scaled[10][1]["nation"] == scaled[1][1]["nation"]


def test_x10_copies_keep_customer_joins(scaled):
    sql = "SELECT COUNT(*) FROM orders JOIN customer ON o_custkey = c_custkey"
    assert _count(scaled[10][0], sql) == 10 * _count(scaled[1][0], sql)


def _file_digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_same_seed_same_bytes_other_seed_same_rows(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    datagen.build(a, 2, seed=5)
    datagen.build(b, 2, seed=5)
    datagen.build(c, 2, seed=6)
    f = "lineitem.parquet"
    assert _file_digest(os.path.join(a, f)) == _file_digest(os.path.join(b, f))
    assert _file_digest(os.path.join(a, f)) != _file_digest(os.path.join(c, f))
    con = duckdb.connect()
    ra = con.execute(f"SELECT * FROM read_parquet('{a}/{f}')").fetchall()
    rc = con.execute(f"SELECT * FROM read_parquet('{c}/{f}')").fetchall()
    assert ra != rc
    assert sorted(ra) == sorted(rc)


def _pca_rows(data_dir: str):
    ids, x = check.embeddings(data_dir)
    w, v = np.linalg.eigh(np.cov(x, rowvar=False))
    comps = v[:, np.argsort(w)[::-1][: check.PCA_K]]
    proj = np.round((x - x.mean(axis=0)) @ comps, 4)
    cols = ["vec_id"] + [f"pc{j + 1}" for j in range(check.PCA_K)]
    return cols, [(int(i), *map(float, p)) for i, p in zip(ids, proj)]


def test_pca_property_accepts_numpy_projection_and_flags_corruption(scaled):
    data_dir = scaled[1][0]
    cols, rows = _pca_rows(data_dir)
    assert check.check_pca(cols, rows, data_dir) is None
    flipped = [(r[0], -r[1], *r[2:]) for r in rows]  # sign is free
    assert check.check_pca(cols, flipped, data_dir) is None
    scaled_pc = [(r[0], 2 * r[1], *r[2:]) for r in rows]
    assert check.check_pca(cols, scaled_pc, data_dir) is not None
    assert check.check_pca(cols, rows[:-1], data_dir) is not None


def _check_one(tmp_path, errors, rows):
    """The run's verdict on a one-query workload whose oracle counts nations."""
    data_dir = str(tmp_path / "data")
    rows_per_table = datagen.build(data_dir, 1, seed=1, tables=("nation",))
    w = Workload("t", 1, ("q",), "why", ("nation",))
    result = (["n"], rows)
    return run._check(
        w, {"q": "SELECT COUNT(*) AS n FROM nation"}, data_dir, str(tmp_path),
        errors, {"q": {check.digest(*result)}}, {"q": result}, {}, rows_per_table,
    )


def test_run_is_correct_only_without_errors_and_with_oracle_rows(tmp_path):
    assert _check_one(tmp_path, {}, [(25,)]) == []
    assert _check_one(tmp_path, {}, [(24,)]) != []
    # raised in one pass (a warm-up one, say) and gave the right rows in the others
    problems = _check_one(tmp_path, {"q": "RuntimeError: boom"}, [(25,)])
    assert problems and "boom" in problems[0]
