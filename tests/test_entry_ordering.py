"""The driver-facing queries() ordering contract (__spark_entry__.py):

- the unverified block comes first and its ORDER is exactly the
  pre-recheck ordering (wine_* first, then registration order) — the
  recheck tier must never perturb the slate;
- the recheck tier (changed-since-green names) immediately follows,
  and every name in it exists and is verified-green;
- without git the recheck tier is empty and queries() keeps the
  verified block oldest-green-round first.
"""

from __future__ import annotations

import importlib.util
import pathlib

from whisky_wine_etl_spark import recheck

REPO = str(pathlib.Path(__file__).resolve().parents[1])


def _entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry_under_test__", str(pathlib.Path(REPO) / "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_unverified_block_order_is_slate_stable():
    mod = _entry()
    green = set(recheck.green_rounds(REPO))
    names = list(mod.queries())
    n_unver = sum(1 for n in names if n not in green)
    front = names[:n_unver]
    assert all(n not in green for n in front)
    baseline = sorted(
        mod.plans.QUERIES, key=lambda n: (n in green, not n.startswith("wine_"))
    )
    assert front == baseline[:n_unver], (
        "recheck tier perturbed the unverified front block"
    )


def test_recheck_names_are_live_verified_oracled():
    """Every derived recheck name is a registered, verified-green query,
    the tier occupies the head of the verified block, and each tier name
    with a DuckDB twin hands that twin to the driver through oracle_sql()
    (names without one get the driver's rows-only check)."""
    mod = _entry()
    green = set(recheck.green_rounds(REPO))
    tier = mod._recheck_tier()
    stale = tier - set(mod.plans.QUERIES)
    assert not stale, f"stale recheck names: {sorted(stale)}"
    unverified = tier - green
    assert not unverified, (
        f"unverified names {sorted(unverified)} belong in the slate's "
        "front block, not the recheck tier"
    )
    twins = mod.oracle_sql()
    for n in tier & set(mod.plans.ORACLES):
        assert twins[n] == mod.plans.ORACLES[n]
    names = list(mod.queries())
    n_unver = sum(1 for n in names if n not in green)
    assert set(names[n_unver : n_unver + len(tier)]) == tier


def test_queries_without_git_keep_the_untiered_order(monkeypatch, tmp_path):
    mod = _entry()  # a fresh module, so a fresh tier cache
    monkeypatch.setenv("PATH", str(tmp_path))  # no git executable
    assert mod._recheck_tier() == frozenset()
    rounds = recheck.green_rounds(REPO)
    untiered = sorted(
        mod.plans.QUERIES,
        key=lambda n: (n in rounds, rounds.get(n, 0), not n.startswith("wine_")),
    )
    assert list(mod.queries()) == untiered
