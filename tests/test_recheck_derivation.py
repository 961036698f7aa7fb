"""The recheck tier derived from git (whisky_wine_etl_spark/recheck.py).

On this repository: every registered query has a registration site the
fingerprint can find, and queries() puts exactly the derived tier at the
head of the verified block. On a synthetic git repository: a semantic
edit to a helper in another module flags every query whose imports reach
it, by name, through a module alias, from a staged-registration table or
from a nested registration, while docstring-only edits and edits to an
unrelated function of the same module flag nothing.
"""

from __future__ import annotations

import importlib.util
import json
import pathlib
import subprocess
import textwrap

import pytest

from whisky_wine_etl_spark import plans, recheck

REPO = str(pathlib.Path(__file__).resolve().parents[1])


def test_every_query_has_a_static_registration_site():
    plans.load_all()
    fps = recheck._tree_of(recheck._working_tree(REPO)).fingerprints(plans.QUERIES)
    assert [n for n, fp in fps.items() if fp is None] == []


def test_changed_since_green_names_are_in_recheck_tier():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry_tier__", str(pathlib.Path(REPO) / "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    tier = recheck.tier(REPO, plans.QUERIES)
    green = recheck.green_rounds(REPO)
    assert tier <= set(plans.QUERIES) and tier <= set(green)
    names = list(entry.queries())
    n_unver = sum(1 for n in names if n not in green)
    assert set(names[n_unver : n_unver + len(tier)]) == tier


HELPER = '''
"""Helpers."""

SCALE = 3


def f(x):
    """Scale x."""
    return x * SCALE


def g(x):
    return x + 1
'''

PLANS = '''
from whisky_wine_etl_spark.operators.helper import f
from whisky_wine_etl_spark.plans.registry import query


@query("q_dep", "SELECT 1")
def q_dep(spark, sf_dir):
    return f(1)


@query("q_other", "SELECT 2")
def q_other(spark, sf_dir):
    return 2


def q_alias(spark, sf_dir):
    from whisky_wine_etl_spark.operators import helper as hh

    return hh.f(2)


STAGED = {"q_alias": (q_alias, "SELECT 3")}


def _register():
    from whisky_wine_etl_spark.operators.helper import f as scale

    @query("q_nested", "SELECT 4")
    def q_nested(spark, sf_dir):
        return scale(4)
'''

REGISTRY = '''
QUERIES = {}


def query(name, oracle=None):
    def deco(fn):
        QUERIES[name] = fn
        return fn

    return deco
'''

NAMES = ("q_dep", "q_other", "q_alias", "q_nested")


@pytest.fixture
def synthetic_repo(tmp_path):
    """A committed package plus CORRECTNESS_r01.json with every query
    green; returns a function that rewrites the helper module in the
    working tree and returns the derived tier."""
    pkg = tmp_path / recheck.PKG
    files = {
        "__init__.py": "",
        "operators/__init__.py": "",
        "operators/helper.py": HELPER,
        "plans/__init__.py": "",
        "plans/registry.py": REGISTRY,
        "plans/mod.py": PLANS,
    }
    for rel, src in files.items():
        (pkg / rel).parent.mkdir(parents=True, exist_ok=True)
        (pkg / rel).write_text(textwrap.dedent(src))
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: {"hash_match": True} for n in NAMES})
    )
    git = ["git", "-c", "user.name=t", "-c", "user.email=t@t", "-C", str(tmp_path)]
    subprocess.run([*git, "init", "-q"], check=True)
    subprocess.run([*git, "add", "-A"], check=True)
    subprocess.run([*git, "commit", "-qm", "r1"], check=True)

    def tier_after(old: str, new: str) -> frozenset[str]:
        helper = pkg / "operators" / "helper.py"
        src = helper.read_text()
        assert old in src
        helper.write_text(src.replace(old, new))
        return recheck.tier(str(tmp_path), NAMES)

    return tier_after


def test_donor_change_flags_dependent_mechanically(synthetic_repo):
    # SCALE is reached through f, so the closure is followed transitively
    assert synthetic_repo("SCALE = 3", "SCALE = 5") == {"q_dep", "q_alias", "q_nested"}


def test_docstring_only_edit_flags_nothing(synthetic_repo):
    assert synthetic_repo('"""Scale x."""', '"""Multiply x by SCALE."""') == frozenset()


def test_unrelated_edit_in_donor_module_flags_nothing(synthetic_repo):
    assert synthetic_repo("return x + 1", "return x + 2") == frozenset()
