"""Registry contracts (VERDICT r4 items 4 and 5).

- The rows-only carve-out list is authoritative IN the registry module
  (registry.ROWS_ONLY_CARVE_OUTS) and must equal the computed
  set(QUERIES) - set(ORACLES) — no drift between documentation and
  code.
- The driver verifies at most ~50 queries per round, oldest-unverified
  first. __spark_entry__.queries() must therefore yield every
  not-yet-verified name before any already-verified one, preserving
  registration order within the unverified block (so the backlog
  drains strictly oldest-first across rounds).
"""

from __future__ import annotations

import importlib.util
import os

from whisky_wine_etl_spark import plans, recheck
from whisky_wine_etl_spark.plans.registry import ROWS_ONLY_CARVE_OUTS

plans.load_all()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_rows_only_list_matches_computed_set():
    computed = set(plans.QUERIES) - set(plans.ORACLES)
    assert computed == set(ROWS_ONLY_CARVE_OUTS), (
        f"carve-out drift: documented-only="
        f"{sorted(set(ROWS_ONLY_CARVE_OUTS) - computed)} "
        f"computed-only={sorted(computed - set(ROWS_ONLY_CARVE_OUTS))}"
    )


def test_every_query_has_oracle_or_carve_out():
    for name in plans.QUERIES:
        assert name in plans.ORACLES or name in ROWS_ONLY_CARVE_OUTS


def test_driver_slots_are_oldest_unverified_first():
    """Dry-run the driver's view: the first 50 names queries() yields
    must be exactly the 50 oldest unverified names (registration
    order), so each round's verification budget lands on the oldest
    backlog, never on re-verification or on fresh registrations that
    jumped the queue."""
    mod = _entry_module()
    green = set(recheck.green_rounds(REPO))
    ordered = list(mod.queries())
    unverified_in_reg_order = [n for n in plans.QUERIES if n not in green]
    if not unverified_in_reg_order:
        return  # backlog fully drained — nothing to order
    head = ordered[: min(50, len(unverified_in_reg_order))]
    assert head == unverified_in_reg_order[: len(head)], (
        "driver slots diverge from oldest-unverified registration order"
    )
    # and no verified name may appear before the last unverified one
    n_unv = len(unverified_in_reg_order)
    assert all(n not in green for n in ordered[:n_unv])
