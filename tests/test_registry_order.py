"""Pin the driver-budget iteration order (VERDICT r10 #5).

The per-round correctness driver iterates ``queries()`` in insertion
order and stops after a fixed budget (historically 50 rows). The
registry's ``_driver_order`` therefore IS the verification schedule:
never-green names first (registration order), then green names
oldest-stamp-first so spare budget refreshes the stalest rows. The
stamps are derived at import from the committed CORRECTNESS_r*.json
records; these tests reconstruct the expected composition from them
so a rotation regression is caught in-session, not one round later.
"""

from __future__ import annotations

import json

from sales_agent_graphdb_spark.registry import (
    _REGISTRY,
    _VERIFIED_ROUND,
    _driver_order,
    _green_stamps,
    all_queries,
)

DRIVER_BUDGET = 50  # slots the per-round driver records (CORRECTNESS_r01..r13)


def test_every_registered_name_is_scheduled_exactly_once():
    names = list(all_queries())
    assert sorted(names) == sorted(_REGISTRY)
    assert len(names) == len(set(names))


def test_driver_order_composition():
    """The full iteration order is never-green (registration order) →
    green oldest-stamp-first, with ties broken by name (determinism
    across processes is load-bearing: the driver and this repo's tools
    must compute the SAME first-50 set)."""
    names = list(_REGISTRY)
    never = [n for n in names if n not in _VERIFIED_ROUND]
    green = sorted(
        (n for n in names if n in _VERIFIED_ROUND),
        key=lambda n: (_VERIFIED_ROUND[n], n),
    )
    assert _driver_order(names) == [*never, *green]


def test_green_stamps_take_latest_green_and_drop_latest_red(tmp_path):
    """A name is stamped with its latest fully green round; a name whose
    latest record is red loses its stamp (ADVICE r07 #1), and rounds
    sort numerically, not lexically."""
    ok = {"rows_match": True, "schema_match": True, "hash_match": True}
    rows = {
        2: {"a": ok, "b": ok, "c": {**ok, "hash_match": None}},
        10: {"a": ok, "b": {**ok, "hash_match": False}},
        9: {"c": {**ok, "err": "boom"}, "d": ok},
    }
    for rnd, recs in rows.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(recs))
    assert _green_stamps(tmp_path) == {"a": 10, "d": 9}


def test_first_budget_slots_land_on_oldest_stamps():
    """The spare budget (slots not consumed by never-green names) must
    land on the globally oldest stamps: every green name INSIDE the
    first DRIVER_BUDGET slots has a stamp <= every green name outside
    them. This is the property the stale-stamp rotation relies on
    (VERDICT r06 #3 through r10 #1)."""
    order = _driver_order(list(_REGISTRY))
    window, tail = order[:DRIVER_BUDGET], order[DRIVER_BUDGET:]
    in_stamps = [_VERIFIED_ROUND[n] for n in window if n in _VERIFIED_ROUND]
    out_stamps = [_VERIFIED_ROUND[n] for n in tail if n in _VERIFIED_ROUND]
    if in_stamps and out_stamps:
        assert max(in_stamps) <= min(out_stamps)
    # And the tail is itself monotone in stamp order.
    verified_seq = [_VERIFIED_ROUND[n] for n in order if n in _VERIFIED_ROUND]
    assert verified_seq == sorted(verified_seq)


def test_stamps_only_name_registered_queries():
    """A stamp for an unregistered (renamed/deleted) query means the
    rotation math double-counts a slot that can never be refreshed."""
    all_queries()
    stale = set(_VERIFIED_ROUND) - set(_REGISTRY)
    assert not stale, f"stamps for unregistered queries: {sorted(stale)}"
