"""The driver's correctness harness grades the FIRST 50 queries()
entries. These tests CODIFY the rotation policy (VERDICT r10 ask #2)
instead of pinning one round's hand-built list:

1. every registered key with no driver row in any committed
   CORRECTNESS_r*.json must be in the window (first driver rows outrank
   everything);
2. every key in registry.PLAN_CHANGED_KEYS (query function touched
   after its last driver grade) must be in the window;
3. the remaining slots drain strictly oldest-first over the
   oracle-backed registry: no oracle-backed key OUTSIDE the window may
   be strictly staler than a non-priority key INSIDE it.

registry.driver_priority() derives the window from the committed
CORRECTNESS history, so a new CORRECTNESS file rotates it with no hand
edit. These tests recompute staleness from the same files on their
own, so a derivation that drifts from the policy fails here. Keys
rotated out keep local oracle-parity coverage via test_oracle_parity.py
and scripts/verify_all.py.
"""

from __future__ import annotations

import glob
import json
import os
import re

import pytest

from bristle_spark import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _last_graded() -> dict[str, int]:
    """key -> last round with ANY driver row, from committed history."""
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for key in json.load(fh):
                last[key] = max(last.get(key, 0), rnd)
    return last


@pytest.fixture(scope="module")
def specs():
    return registry.all_specs()


@pytest.fixture(scope="module")
def last_graded():
    graded = _last_graded()
    assert graded, "no committed CORRECTNESS history found"
    return graded


def test_priority_list_is_exactly_fifty():
    assert len(registry.driver_priority()) == 50
    assert len(set(registry.driver_priority())) == 50


def test_first_fifty_is_exactly_the_priority_list(specs):
    assert list(specs)[:50] == list(registry.driver_priority())


def test_priority_keys_all_registered(specs):
    assert [k for k in registry.driver_priority() if k not in specs] == []


def test_never_graded_keys_lead_the_window(specs, last_graded):
    """Policy rule 1: an ORACLE-BACKED key without a single hard driver
    row is the highest-value slot in the registry — all such keys must
    be in the window, ahead of every re-confirmation. (Rows-only keys
    are exempt here exactly as in the drain rule: the window is
    reserved for hash-gradable slots, so a new rows-only key enters
    only as the deliberate choice test_every_window_key_is_oracle_backed
    guards.)"""
    never = [
        k for k, spec in specs.items()
        if k not in last_graded and spec.oracle is not None
    ]
    window = set(registry.driver_priority())
    missing = [k for k in never if k not in window]
    assert missing == [], f"never-driver-graded keys outside the window: {missing}"
    # and they sit at the very front: the driver grades in order, so an
    # early abort still covers the highest-value keys
    n = len(never)
    assert set(registry.driver_priority()[:n]) == set(never)


def test_plan_changed_keys_in_window(specs, last_graded):
    """Policy rule 2: a grade that predates the key's current plan is
    not evidence about the current plan — re-grade next window."""
    for key in registry.PLAN_CHANGED_KEYS:
        assert key in specs, f"PLAN_CHANGED_KEYS names unknown key {key}"
        assert key in registry.driver_priority(), (
            f"{key} changed after its last driver grade but is not in "
            f"the next window"
        )


def test_window_drains_oldest_first(specs, last_graded):
    """Policy rule 3: among oracle-backed keys with a driver row, no key
    OUTSIDE the window may be strictly staler than a non-priority key
    INSIDE it. (Rows-only keys are exempt: the window is reserved for
    hash-gradable slots — see test_every_window_key_is_oracle_backed.)"""
    window = set(registry.driver_priority())
    priority = set(registry.PLAN_CHANGED_KEYS)
    inside_rounds = [
        last_graded[k]
        for k in window
        if k in last_graded and k not in priority
    ]
    outside_rounds = {
        k: last_graded[k]
        for k, spec in specs.items()
        if k not in window and spec.oracle is not None and k in last_graded
    }
    if not inside_rounds or not outside_rounds:
        return
    newest_inside = max(inside_rounds)
    stalest_outside = min(outside_rounds.values())
    assert newest_inside <= stalest_outside, (
        f"window holds a key last graded r{newest_inside} while "
        f"{[k for k, r in outside_rounds.items() if r == stalest_outside][:5]} "
        f"(last graded r{stalest_outside}) wait outside — drain oldest-first"
    )


# Rows-only keys deliberately placed in the current window (VERDICT
# r13 ask #4): each rides ONE window to get its no_oracle driver row
# (proving the key runs under the driver), then rotates out for good.
# Every other rows-only key already has such a row from r7–r9.
# (r15: r_geo_distance got its one no_oracle row in CORRECTNESS_r14 and
# left the window for good — the exemption set is empty again.)
WINDOW_ROWS_ONLY_EXEMPT: frozenset[str] = frozenset()


def test_every_window_key_is_oracle_backed(specs):
    """All driver-window keys carry a DuckDB oracle, so every graded
    row is a hash-match — no rows-only slots. Placing a rows-only key
    in the window is a deliberate, visible choice: it must be listed in
    WINDOW_ROWS_ONLY_EXEMPT above with the rationale, and only keys
    with zero driver history qualify (one run each, ever)."""
    rows_only = [k for k in registry.driver_priority() if specs[k].oracle is None]
    undeclared = [k for k in rows_only if k not in WINDOW_ROWS_ONLY_EXEMPT]
    assert undeclared == [], (
        f"undeclared rows-only keys in the window: {undeclared}"
    )


def test_rows_only_exemption_is_first_run_only(specs, last_graded):
    """A rows-only window slot is only justified for a key with no
    driver history — once it has its no_oracle row, the exemption
    expires and the slot must go back to hash-gradable keys."""
    for key in WINDOW_ROWS_ONLY_EXEMPT:
        assert key in specs, key
        assert specs[key].oracle is None, f"{key} is oracle-backed"
        assert key not in last_graded, (
            f"{key} already has a driver row (r{last_graded.get(key)}) — "
            f"remove it from WINDOW_ROWS_ONLY_EXEMPT and the window"
        )


def test_beyond_window_queries_still_registered():
    """Rotated-out queries stay registered, just past the driver window:
    every registered key appears in queries() exactly once."""
    from bristle_spark.registry import _REGISTRY, queries

    assert sorted(queries()) == sorted(_REGISTRY)
