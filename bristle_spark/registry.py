"""Declared-query registry: the t2 correctness contract (SURVEY.md §2.D).

Every implemented operator registers a ``QuerySpec``:
    fn(spark, sf_dir) -> DataFrame   (the Spark-first implementation)
    oracle: ANSI SQL string DuckDB can run on the same parquet tables,
            or None for non-SQL-expressible ops (rows-only check).

``__spark_entry__.py`` exposes this registry to the driver.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    group: str
    doc: str


def register(name: str, oracle: str | None = None, group: str = "") -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, group=group or name.split("_", 1)[0], doc=fn.__doc__ or ""
        )
        return fn

    return deco


# The driver's correctness harness grades the FIRST 50 entries of
# ``queries()`` in iteration order.  ``driver_priority()`` derives that
# window from the committed CORRECTNESS_r*.json history with the policy
# tests/test_driver_window.py encodes: (1) oracle-backed keys with NO
# driver row ever lead the window, (2) then keys whose query plan
# changed after their last driver grade, (3) then the window drains
# oldest-first over the oracle-backed registry (oldest last grade
# first, ties in registration order).  Every key outside the window
# keeps local oracle-parity coverage (test_oracle_parity.py at
# sf0.001/0.01/0.1, scripts/verify_all.py).

DRIVER_WINDOW = 50

# keys whose query function changed after their last driver grade —
# the policy forces them into the next window.  Empty: every key
# changed so far has been graded since (CORRECTNESS_r16.json).
PLAN_CHANGED_KEYS: tuple[str, ...] = ()

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _last_graded() -> dict[str, int]:
    """key -> last round with any driver row, from the committed
    CORRECTNESS_r<N>.json history."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for key in json.load(fh):
                last[key] = max(last.get(key, 0), rnd)
    return last


@functools.cache
def driver_priority() -> tuple[str, ...]:
    """The next driver window, derived from the grading history."""
    from bristle_spark import queries  # noqa: F401  (populates _REGISTRY)

    graded = _last_graded()
    oracle = [k for k, spec in _REGISTRY.items() if spec.oracle is not None]
    never = [k for k in oracle if k not in graded]
    stalest = sorted((k for k in oracle if k in graded), key=graded.__getitem__)
    window = dict.fromkeys([*never, *PLAN_CHANGED_KEYS, *stalest])
    return tuple(window)[:DRIVER_WINDOW]


def all_specs() -> dict[str, QuerySpec]:
    """Import all query modules (side-effect registration) and return the registry.

    The returned dict is ordered: ``driver_priority()`` keys first (in
    that order), then every remaining registration in module-import order.
    """
    from bristle_spark import queries  # noqa: F401  (populates _REGISTRY)

    ordered = {name: _REGISTRY[name] for name in driver_priority()}
    for name, spec in _REGISTRY.items():
        ordered.setdefault(name, spec)
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None}
