"""Output checks. Each returns a list of failure messages; empty means
the output is correct. They run outside every timed region."""

from __future__ import annotations

import importlib.util
import os

WARMUP_SYMBOL = "WARMUP"


def check_ingest(expected: dict, observed: dict, warmup_rows: int) -> list[str]:
    """Compare the sink (``observed``, see ``sut.sink_aggregates``) with
    the generator's acknowledged rows (``expected``, see
    ``trades.aggregates``) plus the warm-up rows. Every count and sum
    must be exact: a lost or duplicated row changes at least one."""
    failures = []
    per = dict(observed["per_symbol"])
    warm = per.pop(WARMUP_SYMBOL, [0, 0.0, 0.0])
    if warm[0] != warmup_rows:
        failures.append(f"warm-up rows in sink: {warm[0]} != {warmup_rows}")
    rows = observed["rows"] - warm[0]
    if rows != expected["rows"]:
        failures.append(f"sink rows {rows} != acknowledged rows {expected['rows']}")
    want = {s: list(v) for s, v in expected["per_symbol"].items()}
    got = {s: list(v) for s, v in per.items()}
    if got != want:
        diff = sorted(s for s in set(want) | set(got) if want.get(s) != got.get(s))
        failures.append(
            f"per-symbol count/price/volume differ for {len(diff)} symbols, e.g. "
            f"{diff[0]}: sink {got.get(diff[0])} != sent {want.get(diff[0])}"
        )
    if observed["conditions"] != expected["conditions"]:
        failures.append(
            f"trade conditions in sink {observed['conditions']} != sent {expected['conditions']}"
        )
    missing = sorted(set(expected["days"]) - set(observed["days"]))
    if missing:
        failures.append(f"missing _day partitions {missing}")
    return failures


def canon_frame():
    """The repository's canonical order-insensitive frame form, the one
    its oracle-parity tests compare with (``tests/conftest.py``)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tests", "conftest.py")
    spec = importlib.util.spec_from_file_location("repo_conftest", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.canon_frame


def check_keys(names: list[str], results_dir: str, tables_dir: str) -> dict[str, list[str]]:
    """Compare each key's canonical Spark result, as ``sut.py`` dumped
    it to ``results_dir``, with its DuckDB oracle over the same tables.
    Returns the failures of each key that does not match."""
    import json

    import duckdb

    from bristle_spark.catalog import TABLES
    from bristle_spark.registry import all_specs

    specs, canon = all_specs(), canon_frame()
    con = duckdb.connect()
    bad: dict[str, list[str]] = {}
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
        for name in names:
            with open(os.path.join(results_dir, f"{name}.json")) as fh:
                got = json.load(fh)
            want = canon(con.execute(specs[name].oracle).fetchdf())
            diff = compare_frames(name, (got["columns"], [tuple(r) for r in got["rows"]]), want)
            if diff:
                bad[name] = diff
    finally:
        con.close()
    return bad


def compare_frames(name: str, got, want) -> list[str]:
    """``got`` and ``want`` are ``canon_frame`` results: (columns, rows)."""
    if got[0] != want[0]:
        return [f"{name}: columns {got[0]} != oracle {want[0]}"]
    if len(got[1]) != len(want[1]):
        return [f"{name}: {len(got[1])} rows != oracle {len(want[1])}"]
    for i, (g, w) in enumerate(zip(got[1], want[1])):
        if g != w:
            return [f"{name}: row {i} differs: {g} != oracle {w}"]
    return []
