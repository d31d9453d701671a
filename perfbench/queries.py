"""The ``query_mix`` workload: a fixed panel of registry queries.

The panel takes ``PER_MODULE`` queries from each of the twelve plan
modules of ``plans.registry``, drawn once with ``PANEL_SEED``.  The
panel is fixed so that runs with different seeds time the same
queries; the run seed generates the tables.  The panel runs in one
fixed order.  Each query's result is checked against its DuckDB twin
from ``registry.all_oracles()``: both results are brought to the test
suite's canonical form (``tests/conftest.py::df_to_comparable``:
columns sorted by name, cells normalised, rows sorted) and compared.
A query with no twin must return rows.
"""

from __future__ import annotations

import os
import random
import sys

from weatherapi_data_engineering_project_spark.plans import registry

# the test suite's DuckDB differential helpers, as tools/full_differential.py uses them
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
from conftest import df_to_comparable, make_duck  # noqa: E402

MODULES = (
    "star", "llm", "weather", "analytics", "streaming_queries", "extensions",
    "curation", "corpus", "behavior", "temporal", "layout", "sql_frontdoor",
)
PANEL_SEED = 20240601
PER_MODULE = 1


def module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def panel() -> list[tuple[str, str]]:
    """[(module, query name)], stratified by plan module."""
    by_module: dict[str, list[str]] = {m: [] for m in MODULES}
    for name, fn in registry.all_queries().items():
        by_module.setdefault(module_of(fn), []).append(name)
    rng = random.Random(PANEL_SEED)
    out = []
    for m in MODULES:
        names = sorted(by_module[m])
        out += [(m, q) for q in rng.sample(names, min(PER_MODULE, len(names)))]
    return out


def oracle_result(sql: str, data_dir: str) -> tuple[list[str], list[tuple]]:
    con = make_duck(data_dir)
    try:
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = [tuple(r) for r in res.fetchall()]
    finally:
        con.close()
    return cols, rows


def check_result(name: str, columns, rows, oracle_sql: str | None, data_dir: str) -> str | None:
    """None when the result is right, else what is wrong with it."""
    if oracle_sql is None:
        return None if rows else "no DuckDB twin and no rows returned"
    want_cols, want_rows = oracle_result(oracle_sql, data_dir)
    if len(rows) != len(want_rows):
        return f"{len(rows)} rows, DuckDB twin returns {len(want_rows)}"
    if df_to_comparable(list(columns), rows) != df_to_comparable(want_cols, want_rows):
        return "result differs from the DuckDB twin"
    return None
