"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import pytest  # noqa: E402

import etl_check  # noqa: E402
import queries  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import tables_gen  # noqa: E402
import weather_gen  # noqa: E402


# -- generators ------------------------------------------------------------

def test_weather_docs_deterministic_per_seed():
    assert weather_gen.daily_docs(7, 3) == weather_gen.daily_docs(7, 3)
    assert weather_gen.history_docs(7, 2, revision=1) == weather_gen.history_docs(7, 2, revision=1)


def test_weather_docs_differ_across_seeds_and_revisions():
    assert weather_gen.daily_docs(7, 3) != weather_gen.daily_docs(8, 3)
    assert weather_gen.history_docs(7, 2) != weather_gen.history_docs(7, 2, revision=1)


def test_daily_docs_redeliver_half_the_forecast_keys():
    today = etl_check.delivery_rows(weather_gen.daily_docs(1, 5))
    yesterday = etl_check.delivery_rows(weather_gen.daily_docs(1, 4))
    for table in ("forecast_day_weather", "forecast_hour_weather"):
        shared = today[table].keys() & yesterday[table].keys()
        assert len(shared) * 2 == len(today[table])
        # a republished forecast carries new values
        assert any(today[table][k] != yesterday[table][k] for k in shared)


def test_tables_deterministic_per_seed_and_differ_across_seeds():
    a, b, c = (tables_gen.make_tables(s, 0.001) for s in (3, 3, 4))
    assert set(a) == set(tables_gen.make_tables(3, 0.001)) == set(
        ("region nation customer supplier part orders lineitem events documents embeddings").split()
    )
    assert all(a[t].equals(b[t]) for t in a)
    assert not all(a[t].equals(c[t]) for t in a)


# -- ETL output checker ----------------------------------------------------

def _expected(days=2):
    wh = etl_check.Warehouse()
    for day in range(days):
        wh.apply(etl_check.delivery_rows(weather_gen.daily_docs(11, day)), etl_check.TABLES)
    return wh


def _write_table(rows: list[dict], path: str, partition: str | None) -> None:
    table = pa.Table.from_pylist(rows)
    if partition:
        pq.write_to_dataset(table, path, partition_cols=[partition])
    else:
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))


def test_etl_checker_accepts_the_expected_warehouse(tmp_path):
    wh = _expected()
    rows = list(wh.tables["forecast_hour_weather"].values())
    _write_table(rows, str(tmp_path / "forecast_hour_weather"), "forecast_date")
    assert etl_check.check_warehouse(wh, str(tmp_path), ["forecast_hour_weather"]) == {}


def test_etl_checker_keeps_the_latest_delivery():
    wh = _expected()
    day1 = etl_check.delivery_rows(weather_gen.daily_docs(11, 1))
    for k, row in day1["forecast_day_weather"].items():
        assert wh.tables["forecast_day_weather"][k] == row


def test_etl_checker_rejects_a_changed_value(tmp_path):
    wh = _expected()
    rows = copy.deepcopy(list(wh.tables["current_weather"].values()))
    rows[3]["temperature_c"] += 0.1
    _write_table(rows, str(tmp_path / "current_weather"), "weather_date")
    diffs = etl_check.check_warehouse(wh, str(tmp_path), ["current_weather"])
    assert "temperature_c" in " ".join(diffs["current_weather"])


def test_etl_checker_rejects_a_missing_row(tmp_path):
    wh = _expected()
    rows = list(wh.tables["location"].values())[1:]
    _write_table(rows, str(tmp_path / "location"), None)
    diffs = etl_check.check_warehouse(wh, str(tmp_path), ["location"])
    assert "missing" in " ".join(diffs["location"])


def test_etl_checker_rejects_a_stale_delivery():
    wh = _expected()
    stale = etl_check.delivery_rows(weather_gen.daily_docs(11, 0))["forecast_day_weather"]
    shared = stale.keys() & wh.tables["forecast_day_weather"].keys()
    rows = [stale[k] if k in shared else r for k, r in wh.tables["forecast_day_weather"].items()]
    assert etl_check.compare(wh.tables["forecast_day_weather"], rows, "forecast_day_weather_id")


# -- query_mix checker -----------------------------------------------------

SQL = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty "
    "FROM lineitem GROUP BY 1, 2"
)


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tables"))
    tables_gen.write_tables(5, 0.001, d)
    return d


def _engine_result(data_dir):
    con = duckdb.connect()
    res = con.execute(SQL.replace("FROM lineitem", f"FROM '{data_dir}/lineitem.parquet'"))
    cols = [d[0] for d in res.description]
    rows = [tuple(r) for r in res.fetchall()]
    con.close()
    # a different column and row order must not matter
    return list(reversed(cols)), [tuple(reversed(r)) for r in reversed(rows)]


def test_query_checker_accepts_a_matching_result(data_dir):
    cols, rows = _engine_result(data_dir)
    assert queries.check_result("q", cols, rows, SQL, data_dir) is None


def test_query_checker_rejects_a_changed_value(data_dir):
    cols, rows = _engine_result(data_dir)
    rows[0] = (rows[0][0] + 1.0,) + rows[0][1:]
    assert queries.check_result("q", cols, rows, SQL, data_dir) is not None


def test_query_checker_rejects_a_missing_row(data_dir):
    cols, rows = _engine_result(data_dir)
    assert queries.check_result("q", cols, rows[1:], SQL, data_dir) is not None


def test_query_without_twin_must_return_rows(data_dir):
    assert queries.check_result("q", ["a"], [], None, data_dir) is not None
    assert queries.check_result("q", ["a"], [(1,)], None, data_dir) is None


class _Frame:
    columns = ["a"]

    def collect(self):
        return [(1,)]


def test_a_completed_query_adds_its_wall():
    r = run.Run(None, "", 1, 1.0, spans.Tracer(enabled=False))
    assert run.run_query(r, "1:ok", "star", lambda spark, data: _Frame(), "") == (["a"], [(1,)])
    assert len(r.walls) == 1 and r.timed == ["1:ok"] and (r.attempted, r.failed) == (1, 0)


def test_a_failed_query_is_counted_and_adds_no_wall():
    def broken(spark, data):
        raise RuntimeError("boom")

    r = run.Run(None, "", 1, 1.0, spans.Tracer(enabled=False))
    assert run.run_query(r, "1:bad", "star", broken, "") is None
    assert r.walls == [] and r.timed == [] and (r.attempted, r.failed) == (1, 1)


def test_panel_is_stratified_and_fixed():
    p = queries.panel()
    assert p == queries.panel()
    assert sorted({m for m, _ in p}) == sorted(queries.MODULES)
    assert len(p) == queries.PER_MODULE * len(queries.MODULES)


# -- metric names ----------------------------------------------------------

def _bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _fake_run():
    r = run.Run(None, "", 1, 1.0, spans.Tracer(enabled=False))
    r.walls, r.ops, r.attempted = [2.0, 1.0, 3.0], ["a", "b", "c"], 3
    return r


def test_printed_end_to_end_metrics_match_benchmark_json():
    declared = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert declared == run.END_TO_END
    setup = {"setup_s": 1.0}
    assert set(run.end_to_end(_fake_run(), setup)) == set(declared)


def test_printed_per_layer_metrics_match_benchmark_json():
    declared = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert declared == run.PER_LAYER
    setup = {k: 1.0 for k in ("session.get_spark_s", "session.warmup_s")}
    assert set(run.per_layer(_fake_run(), setup)) == set(declared)


def test_benchmark_json_workloads_exist():
    names = [w["name"] for w in _bench()["workloads"]]
    assert set(names) <= set(run.WORKLOADS)


def test_tail_leaves_ten_samples_above():
    xs = [float(i) for i in range(100)]
    pct, value = run.tail(xs)
    assert pct == 90.0 and sum(x > value for x in xs) >= 10
    assert run.tail([3.0, 1.0]) == (0.0, 1.0)


def test_geomean():
    assert run.geomean([1.0, 4.0]) == 2.0
