"""The ETL workloads: daily cycles, and a year backfill plus correction.

Each load runs the program's steps one by one, as its daily cron would:
``rest.extract`` (daily cycles) or a raw frame of archived payloads
(backfill), then ``write_raw_zone``, ``read_raw_docs``,
``pipeline.transform_to_curated``, ``pipeline.run_load`` with loads the
benchmark owns (``pipeline.make_loads``), and ``archive_processed``.

``run_load`` reports only successful audits: a failed micro-batch is an
``Error:`` entry in the load's ``status_log``.  The benchmark reads
those entries itself and counts each failed or timed-out table drain as
a failed operation.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from weatherapi_data_engineering_project_spark import pipeline as P
from weatherapi_data_engineering_project_spark import schemas as S
from weatherapi_data_engineering_project_spark.sources import rest

import etl_check
import spans as T
import weather_gen as G

CITY_NAMES = [c[0] for c in G.CITIES]


def delivery(docs: list[dict], via_rest: bool):
    """What the source serves for ``docs``, built before the timed load:
    city -> JSON body for the REST fetcher, or archived raw-zone rows
    (city, run_date, payload) for a backfill."""
    if via_rest:
        return G.payloads(docs)
    return [
        (doc["location"]["name"], doc["current"]["last_updated"][:10], json.dumps(doc))
        for doc in docs
    ]


class LoadResult:
    def __init__(self, tables, failed, curated_rows, raw_bytes):
        self.tables = tables  # drained tables, in load order
        self.failed = failed  # table -> first reason
        self.curated_rows = curated_rows
        self.raw_bytes = raw_bytes
        self.failed_batches = 0
        self.timeouts = 0
        self.audited = 0  # successful micro-batches
        self.audit_matched = 0  # ... whose audit counts agree (n0 == n1)


class EtlRun:
    """One warehouse, its zones and its loads, plus the expected state."""

    def __init__(self, spark: SparkSession, work: str, tracer: T.Tracer):
        self.spark = spark
        self.tracer = tracer
        self.dirs = {
            d: os.path.join(work, d)
            for d in ("raw", "curated", "warehouse", "checkpoint", "archive")
        }
        self.loads = P.make_loads()
        self.expected = etl_check.Warehouse()
        # tables whose last failed load left an unknown state (a timed-out
        # drain may have applied some batches); they are not compared
        self.unknown: set[str] = set()

    def load(self, served, tag: str) -> LoadResult:
        """Extract (or stage) what the source serves (see ``delivery``)
        and run it through to the warehouse.  This is the timed unit of
        every ETL workload."""
        spark, tr, d = self.spark, self.tracer, self.dirs
        with tr.span("sources.extract"):
            if isinstance(served, dict):
                fetched = rest.extract(spark, CITY_NAMES, tag, served.get)
            else:
                fetched = spark.createDataFrame(served, rest.FETCH_RESULT_SCHEMA)
        with tr.span("sources.write_raw"):
            rest.write_raw_zone(fetched, d["raw"])
        raw_bytes = _dir_bytes(d["raw"]) if tr.enabled else 0
        with tr.span("sources.read_raw"):
            raw_docs = rest.read_raw_docs(spark, d["raw"], S.WEATHER_DOC_SCHEMA)
        with tr.span("pipeline.transform", jobs_as="pipeline.transform"):
            counts = P.transform_to_curated(raw_docs, d["curated"], spark, run_tag=tag)
        before = {
            name: (len(ld.status_log), len(ld.audit_log)) for name, ld in self.loads.items()
        }
        timed_out: list[str] = []
        uninstall = T.install(tr, timed_out)
        try:
            with tr.span("pipeline.run_load"):
                P.run_load(
                    spark, d["curated"], d["warehouse"], d["checkpoint"], loads=self.loads
                )
        finally:
            uninstall()
        with tr.span("sources.archive"):
            rest.archive_processed(spark, d["raw"], d["archive"])
        res = LoadResult(list(self.loads), {}, sum(counts.values()), raw_bytes)
        for name, ld in self.loads.items():
            n_status, n_audit = before[name]
            errors = [s for _, s in ld.status_log[n_status:] if s.startswith("Error")]
            if errors:
                res.failed[name] = errors[0]
            res.failed_batches += len(errors)
            audits = ld.audit_log[n_audit:]
            res.audited += len(audits)
            res.audit_matched += sum(1 for _, n0, n1 in audits if n0 == n1)
        for name in timed_out:
            res.failed.setdefault(name, f"drain stopped at its {T.DRAIN_TIMEOUT_S} s timeout")
            res.timeouts += 1
            self.unknown.add(name)
        return res

    def expect(self, docs: list[dict], result: LoadResult) -> None:
        """Advance the expected state by one load (untimed)."""
        delivery = etl_check.delivery_rows(docs)
        loaded = [t for t in result.tables if t not in result.failed]
        self.expected.apply(delivery, loaded)
        self.unknown.difference_update(loaded)

    def check(self) -> dict[str, list[str]]:
        """Diff the warehouse against the expected state (untimed).
        A table whose last load failed must still hold its prior state."""
        tables = [t for t in etl_check.TABLES if t not in self.unknown]
        return etl_check.check_warehouse(self.expected, self.dirs["warehouse"], tables)

    def stored_bytes_per_curated_byte(self) -> float:
        curated = _dir_bytes(self.dirs["curated"])
        return _dir_bytes(self.dirs["warehouse"]) / curated if curated else 0.0


def _dir_bytes(path: str) -> int:
    """Bytes of data files under ``path``; hidden and ``_``-prefixed
    files and directories (checksums, markers, swap debris) excluded."""
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total
