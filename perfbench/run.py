"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (see NOTES.md):

- ``etl_daily``     consecutive daily ETL cycles over the ten-city fleet;
- ``query_mix``     a fixed panel of registry queries on seeded tables;
- ``etl_backfill``  a year of history, then a correction of that year.

Every workload runs in this one process on the program's own session
(``session.get_spark``), as a closed loop with one client: the next
cycle or query starts when the previous one has finished.  After the
timed loop every output is checked (untimed).  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  Everything else the run
prints goes to standard error.  All files are written under
``perfbench/.work``; a run removes its own files at exit and keeps only
its spans (``.work/spans/<workload>-<seed>.jsonl``) when traced.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
QUERY_SF = 0.001
BACKFILL_DAYS = 365

END_TO_END = {
    "setup_s": "s",
    "op_geomean_s": "s",
    "ops_per_s": "1/s",
}
ETL_TABLES = (
    "location", "condition", "current_weather",
    "forecast_day_weather", "forecast_hour_weather",
)
PLAN_MODULES = (
    "star", "llm", "weather", "analytics", "streaming_queries", "extensions",
    "curation", "corpus", "behavior", "temporal", "layout", "sql_frontdoor",
)
LAYERS = ("sources", "pipeline", "streaming.load", "operators.upsert", "plans", "caching")
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "sources.extract_s": "s",
    "sources.write_raw_s": "s",
    "sources.read_raw_s": "s",
    "sources.archive_s": "s",
    "sources.raw_bytes": "bytes",
    "pipeline.transform_s": "s",
    "pipeline.transform_jobs": "count",
    "pipeline.curated_rows": "count",
    "pipeline.run_load_s": "s",
    **{f"streaming.load.drain_s.{t}": "s" for t in ETL_TABLES},
    "streaming.load.batches": "count",
    "streaming.load.jobs": "count",
    "streaming.load.trigger_overhead_s": "s",
    "streaming.load.failed_batches": "count",
    "streaming.load.timeouts": "count",
    "streaming.load.audit_match_ratio": "ratio",
    "operators.upsert.busy_s": "s",
    "operators.upsert.calls": "count",
    "operators.upsert.jobs": "count",
    "operators.upsert.partitions_rewritten": "count",
    "operators.upsert.rows_rewritten_per_row_staged": "ratio",
    "operators.upsert.bytes_written": "bytes",
    "warehouse.stored_bytes_per_curated_byte": "ratio",
    **{
        f"plans.{m}.{k}": u
        for m in PLAN_MODULES
        for k, u in (("busy_s", "s"), ("queries", "count"), ("jobs", "count"))
    },
    "caching.released": "count",
    "caching.release_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "op.p50_s": "s",
    "op.tail_s": "s",
    "op.tail_pct": "%",
    "op.samples": "count",
    "op.failed_frac": "ratio",
    "process.peak_rss_mb": "MB",
    "trace.op_geomean_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

def geomean(values: list[float]) -> float:
    """Typical operation time.  The query panel mixes 0.4 s and 7 s
    queries, so its median is the mean of whichever two queries sit in
    the middle and jumps with their noise (1.45-1.98 s over seven calm
    runs); the geometric mean weighs every query's relative change
    equally."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values: list[float]) -> tuple[float, float]:
    """The highest whole percentile with at least ten samples above it,
    as (percent, value); (0, min) when there are ten or fewer samples."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 0.0, xs[0]
    pct = 100.0 * (n - 10) / n
    pct = float(int(pct))
    idx = max(0, min(n - 11, int(pct / 100.0 * n)))
    return pct, xs[idx]


# --------------------------------------------------------------------------
# process-tree memory
# --------------------------------------------------------------------------

def tree_peak_rss_mb() -> float:
    """Sum of the peak resident memory (VmHWM) of this process and its
    live descendants: the JVM and the Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(
                    int(line.split()[1]) for line in f if line.startswith("VmHWM:")
                )
        except (OSError, StopIteration):
            continue
    return total_kb / 1024.0


# --------------------------------------------------------------------------
# session set-up
# --------------------------------------------------------------------------

def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }


def warm_up(spark) -> None:
    """Start the Python workers and run one shuffle, so the first timed
    operation does not pay for them."""
    def passthrough(batches):
        yield from batches

    spark.range(0, 64, 1, 8).mapInPandas(passthrough, "id long").selectExpr(
        "id % 3 AS k"
    ).groupBy("k").count().collect()


def set_up(work: str):
    """Start the session in this fresh process and warm it up; returns
    the session and the timings.  The set-up is measured once per run:
    a restarted context in the same process costs about 5 s more per
    sample, which the run budget does not cover (NOTES.md)."""
    from weatherapi_data_engineering_project_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=session_conf(work))
    t1 = time.perf_counter()
    warm_up(spark)
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {
        "setup_s": t2 - t0,
        "session.get_spark_s": t1 - t0,
        "session.warmup_s": t2 - t1,
    }


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class Run:
    """What a workload records: per-operation walls and failures."""

    def __init__(self, spark, work, seed, seconds, tracer):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.tracer = tracer
        self.walls: list[float] = []  # completed operations only
        self.timed: list[str] = []  # their trace ids
        self.ops: list[str] = []  # every attempted operation
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []  # output-check failures
        self.layer: dict[str, float] = {}
        self.notes: list[str] = []

    def op(self, trace_id: str):
        self.tracer.begin_op(trace_id)
        self.ops.append(trace_id)
        return self.tracer.span("op", jobs_as="spark")

    def completed(self, trace_id: str, wall: float) -> None:
        self.timed.append(trace_id)
        self.walls.append(wall)


def _etl_op(run: Run, etl_run, docs, tag, via_rest, timed=True) -> None:
    import etl

    served = etl.delivery(docs, via_rest)
    t0 = time.perf_counter()
    if timed:
        with run.op(tag):
            res = etl_run.load(served, tag)
        run.completed(tag, time.perf_counter() - t0)
    else:
        run.tracer.begin_op(f"untimed:{tag}")
        res = etl_run.load(served, tag)
    etl_run.expect(docs, res)
    tr = run.tracer
    tr.add("pipeline.curated_rows", res.curated_rows)
    tr.add("sources.raw_bytes", res.raw_bytes)
    tr.add("streaming.load.failed_batches", res.failed_batches)
    tr.add("streaming.load.timeouts", res.timeouts)
    tr.add("streaming.load.audited", res.audited)
    tr.add("streaming.load.audit_matched", res.audit_matched)
    run.attempted += len(res.tables)
    run.failed += len(res.failed)
    for table, reason in res.failed.items():
        run.notes.append(f"{tag}: {table} load failed: {reason[:160]}")


def etl_daily(run: Run) -> None:
    """Consecutive daily cycles until ``seconds`` of cycles have run.
    Day 0 loads untimed, so every timed cycle finds the previous day's
    forecasts in the warehouse and mixes inserts with matched updates."""
    import etl
    import weather_gen as G

    etl_run = etl.EtlRun(run.spark, os.path.join(run.work, "etl"), run.tracer)
    _etl_op(run, etl_run, G.daily_docs(run.seed, 0), G.run_date(0).isoformat(),
            via_rest=True, timed=False)
    day = 1
    while sum(run.walls) < run.seconds:
        docs = G.daily_docs(run.seed, day)
        _etl_op(run, etl_run, docs, G.run_date(day).isoformat(), via_rest=True)
        day += 1
    _finish_etl(run, etl_run)


def etl_backfill(run: Run) -> None:
    """A year of archived history in one load, then a correction feed
    that re-delivers revised values for the same year."""
    import etl
    import weather_gen as G

    etl_run = etl.EtlRun(run.spark, os.path.join(run.work, "etl"), run.tracer)
    for revision, tag in ((0, "backfill"), (1, "correction")):
        docs = G.history_docs(run.seed, BACKFILL_DAYS, revision=revision)
        _etl_op(run, etl_run, docs, tag, via_rest=False)
        run.notes.append(f"{tag}_s={run.walls[-1]:.3f} docs={len(docs)}")
    _finish_etl(run, etl_run)


def _finish_etl(run: Run, etl_run) -> None:
    diffs = etl_run.check()
    for table, lines in diffs.items():
        run.errors.append(f"warehouse table {table} differs from expected: {lines}")
    run.layer["warehouse.stored_bytes_per_curated_byte"] = (
        etl_run.stored_bytes_per_curated_byte()
    )


def query_mix(run: Run) -> None:
    """Whole passes over the query panel until ``seconds`` of queries
    have run; results checked against DuckDB.  The panel runs in one
    fixed order: the first queries of a fresh process pay for code the
    JVM has not compiled yet, so a per-seed order would move that cost
    between queries and make the median depend on the seed."""
    import queries as Q
    import tables_gen
    from weatherapi_data_engineering_project_spark.plans import registry

    data = os.path.join(run.work, "data")
    tables_gen.write_tables(run.seed, QUERY_SF, data)
    fns = registry.all_queries()
    oracles = registry.all_oracles()
    order = Q.panel()
    results: dict[str, list] = {}
    passes = 0
    while sum(run.walls) < run.seconds:
        passes += 1
        done = len(run.walls)
        for module, name in order:
            out = run_query(run, f"{passes}:{name}", module, fns[name], data)
            if out is not None:
                results.setdefault(name, []).append(out)
        if len(run.walls) == done:
            break  # every query failed: no wall time would ever accrue
    for name, outs in results.items():
        wrong = Q.check_result(name, *outs[0], oracles.get(name), data)
        if wrong is None and any(Q.df_to_comparable(*o) != Q.df_to_comparable(*outs[0]) for o in outs):
            wrong = "passes returned different results"
        if wrong is not None:
            run.errors.append(f"{name}: {wrong}")
    run.layer["passes"] = passes


def run_query(run: Run, trace_id: str, module: str, fn, data: str):
    """Time one query to a collected result, then release its caches.
    Returns (columns, rows), or None when the query raised: a failed
    query counts in ``failed`` and adds no wall time."""
    from weatherapi_data_engineering_project_spark import caching

    tr = run.tracer
    run.attempted += 1
    t0 = time.perf_counter()
    try:
        with run.op(trace_id):
            with tr.span(f"plans.{module}", jobs_as=f"plans.{module}"):
                df = fn(run.spark, data)
                rows = [tuple(r) for r in df.collect()]
            tr.add(f"plans.{module}.busy_s", time.perf_counter() - t0)
            tr.add(f"plans.{module}.queries", 1)
            t1 = time.perf_counter()
            with tr.span("caching.release"):
                tr.add("caching.released", caching.release_all())
            tr.add("caching.release_s", time.perf_counter() - t1)
    except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
        run.failed += 1
        run.notes.append(f"{trace_id} failed: {type(exc).__name__}: {str(exc)[:160]}")
        caching.release_all()
        return None
    run.completed(trace_id, time.perf_counter() - t0)
    return list(df.columns), rows


WORKLOADS = {"etl_daily": etl_daily, "etl_backfill": etl_backfill, "query_mix": query_mix}


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

def per_layer(run: Run, setup: dict) -> dict[str, float]:
    tr = run.tracer
    n = max(1, len(run.ops))
    totals: dict[str, float] = {}
    for op in run.ops:
        for k, v in tr.counts.get(op, {}).items():
            totals[k] = totals.get(k, 0.0) + v
    m = {k: setup[k] for k in ("session.get_spark_s", "session.warmup_s")}

    def mean(counter: str) -> float:
        return totals.get(counter, 0.0) / n

    ops = set(run.ops)
    span_total: dict[str, float] = {}
    for s in tr.spans:
        if s["trace"] in ops:
            span_total[s["name"]] = span_total.get(s["name"], 0.0) + s["end"] - s["start"]
    for metric, span_name in (
        ("sources.extract_s", "sources.extract"),
        ("sources.write_raw_s", "sources.write_raw"),
        ("sources.read_raw_s", "sources.read_raw"),
        ("sources.archive_s", "sources.archive"),
        ("pipeline.transform_s", "pipeline.transform"),
        ("pipeline.run_load_s", "pipeline.run_load"),
    ):
        m[metric] = span_total.get(span_name, 0.0) / n
    m["sources.raw_bytes"] = mean("sources.raw_bytes")
    m["pipeline.transform_jobs"] = mean("pipeline.transform.jobs")
    m["pipeline.curated_rows"] = mean("pipeline.curated_rows")
    for t in ETL_TABLES:
        m[f"streaming.load.drain_s.{t}"] = mean(f"streaming.load.drain_s.{t}")
    for k in ("batches", "jobs", "trigger_overhead_s", "failed_batches", "timeouts"):
        m[f"streaming.load.{k}"] = mean(f"streaming.load.{k}")
    audited = totals.get("streaming.load.audited", 0.0)
    m["streaming.load.audit_match_ratio"] = (
        totals.get("streaming.load.audit_matched", 0.0) / audited if audited else 0.0
    )
    for k in ("busy_s", "calls", "jobs", "partitions_rewritten", "bytes_written"):
        m[f"operators.upsert.{k}"] = mean(f"operators.upsert.{k}")
    staged = totals.get("operators.upsert.rows_staged", 0.0)
    m["operators.upsert.rows_rewritten_per_row_staged"] = (
        totals.get("operators.upsert.rows_rewritten", 0.0) / staged if staged else 0.0
    )
    m["warehouse.stored_bytes_per_curated_byte"] = run.layer.get(
        "warehouse.stored_bytes_per_curated_byte", 0.0
    )
    passes = max(1, int(run.layer.get("passes", 1)))
    for mod in PLAN_MODULES:
        q = totals.get(f"plans.{mod}.queries", 0.0)
        m[f"plans.{mod}.busy_s"] = totals.get(f"plans.{mod}.busy_s", 0.0) / q if q else 0.0
        m[f"plans.{mod}.jobs"] = totals.get(f"plans.{mod}.jobs", 0.0) / q if q else 0.0
        m[f"plans.{mod}.queries"] = q / passes
    m["caching.released"] = mean("caching.released")
    m["caching.release_s"] = mean("caching.release_s")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = mean(f"spark.{k}")
    selfs = tr.self_times(run.ops)
    for layer in LAYERS:
        m[f"self_s.{layer}"] = selfs.get(layer, 0.0) / n
    pct, value = tail(run.walls)
    m["op.p50_s"] = statistics.median(run.walls)
    m["op.tail_s"] = value
    m["op.tail_pct"] = pct
    m["op.samples"] = float(len(run.walls))
    m["op.failed_frac"] = run.failed / run.attempted if run.attempted else 0.0
    m["process.peak_rss_mb"] = run.layer.get("process.peak_rss_mb", 0.0)
    m["trace.op_geomean_s"] = geomean(run.walls)
    m["trace.overhead_s"] = mean("trace.overhead_s")
    m["trace.spans"] = sum(1 for s in tr.spans if s["trace"] in ops) / n
    return m


def end_to_end(run: Run, setup: dict) -> dict[str, float]:
    return {
        "setup_s": setup["setup_s"],
        "op_geomean_s": geomean(run.walls),
        "ops_per_s": len(run.walls) / sum(run.walls),
    }


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def stop_jvm() -> None:
    """End the JVM this process launched and wait for it: the JVM exits
    when its standard input closes, and its Python workers with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import weatherapi_data_engineering_project_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2

    # Everything but the final JSON line goes to stderr, including what
    # the JVM (which inherits file descriptor 1) writes.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM the launch scripts start: no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None

    import spans

    spark = None
    try:
        spark, setup = set_up(work)
        tracer = spans.Tracer(enabled=bool(args.trace))
        run = Run(spark, work, args.seed, args.seconds, tracer)
        if tracer.enabled:
            tracer.jobs = spans.JobCounter(spark.sparkContext)
            unwatch = tracer.watch_streams()
            try:
                WORKLOADS[args.workload](run)
            finally:
                unwatch()
            tracer.dump(os.path.join(HERE, ".work", "spans", f"{args.workload}-{args.seed}.jsonl"))
        else:
            WORKLOADS[args.workload](run)
        run.layer["process.peak_rss_mb"] = tree_peak_rss_mb()
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if not run.walls:
        print("no operation completed", file=sys.stderr)
        return 1

    e2e = end_to_end(run, setup)
    pct, tail_value = tail(run.walls)
    print(
        f"{args.workload} seed={args.seed} cores={os.cpu_count()} "
        f"ops={len(run.walls)} failed={run.failed}/{run.attempted} "
        f"op_geomean_s={e2e['op_geomean_s']:.3f} op_p50_s={statistics.median(run.walls):.3f} "
        f"op_tail_s=p{pct:g}:{tail_value:.3f} "
        f"setup_s={e2e['setup_s']:.3f} peak_rss_mb={run.layer['process.peak_rss_mb']:.0f}",
        file=sys.stderr,
    )
    for op, wall in zip(run.timed, run.walls):
        print(f"op {op} {wall:.3f}s", file=sys.stderr)
    for line in run.notes + run.errors:
        print(line, file=sys.stderr)
    if args.trace:
        metrics, units = per_layer(run, setup), PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    out = {
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    os.write(result_fd, (json.dumps(out) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
