"""Spans and counters recorded from outside the program.

The benchmark opens a span around each call it makes into a layer, and
wraps two program functions that run below its own calls:
``pipeline.run_available_now`` (one streaming drain per table; always
wrapped, because a drain stopped at its timeout is a failed operation)
and, when tracing is on, ``streaming.load.upsert_path`` (which
``streaming.load`` imports by name, so it is wrapped in that
namespace).  When tracing is on, ``DataStreamWriter.start`` and
``toTable`` are wrapped too, so that every streaming query the program
starts, on any session, is known by its run id and progress.  The
program's code is not edited.

Spans live in memory and are written out by ``Tracer.dump`` when the
run ends.  Each operation (one ETL cycle or phase, one query) gets its
own trace id; per-layer metrics are means over the measured operations.
"""

from __future__ import annotations

import inspect
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from weatherapi_data_engineering_project_spark import pipeline as P
from weatherapi_data_engineering_project_spark.streaming import load as L

DRAIN_TIMEOUT_S = inspect.signature(L.run_available_now).parameters["timeout_s"].default


class JobCounter:
    """Spark jobs, stages and tasks started between two snapshots, read
    from ``SparkContext.statusTracker()``.  Batch jobs carry no job
    group; each streaming query's jobs are grouped under its run id."""

    def __init__(self, sc):
        self._tracker = sc.statusTracker()
        self.stream_groups: list[str] = []
        self._stages_of: dict[int, list[tuple[int, int]]] = {}  # job -> [(stage, tasks)]

    def snapshot(self) -> set[int]:
        ids = set(self._tracker.getJobIdsForGroup(None))
        for group in self.stream_groups:
            ids.update(self._tracker.getJobIdsForGroup(group))
        return ids

    def _stages(self, jid: int) -> list[tuple[int, int]]:
        if jid not in self._stages_of:
            info = self._tracker.getJobInfo(jid)
            out = []
            for sid in info.stageIds if info is not None else ():
                st = self._tracker.getStageInfo(sid)
                out.append((sid, st.numTasks if st is not None else 0))
            self._stages_of[jid] = out
        return self._stages_of[jid]

    def work(self, job_ids) -> tuple[int, int, int]:
        """(jobs, stages, tasks) of finished jobs; a stage shared by
        several jobs counts once."""
        stages = dict(s for jid in job_ids for s in self._stages(jid))
        return len(job_ids), len(stages), sum(stages.values())


class Tracer:
    """Span recorder.  With ``enabled`` False, ``span`` only yields and
    the wrappers record just what the failure count needs."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, defaultdict] = {}
        self.trace_id: str | None = None
        self.jobs: JobCounter | None = None
        self.streams: list = []  # every StreamingQuery started while traced
        self._stack: list[dict] = []

    # -- operations --------------------------------------------------
    def begin_op(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.counts[trace_id] = defaultdict(float)
        if self.jobs is not None:
            self.jobs.stream_groups.clear()

    def add(self, name: str, value: float) -> None:
        if self.trace_id is not None:
            self.counts[self.trace_id][name] += value

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str, jobs_as: str | None = None):
        """Record ``name`` around the body; ``jobs_as`` names the counter
        prefix that receives the Spark jobs/stages/tasks it started."""
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        rec = {
            "trace": self.trace_id,
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        before = self.jobs.snapshot() if (jobs_as and self.jobs) else None
        rec["start"] = time.perf_counter()
        self.add("trace.overhead_s", rec["start"] - t_in)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if before is not None:
                n_jobs, n_stages, n_tasks = self.jobs.work(
                    self.jobs.snapshot() - before
                )
                self.add(f"{jobs_as}.jobs", n_jobs)
                if jobs_as == "spark":
                    self.add("spark.stages", n_stages)
                    self.add("spark.tasks", n_tasks)
            self.add("trace.overhead_s", time.perf_counter() - rec["end"])

    def watch_streams(self):
        """Record each streaming query started from now on; returns a
        callable that stops recording."""
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        originals = {n: getattr(DataStreamWriter, n) for n in ("start", "toTable")}

        def recording(fn):
            def started(writer, *args, **kwargs):
                q = fn(writer, *args, **kwargs)
                self.streams.append(q)
                if self.jobs is not None:
                    self.jobs.stream_groups.append(str(q.runId))
                return q
            return started

        for name, fn in originals.items():
            setattr(DataStreamWriter, name, recording(fn))

        def unwatch():
            for name, fn in originals.items():
                setattr(DataStreamWriter, name, fn)
        return unwatch

    def self_times(self, trace_ids) -> dict[str, float]:
        """Per layer: span time minus the time its child spans cover,
        summed over the operations in ``trace_ids``."""
        wanted = set(trace_ids)
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["trace"] in wanted and s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["trace"] in wanted:
                out[layer_of(s["name"])] += (s["end"] - s["start"]) - child_time[s["id"]]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def layer_of(span_name: str) -> str:
    """``plans.star.q01`` -> ``plans``; ``streaming.load.drain.x`` ->
    ``streaming.load``; ``operators.upsert`` -> ``operators.upsert``."""
    for prefix in ("streaming.load", "operators.upsert"):
        if span_name.startswith(prefix):
            return prefix
    return span_name.split(".", 1)[0]


def install(tracer: Tracer, timed_out: list[str]):
    """Wrap the program functions; returns an ``uninstall`` callable
    that puts the originals back.  Tables whose drain ran into the
    drain timeout are appended to ``timed_out``."""
    orig_drain = P.run_available_now
    orig_upsert = L.upsert_path

    def run_available_now(spark, load, *args, **kwargs):
        n_streams = len(tracer.streams)
        t0 = time.perf_counter()
        with tracer.span(f"streaming.load.drain.{load.name}", jobs_as="streaming.load"):
            out = orig_drain(spark, load, *args, **kwargs)
        elapsed = time.perf_counter() - t0
        if elapsed >= kwargs.get("timeout_s", DRAIN_TIMEOUT_S):
            timed_out.append(load.name)
        if tracer.enabled:
            tracer.add(f"streaming.load.drain_s.{load.name}", elapsed)
            for q in tracer.streams[n_streams:]:
                _add_progress(tracer, q)
        return out

    def upsert_path(spark, target_path, updates, keys, *args, **kwargs):
        before = _partition_dirs(target_path)
        t0 = time.perf_counter()
        with tracer.span("operators.upsert", jobs_as="operators.upsert"):
            n0, n1 = orig_upsert(spark, target_path, updates, keys, *args, **kwargs)
        tracer.add("operators.upsert.busy_s", time.perf_counter() - t0)
        tracer.add("operators.upsert.calls", 1)
        t_in = time.perf_counter()
        after = _partition_dirs(target_path)
        rewritten = [d for d, ino in after.items() if before.get(d) != ino]
        tracer.add("operators.upsert.partitions_rewritten", len(rewritten))
        rows, nbytes = _parquet_rows_bytes(target_path, rewritten)
        tracer.add("operators.upsert.rows_rewritten", rows)
        tracer.add("operators.upsert.rows_staged", n0)
        tracer.add("operators.upsert.bytes_written", nbytes)
        tracer.add("trace.overhead_s", time.perf_counter() - t_in)
        return n0, n1

    P.run_available_now = run_available_now
    if tracer.enabled:
        L.upsert_path = upsert_path

    def uninstall():
        P.run_available_now = orig_drain
        L.upsert_path = orig_upsert

    return uninstall


def _add_progress(tracer: Tracer, query) -> None:
    """Micro-batch count and trigger overhead (triggerExecution minus
    addBatch) from the query's progress reports."""
    for p in query.recentProgress:
        d = p.durationMs or {}
        if "triggerExecution" not in d:
            continue
        tracer.add("streaming.load.batches", 1 if p.numInputRows else 0)
        tracer.add(
            "streaming.load.trigger_overhead_s",
            (d["triggerExecution"] - d.get("addBatch", 0)) / 1000.0,
        )


def _partition_dirs(table: str) -> dict[str, int]:
    """Leaf data directories of a table (the table dir itself when it
    is unpartitioned) -> inode.  The upsert swaps in new directories,
    so a changed inode marks a rewritten partition."""
    out = {}
    if not os.path.isdir(table):
        return out
    for root, dirs, files in os.walk(table):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        if any(f.endswith(".parquet") for f in files):
            out[os.path.relpath(root, table)] = os.stat(root).st_ino
    return out


def _parquet_rows_bytes(table: str, rel_dirs) -> tuple[int, int]:
    import pyarrow.parquet as pq

    rows = nbytes = 0
    for rel in rel_dirs:
        d = os.path.join(table, rel)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                rows += pq.read_metadata(p).num_rows
                nbytes += os.path.getsize(p)
    return rows, nbytes
