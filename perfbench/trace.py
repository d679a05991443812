"""Span tracing from the benchmark's side of the API.

Spans are recorded around the calls the benchmark makes into each
layer (the package's modules), never inside the program:

* :class:`TracedWarehouse` wraps every public ``Warehouse`` method and
  is installed as ``Pipeline.warehouse`` and handed to
  ``stream_extreme_alerts``, so reads, watermarks, writes and the
  alert loop's transaction all open ``warehouse.*`` spans;
* :func:`trace_pipeline` wraps ``Pipeline.update_table`` and each
  ``TableJob.fetch`` (the ``sources`` span forces its fetch, so fetch
  time lands in ``sources`` rather than in the first consumer);
* workloads open ``pipeline``, ``plans`` and ``streaming`` spans
  around their own calls.

Spark work is attributed after each operation: every job the status
store saw since the last harvest is charged, with its stage and task
counts, to the innermost span open at its submission time. Spans stay
in memory; :meth:`Tracer.write` dumps them when the run ends.
Bookkeeping the tracer itself triggers (row counts, file listings)
runs under ``trace.*`` spans, which no layer metric includes.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ("session", "sources", "pipeline", "warehouse", "plans", "streaming")
JOB_COUNTERS = ("jobs", "stages", "tasks", "failed_tasks")


class Span:
    __slots__ = ("id", "parent", "name", "op", "t0", "t1", "wall0", "wall1", "attrs",
                 "jobs", "stages", "tasks", "failed_tasks")

    def __init__(self, sid, parent, name, op, attrs):
        self.id, self.parent, self.name, self.op, self.attrs = sid, parent, name, op, attrs
        self.t0 = time.perf_counter()
        self.wall0 = time.time() * 1000.0
        self.t1 = self.wall1 = None
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a
    no-op, which is how untraced runs measure."""

    def __init__(self, spark=None, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: int | None = None  # current operation index, None = set-up
        self._stack: list[Span] = []
        # the alert loop's foreachBatch runs on a callback thread while
        # the driver thread blocks in awaitTermination, so one stack
        # guarded by a lock keeps parentage across the two
        self._lock = threading.Lock()
        self._next_job = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            parent = self._stack[-1].id if self._stack else None
            s = Span(len(self.spans), parent, name, self.op, attrs)
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            s.wall1 = time.time() * 1000.0
            with self._lock:
                self._stack.remove(s)

    # ------------------------------------------------------ job counts

    def skip_jobs(self) -> None:
        """Start attributing from the next job (jobs so far are set-up)."""
        if not self.enabled:
            return
        store, _ = self._store()
        while True:
            try:
                store.job(self._next_job)
            except Exception:  # noqa: BLE001 — py4j NoSuchElementException: no such job yet
                return
            self._next_job += 1

    def harvest(self) -> None:
        """Charge every job submitted since the last harvest to the
        innermost span open at its submission time."""
        if not self.enabled:
            return
        store, bus = self._store()
        bus.waitUntilEmpty()
        by_start = sorted(
            (s for s in self.spans if s.wall1 is not None), key=lambda s: s.wall0
        )
        while True:
            try:
                j = store.job(self._next_job)
            except Exception:  # noqa: BLE001 — no more jobs
                return
            self._next_job += 1
            sub = j.submissionTime()
            if sub.isEmpty():
                continue
            at = sub.get().getTime()
            owner = None
            for s in by_start:
                if s.wall0 > at:
                    break
                if s.wall1 >= at:
                    owner = s  # later start = deeper span
            if owner is None:
                continue
            owner.jobs += 1
            owner.stages += j.stageIds().size() - j.numSkippedStages()
            owner.tasks += j.numTasks() - j.numSkippedTasks()
            owner.failed_tasks += j.numFailedTasks()

    def _store(self):
        sc = self.spark.sparkContext._jsc.sc()
        return sc.statusStore(), sc.listenerBus()

    # ------------------------------------------------------- roll-ups

    def by_op(self, pred) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.op is not None and pred(s):
                out[s.op].append(s)
        return out

    def self_times(self) -> tuple[dict[int, float], dict[int, float]]:
        """(self, net): span id → duration minus the part its child
        spans cover, and duration minus the part the tracer's own
        ``trace.*`` descendants cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)

        def trace_intervals(sid):
            for c in children[sid]:
                if c.layer == "trace":
                    yield (c.t0, c.t1)
                else:
                    yield from trace_intervals(c.id)

        own, net = {}, {}
        for s in self.spans:
            own[s.id] = s.duration - _union([(c.t0, c.t1) for c in children[s.id]], s.t0, s.t1)
            net[s.id] = s.duration - _union(list(trace_intervals(s.id)), s.t0, s.t1)
        return own, net

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "parent": s.parent, "name": s.name, "op": s.op,
                    "start_ms": s.wall0, "end_ms": s.wall1, "duration_s": s.duration,
                    "attrs": s.attrs, "jobs": s.jobs, "stages": s.stages,
                    "tasks": s.tasks, "failed_tasks": s.failed_tasks,
                }, default=str) + "\n")


def _union(intervals, lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# ------------------------------------------------------------ proxies


def data_files(root: str) -> dict[str, int]:
    """Live-tree parquet files under a warehouse root → size in bytes
    (staging, grace and metadata entries start with ``_`` or ``.``)."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in filenames:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def parquet_rows(paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


class WriteStats:
    """What traced writes put on disk and traced reads listed, per
    operation index."""

    def __init__(self):
        self.bytes_written = defaultdict(int)
        self.rows_rewritten = defaultdict(int)  # rows in files written by upserts
        self.rows_upserted = defaultdict(int)  # rows handed to upserts
        self.files_listed = defaultdict(int)  # files windowed reads listed
        self.files_live = defaultdict(int)  # live files of the tables they read


class TracedWarehouse:
    """Span-recording proxy around a ``Warehouse``: each public method
    call opens a ``warehouse.<method>`` span; writes also record bytes
    and rows put on disk and windowed reads the files they list."""

    WRITES = ("overwrite", "upsert")

    def __init__(self, inner, tracer: Tracer, stats: WriteStats):
        self._inner, self._tracer, self._stats = inner, tracer, stats

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name.startswith("_") or not callable(attr) or not self._tracer.enabled:
            return attr
        if name == "transaction":
            return self._transaction
        if name in self.WRITES:
            return lambda spec, df, *a, **kw: self._write(name, attr, spec, df, *a, **kw)

        def call(*args, **kwargs):
            spec = args[0] if args else None
            with self._tracer.span(f"warehouse.{name}", table=getattr(spec, "name", None)):
                out = attr(*args, **kwargs)
            if name == "read_between":
                self._count_listing(spec, out)
            return out

        return call

    def _count_listing(self, spec, df) -> None:
        with self._tracer.span("trace.listing"):
            listed = len(df.inputFiles())
            live = sum(n for n, _ in self._inner.partition_files(spec.name).values()) \
                if self._inner.exists(spec.name) else 0
        self._stats.files_listed[self._tracer.op] += listed
        self._stats.files_live[self._tracer.op] += live

    def _write(self, name, fn, spec, df, *args, **kwargs):
        with self._tracer.span("trace.before_write"):
            before = data_files(self._inner.root)
            rows_in = df.count() if name == "upsert" else 0
        with self._tracer.span(f"warehouse.{name}", table=spec.name):
            out = fn(spec, df, *args, **kwargs)
        self._after_write(before, rows_in if name == "upsert" else None)
        return out

    def _after_write(self, before: dict, rows_upserted: int | None) -> None:
        with self._tracer.span("trace.after_write"):
            new = {p: b for p, b in data_files(self._inner.root).items() if p not in before}
            self._stats.bytes_written[self._tracer.op] += sum(new.values())
            if rows_upserted is not None:
                self._stats.rows_upserted[self._tracer.op] += rows_upserted
                self._stats.rows_rewritten[self._tracer.op] += parquet_rows(new)

    @contextmanager
    def _transaction(self):
        with self._tracer.span("trace.before_write"):
            before = data_files(self._inner.root)
        tx_rows = [0]
        with self._tracer.span("warehouse.transaction"):
            with self._inner.transaction() as tx:
                yield _TracedTx(tx, self._tracer, tx_rows)
        self._after_write(before, tx_rows[0])


class _TracedTx:
    """Counts the rows a transaction's upserts stage."""

    def __init__(self, tx, tracer: Tracer, rows: list):
        self._tx, self._tracer, self._rows = tx, tracer, rows

    def upsert(self, spec, updates, *args, **kwargs):
        with self._tracer.span("trace.count"):
            self._rows[0] += updates.count()
        return self._tx.upsert(spec, updates, *args, **kwargs)

    def __getattr__(self, name):
        return getattr(self._tx, name)


def trace_pipeline(pipe, tracer: Tracer, stats: WriteStats, fetched: dict) -> None:
    """Install the proxies on one ``Pipeline``: traced warehouse,
    per-table ``pipeline.update_table`` spans and forcing
    ``sources.fetch`` spans (rows per op land in ``fetched``)."""
    pipe.warehouse = TracedWarehouse(pipe.warehouse, tracer, stats)
    update_table = pipe.update_table

    def traced_update(name, now=None, backfill_start=None):
        if not tracer.enabled:
            return update_table(name, now, backfill_start)
        with tracer.span("pipeline.update_table", table=name):
            return update_table(name, now, backfill_start)

    pipe.update_table = traced_update
    for job in pipe.jobs.values():
        job.fetch = _forcing_fetch(job.fetch, job.spec.name, tracer, fetched)


def _forcing_fetch(fetch, table: str, tracer: Tracer, fetched: dict):
    def traced(spark, start, end):
        if not tracer.enabled:
            return fetch(spark, start, end)
        with tracer.span("sources.fetch", table=table):
            rows = fetch(spark, start, end).cache()
            n = rows.count()
        fetched[tracer.op] = fetched.get(tracer.op, 0) + n
        return rows

    return traced
