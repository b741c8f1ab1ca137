"""Spans and counters around calls into the program's layers.

Installed into the server process only for ``--trace 1``: every wrapper is
set from here onto the program's public classes and modules, so no program
file changes.  One operation is in flight at a time (the client is a closed
loop), so spans carry the id of the current operation and nest by call stack:
op -> service (REST app, driver bridge) -> engine -> catalog.

Spark work is attributed to operations by job-id range, not by job group:
``StorageEngine.execute_query`` sets and then clears its own job group, which
would overwrite any group set here.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from collections import defaultdict

now = time.perf_counter

ENGINE_METHODS = ("preview", "preview_arrow", "execute_query", "import_file",
                  "delete_rows", "export_to_file", "register_project_views",
                  "register_workspace_views", "read_table")
CATALOG_METHODS = ("read_meta", "resolve_table", "list_buckets")
FILTER_FUNCS = ("raw_where", "typed_where", "combine_where", "change_interval",
                "fulltext_search")
# these only build the lazy upsert plan; Spark runs it later, inside the
# import's write, so the span measures plan construction, not dedup work
DEDUP_FUNCS = ("upsert_update_duplicates", "upsert_do_nothing")


class Tracer:
    """Spans and counters, kept in memory and handed out per operation."""

    def __init__(self) -> None:
        self.op: str | None = None
        self.spans: list[tuple] = []       # (op, name, parent, t0, t1)
        self.counts: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        self.overhead: dict[str, float] = defaultdict(float)
        self._stack = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        t_in = now()
        stack = getattr(self._stack, "names", None)
        if stack is None:
            stack = self._stack.names = []
        parent = stack[-1] if stack else "op"
        stack.append(name)
        t0 = now()
        self.overhead[self.op] += t0 - t_in
        try:
            yield
        finally:
            t1 = now()
            stack.pop()
            with self._lock:
                self.spans.append((self.op, name, parent, t0, t1))
            self.overhead[self.op] += now() - t1

    def add(self, key: str, value: float = 1.0) -> None:
        with self._lock:
            self.counts[self.op][key] += value

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **k):
            with self.span(name):
                return fn(*a, **k)
        setattr(owner, attr, traced)

    def install(self, app) -> None:
        """Wrap the layers reachable from ``app`` (a ``create_app`` Flask
        app) and the modules the engine calls into."""
        from pyspark.sql.readwriter import DataFrameReader

        from keboola_storage_duckdb_spark import engine as E
        from keboola_storage_duckdb_spark.catalog import catalog as C
        from keboola_storage_duckdb_spark.operators import dedup as KD
        from keboola_storage_duckdb_spark.operators import filters as KF
        from keboola_storage_duckdb_spark.service import pgwire as PG

        for m in ENGINE_METHODS:
            self.wrap(E.StorageEngine, m, f"engine.{m}")
        for m in CATALOG_METHODS:
            self.wrap(C.StorageCatalog, m, f"catalog.{m}")
        for f in FILTER_FUNCS:
            self.wrap(KF, f, "operators.filters")
        for f in DEDUP_FUNCS:
            self.wrap(KD, f, "operators.dedup")

        tracer = self
        acquire = C.StorageCatalog.acquire

        @contextlib.contextmanager
        def traced_acquire(cat, *a, **k):
            with acquire(cat, *a, **k), tracer.span("catalog.lock"):
                yield
        C.StorageCatalog.acquire = traced_acquire

        self.wrap(DataFrameReader, "parquet", "reader.parquet")

        msg = PG._msg

        @functools.wraps(msg)
        def traced_msg(type_byte, payload):
            out = msg(type_byte, payload)
            tracer.add("pgwire.bytes_sent", len(out))
            return out
        PG._msg = traced_msg

        inner = app.wsgi_app

        def service(environ, start_response):
            path = environ.get("PATH_INFO", "")
            name = "service.driver" if path.startswith("/driver") \
                else "service.app"
            with tracer.span(name):
                body = inner(environ, start_response)
                try:
                    chunks = list(body)
                finally:
                    if hasattr(body, "close"):
                        body.close()
            tracer.add(f"{name}.resp_bytes", sum(map(len, chunks)))
            return chunks
        app.wsgi_app = service

    def op_summary(self, op: str) -> dict:
        """Per-layer totals for one operation: span time and calls by name,
        the engine's outermost span (what the service layer waits on),
        view-cache hits, counters and the tracer's own cost."""
        spans = [s for s in self.spans if s[0] == op]
        out: dict[str, float] = defaultdict(float)
        for _, name, parent, t0, t1 in spans:
            ms = (t1 - t0) * 1000
            out[f"{name}.ms"] += ms
            out[f"{name}.calls"] += 1
            if name.startswith("engine.") and not parent.startswith("engine."):
                out["engine.outer.ms"] += ms
        # a register_project_views call with no parquet read inside was
        # served from the view cache
        reads = [t0 for _, name, _, t0, _ in spans if name == "reader.parquet"]
        for _, name, _, t0, t1 in spans:
            if name == "engine.register_project_views":
                out["engine.view_cache_hits"] += not any(
                    t0 <= t <= t1 for t in reads)
        out.update(self.counts.get(op, {}))
        out["trace.overhead_ms"] = self.overhead.get(op, 0.0) * 1000
        return dict(out)


def spark_job_stats(spark, ranges: dict[str, tuple[int, int]]) -> dict:
    """Spark job, stage and task metrics per operation from the JVM status
    store, for jobs whose ids fall in each operation's ``[first, end)``
    range.  Stage metrics are counted once per operation even when two of
    its jobs share a stage."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = {}
    for op, (first, end) in ranges.items():
        s = defaultdict(float)
        intervals, stages = [], set()
        for jid in range(first, end):
            try:
                job = store.job(jid)
            except Exception:           # evicted or never posted
                s["jobs_missing"] += 1
                continue
            s["jobs"] += 1
            s["tasks"] += job.numCompletedTasks()
            if job.submissionTime().isDefined() and \
                    job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime(),
                                  job.completionTime().get().getTime()))
            stages.update(conv.asJava(job.stageIds()))
        for sid in stages:
            for st in conv.asJava(store.stageData(
                    sid, False, sc._jvm.java.util.ArrayList(), False,
                    no_quantiles)):
                s["cpu_ms"] += st.executorCpuTime() / 1e6
                s["gc_ms"] += st.jvmGcTime()
                s["shuffle_bytes"] += st.shuffleReadBytes() \
                    + st.shuffleWriteBytes()
                s["spill_bytes"] += st.memoryBytesSpilled() \
                    + st.diskBytesSpilled()
        s["job_wall_ms"] = _union_ms(intervals)
        out[op] = dict(s)
    return out


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)
