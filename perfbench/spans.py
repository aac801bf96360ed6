"""Spans around the calls into each layer, recorded from outside the
program.

``Tracer.install`` replaces the public names the pipeline and the
maintenance operations call with wrappers that record a span (name,
start, end, parent, batch or query id) and restores them on
``uninstall``. Spans stay in memory and are written out when the run
ends. The time the wrappers themselves spend is kept apart as the
tracing overhead.

Spark's side comes from ``ProgressListener`` (each micro-batch's
``durationMs``), ``WriteListener`` (a noop write's Catalyst time and
plan metrics) and ``job_count`` (the scheduler's job counter, read at
span boundaries).
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
import types

from pyspark.sql.streaming import StreamingQueryListener

FS_OPS = (
    "exists", "is_dir", "list_entries", "list_files_recursive", "mkdirs",
    "rename", "delete", "read_text", "write_text_atomic",
)


def job_count(spark) -> int:
    """Jobs submitted so far in this SparkContext (the DAG scheduler's
    job id counter), so a difference counts the jobs in an interval on
    every thread, stream threads included."""
    n = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return n if isinstance(n, int) else n.get()


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch's progress report and signals when a
    query terminates, so a drain's reports can be read after it ends."""

    def __init__(self):
        self.progress: list[dict] = []
        self._done = threading.Event()
        self._lock = threading.Lock()

    def reset(self) -> None:
        """Forget earlier queries; call before starting the next one."""
        with self._lock:
            self.progress.clear()
        self._done.clear()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self.progress.append(
                {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self._done.set()

    def wait_terminated(self, timeout: float = 60.0) -> bool:
        return self._done.wait(timeout)

    def batches(self) -> list[dict]:
        """Reports of batches that ran the sink (a final no-data trigger
        has no addBatch)."""
        with self._lock:
            return [p for p in self.progress if "addBatch" in p["duration_ms"]]


class WriteListener:
    """A ``QueryExecutionListener`` (registered through py4j) that reads
    the executed plan of the next noop write once it has finished: the
    Catalyst time its own QueryExecution recorded (optimization +
    planning) and its scan / shuffle / spill bytes
    (``plans.metrics.collect_plan_metrics``). Call ``arm`` before the
    write and ``wait`` after it."""

    FUNC = "overwrite"  # the name a noop write in overwrite mode reports

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._manager = spark._jsparkSession.listenerManager()
        self._done = threading.Event()
        self._armed = False
        self.result: dict | None = None
        self._manager.register(self)

    def arm(self) -> None:
        self.result = None
        self._done.clear()
        self._armed = True

    def wait(self, timeout: float = 30.0) -> dict | None:
        self._done.wait(timeout)
        self._armed = False
        return self.result

    def onSuccess(self, func, qe, _duration_ns):
        if not self._armed or func != self.FUNC:
            return
        from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.plans.metrics import (
            collect_plan_metrics,
        )

        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs()
        # collect_plan_metrics reads df._jdf.queryExecution(): hand it
        # the write's own QueryExecution
        as_df = types.SimpleNamespace(_jdf=types.SimpleNamespace(queryExecution=lambda: qe))
        self.result = {
            "plan_s": (phases.get("optimization", 0) + phases.get("planning", 0)) / 1000,
            **collect_plan_metrics(as_df),
        }
        self._done.set()

    def onFailure(self, func, _qe, _exc):
        if self._armed and func == self.FUNC:
            self._done.set()

    def close(self) -> None:
        self._manager.unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """``jobs_fn``: reads the Spark job counter, for spans that count the
    jobs they ran."""

    def __init__(self, jobs_fn):
        self.jobs_fn = jobs_fn
        self.spans: list[dict] = []
        self.phase = "setup"
        self.overhead_s = 0.0
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    # ---- spans ---------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, jobs: bool = False, **attrs) -> dict:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = {
            "name": name,
            "phase": self.phase,
            "parent": parent["id"] if parent else None,
            "batch": parent.get("batch") if parent else None,
            "query": parent.get("query") if parent else None,
            "child_s": 0.0,
        }
        span.update(attrs)
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span)
        if jobs:
            span["jobs0"] = self.jobs_fn()
        span["start"] = time.perf_counter()
        self.overhead_s += span["start"] - t0
        return span

    def end(self, span: dict, error: bool = False) -> None:
        t1 = time.perf_counter()
        span["end"] = t1
        span["error"] = error
        if "jobs0" in span:
            span["jobs"] = self.jobs_fn() - span.pop("jobs0")
        stack = self._stack()
        stack.pop()
        if stack:
            stack[-1]["child_s"] += t1 - span["start"]
        self.overhead_s += time.perf_counter() - t1

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        s = self.begin(name, jobs, **attrs)
        try:
            yield s
        except BaseException:
            self.end(s, error=True)
            raise
        self.end(s)

    # ---- wrappers ------------------------------------------------------

    def wrap(
        self, owner, attr: str, name: str, batch_arg: int | None = None, jobs: bool = False
    ) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``batch_arg``: position of the batch id among the call's
        arguments, recorded on the span. ``jobs``: count the Spark jobs
        the call ran."""
        fn = vars(owner)[attr]
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = {}
            if batch_arg is not None and len(args) > batch_arg:
                attrs["batch"] = args[batch_arg]
            with tracer.span(name, jobs, **attrs):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def install(self, pkg) -> None:
        """Wrap the public names the pipeline, the maintenance calls and
        the catalog call. ``pkg`` maps short names to the package's
        modules."""
        pipeline, sink, fs = pkg["pipeline"], pkg["sink"], pkg["fs"]
        self.wrap(pipeline.BillingPipeline, "process_batch", "pipeline.process_batch", batch_arg=2)
        self.wrap(pipeline, "parse_billing", "parse.build", jobs=True)
        self.wrap(pipeline, "route", "route.build", jobs=True)
        self.wrap(pipeline, "write_partitioned_batch", "sink.write", batch_arg=2)
        self.wrap(sink, "cleanup_batch_files", "sink.cleanup", batch_arg=1)
        self.wrap(sink.BatchLedger, "commit", "sink.ledger")
        self.wrap(sink.BatchLedger, "is_committed", "sink.ledger")
        self.wrap(pipeline.BillingPipeline, "_write_metrics", "pipeline.metrics_write")
        for op in FS_OPS:
            self.wrap(fs.LocalFS, op, f"fs.{op}")
        self.wrap(pkg["compact"], "compact_table", "compact.table", jobs=True)
        self.wrap(pkg["merge"], "merge_into", "merge.merge_into", jobs=True)
        self.wrap(pkg["catalog"], "load_table", "tables.load", jobs=True)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---- read-out ------------------------------------------------------

    def by_name(self, name: str, phase: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and "end" in s and (phase is None or s["phase"] == phase)
        ]

    def total(self, name: str, phase: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.by_name(name, phase))

    def self_total(self, name: str, phase: str | None = None) -> float:
        return sum(s["end"] - s["start"] - s["child_s"] for s in self.by_name(name, phase))

    def jobs(self, name: str, phase: str | None = None) -> int:
        return sum(s.get("jobs", 0) for s in self.by_name(name, phase))

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans if "start" in s), default=0.0)
        spans = [
            {k: (round(v - t0, 6) if k in ("start", "end") else v) for k, v in s.items()}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f)
