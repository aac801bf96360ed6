"""Benchmark of the billing pipeline: ingest, warehouse lifecycle and
queries over the tables the pipeline wrote.

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One Python process drives one Spark
session on ``local[nproc]`` (shuffle partitions = nproc) as a closed
loop: each step starts when the previous one has finished. Every
workload runs the same lifecycle on differently shaped input:

1. ingest a backlog of billing JSON files, one file per micro-batch,
   through ``BillingPipeline`` (availableNow);
2. the billing query set over the route tables as ingest left them;
3. ``compact_table`` on every route table, then ``merge_into`` of a
   keyed correction feed into transfers;
4. three counted passes of the billing query set, five of the catalog's
   billing queries over the ``events`` stand-in table, then uncounted
   passes of both until ``--seconds`` have passed since step 1 began.

Outputs are checked outside every timed interval. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). With ``--trace 1`` the spans go
to ``perfbench-trace-<workload>-<seed>.json`` in the working directory.
The exit code is 1 when a check failed.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import functools
import json
import os
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# the LocalFS operations the pipeline calls (exists and
# list_files_recursive are wrapped too, but ingest never calls them)
FS_OP_METRICS = ("is_dir", "list_entries", "mkdirs", "rename", "delete", "read_text", "write_text_atomic")

# files: backlog size (one micro-batch each); rows_per_file: batch size;
# warm_files: batches of that size the warm-up drains first (a smaller
# warm-up batch leaves the first measured one a third slower);
# corrections: keyed transfers rows the merge replaces
WORKLOADS = {
    "ingest_trickle": {"files": 6, "rows_per_file": 500, "warm_files": 2, "corrections": 200},
    "lifecycle_bulk": {"files": 3, "rows_per_file": 30000, "warm_files": 1, "corrections": 1000},
}
# the catalog queries' events table holds the first records only, so
# that the query side costs the same order on both workloads
EVENTS_LIMIT = 5000
# counted passes of each query set, and applications of the merge; each
# metric is their median (of two, the mean). The queries keep running,
# uncounted, until --seconds have passed since ingest began, so the
# counted work never depends on how fast the lifecycle before it was
QUERY_PASSES = 3
# the catalog queries take a quarter of a second each, so their medians
# need more repeats to be as steady as the billing set's
CATALOG_PASSES = 5
MERGE_REPEATS = 2
LOOKUP_KEYS = 3
ROUTES = ("transfers", "requests", "storage", "removes", "rejects")
# the msgType route tables; compaction and the digest check cover these,
# the rejects (dead-letter) table is left as ingest wrote it
MAINTAINED = ROUTES[:4]


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def typical_pass(times: dict[str, list[float]], names) -> float:
    """A pass of the query set ``names`` as the sum of each query's
    median over the passes; NaN when a query never succeeded."""
    return sum(median(times.get(n, [])) for n in names)


def p90(xs) -> float:
    """The 90th percentile. With the few batches a run can afford this is
    not yet a percentile with ten samples beyond it; the sample count is
    recorded beside it."""
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


class Ops:
    """Attempted and failed operations: micro-batches, maintenance calls
    and queries. A failed operation leaves every timing."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, label: str, fn):
        """Run ``fn``; return (ok, seconds, result)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # noqa: BLE001 - counted and reported
            self.failed += 1
            self.errors.append(f"{label}: {type(exc).__name__}: {str(exc)[:300]}")
            return False, time.perf_counter() - t0, None
        return True, time.perf_counter() - t0, out


class Checks:
    def __init__(self):
        self.failures: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)


def table_files(path: str) -> dict[str, list[int]]:
    """partition dir -> sizes of its data files."""
    out = {}
    for d in sorted(os.listdir(path)) if os.path.isdir(path) else []:
        pdir = os.path.join(path, d)
        if d.startswith(("_", ".")) or not os.path.isdir(pdir):
            continue
        out[d] = [
            os.path.getsize(os.path.join(pdir, f))
            for f in os.listdir(pdir)
            if not f.startswith(("_", "."))
        ]
    return out


def host_probe(spark) -> float:
    """Host-speed probe of the shape of bench.py's calibrate: one fixed
    codegen pipeline, no I/O; min of 3."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(20_000_000).selectExpr("xxhash64(id) AS h").selectExpr(
            "bit_xor(h) AS x"
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return best


def noop_write(df) -> None:
    """Consume a query the way the catalog's timings do: a noop write."""
    df.write.format("noop").mode("overwrite").save()


def git_head() -> str | None:
    try:
        out = subprocess.run(
            ["git", "--git-dir", os.path.join(ROOT, ".git"), "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.shape = WORKLOADS[args.workload]
        self.work = work
        self.ops = Ops()
        self.checks = Checks()
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.context: dict = {}
        self.tracer = None
        self.spark = None
        self.phase_s: dict[str, float] = {}
        self.current_phase = None

    # ---- helpers --------------------------------------------------------

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def phase(self, name: str | None) -> None:
        """Enter a phase: the tracer tags spans with it and the context
        records the wall time each phase took, checks included."""
        now = time.perf_counter()
        if self.current_phase:
            prev, t0 = self.current_phase
            self.phase_s[prev] = self.phase_s.get(prev, 0.0) + now - t0
        self.current_phase = (name, now) if name else None
        if self.tracer:
            self.tracer.phase = name

    def jobs(self) -> int:
        from spans import job_count

        return job_count(self.spark)

    # ---- set-up ---------------------------------------------------------

    def start_session(self) -> float:
        from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark import (
            get_spark_session,
        )

        n = len(os.sched_getaffinity(0))
        self.nproc = n
        t0 = time.perf_counter()
        self.spark = get_spark_session(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf={
                "spark.local.dir": self.path("spark-local"),
                "spark.sql.warehouse.dir": self.path("spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
            },
        )
        return time.perf_counter() - t0

    def generate(self) -> None:
        from gen import BillingGenerator, expected_billing, write_events, write_updates

        seed = self.args.seed
        gen = BillingGenerator(seed)
        os.makedirs(self.path("in"))
        for i in range(self.shape["files"]):
            gen.write_file(self.path("in", f"billing-{i:05d}.json"), self.shape["rows_per_file"])
        self.tally = gen.tally
        self.corrected = gen.corrections(self.shape["corrections"])
        self.lookups = gen.lookup_keys(LOOKUP_KEYS)
        write_updates(self.path("updates", "corrections.parquet"), self.corrected)
        self.events_rows = write_events(
            self.path("events", "events.parquet"), self.tally, seed, EVENTS_LIMIT
        )
        self.expected_before = expected_billing(self.tally, None, self.lookups)
        self.expected_after = expected_billing(self.tally, self.corrected, self.lookups)
        # warm-up input from another seed's stream, never part of the tally
        warm = BillingGenerator(seed + 1_000_003)
        os.makedirs(self.path("warm_in"))
        for i in range(self.shape["warm_files"]):
            warm.write_file(self.path("warm_in", f"billing-{i:05d}.json"), self.shape["rows_per_file"])

    def warm_up(self) -> float:
        """Drain the warm-up backlog into a warm-up warehouse and, beside
        it, run the catalog queries once with their outputs kept for the
        oracle check. Returns the oracle check's own seconds, which are
        not set-up time. (The billing queries, compaction and the merge
        are repeated on the real tables instead; see ``measure``.)"""
        from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.plans import (
            QUERIES,
        )

        spark = self.spark
        self.phase("warm_up")
        events_dir = self.path("events")
        outputs = {}
        # both are mostly cold-JVM work (class loading, code generation)
        # in the Spark driver process, so they overlap well
        with concurrent.futures.ThreadPoolExecutor(max_workers=1) as pool:
            drained = pool.submit(
                self.drain, self.path("warm_in"), self.path("warm_wh"), self.path("warm_ck")
            )
            for name in self.catalog_order:
                outputs[name] = QUERIES[name](spark, events_dir).toPandas()
            drained.result()
        self.phase("oracle")
        t0 = time.perf_counter()
        self.check_catalog(outputs, events_dir)
        return time.perf_counter() - t0

    def check_catalog(self, outputs: dict, events_dir: str) -> None:
        import duckdb

        from queries import canonical_rows

        from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.plans import (
            ORACLES,
        )

        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW events AS SELECT * FROM '{os.path.join(events_dir, 'events.parquet')}'"
            )
            for name, spdf in outputs.items():
                opdf = con.execute(ORACLES[name]).df()
                cols_ok = sorted(map(str.lower, spdf.columns)) == sorted(
                    map(str.lower, opdf.columns)
                )
                self.checks.expect(
                    cols_ok and canonical_rows(spdf) == canonical_rows(opdf),
                    f"catalog {name}: differs from its DuckDB oracle",
                )
        finally:
            con.close()

    # ---- the pipeline -----------------------------------------------------

    def drain(self, inp: str, wh: str, ck: str) -> None:
        """Drain every file under ``inp`` into the warehouse ``wh``, one
        file per micro-batch, and wait for the query's last progress
        report."""
        from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources.stream import (
            billing_stream_source,
        )
        from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.streaming.pipeline import (
            BillingPipeline,
        )

        self.listener.reset()
        source = billing_stream_source(self.spark, "file", path=inp, max_files_per_trigger=1)
        try:
            BillingPipeline(source, wh).run_available_now(ck)
        finally:
            self.listener.wait_terminated()

    # ---- checks -------------------------------------------------------------

    def partition_digests(self, wh: str, routes=ROUTES) -> dict:
        """(route, partition) -> (rows, digest) for the tables under
        ``wh``, in one aggregation job. The digest is the sum of a 64-bit
        hash of every column of every row: order-insensitive, and it
        moves when a row is lost, duplicated or changed."""
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from gen import DEFAULT_PARTITION

        frames = []
        for r in routes:
            p = os.path.join(wh, r)
            if not os.path.isdir(p):
                continue
            df = self.spark.read.parquet(p)
            h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)")
            frames.append(df.select(
                F.lit(r).alias("route"), F.col("partition_date").cast("string").alias("p"), h.alias("h")
            ))
        rows = (
            functools.reduce(DataFrame.unionAll, frames)
            .groupBy("route", "p").agg(F.count(F.lit(1)), F.sum("h")).collect()
        )
        return {(r, p or DEFAULT_PARTITION): (n, int(d)) for r, p, n, d in rows}

    def check_ingest(self, wh: str) -> dict:
        """Exactly-once: every route's per-partition row counts, rejects
        included, equal the generator's tally. Returns the partition
        digests for the compaction check."""
        digests = self.partition_digests(wh)
        counts = {k: n for k, (n, _d) in digests.items()}
        self.checks.expect(
            counts == dict(self.tally.rows),
            "ingest: per-route, per-partition row counts differ from the generator's tally",
        )
        return digests

    def check_billing(self, results: dict | None, expected: dict, when: str) -> None:
        from queries import billing_rows

        for name, want in expected.items():
            rows = (results or {}).get(name)
            self.checks.expect(
                rows is not None and billing_rows(rows) == sorted(want, key=repr),
                f"billing {name} {when}: differs from the generator's answer",
            )

    # ---- timed query passes ----------------------------------------------

    def billing_pass(self, wh: str, tag: str, times: dict, traced: bool = True) -> dict:
        """One pass of the billing query set; returns its results and
        appends each successful query's seconds to ``times[name]``.
        ``traced``: in the traced run, take this pass's per-layer numbers."""
        from queries import BILLING

        results = {}
        for name, fn in BILLING.items():
            if self.tracer and traced:
                ok, dt, rows = self.ops.run(name, lambda fn=fn, name=name: self.traced_billing(fn, wh, tag, name))
            else:
                ok, dt, rows = self.ops.run(name, lambda fn=fn: fn(self.spark, wh, self.lookups).collect())
            if ok:
                results[name] = rows
                times.setdefault(name, []).append(dt)
        return results

    def catalog_pass(self, times: dict, traced: bool = True) -> None:
        """One pass of the catalog queries, each consumed by a noop write;
        appends each successful query's seconds to ``times[name]``."""
        from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.plans import (
            QUERIES,
        )

        events_dir = self.path("events")
        for name in self.catalog_order:
            if self.tracer and traced:
                ok, dt, _ = self.ops.run(name, lambda name=name: self.traced_catalog(QUERIES[name], events_dir, name))
            else:
                ok, dt, _ = self.ops.run(name, lambda name=name: noop_write(QUERIES[name](self.spark, events_dir)))
            if ok:
                times.setdefault(name, []).append(dt)

    # ---- traced query paths ------------------------------------------------

    def traced_billing(self, fn, wh: str, tag: str, name: str):
        from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.plans.metrics import (
            collect_plan_metrics,
        )

        tr = self.tracer
        with tr.span(f"billing.{tag}.query", query=name):
            j0 = self.jobs()
            with tr.span(f"billing.{tag}.build"):
                df = fn(self.spark, wh, self.lookups)
            j1 = self.jobs()
            with tr.span(f"billing.{tag}.exec"):
                rows = df.collect()
            j2 = self.jobs()
        m = collect_plan_metrics(df)
        self.add_layer(f"billing.{tag}.build_jobs", j1 - j0)
        self.add_layer(f"billing.{tag}.exec_jobs", j2 - j1)
        self.add_layer(f"billing.{tag}.scan_files", m["scan_files"])
        self.add_layer(f"billing.{tag}.scan_bytes", m["scan_bytes"])
        return rows

    def traced_catalog(self, fn, events_dir: str, name: str) -> None:
        """The untraced path's build and noop write, in spans. The write's
        Catalyst time and plan metrics come from its own QueryExecution
        (``WriteListener``), so build + plan + exec is the query's time."""
        tr = self.tracer
        with tr.span("catalog.query", query=name):
            j0 = self.jobs()
            with tr.span("catalog.build"):
                df = fn(self.spark, events_dir)
            j1 = self.jobs()
            self.write_listener.arm()
            with tr.span("catalog.write") as write:
                noop_write(df)
            j2 = self.jobs()
        m = self.write_listener.wait()
        if m is None:
            raise RuntimeError(f"{name}: no plan report for the noop write")
        self.add_layer("catalog.write_s", write["end"] - write["start"])
        self.add_layer("catalog.plan_s", m["plan_s"])
        self.add_layer("catalog.build_jobs", j1 - j0)
        self.add_layer("catalog.exec_jobs", j2 - j1)
        self.add_layer("catalog.shuffle_bytes", m["shuffle_bytes_written"])
        self.add_layer("catalog.scan_bytes", m["scan_bytes"])

    def add_layer(self, key: str, v: float) -> None:
        self.layer[key] = self.layer.get(key, 0) + v

    # ---- the run ----------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        rng = random.Random(args.seed)
        from queries import CATALOG

        self.catalog_order = rng.sample(CATALOG, len(CATALOG))

        t_setup = time.perf_counter()
        # input generation is plain Python: it runs while the JVM starts
        self.phase("session+generate")
        with concurrent.futures.ThreadPoolExecutor(max_workers=1) as pool:
            generated = pool.submit(self.generate)
            session_s = self.start_session()
            generated.result()
        from spans import ProgressListener, Tracer, WriteListener

        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)
        if args.trace:
            self.tracer = Tracer(self.jobs)
            self.tracer.install(package_modules())
            self.write_listener = WriteListener(self.spark)
        oracle_s = self.warm_up()
        setup_s = time.perf_counter() - t_setup - oracle_s
        self.layer["session.start_s"] = session_s
        self.measure()
        self.e2e["setup_s"] = setup_s
        self.phase("context")
        self.context.update(
            nproc=self.nproc,
            master=f"local[{self.nproc}]",
            shuffle_partitions=int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            driver_memory=os.environ.get("SPARK_DRIVER_MEM"),
            pyspark=__import__("pyspark").__version__,
            git_head=git_head(),
            host_probe_s=round(host_probe(self.spark), 4),
            catalog_queries=CATALOG,
            catalog_order=self.catalog_order,
            events_rows=self.events_rows,
            shape=self.shape,
            seconds=args.seconds,
        )
        self.phase(None)
        self.context["phase_s"] = {k: round(v, 3) for k, v in self.phase_s.items()}
        if self.tracer:
            self.tracer.uninstall()
            self.write_listener.close()
        return self.result()

    def measure(self) -> None:
        from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.compact import (
            compact_table,
        )
        from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.merge import (
            merge_into,
        )

        from queries import BILLING, CATALOG

        spark, e2e = self.spark, self.e2e
        wh = self.path("wh")
        t_start = time.perf_counter()
        deadline = t_start + self.args.seconds
        j_start = self.jobs()

        # 1. ingest
        self.phase("ingest")
        j0 = self.jobs()
        # one operation per micro-batch: a failed drain fails every batch
        # that did not commit
        batches_before = self.ops.attempted
        ok, drain_s, _ = self.ops.run("ingest", lambda: self.drain(self.path("in"), wh, self.path("ck")))
        self.layer["spark.ingest_jobs"] = self.jobs() - j0
        batches = self.listener.batches()
        self.ops.attempted = batches_before + self.shape["files"]
        if not ok:
            self.ops.failed += self.shape["files"] - len(batches) - 1
        committed = self.committed_rows(wh)
        commit_s = [b["duration_ms"]["triggerExecution"] / 1000 for b in batches]
        e2e["ingest_rows_per_s"] = committed / drain_s
        e2e["batch_commit_p50_s"] = median(commit_s)
        e2e["batch_commit_tail_s"] = p90(commit_s)
        self.context["batch_commit_tail"] = {"percentile": 90, "samples": len(commit_s)}
        self.context["batch_commit_s"] = commit_s
        self.context["drain_s"] = drain_s
        self.context["rows_committed"] = committed
        self.phase("checks")
        self.ingest_layers(batches, wh)

        digests = self.check_ingest(wh)
        self.checks.expect(
            committed == sum(self.tally.rows.values()),
            "ingest: committed rows differ from the generator's tally",
        )

        # 2. billing queries over the tables as ingest left them; the
        # per-query median leaves out the first, colder pass
        self.phase("billing_fragmented")
        frag, first = {}, None
        for _ in range(QUERY_PASSES):
            results = self.billing_pass(wh, "fragmented", frag)
            first = first or results
        e2e["billing_query_fragmented_s"] = typical_pass(frag, BILLING)
        self.phase("checks")
        self.check_billing(first, self.expected_before, "before compaction")

        # 3. compaction, then the correction merge
        self.phase("compact")
        before = {r: table_files(os.path.join(wh, r)) for r in MAINTAINED}
        compact_total, compact_ok, rewritten = 0.0, True, {}
        j0 = self.jobs()
        for r in MAINTAINED:
            ok, dt, out = self.ops.run(f"compact {r}", lambda r=r: compact_table(spark, os.path.join(wh, r)))
            compact_ok &= ok
            if ok:
                compact_total += dt
                rewritten[r] = out
        e2e["compact_s"] = compact_total if compact_ok else float("nan")
        after = {r: table_files(os.path.join(wh, r)) for r in MAINTAINED}
        self.layer.update({
            "compact.s": compact_total,
            "compact.jobs": self.jobs() - j0,
            "compact.partitions_rewritten": sum(len(v) for v in rewritten.values()),
            "compact.bytes_rewritten": sum(
                sum(before[r].get(f"partition_date={p}", []))
                for r, parts in rewritten.items()
                for p in parts
            ),
            "compact.files_before": sum(len(f) for t in before.values() for f in t.values()),
            "compact.files_after": sum(len(f) for t in after.values() for f in t.values()),
        })
        self.phase("checks")
        compacted = self.partition_digests(wh, MAINTAINED)
        for r in MAINTAINED:
            self.checks.expect(
                {k: v for k, v in compacted.items() if k[0] == r}
                == {k: v for k, v in digests.items() if k[0] == r},
                f"compact {r}: a partition's row digest changed",
            )

        self.phase("merge")
        transfers = os.path.join(wh, "transfers")
        # the first application changes the corrected rows; each later one
        # rewrites the same partitions with the same rows (merge_into is
        # idempotent)
        merge_s, parts = [], None
        for _ in range(MERGE_REPEATS):
            j0 = self.jobs()
            ok, dt, out = self.ops.run(
                "merge transfers",
                lambda: merge_into(spark, transfers, spark.read.parquet(self.path("updates")), ["pnfsid"]),
            )
            if ok:
                merge_s.append(dt)
                parts = out
        e2e["merge_s"] = median(merge_s)
        merged = table_files(transfers)
        self.layer.update({
            "merge.s": median(merge_s),
            "merge.jobs": self.jobs() - j0,
            "merge.partitions_rewritten": len(parts or []),
            "merge.bytes_rewritten": sum(
                sum(merged.get(f"partition_date={p}", [])) for p in parts or []
            ),
        })
        self.layer["spark.jobs"] = self.jobs() - j_start
        self.phase("checks")
        self.check_merge(transfers, sum(n for (r, _p), (n, _d) in digests.items() if r == "transfers"))

        # 4. the counted query passes, then uncounted ones to the deadline
        self.phase("billing_compacted")
        comp, first = {}, None
        for _ in range(QUERY_PASSES):
            results = self.billing_pass(wh, "compacted", comp)
            first = first or results
        self.phase("catalog")
        cat = {}
        for _ in range(CATALOG_PASSES):
            self.catalog_pass(cat)
        e2e["billing_query_compacted_s"] = typical_pass(comp, BILLING)
        e2e["catalog_total_s"] = typical_pass(cat, CATALOG)
        e2e["catalog_query_p50_s"] = median([median(cat.get(n, [])) for n in CATALOG])
        self.phase("uncounted")
        extra = 0
        while time.perf_counter() < deadline:
            self.billing_pass(wh, "compacted", {}, traced=False)
            self.catalog_pass({}, traced=False)
            extra += 1
        self.context["uncounted_passes"] = extra
        self.context["measured_s"] = time.perf_counter() - t_start
        self.phase("checks")
        self.check_billing(first, self.expected_after, "after compaction and merge")

    def committed_rows(self, wh: str) -> int:
        total = 0
        mdir = os.path.join(wh, "_metrics")
        for f in os.listdir(mdir) if os.path.isdir(mdir) else []:
            if f.endswith(".json"):
                with open(os.path.join(mdir, f)) as fh:
                    total += json.load(fh)["total_rows"]
        return total

    def check_merge(self, transfers: str, rows_before: int) -> None:
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(transfers)
        self.checks.expect(df.count() == rows_before, "merge: transfers row count changed")
        got = {
            r["pnfsid"]: (r["fileSize"], r["transferSize"])
            for r in df.where(F.col("pnfsid").isin(list(self.corrected)))
            .select("pnfsid", "fileSize", "transferSize").collect()
        }
        want = {k: (v["fileSize"], v["transferSize"]) for k, v in self.corrected.items()}
        self.checks.expect(got == want, "merge: corrected keys do not carry the corrected values")

    # ---- per-layer read-out ------------------------------------------------

    def ingest_layers(self, batches: list[dict], wh: str) -> None:
        n = max(1, len(batches))
        dur = lambda k: sum(b["duration_ms"].get(k, 0) for b in batches) / 1000 / n  # noqa: E731
        files = {r: table_files(os.path.join(wh, r)) for r in ROUTES}
        self.layer.update({
            "stream.latest_offset_s": dur("latestOffset"),
            "stream.wal_commit_s": dur("walCommit"),
            "stream.commit_offsets_s": dur("commitOffsets"),
            "stream.add_batch_s": dur("addBatch"),
            "stream.trigger_s": dur("triggerExecution"),
            "stream.batches": len(batches),
            "stream.input_rows": sum(b["rows"] for b in batches),
            "sink.files_written": sum(len(f) for t in files.values() for f in t.values()),
            "sink.bytes_written": sum(sum(f) for t in files.values() for f in t.values()),
        })
        tr = self.tracer
        if not tr:
            return
        per_batch = lambda name: tr.total(name, "ingest") / n  # noqa: E731
        writes = tr.by_name("sink.write", "ingest")
        firsts = {}
        for s in writes:
            firsts.setdefault(s["batch"], s)
        first_s = sum(s["end"] - s["start"] for s in firsts.values())
        rest = [s for s in writes if firsts[s["batch"]] is not s]
        fs_spans = [s for s in tr.spans if s["name"].startswith("fs.") and s["phase"] == "ingest" and "end" in s]
        self.layer.update({
            "pipeline.process_batch_s": per_batch("pipeline.process_batch"),
            "pipeline.self_s": tr.self_total("pipeline.process_batch", "ingest") / n,
            "pipeline.callback_gap_s": dur("addBatch") - per_batch("pipeline.process_batch"),
            "pipeline.metrics_write_s": per_batch("pipeline.metrics_write"),
            "parse.build_s": per_batch("parse.build"),
            "route.build_s": per_batch("route.build"),
            "sink.first_write_s": first_s / n,
            "sink.write_s": sum(s["end"] - s["start"] for s in rest) / max(1, len(rest)),
            "sink.write_calls": len(writes),
            "sink.cleanup_s": per_batch("sink.cleanup"),
            "sink.ledger_s": per_batch("sink.ledger"),
            "fs.calls": len(fs_spans),
            "fs.s": sum(s["end"] - s["start"] for s in fs_spans),
        })
        for op in FS_OP_METRICS:
            self.layer[f"fs.{op}.calls"] = sum(1 for s in fs_spans if s["name"] == f"fs.{op}")
        self.batch_accounting = [
            self.account_batch(b, tr) for b in batches
        ]

    def account_batch(self, b: dict, tr) -> dict:
        """Where one batch's addBatch time went: process_batch's children,
        its self time and the foreachBatch dispatch around it."""
        pb = [s for s in tr.by_name("pipeline.process_batch", "ingest") if s["batch"] == b["batch"]]
        total = sum(s["end"] - s["start"] for s in pb)
        children: dict[str, float] = {}
        ids = {s["id"] for s in pb}
        for s in tr.spans:
            if s.get("parent") in ids and "end" in s:
                children[s["name"]] = children.get(s["name"], 0.0) + s["end"] - s["start"]
        add = b["duration_ms"].get("addBatch", 0) / 1000
        return {
            "batch": b["batch"],
            "add_batch_s": add,
            "process_batch_s": total,
            "children_s": children,
            "self_s": total - sum(children.values()),
            "dispatch_s": add - total,
        }

    def layer_metrics(self) -> dict:
        """Per-layer metrics. Query-side numbers are per pass, over the
        counted passes only, like the end-to-end metrics they explain.
        ``catalog.exec_s`` is the noop write less its Catalyst time, so
        build + plan + exec is the catalog pass."""
        tr = self.tracer
        out = dict(self.layer)
        out.update({
            "tables.load_s": tr.total("tables.load", "catalog"),
            "tables.load_calls": len(tr.by_name("tables.load", "catalog")),
            "tables.load_jobs": tr.jobs("tables.load", "catalog"),
            "catalog.build_s": tr.total("catalog.build", "catalog"),
            "catalog.exec_s": out.pop("catalog.write_s", 0.0) - out.get("catalog.plan_s", 0.0),
        })
        for tag in ("fragmented", "compacted"):
            out[f"billing.{tag}.build_s"] = tr.total(f"billing.{tag}.build")
            out[f"billing.{tag}.exec_s"] = tr.total(f"billing.{tag}.exec")
        for k in list(out):
            if k.startswith(("catalog.", "tables.")):
                out[k] = out[k] / CATALOG_PASSES
            elif k.startswith("billing."):
                out[k] = out[k] / QUERY_PASSES
        out["trace.overhead_s"] = tr.overhead_s
        return out

    def result(self) -> dict:
        correct = not self.checks.failures and self.ops.failed == 0
        if self.tracer:
            metrics = self.layer_metrics()
            units = LAYER_UNITS
        else:
            metrics = self.e2e
            units = E2E_UNITS
        return {
            "correct": correct,
            "attempted": self.ops.attempted,
            "failed": self.ops.failed,
            "metrics": {k: {"value": metrics.get(k, float("nan")), "unit": u} for k, u in units.items()},
        }


E2E_UNITS = {
    "setup_s": "s",
    "ingest_rows_per_s": "rows/s",
    "batch_commit_p50_s": "s",
    "batch_commit_tail_s": "s",
    "billing_query_fragmented_s": "s",
    "billing_query_compacted_s": "s",
    "compact_s": "s",
    "merge_s": "s",
    "catalog_total_s": "s",
    "catalog_query_p50_s": "s",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "stream.latest_offset_s": "s",
    "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s",
    "stream.add_batch_s": "s",
    "stream.trigger_s": "s",
    "stream.batches": "count",
    "stream.input_rows": "count",
    "pipeline.process_batch_s": "s",
    "pipeline.self_s": "s",
    "pipeline.callback_gap_s": "s",
    "pipeline.metrics_write_s": "s",
    "parse.build_s": "s",
    "route.build_s": "s",
    "sink.first_write_s": "s",
    "sink.write_s": "s",
    "sink.write_calls": "count",
    "sink.cleanup_s": "s",
    "sink.ledger_s": "s",
    "sink.files_written": "count",
    "sink.bytes_written": "bytes",
    "fs.calls": "count",
    "fs.s": "s",
    **{f"fs.{op}.calls": "count" for op in FS_OP_METRICS},
    "compact.s": "s",
    "compact.jobs": "count",
    "compact.partitions_rewritten": "count",
    "compact.bytes_rewritten": "bytes",
    "compact.files_before": "count",
    "compact.files_after": "count",
    "merge.s": "s",
    "merge.jobs": "count",
    "merge.partitions_rewritten": "count",
    "merge.bytes_rewritten": "bytes",
    "tables.load_s": "s",
    "tables.load_calls": "count",
    "tables.load_jobs": "count",
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    "catalog.plan_s": "s",
    "catalog.exec_s": "s",
    "catalog.exec_jobs": "count",
    "catalog.shuffle_bytes": "bytes",
    "catalog.scan_bytes": "bytes",
    **{
        f"billing.{tag}.{m}": u
        for tag in ("fragmented", "compacted")
        for m, u in (("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"),
                     ("exec_jobs", "count"), ("scan_files", "count"), ("scan_bytes", "bytes"))
    },
    "spark.jobs": "count",
    "spark.ingest_jobs": "count",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
}


def package_modules() -> dict:
    import importlib

    pkg = "development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark"
    names = {
        "pipeline": "streaming.pipeline", "sink": "sink", "fs": "fs",
        "compact": "compact", "merge": "merge", "catalog": "plans.catalog",
    }
    return {k: importlib.import_module(f"{pkg}.{v}") for k, v in names.items()}


def stop_spark() -> None:
    """Stop the session, then the JVM, and wait for it to exit. The JVM
    is stopped even when the session cannot be (a signal can cut a py4j
    call short and leave its connection unusable)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
    except Exception as exc:  # noqa: BLE001 - the JVM is stopped below
        print(f"stopping the session failed: {type(exc).__name__}", file=sys.stderr)
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """Peak resident set of this process plus that of its largest
    waited-for child (the driver JVM)."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    kb += resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return kb / 1024


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)

    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(work))  # only when no other run uses it
    # peak RSS follows the JVM's heap sizing more than the program's
    # working set (runs of one seed differ by a third), so it is a
    # per-layer metric, not an end-to-end one
    bench.context["peak_rss_mb"] = peak_rss_mb()
    if args.trace:
        result["metrics"]["peak_rss_mb"]["value"] = bench.context["peak_rss_mb"]
        bench.tracer.write(
            os.path.join(os.getcwd(), f"perfbench-trace-{args.workload}-{args.seed}.json"),
            {
                "context": bench.context,
                "e2e_traced": bench.e2e,
                "batch_accounting": getattr(bench, "batch_accounting", []),
                "checks_failed": bench.checks.failures,
                "errors": bench.ops.errors,
            },
        )
    for line in bench.checks.failures + bench.ops.errors:
        print(f"FAILED {line}", file=sys.stderr)
    print(json.dumps({"context": bench.context}), file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
