"""The benchmark's output checks can fail.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Inputs are seeded, so the same seed gives byte-identical files; and a
planted duplicate batch file, a dropped partition and a wrong catalog
row are each reported as a failure by the checks the benchmark runs.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import run  # noqa: E402
from gen import BillingGenerator, write_events  # noqa: E402


def _digest_of(seed: int, work: str) -> str:
    gen = BillingGenerator(seed)
    h = hashlib.sha256()
    for i in range(2):
        p = os.path.join(work, f"s{seed}-{i}.json")
        gen.write_file(p, 500)
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@pytest.fixture(scope="module")
def work():
    d = os.path.join(ROOT, ".perfbench_work", f"tests-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(os.path.dirname(d))  # only when no other run uses it


def test_same_seed_same_bytes_other_seed_other_bytes(work):
    assert _digest_of(7, work) == _digest_of(7, work)
    assert _digest_of(7, work) != _digest_of(8, work)


@pytest.fixture(scope="module")
def bench(work):
    """A Bench with a live session and a small warehouse the pipeline
    wrote from two seeded files."""
    from spans import ProgressListener

    args = argparse.Namespace(workload="ingest_trickle", seed=5, seconds=1, trace=0)
    b = run.Bench(args, work)
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    b.start_session()
    b.listener = ProgressListener()
    b.spark.streams.addListener(b.listener)
    gen = BillingGenerator(5)
    os.makedirs(b.path("in"))
    for i in range(2):
        gen.write_file(b.path("in", f"billing-{i:05d}.json"), 400)
    b.tally = gen.tally
    b.drain(b.path("in"), b.path("wh"), b.path("ck"))
    write_events(b.path("events", "events.parquet"), gen.tally, 5)
    yield b
    run.stop_spark()


def _first_partition(table: str) -> str:
    return os.path.join(table, sorted(d for d in os.listdir(table) if d.startswith("partition_date="))[0])


def _fresh_checks(b):
    b.checks = run.Checks()
    return b


def test_clean_warehouse_passes(bench):
    _fresh_checks(bench).check_ingest(bench.path("wh"))
    assert bench.checks.failures == []


def test_planted_duplicate_batch_file_fails(bench):
    wh = bench.path("wh")
    pdir = _first_partition(os.path.join(wh, "transfers"))
    victim = sorted(f for f in os.listdir(pdir) if f.startswith("batch"))[0]
    copy = os.path.join(pdir, victim.replace("batch", "batch9", 1))
    shutil.copy(os.path.join(pdir, victim), copy)
    try:
        _fresh_checks(bench).check_ingest(wh)
        assert any("row counts differ" in f for f in bench.checks.failures)
    finally:
        os.remove(copy)


def test_dropped_partition_fails(bench):
    wh = bench.path("wh")
    pdir = _first_partition(os.path.join(wh, "removes"))
    hidden = bench.path("dropped")
    shutil.move(pdir, hidden)
    try:
        _fresh_checks(bench).check_ingest(wh)
        assert any("row counts differ" in f for f in bench.checks.failures)
    finally:
        shutil.move(hidden, pdir)


def test_wrong_catalog_row_fails(bench):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.plans import (
        QUERIES,
    )

    name = "q_billing_partition_days"
    events = bench.path("events")
    pdf = QUERIES[name](bench.spark, events).toPandas()
    _fresh_checks(bench).check_catalog({name: pdf}, events)
    assert bench.checks.failures == []
    pdf.loc[0, "n"] += 1
    _fresh_checks(bench).check_catalog({name: pdf}, events)
    assert bench.checks.failures == [f"catalog {name}: differs from its DuckDB oracle"]
