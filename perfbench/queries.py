"""The two query sets the workloads time.

``BILLING`` reads the route tables the pipeline wrote, the way an
operator's dashboard would: day volumes, per-owner and per-type splits,
rejects and a ``pnfsid`` point lookup. Each answer is compared with the
generator's own (perfbench.gen.expected_billing).

``CATALOG`` is a frozen copy of four of the catalog's billing-family query
names (plans.catalog): the daily flagship (JSON props parse, exact-decimal
sums), partition days, hourly windows and sessionization (lag over a
window). They read the ``events`` stand-in table and each has a
DuckDB oracle, so their outputs are checked in the warm-up pass.
The list is frozen here so that an edit to the catalog's own bench list
cannot change the workload.
"""

from __future__ import annotations

import datetime as dt
import math
import os

from pyspark.sql import functions as F

from gen import DEFAULT_PARTITION

CATALOG = [
    "q_billing_flagship_daily",
    "q_billing_partition_days",
    "q_billing_hourly_windows",
    "q_billing_sessionization",
]


def _read(spark, wh: str, table: str):
    return spark.read.parquet(os.path.join(wh, table))


def transfers_daily(spark, wh, _keys):
    return _read(spark, wh, "transfers").groupBy("partition_date").agg(
        F.count(F.lit(1)), F.sum("fileSize"), F.sum("transferSize")
    )


def requests_by_owner(spark, wh, _keys):
    return _read(spark, wh, "requests").groupBy("owner").agg(
        F.count(F.lit(1)), F.sum("fileSize")
    )


def storage_by_type_day(spark, wh, _keys):
    return _read(spark, wh, "storage").groupBy("msgType", "partition_date").agg(
        F.count(F.lit(1)), F.sum("fileSize")
    )


def rejects_daily(spark, wh, _keys):
    return _read(spark, wh, "rejects").groupBy("partition_date").count()


def transfer_lookup(spark, wh, keys):
    return (
        _read(spark, wh, "transfers")
        .where(F.col("pnfsid").isin(keys))
        .select("pnfsid", "fileSize", "partition_date")
    )


BILLING = {
    f.__name__: f
    for f in (
        transfers_daily,
        requests_by_owner,
        storage_by_type_day,
        rejects_daily,
        transfer_lookup,
    )
}


def billing_rows(rows) -> list[tuple]:
    """Spark rows as generator-side tuples: partition dates as ISO
    strings, the NULL partition under its directory name, counts as
    ints, sums as floats."""
    out = []
    for r in rows:
        cells = []
        for v in r:
            if v is None:
                v = DEFAULT_PARTITION
            elif isinstance(v, dt.date):
                v = v.isoformat()
            cells.append(v)
        out.append(tuple(cells))
    return sorted(out, key=repr)


# ---- oracle canonicalisation (same rules as tests/oracle_harness.py) ----


def _canon_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    return str(v)


def canonical_rows(pdf) -> list[tuple]:
    """Order-insensitive, column-order-insensitive value form of a
    pandas frame."""
    pdf = pdf[sorted(pdf.columns)]
    return sorted(
        tuple(_canon_cell(v) for v in row) for row in pdf.itertuples(index=False)
    )
