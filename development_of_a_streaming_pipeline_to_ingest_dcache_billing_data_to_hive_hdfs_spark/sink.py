"""Partitioned Parquet sinks with idempotent micro-batch writes.

Reference parity: the four INSERT-INTO-partitioned-table sinks
(`Dcache_kafka_to_hive.py:115-141`). Differences, deliberate:

- **Name-based writes** (``partitionBy`` + parquet path / ``insertInto``
  by name), not the reference's positional ``INSERT INTO … SELECT *``
  (`:118-120`) whose correctness silently depends on select-list order
  matching DDL order (SURVEY §2.7). Column order is still pinned by tests
  as a contract.
- **Idempotence** (fixes SURVEY §3.4): the reference's foreachBatch is
  at-least-once — a mid-batch failure replays the batch and duplicates
  earlier inserts. Here two layers close the gap: a committed-batch
  ledger skips whole replayed batch ids, and every data file a batch
  writes carries the batch id in its NAME (stage → promote-with-rename,
  ``write_partitioned_batch``), so a replay of a half-written batch
  first deletes exactly that batch's files and then rewrites them —
  duplicates cannot survive any crash point. This is the
  FileOutputCommitter-v1 shape: data lands in a hidden staging dir,
  promotion is per-file rename (a metadata op on HDFS-like stores).

This module is the only one that knows that on-disk layout: the
ledger file, the ``batch<id>-`` data-file names (``batch_files``,
``batch_id_column``), the ``_metrics/batch-<id>.json`` files
(``metrics_files``) and where a table's lifecycle files are looked up
(``find_lifecycle_file``: the table dir, then the warehouse dir).

All file operations route through the ``fs`` abstraction (fs.py), so
the exactly-once protocol runs unchanged against bare local paths AND
``hdfs://``/``s3a://``/``file://`` URIs — the reference's actual
deployment target is Hive-on-HDFS.

At 100 TB: appends are partition-local (no shuffle); one pass per batch
over the parsed frame per route, with the parsed batch persisted by the
caller (streaming/pipeline.py) so the 4 route writes share one parse.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .fs import get_filesystem
from .schema import PARTITION_FIELD


LEDGER_FILE = "_ledger.json"
METRICS_DIR = "_metrics"
# every promoted data file is named batch<id>-<part file>; compaction
# rewrites carry no batch name
BATCH_FILE_GLOB = "batch*"
_BATCH_FILE = re.compile(r"^batch(\d+)-")
# exact names only: a crashed atomic write leaves batch-<n>.json.tmp
_METRICS_FILE = re.compile(r"batch-(\d+)\.json")


def read_json(path: str, fs):
    """The JSON document at ``path``, or None when the file does not
    exist. Only a missing file means "absent": an I/O error or a
    corrupt document propagates, because a reader that took an
    unreadable ledger or marker for a missing one would skip a
    lifecycle guard (a compaction marker not recorded, a snapshot read
    not refused)."""
    try:
        text = fs.read_text(path)
    except FileNotFoundError:
        return None
    return json.loads(text)


def lifecycle_dirs(path: str) -> tuple[str, str]:
    """Where the lifecycle files of the table at ``path`` (ledger,
    snapshot horizon, compaction marker) are looked up, in precedence
    order: the table dir, then the warehouse dir above it, whose files
    the route tables share."""
    table = path.rstrip("/")
    return table, os.path.dirname(table)


def find_lifecycle_file(path: str, name: str, fs) -> tuple[int, object] | None:
    """``(level, document)`` of the first ``name`` file found in
    ``lifecycle_dirs(path)`` (level 0: table-local, level 1: the shared
    warehouse-level file), or None when neither dir has one."""
    for level, d in enumerate(lifecycle_dirs(path)):
        doc = read_json(os.path.join(d, name), fs)
        if doc is not None:
            return level, doc
    return None


def ledger_ids(directory: str, fs) -> set[int]:
    """Committed batch ids of the ledger in ``directory`` (empty when
    there is none)."""
    return set(read_json(os.path.join(directory, LEDGER_FILE), fs) or ())


class BatchLedger:
    """Crash-safe record of committed (sink, batch_id) pairs.

    The ledger is a JSON list of every committed id. ``is_committed``
    reads it at the start of a batch and ``commit`` reads it again and
    rewrites it via create-temp + rename, so it is read twice and
    written once per batch. On HDFS-like stores the overwrite rename is
    delete-then-rename — a crash in that window leaves NO ledger, which
    replays every batch; the name-scoped batch files
    (write_partitioned_batch) make that replay duplicate-free, so the
    window is safe. Any other read failure propagates (``read_json``).
    """

    def __init__(self, path: str, fs=None):
        self.path = path
        self.fs = fs or get_filesystem(path)
        parent = os.path.dirname(path)
        if parent:
            self.fs.mkdirs(parent)

    @classmethod
    def in_dir(cls, directory: str, fs=None) -> "BatchLedger":
        """The exactly-once ledger of a warehouse or table dir."""
        return cls(os.path.join(directory, LEDGER_FILE), fs=fs)

    def committed(self) -> set[int]:
        return set(read_json(self.path, self.fs) or ())

    def commit(self, batch_id: int) -> None:
        ids = self.committed()
        ids.add(batch_id)
        self.fs.write_text_atomic(self.path, json.dumps(sorted(ids)))

    def is_committed(self, batch_id: int) -> bool:
        return batch_id in self.committed()


def write_partitioned(df: DataFrame, path: str, mode: str = "append") -> None:
    """Append a route frame to its Parquet table, Hive-style partitioned by
    partition_date (≙ ``INSERT INTO t PARTITION (partition_date)``,
    `Dcache_kafka_to_hive.py:118-120`)."""
    df.write.mode(mode).partitionBy(PARTITION_FIELD).parquet(path)


def batch_files(path: str, fs) -> Iterator[tuple[str, int | None]]:
    """``(file path, batch id)`` of every data file promoted into the
    partition dirs of the table at ``path``; the id is None for a file
    without a batch name (a compaction rewrite). Only promoted
    locations are walked: hidden staging dirs hold a batch mid-write."""
    for d, d_is_dir in fs.list_entries(path):
        if not d_is_dir or d.startswith(("_", ".")):
            continue
        pdir = os.path.join(path, d)
        for f, f_is_dir in fs.list_entries(pdir):
            if f_is_dir or f.startswith(("_", ".")):
                continue
            m = _BATCH_FILE.match(f)
            yield os.path.join(pdir, f), (int(m.group(1)) if m else None)


def batch_id_column() -> Column:
    """The batch id embedded in the name of each row's data file,
    derived JVM-side from ``input_file_name()`` (one regexp per row in
    the scan stage; NULL-free only over batch-named files)."""
    return F.regexp_extract(
        F.element_at(F.split(F.input_file_name(), "/"), -1),
        _BATCH_FILE.pattern,
        1,
    ).cast("long")


def metrics_path(warehouse_dir: str, batch_id: int) -> str:
    """The per-batch metrics file of ``batch_id``."""
    return os.path.join(warehouse_dir, METRICS_DIR, f"batch-{batch_id}.json")


def metrics_files(warehouse_dir: str, fs) -> dict[int, str]:
    """Batch id → path of every per-batch metrics file of a warehouse."""
    mdir = os.path.join(warehouse_dir, METRICS_DIR)
    out: dict[int, str] = {}
    for name, is_dir in fs.list_entries(mdir):
        m = _METRICS_FILE.fullmatch(name)
        if m and not is_dir:
            out[int(m.group(1))] = os.path.join(mdir, name)
    return out


def cleanup_batch_files(path: str, batch_id: int, fs=None) -> int:
    """Delete every data file a previous (crashed) attempt of this batch
    promoted into the table, plus any leftover staging dir. Returns the
    number of files removed. File membership is name-based — the batch
    id is embedded in every promoted file's name — so no data needs to
    be read."""
    fs = fs or get_filesystem(path)
    staging = os.path.join(path, f"._batch_staging_{batch_id}")
    if fs.is_dir(staging):
        fs.delete(staging, recursive=True)
    removed = 0
    if not fs.is_dir(path):
        return removed
    for f, bid in batch_files(path, fs):
        if bid == batch_id:
            fs.delete(f)
            removed += 1
    return removed


def write_partitioned_batch(
    df: DataFrame,
    path: str,
    batch_id: int,
    fs=None,
    partition_field: str = PARTITION_FIELD,
) -> None:
    """Idempotent micro-batch append: stage the batch's output under a
    hidden per-batch dir, then promote each data file into its partition
    dir under a batch-scoped NAME (``batch<id>-<part-file>``), after
    removing anything an earlier crashed attempt of the same batch
    already promoted.

    Crash matrix: during staging → nothing visible (hidden dir), replay
    cleans and rewrites; during promotion → some files visible, replay
    deletes exactly this batch's files (name match) and re-promotes;
    after promotion but before the caller's ledger commit → replay
    rewrites byte-identical content (same checkpointed offset range).
    Promotion is one rename per file — a metadata operation on
    HDFS-like stores, the same pattern FileOutputCommitter v1 uses."""
    fs = fs or get_filesystem(path, df.sparkSession)
    cleanup_batch_files(path, batch_id, fs=fs)
    staging = os.path.join(path, f"._batch_staging_{batch_id}")
    df.write.mode("overwrite").partitionBy(partition_field).parquet(staging)
    prefix = f"batch{batch_id}-"
    for d, d_is_dir in fs.list_entries(staging):
        if not d_is_dir:
            continue  # _SUCCESS and friends
        sdir = os.path.join(staging, d)
        dest = os.path.join(path, d)
        fs.mkdirs(dest)
        for f, f_is_dir in fs.list_entries(sdir):
            if f_is_dir or f.startswith(("_", ".")):
                continue
            fs.rename(os.path.join(sdir, f), os.path.join(dest, prefix + f))
    fs.delete(staging, recursive=True)


def write_partitioned_table(df: DataFrame, table: str, mode: str = "append") -> None:
    """Same, against a catalog table (Hive deployment path).

    Inserts are aligned to the table's columns BY NAME first
    (``warehouse.align_to_table``): ``insertInto`` is positional, so
    without alignment a frame written by a pre-evolution writer fails on
    arity after ``ALTER TABLE ADD COLUMNS`` — or, with type-compatible
    column orders, silently writes values into the wrong columns.
    Alignment is a pure projection (no shuffle); frames carrying columns
    the table does not know still fail loudly (deployment-order bug)."""
    if not df.sparkSession.catalog.tableExists(table):
        clear_orphan_table_location(df.sparkSession, table)
        df.write.mode(mode).partitionBy(PARTITION_FIELD).saveAsTable(table)
    else:
        from .warehouse import align_to_table

        align_to_table(df, table).write.mode(mode).insertInto(table)


def managed_table_location(spark, table: str) -> str | None:
    """Resolve where the catalog places (or would place) a MANAGED
    table: ``<database location>/<table name, lowercased>``. Returns a
    local filesystem path, or None when the database location is on a
    remote scheme (hdfs/s3) — those deployments pair with a persistent
    metastore, where the orphan-location failure mode below cannot
    arise (the catalog never forgets a created table).
    """
    parts = table.split(".")
    db = parts[-2] if len(parts) > 1 else spark.catalog.currentDatabase()
    loc = next(
        (
            r.info_value
            for r in spark.sql(f"DESCRIBE DATABASE `{db}`").collect()
            if r.info_name == "Location"
        ),
        None,
    )
    if loc is None:
        return None
    # Hadoop renders local URIs as file:/path (one slash) or file:///path
    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*):(.*)$", loc)
    if m:
        if m.group(1) != "file":
            return None  # remote warehouse → persistent metastore territory
        loc = re.sub(r"^//(?=/)", "", m.group(2)) or m.group(2)
        if loc.startswith("//"):  # file://host/path — not a local path
            return None
    return os.path.join(loc, parts[-1].lower())


def clear_orphan_table_location(spark, table: str) -> bool:
    """Heal create-time crash residue: a managed-table DIRECTORY with no
    catalog entry behind it.

    With the in-memory catalog, a process killed after ``saveAsTable``
    created the warehouse directory (but before the data outlived the
    session) leaves ``spark-warehouse/<table>/`` on disk while the next
    session's catalog has never heard of the table — and every later
    create then fails ``LOCATION_ALREADY_EXISTS``, permanently. The
    catalog is the source of truth for store existence (``exists()`` on
    the dedup stores checks it, nothing else), so a location without a
    catalog entry is by definition garbage: remove it. Returns True if
    residue was cleared. No-op (False) when the table exists in the
    catalog, the location is absent, or the warehouse is remote (see
    ``managed_table_location``).
    """
    if spark.catalog.tableExists(table):
        return False
    loc = managed_table_location(spark, table)
    if loc is None or not os.path.isdir(loc):
        return False
    shutil.rmtree(loc, ignore_errors=True)
    return not os.path.isdir(loc)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a catalog table bucketed (and optionally sorted) by join
    key — the co-located-join layout for 100 TB fact tables.

    Two tables bucketed the same way join with ZERO exchange: each task
    reads matching bucket files from both sides, so the shuffle that
    dominates a big fact-fact join disappears from every subsequent
    query against the layout (pay the shuffle once at write time,
    amortized over all reads). Verified by plan assertion in
    tests/test_relational_ops.py.

    Bucket count is a layout contract: both join sides must use the same
    ``n_buckets``; size it so one bucket of the larger table fits a task
    (~128-512 MB) at the target scale.
    """
    clear_orphan_table_location(df.sparkSession, table)
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def export_text_shards(
    df: DataFrame,
    path: str,
    target_bytes: int = 256 * 1024 * 1024,
    text_col: str = "text",
    sample_rows: int = 1024,
    fmt: str = "json",
) -> int:
    """Export a curated corpus as size-targeted JSONL (or text) shards —
    the training-data handoff format (one document per line, shards
    sized for downstream loader parallelism, NOT Spark's default
    task-count splits).

    Shard count = estimated total text bytes / ``target_bytes``,
    estimated the same metadata-cheap way as
    ``multimodal.media_repartition``: a footer-only ``count()`` times
    the mean text length over a bounded sample — no full scan of the
    column being budgeted. The repartition is round-robin, so shards
    come out near-uniform regardless of document-length skew (a
    hash-partitioned export can produce a 10× shard from one hot key).

    Returns the shard count. Deterministic layout, not deterministic
    row order (round-robin assignment depends on the input split); for
    content-stable sharding at the cost of a sort, order by a content
    hash first and use ``repartitionByRange``.
    """
    n_rows = df.count()
    if n_rows == 0:
        df.limit(0).write.format(fmt).mode("overwrite").save(path)
        return 0
    # octet_length, not length: character count undercounts UTF-8 bytes
    # ~3x on CJK/emoji-heavy corpora (the same sampled-average idiom as
    # multimodal.media_repartition, whose binary payloads have len==bytes)
    avg_b = (
        df.select(F.octet_length(text_col).alias("b"))
        .limit(sample_rows)
        .agg(F.avg("b").alias("avg_b"))
        .first()["avg_b"]
        or 0.0
    )
    n_shards = max(1, int(n_rows * avg_b) // target_bytes + 1)
    df.repartition(n_shards).write.format(fmt).mode("overwrite").save(path)
    return n_shards
