"""Custom stateful streaming operator: per-key running aggregates via
``applyInPandasWithState`` (the capability the reference's stateless
foreachBatch never needed — SURVEY §2.4 'stateful streaming ops').

The example operator keeps a per-msgType running (count, sum_bytes)
across micro-batches — the state store holds one tiny row per key, so
state size is O(#distinct keys), not O(rows): safe at any scale.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "msgType string, n_total bigint, bytes_total double"
STATE_SCHEMA = "n bigint, bytes double"


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["fileSize"].fillna(0).sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"msgType": [key[0]], "n_total": [n], "bytes_total": [total]}
    )


def running_totals_per_type(parsed: DataFrame) -> DataFrame:
    """Streaming per-msgType running totals. Input: parsed billing frame
    (streaming); output: one updated row per key per batch."""
    return (
        parsed.select("msgType", "fileSize")
        .groupBy("msgType")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
