"""Custom stateful streaming operator: per-host crawl quota across micro-batches.

The batch engine enforces politeness per wave (operators/politeness.py); a
LONG-RUNNING streaming crawler also needs a cumulative per-host cap that
survives across triggers — "never fetch more than Q URLs from host H in this
session" — which is per-key mutable state, exactly what
`applyInPandasWithState` exists for (SURVEY.md §2.6; the reference has no such
control, its only cap is the 192-connection session, crawlingathome.py:120).

State: (scheduled_total: long) per host. Each trigger emits at most
(quota - scheduled_total) rows for the host, deterministically ordered by
priority_key, and advances the state. State lives in the streaming state store
(HDFS/RocksDB on a cluster), checkpointed with the query.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

STATE_SCHEMA = StructType([StructField("scheduled_total", LongType())])


def host_quota_limiter(
    events: DataFrame, quota: int, order_cols: tuple[str, ...] = ("priority_key", "url")
) -> DataFrame:
    """events: streaming DF with (host, url, priority_key, ...). Returns the
    subset allowed under the cumulative per-host quota."""
    out_schema = events.schema

    def limit(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (total,) = state.get if state.exists else (0,)
        remaining = max(0, quota - total)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(list(order_cols), kind="mergesort")
        allowed = batch.head(remaining)
        state.update((total + len(allowed),))
        yield allowed

    return events.groupBy("host").applyInPandasWithState(
        limit,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
