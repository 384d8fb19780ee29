"""Custom stateful streaming operators via ``applyInPandasWithState``.

For semantics the built-in windowed aggregations can't express (running
per-entity accumulators, custom session logic, conversion funnels),
Structured Streaming exposes arbitrary per-key state with Arrow-batched
pandas processing. State lives in the state store (checkpointed,
fault-tolerant); the trade-off versus built-in aggs is Python-worker
transfer per micro-batch, so keep the state and output rows compact.

Scale notes: state is partitioned by the grouping key across
executors — high-cardinality keys (user_id) scale horizontally. Use
timeouts (``GroupStateTimeout``) to expire idle keys and bound total
state at 100 TB/day ingest.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_user_counts(stream: DataFrame) -> DataFrame:
    """Running per-user event count + value total, maintained as
    explicit keyed state. Emits one updated row per user per
    micro-batch (output mode: update).

    The state tuple is (n_events, sum_value) — constant-size per key.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [round(total, 2)],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id LONG, n_events LONG, sum_value DOUBLE",
        stateStructType="n LONG, total DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
