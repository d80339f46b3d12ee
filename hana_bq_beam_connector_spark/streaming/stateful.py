"""Custom stateful streaming operators (applyInPandasWithState).

Where the built-in windowed aggregations (streaming/windows.py) cover
time-bucketed state, these cover *arbitrary per-key state machines* —
the escape hatch for streaming semantics Spark has no operator for.
Two canonical shapes:

* ``stateful_distinct_keys`` — streaming dedup: each key is emitted
  exactly once, on first sight, no matter how many micro-batches its
  duplicates arrive in.  State per key is a single flag.
* ``stateful_user_totals`` — per-key running aggregate: every
  micro-batch that touches a key emits the key's updated lifetime
  (count, total), i.e. a continuously-maintained materialized view.

Scale notes: state lives in the executor state store partitioned by
the grouping key (one shuffle per micro-batch, same key → same
partition).  Arrow moves each group's rows to Python in one batch —
this is the Pandas-UDF slow path, so it's reserved for semantics the
JVM operators can't express.  Unbounded key domains need a timeout
(``GroupStateTimeout``) or watermark-based eviction to cap the store;
the flag-per-key dedup state is ~bytes/key, so 10^9 keys ≈ GBs spread
over the cluster — viable where a collected set would not be.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

_FLAG_STATE = StructType([StructField("seen", LongType())])

_TOTALS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
_TOTALS_STATE = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def stateful_distinct_keys(
    events: DataFrame, key_col: str = "user_id"
) -> DataFrame:
    """Streaming dedup: emit each key once, at first occurrence.

    Equivalent to ``SELECT DISTINCT key`` maintained incrementally
    forever — the streaming counterpart of operators/dedup.py's
    exact_dedup, with per-key state instead of a global shuffle.  The
    output schema mirrors the actual key column (name AND type), so
    any groupable key works, not just a long ``user_id``.  Unbounded
    key domains need eviction to cap the state store — pair with an
    upstream watermark + ``dedup_within_watermark`` when the key
    population grows without bound."""
    key_field = events.schema[key_col]
    out_schema = StructType(
        [StructField(key_field.name, key_field.dataType)]
    )

    def first_sight(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        for _ in pdfs:  # drain; row contents are irrelevant to dedup
            pass
        if not state.exists:
            state.update((1,))
            yield pd.DataFrame({key_field.name: [key[0]]})

    return (
        events.select(key_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            first_sight,
            outputStructType=out_schema,
            stateStructType=_FLAG_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _accumulate(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Per-user lifetime (count, sum(value)), re-emitted on every
    micro-batch that touches the user — an incrementally-maintained
    aggregate with no window bound (what `groupBy().agg()` cannot do
    in append mode)."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _accumulate,
            outputStructType=_TOTALS_OUT,
            stateStructType=_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
