"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference accumulates reduce outputs into master-resident results state
as jobs complete (reference: algorithm/algorithm.go:321-343) — a keyed,
incrementally-updated aggregate. The streaming-native re-expression is
``applyInPandasWithState``: per-key state that survives micro-batches, with
Arrow-batched user code — the engine's open-coded *stateful* slot, the
streaming sibling of ``core.submit_algorithm``'s batch map/reduce slots.

Like every streaming query in the engine, it runs to completion through
``events.drain_to_memory``: one drain, and the memory sink's temp view is
dropped before the result is returned.

Scale notes: state lives in the state store (RocksDB/HDFS-backed per
partition at cluster scale), keyed by the grouping column, so the operator
scales with distinct keys, not events. ``GroupStateTimeout`` would bound
state for unbounded key domains; the demo keys (event types) are few, so no
timeout is set.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from go_web_mapreduce_spark.registry import query
from go_web_mapreduce_spark.streaming.events import drain_to_memory, stream_events

OUTPUT_SCHEMA = "event_type string, n bigint, max_value double"
STATE_SCHEMA = "n bigint, max_value double"


def running_event_stats(stream: DataFrame) -> DataFrame:
    """Per-event-type running (count, max) maintained in keyed state.

    Each micro-batch updates the key's state and emits the new running
    totals (update semantics). Only integer counts and max — operations
    whose result is independent of row order — so the final state is
    deterministic and oracle-checkable.
    """

    def update(key: tuple, pdfs, state: GroupState):
        n, mx = state.get if state.exists else (0, None)
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            m = float(pdf["value"].max())
            mx = m if mx is None else max(mx, m)
        state.update((n, mx))
        yield pd.DataFrame({"event_type": [key[0]], "n": [n], "max_value": [mx]})

    return stream.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_completion(agg: DataFrame, spark: SparkSession) -> DataFrame:
    """Drive a stateful stream over the finite source and return the final
    per-key state: the latest (largest-n) emission per key."""
    # running counts grow monotonically; max() picks each key's final state
    return (
        drain_to_memory(agg, "update")
        .groupBy("event_type")
        .agg(F.max("n").alias("n"), F.max("max_value").alias("max_value"))
    )


@query(
    "q_stream_stateful",
    oracle="""
    SELECT event_type, count(*) AS n, max(value) AS max_value
    FROM events GROUP BY event_type
    """,
    description="custom stateful operator: per-key running stats through "
    "applyInPandasWithState (keyed state store), final state oracle-equal "
    "to the batch aggregate",
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_completion(
        running_event_stats(stream_events(spark, sf_dir)), spark
    )
